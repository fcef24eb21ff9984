"""Per-layer instruments for the traced run (``--trace 1``).

Nothing here edits the engine. Layer times come from wrapping the public
functions that ``pipeline.process_file`` looks up in its own module
namespace, and from splitting a registered query into build, plan and
fetch calls. Counts come from Spark's status tracker (jobs, tasks) and
from the SQL metrics that Spark records for every SQL execution (rows
returned by Python operators, shuffle bytes written).
"""

from __future__ import annotations

import contextlib
import functools
import re
import time
from collections import defaultdict

#: pipeline-namespace function → layer it is charged to
PIPELINE_LAYERS = {
    "determine_file_type": "sources.sniffer.detect_ms",
    "read_file": "sources.readers.read_ms",
    "find_geometry_columns": "functions.geo_detect.find_ms",
    "find_coordinate_pair": "functions.geo_detect.find_ms",
    "metadata_crs": "pipeline.crs_infer_ms",
    "infer_crs_from_xy": "pipeline.crs_infer_ms",
    "infer_crs_from_geometry": "pipeline.crs_infer_ms",
    "synthesize_point_wkt": "pipeline.transform_build_ms",
    "transform_geom_columns": "pipeline.transform_build_ms",
}

LAYER_METRICS = (
    "sources.sniffer.detect_ms",
    "sources.readers.read_ms",
    "functions.geo_detect.find_ms",
    "pipeline.crs_infer_ms",
    "pipeline.transform_build_ms",
    "pipeline.materialize_ms",
    "registry.build_ms",
    "catalyst.plan_ms",
    "exec.fetch_ms",
)

COUNT_METRICS = {
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks_per_op": "count",
    "exec.shuffle_bytes_per_op": "bytes",
    "arrow.python_rows_per_op": "rows",
    "cache.persisted_rdds_after_op": "count",
}


class LayerClock:
    """Accumulates wall milliseconds per layer for the current op."""

    def __init__(self) -> None:
        self.ms: dict[str, float] = defaultdict(float)

    @contextlib.contextmanager
    def timing(self, layer: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.ms[layer] += (time.perf_counter() - t) * 1000.0

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.timing(layer):
                return fn(*args, **kwargs)

        return timed


@contextlib.contextmanager
def patched_pipeline(clock: LayerClock):
    """Route the pipeline's layer functions through ``clock`` while active."""
    from duckdb_postgis_spark import pipeline

    saved = {name: getattr(pipeline, name) for name in PIPELINE_LAYERS}
    for name, layer in PIPELINE_LAYERS.items():
        setattr(pipeline, name, clock.wrap(layer, saved[name]))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(pipeline, name, fn)


_SIZE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size_bytes(text: str) -> float:
    """Total of a Spark size metric as rendered by the SQL status store
    (rounded by Spark to 0.1 of the printed unit)."""
    m = _SIZE.search(text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkProbe:
    """Exact per-op counts from the status tracker and SQL metrics."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.next_exec = 0
        self.group = None

    def _skip_recorded(self) -> int:
        while self.store.execution(self.next_exec).isDefined():
            self.next_exec += 1
        return self.next_exec

    def begin(self, group: str) -> None:
        self.bus.waitUntilEmpty()
        self._skip_recorded()
        self.group = group
        self.sc.setJobGroup(group, group)

    def end(self) -> dict[str, float]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.bus.waitUntilEmpty()
        jobs = self.tracker.getJobIdsForGroup(self.group)
        tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numCompletedTasks + st.numFailedTasks
                    failed += st.numFailedTasks
        py_rows = shuffle = 0.0
        first = self.next_exec
        for eid in range(first, self._skip_recorded()):
            values = self.store.executionMetrics(eid)
            for node in _scala_iter(self.store.planGraph(eid).allNodes()):
                name = node.name()
                is_python = "Python" in name or "InPandas" in name or "InArrow" in name
                for m in _scala_iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if is_python and m.name() == "number of output rows":
                        py_rows += int(v.get().replace(",", ""))
                    elif m.name() == "shuffle bytes written":
                        shuffle += _size_bytes(v.get())
        return {
            "spark.jobs_per_op": len(jobs),
            "spark.tasks_per_op": tasks,
            "spark.failed_tasks_per_op": failed,
            "exec.shuffle_bytes_per_op": shuffle,
            "arrow.python_rows_per_op": py_rows,
            "cache.persisted_rdds_after_op": self.sc._jsc.getPersistentRDDs().size(),
        }
