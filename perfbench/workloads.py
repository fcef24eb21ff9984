"""The three workloads: what one op is, its inputs, and its output check.

Each workload puts most of its work on a different layer:

* ``geo_etl``: ``pipeline.process_file`` on one generated file, then the
  result written to a fresh parquet directory (the only write path).
* ``query_mix``: registered relational/analytic queries, JVM-only plans.
* ``llm_search``: registered vector-search and dedup queries, most of
  which cross the JVM/Python Arrow boundary.

An op returns an :class:`Op`; its output is checked after the timer stops,
against generator ground truth (geo) or the DuckDB oracle computed once
per run (queries).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import datagen
import geodata
from layers import LayerClock, patched_pipeline


@dataclass
class Op:
    kind: str
    latency_s: float
    rows_in: int
    bytes_in: int
    bytes_out: int
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


class GeoEtl:
    kinds = [name for name, _ in geodata.FILES]

    def prepare(self, run_dir: str, seed: int) -> dict:
        self.spec = geodata.write_files(os.path.join(run_dir, "geo"), seed)
        self.out_root = os.path.join(run_dir, "out")
        self.n_out = 0
        return {k: {"rows": v["rows"], "bytes": v["bytes"]} for k, v in self.spec.items()}

    def op(self, spark, kind: str, clock: LayerClock | None) -> Op:
        import pyarrow.parquet as pq

        from duckdb_postgis_spark import pipeline

        exp = self.spec[kind]
        self.n_out += 1
        out = os.path.join(self.out_root, f"op{self.n_out}")
        t0 = time.perf_counter()
        if clock is None:
            res = pipeline.process_file(spark, exp["path"])
            res.dataframe.write.parquet(out)
        else:
            with patched_pipeline(clock):
                res = pipeline.process_file(spark, exp["path"])
            with clock.timing("pipeline.materialize_ms"):
                res.dataframe.write.parquet(out)
        latency = time.perf_counter() - t0
        stored = sum(
            os.path.getsize(os.path.join(out, f))
            for f in os.listdir(out) if f.endswith(".parquet")
        )
        errors = geodata.check_output(
            exp, res.file_type, res.source_crs, res.geom_columns, pq.read_table(out)
        )
        shutil.rmtree(out)
        return Op(kind, latency, exp["rows"], exp["bytes"], stored, errors)


class QueryWorkload:
    """Registered queries run to an Arrow table, checked against DuckDB."""

    def __init__(self, queries: tuple[str, ...], scale: float, docs: int, vecs: int) -> None:
        self.kinds = list(queries)
        self.scale, self.docs, self.vecs = scale, docs, vecs

    def prepare(self, run_dir: str, seed: int) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        from duckdb_postgis_spark import registry
        from tests.oracle_harness import normalize, run_oracle

        self.data_dir = os.path.join(run_dir, "data")
        sizes = datagen.write_tables(self.data_dir, seed, self.scale, self.docs, self.vecs)
        oracles = registry.all_oracles()

        def expected(name):
            cols, rows, _ = run_oracle(oracles[name], self.data_dir)
            return normalize(cols, rows)

        with ThreadPoolExecutor(2) as pool:
            self.expected = dict(zip(self.kinds, pool.map(expected, self.kinds)))
        self.queries = registry.all_queries()
        self.inputs: dict[str, tuple[int, int]] = {}
        return sizes

    def _inputs(self, df) -> tuple[int, int]:
        """Rows and bytes of the table files the plan reads (footer-only)."""
        import pyarrow.parquet as pq

        files = sorted({f.removeprefix("file:") for f in df.inputFiles()})
        return (
            sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            sum(os.path.getsize(f) for f in files),
        )

    def op(self, spark, kind: str, clock: LayerClock | None) -> Op:
        fn = self.queries[kind]
        t0 = time.perf_counter()
        if clock is None:
            df = fn(spark, self.data_dir)
            table = df.toArrow()
        else:
            with clock.timing("registry.build_ms"):
                df = fn(spark, self.data_dir)
            with clock.timing("catalyst.plan_ms"):
                df._jdf.queryExecution().executedPlan()
            with clock.timing("exec.fetch_ms"):
                table = df.toArrow()
        latency = time.perf_counter() - t0
        if kind not in self.inputs:
            self.inputs[kind] = self._inputs(df)
        rows_in, bytes_in = self.inputs[kind]
        errors = check_rows(kind, self.expected[kind], table)
        return Op(kind, latency, rows_in, bytes_in, table.nbytes, errors)


def check_rows(kind: str, expected, table) -> list[str]:
    """Compare an Arrow result with the oracle's normalized rows."""
    from tests.oracle_harness import normalize

    got = normalize(table.column_names, [tuple(r.values()) for r in table.to_pylist()])
    if got == expected:
        return []
    bad = [g for g, e in zip(got[1], expected[1]) if g != e][:1]
    return [
        f"{kind}: {len(got[1])} rows {got[0]} differ from the oracle's "
        f"{len(expected[1])} rows {expected[0]}; first differing row {bad}"
    ]


#: ``scale`` 0.005 is a twentieth of sf0.1's fact tables; documents and
#: embeddings are chosen so one pass and the oracle fit a short run
WORKLOADS = {
    "geo_etl": GeoEtl,
    "query_mix": lambda: QueryWorkload(
        (
            "pricing_summary", "join_broadcast_4way", "window_rank_topn",
            "sort_limit_topk", "agg_distinct", "events_ewma_trailing",
            "graph_pagerank_bipartite",
        ),
        scale=0.005, docs=500, vecs=500,
    ),
    "llm_search": lambda: QueryWorkload(
        (
            "similarity_search_query", "similarity_search_ann",
            "similarity_search_pq", "knn_cosine_topk", "dedup_minhash_lsh",
        ),
        scale=0.001, docs=1000, vecs=500,
    ),
}
