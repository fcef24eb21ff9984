#!/usr/bin/env python3
"""Closed-loop, single-client benchmark of one workload in a fresh process.

Run from the repository root:

    python3 perfbench/run.py --workload geo_etl --seed 1 --seconds 15 --trace 0

Workloads: ``geo_etl``, ``llm_search`` and ``query_mix`` (see workloads.py
and design.json). The inputs are generated from ``--seed`` into a per-run
directory under ``.perfbench-run/``, which is removed at exit together with
the Spark local dirs and the op outputs. The JVM runs on a pinned
``local[2]`` session with a pinned, pre-touched heap; every
``SPARK_GRAFT_*`` knob is pinned and echoed.

A pass runs every op type once, in a seeded order. The first two passes
are warm-up; timing starts at the first later pass whose successor is
within 25% of it, and whole passes are timed until ``--seconds`` have
passed. Every op's output is checked. With ``--trace 1`` the timed passes
alternate between untraced and traced, and the per-layer metrics come from
the traced ones.

Lines starting with ``#`` describe the run; the last line of standard
output is the JSON result.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from layers import COUNT_METRICS, LAYER_METRICS, LayerClock, SparkProbe  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402

CORES = 2
SHUFFLE_PARTITIONS = 4
DRIVER_HEAP = "1g"
#: two consecutive passes within this share of each other mark steady state
LEVEL_OFF = 0.25
MIN_WARMUP_PASSES = 2
MAX_WARMUP_PASSES = 6
MIN_TIMED_PASSES = 2
#: stop starting passes after this long, so a run ends inside 180 s
RUN_CAP_S = 140.0
#: hard-coded cross-process cache of the engine; ops must leave it alone
LAYOUT_CACHE = "/tmp/duckdb_postgis_spark_layout"


def pinned_env(run_dir: str) -> dict[str, str | None]:
    """Every variable the run pins; ``None`` means unset."""
    java_opts = (
        f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
        f"-Djava.io.tmpdir={run_dir}/tmp"
    )
    submit = [
        "--driver-memory", DRIVER_HEAP,
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={run_dir}/warehouse",
        "pyspark-shell",
    ]
    env: dict[str, str | None] = {
        name: None for name in os.environ if name.startswith("SPARK_GRAFT_")
    }
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": f"{run_dir}/spark-local",
        "SPARK_MASTER": None,
        "SPARK_SHUFFLE_PARTITIONS": None,
        "TMPDIR": f"{run_dir}/tmp",
        "TZ": "UTC",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_LSH_SEG_TARGET": "8192",
        "SPARK_GRAFT_SEMDEDUP": "",
        "SPARK_GRAFT_SEMDEDUP_SUPER": "0",
        "SPARK_GRAFT_GEO_KNN": "",
        "SPARK_GRAFT_ALLOW_QUADRATIC": "",
        "SPARK_GRAFT_STREAM_CKPT_DIR": f"{run_dir}/ckpt",
        "SPARK_GRAFT_STREAM_STATE_PARTS": "8",
        "SPARK_GRAFT_STREAM_TIMEOUT": None,
    })
    return env


def layout_listing() -> list[tuple[str, int, int]]:
    out = []
    for dirpath, dirs, files in os.walk(LAYOUT_CACHE):
        for name in dirs + files:
            st = os.lstat(os.path.join(dirpath, name))
            out.append((os.path.relpath(os.path.join(dirpath, name), LAYOUT_CACHE),
                        st.st_size, st.st_mtime_ns))
    return sorted(out)


def say(*parts) -> None:
    print("#", *parts, flush=True)


# --------------------------------------------------------------------------
# processes
# --------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(d))
    return kids


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark():
    from duckdb_postgis_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{CORES}]", shuffle_partitions=SHUFFLE_PARTITIONS
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for its Python workers."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = _tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


# --------------------------------------------------------------------------
# passes
# --------------------------------------------------------------------------


class Pass:
    def __init__(self, traced: bool) -> None:
        self.traced = traced
        self.start = time.perf_counter()
        self.ops: list[Op] = []
        self.seconds = 0.0


def run_pass(wl, spark, seed: int, index: int, traced: bool, probe) -> Pass:
    order = list(wl.kinds)
    random.Random(f"{seed}:{index}").shuffle(order)
    p = Pass(traced)
    for kind in order:
        gc.collect()  # the client's own garbage is collected between ops, not inside one
        clock = LayerClock() if traced else None
        if traced:
            probe.begin(f"perfbench-{index}-{kind}")
        try:
            op = wl.op(spark, kind, clock)
        except Exception as exc:  # counted as a failed op
            traceback.print_exc()
            op = Op(kind, float("nan"), 0, 0, 0, [f"{kind}: {type(exc).__name__}: {exc}"])
        if traced:
            op.layers = dict(clock.ms) | probe.end()
        p.ops.append(op)
    p.seconds = time.perf_counter() - p.start
    return p


def run_workload(wl, spark, seed: int, seconds: float, trace: bool):
    probe = SparkProbe(spark) if trace else None
    passes: list[Pass] = []
    steady = None
    while True:
        i = len(passes)
        traced = steady is not None and trace and (i - steady) % 2 == 0 and i > steady + 1
        passes.append(run_pass(wl, spark, seed, i, traced, probe))
        if steady is None:
            if i > MIN_WARMUP_PASSES and abs(passes[i].seconds - passes[i - 1].seconds) <= LEVEL_OFF * passes[i - 1].seconds:
                steady = i - 1
            elif i + 1 >= MAX_WARMUP_PASSES:
                steady = i + 1
                say("warm-up did not level off; timing from the next pass")
        timed = passes[steady:] if steady is not None else []
        if (
            timed
            and time.perf_counter() - timed[0].start >= seconds
            and len(timed) >= MIN_TIMED_PASSES
            and (not trace or any(p.traced for p in timed))
        ):
            return passes, steady
        if time.perf_counter() - T0 > RUN_CAP_S:
            if not timed:
                raise RuntimeError(f"no timed pass within {RUN_CAP_S} s")
            return passes, steady


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def geomean_of_medians(ops) -> tuple[float, dict[str, float]]:
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        if not op.errors:
            by_kind.setdefault(op.kind, []).append(op.latency_s * 1000.0)
    med = {k: statistics.median(v) for k, v in sorted(by_kind.items())}
    return math.exp(statistics.fmean(math.log(v) for v in med.values())), med


def end_to_end(passes, steady, jvm_rss_mb) -> dict:
    ops = [op for p in passes[steady:] if not p.traced for op in p.ops]
    ok = [op for op in ops if not op.errors]
    geo, med = geomean_of_medians(ops)
    say("median_ms_by_op", json.dumps(med))
    return {
        "setup_s": (passes[steady].start - T0, "s"),
        "rows_per_s": (sum(op.rows_in for op in ok) / sum(op.latency_s for op in ok), "rows/s"),
        "op_geomean_ms": (geo, "ms"),
        "ok_ratio": (sum(not p.errors for q in passes for p in q.ops)
                     / sum(len(q.ops) for q in passes), "ratio"),
        "peak_rss_mb": (jvm_rss_mb, "MB"),
        "stored_bytes_per_input_byte": (
            sum(op.bytes_out for op in ok) / sum(op.bytes_in for op in ok), "ratio"),
    }


def per_layer(passes, steady) -> dict:
    timed = passes[steady:]
    traced = [op for p in timed if p.traced for op in p.ops if not op.errors]
    plain = [op for p in timed if not p.traced for op in p.ops]
    out = {}
    for name in LAYER_METRICS:
        out[name] = (sum(op.layers.get(name, 0.0) for op in traced) / len(traced), "ms")
    for name, unit in COUNT_METRICS.items():
        out[name] = (sum(op.layers[name] for op in traced) / len(traced), unit)
    out["trace.overhead_ms"] = (
        geomean_of_medians(traced)[0] - geomean_of_medians(plain)[0], "ms")
    return out


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def bench(args, run_dir: str) -> dict:
    from duckdb_postgis_spark import registry

    registry.load_all()
    wl = WORKLOADS[args.workload]()
    prepared: dict = {}

    def prepare():  # input generation and oracles overlap the JVM launch
        try:
            prepared["sizes"] = wl.prepare(run_dir, args.seed)
        except BaseException as exc:
            prepared["error"] = exc

    worker = threading.Thread(target=prepare)
    worker.start()
    try:
        spark = start_spark()
    finally:
        worker.join()
    if "error" in prepared:
        stop_spark(spark)
        raise prepared["error"]
    sizes = prepared["sizes"]
    say("inputs", json.dumps(sizes))
    try:
        passes, steady = run_workload(wl, spark, args.seed, args.seconds, bool(args.trace))
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)
    say("warmup_pass_s", json.dumps([p.seconds for p in passes[:steady]]))
    say("timed_pass_s", json.dumps([p.seconds for p in passes[steady:]]),
        "traced", json.dumps([p.traced for p in passes[steady:]]))
    say("timed_ops", sum(len(p.ops) for p in passes[steady:]))
    for e in [e for p in passes for op in p.ops for e in op.errors][:20]:
        say("check failed:", e)
    metrics = per_layer(passes, steady) if args.trace else end_to_end(passes, steady, rss)
    attempted = sum(len(p.ops) for p in passes)
    failed = sum(bool(op.errors) for p in passes for op in p.ops)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("duckdb_postgis_spark/pipeline.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    run_root = os.path.join(ROOT, ".perfbench-run")
    run_dir = os.path.join(run_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    guard = layout_listing()
    env = pinned_env(run_dir)
    for name, value in sorted(env.items()):
        if value is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = value
        say("env", f"{name}={'<unset>' if value is None else value}")
    say("session", f"master=local[{CORES}] shuffle_partitions={SHUFFLE_PARTITIONS} "
        f"driver_heap={DRIVER_HEAP}")
    for sub in ("spark-local", "tmp", "warehouse", "ckpt"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    try:
        result = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(run_root)
    if layout_listing() != guard:
        print(f"perfbench: {LAYOUT_CACHE} changed during the run", file=sys.stderr)
        return 3
    say("layout cache unchanged:", LAYOUT_CACHE)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
