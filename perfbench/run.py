#!/usr/bin/env python3
"""Benchmark of the gotrackmaster_spark engine: two workloads, one client,
closed loop, ``local[4]``.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload gpx_repair --seed 1 --seconds 20 --trace 0

Inputs are generated from ``--seed`` by ``gen.py`` in a child process and
cached under ``.perfbench_cache/``; nothing of that is timed.  A run then
starts one Spark session, runs the workload's warm-up operations and
measures operations for ``--seconds`` seconds (at least ``MIN_OPS``).
Every operation's output is checked against the cached reference; a failed
or wrong operation counts in ``failed``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs a separate
traced loop (event log on, layers forced and timed, see ``spans.py``) and
reports the per-layer metrics.  The last stdout line is the JSON result;
the line before it carries the CPU-capacity probe taken before and after
the run and the other context of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
CORES = 4
MIN_OPS = 3
MAX_OPS = 40
EMPTY_TASKS = 16
# JVM options of the measured session.  -XX:TieredStopAtLevel=1 (C1 only):
# with the default tiered C2 compiler the JVM kept compiling for the whole
# run (track_catalog operations fell from 18 s to 4.7 s over eight
# operations, still falling), so a run's median depended on how far
# compilation had got; with C1 its third operation is already within about
# 10 % of the speed it levels off at.  -Xms2g: a heap that starts at the
# default 1/64 of RAM grows in steps whose timing varies; over ten runs the
# quartiles of track_catalog's peak RSS lay 10-19 % apart from that start
# and 4 % apart from a 2 GiB start (gpx_repair's about 10 % either way).
JVM_OPTS = "-XX:TieredStopAtLevel=1 -Xms2g"

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "items_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "session.get_session_s": "s",
    "session.first_udf_s": "s",
    "session.zip_rebuilt": "count",
    "udf.python_tasks": "count",
    "udf.python_worker_s": "s",
    "udf.bytes_to_python": "bytes",
    "udf.bytes_from_python": "bytes",
    "udf.empty_task_s": "s",
    "gpx.parse_driver_s": "s",
    "gpx.write_s": "s",
    "gpx.bytes_in": "bytes",
    "gpx.bytes_out": "bytes",
    "gpx.scan_executor_s": "s",
    "repair.pipeline_s": "s",
    "repair.points_kept_ratio": "ratio",
    "kernels.direct_s": "s",
    "quality.track_profiles_s": "s",
    "functions.assign_s": "s",
    "spatial.pip_s": "s",
    "spatial.pip_candidates": "count",
    "spatial.pip_hits": "count",
    "spatial.pip_hit_ratio": "ratio",
    "checkpoint.commit_s": "s",
    "checkpoint.merge_s": "s",
    "checkpoint.compact_s": "s",
    "checkpoint.load_pruned_s": "s",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_written_per_input_byte": "ratio",
    "checkpoint.files_read_ratio": "ratio",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "driver.self_s": "s",
    "trace.op_s": "s",
    "trace.forcing_s": "s",
    "trace.overhead_s": "s",
}


class RunError(Exception):
    """The run cannot produce a valid result."""


def _inputs(workload: str, seed: int) -> tuple[str, dict]:
    """The cached inputs and reference of (workload, seed), generated in a
    child process on first use."""
    import gen

    d = os.path.join(CACHE, f"{workload}-s{seed}-v{gen.GEN_VERSION}")
    ref_path = os.path.join(d, "ref.json")
    if not os.path.exists(ref_path):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), d, ROOT],
            check=True, timeout=170,
        )
    with open(ref_path) as f:
        return d, json.load(f)


def _isolate(work: str) -> dict:
    """Per-run Spark directories and environment: the package zip, shuffle
    files and temp files stay in this run's directory, and the cwd holds no
    copy of the package, so workers import only the zip this run ships."""
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "events", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    for var in ("SPARK_LOCAL_DIRS", "PYTHONPATH"):
        os.environ.pop(var, None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = dirs["tmp"]
    os.chdir(dirs["cwd"])
    return dirs


def _setup(workload: str, dirs: dict, trace: bool):
    """Cold start: pyspark import, JVM launch, ``get_session`` (package zip
    and ``addPyFile``) and the first Python-UDF task."""
    conf = {
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} {JVM_OPTS}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["events"],
            "spark.eventLog.compress": "false",
        })
    zip_path = os.path.join(dirs["local"], "gotrackmaster_spark.zip")
    t0 = time.perf_counter()
    from gotrackmaster_spark.session import get_session

    zip_before = os.path.getmtime(zip_path) if os.path.exists(zip_path) else None
    spark = get_session(f"perfbench-{workload}", master=f"local[{CORES}]", extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")

    def origin(batches):
        import gotrackmaster_spark
        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"file": [gotrackmaster_spark.__file__]})

    files = {r.file for r in spark.range(0, CORES, 1, CORES).mapInPandas(origin, "file string").collect()}
    t2 = time.perf_counter()
    local = os.path.realpath(dirs["local"])
    stray = [f for f in files if not os.path.realpath(f).startswith(local + os.sep)]
    if stray:
        raise RunError(f"workers imported the engine from outside this run's zip: {stray}")
    zip_after = os.path.getmtime(zip_path) if os.path.exists(zip_path) else None
    info = {
        "setup_s": t2 - t0,
        "session.get_session_s": t1 - t0,
        "session.first_udf_s": t2 - t1,
        "session.zip_rebuilt": int(zip_after != zip_before),
        "worker_engine_file": sorted(files),
    }
    return spark, info


def _stop(spark) -> None:
    """Stop the session and wait until the JVM, and with it the Python
    workers, has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Loop:
    """Runs, times and checks operations; counts attempts and failures."""

    def __init__(self, wl, tracer):
        from procstat import cpu_seconds

        self.wl = wl
        self.tr = tracer
        self.cpu = cpu_seconds
        self.attempted = 0
        self.failed = 0
        self.index = 0
        self.last = None

    def one(self, tr=None) -> tuple[float, float] | None:
        tr = tr or self.tr
        i = self.index
        self.index += 1
        self.attempted += 1
        c0 = self.cpu(os.getpid())
        t0 = time.perf_counter()
        try:
            with tr.op(i):
                out = self.wl.run(i, tr)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        wall = time.perf_counter() - t0
        cpu = self.cpu(os.getpid()) - c0
        problems = self.wl.check(out)
        if self.last is not None:
            self.wl.cleanup(self.last)
        self.last = out
        if problems:
            print(f"op {i}: wrong output: {problems}", file=sys.stderr)
            self.failed += 1
            return None
        return wall, cpu

    def measure(self, seconds: float, tr=None, min_ops: int = MIN_OPS) -> list[tuple[float, float]]:
        samples = []
        t0 = time.perf_counter()
        n = 0
        while n < MAX_OPS and (n < min_ops or time.perf_counter() - t0 < seconds):
            n += 1
            s = self.one(tr)
            if s is not None:
                samples.append(s)
        return samples


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run_end_to_end(spark, setup: dict, loop: Loop, seconds: float) -> dict:
    from procstat import peak_rss_by_process

    for _ in range(loop.wl.WARMUP_OPS):
        loop.one()
    samples = loop.measure(seconds)
    if not samples:
        raise RunError("no operation succeeded")
    op_s = _median([w for w, _c in samples])
    rss = peak_rss_by_process(os.getpid())
    return {
        "setup_s": setup["setup_s"],
        "op_s": op_s,
        "items_per_s": loop.wl.items / op_s,
        "cpu_s": _median([c for _w, c in samples]),
        "peak_rss_mb": sum(mb for _name, mb in rss),
    }, {"op_samples": samples, "peak_rss_by_process": rss}


def run_traced(spark, setup: dict, loop: Loop, seconds: float, dirs: dict) -> dict:
    from spans import Tracer, event_log_metrics

    # calibration: the fixed cost of one Python task, from an identity
    # mapInPandas over one-row partitions
    def ident(batches):
        yield from batches

    empty = spark.range(0, EMPTY_TASKS, 1, EMPTY_TASKS).mapInPandas(ident, "id long")
    t = time.perf_counter()
    empty.write.format("noop").mode("overwrite").save()
    empty_task_s = (time.perf_counter() - t) * CORES / EMPTY_TASKS

    for _ in range(loop.wl.WARMUP_OPS):
        loop.one()
    plain = loop.measure(0, min_ops=1)
    tracer = Tracer(spark.sparkContext)
    loop.wl.instrument(tracer)
    try:
        traced = loop.measure(seconds, tracer, min_ops=1)
    finally:
        tracer.uninstrument()
    if not traced or not plain:
        raise RunError("no operation succeeded")
    counts = loop.wl.trace_counts(loop.last)
    spark.stop()
    events = event_log_metrics(dirs["events"])

    # per-operation values come from the last (warmest) traced operation,
    # so the reported layer times add up to its wall time exactly
    op = tracer.ops[-1]
    metrics = {k: 0.0 for k in PER_LAYER}
    metrics.update({k: setup[k] for k in ("session.get_session_s", "session.first_udf_s",
                                          "session.zip_rebuilt")})
    metrics["udf.empty_task_s"] = empty_task_s
    metrics.update(op["layers"])
    metrics["driver.self_s"] = op["driver.self_s"]
    metrics["trace.forcing_s"] = op["forcing_s"]
    metrics["trace.op_s"] = op["wall_s"]
    metrics["trace.overhead_s"] = op["wall_s"] - _median([w for w, _c in plain])
    metrics.update(events.get(op["index"], {}))
    metrics.update(counts)
    unknown = set(metrics) - set(PER_LAYER)
    if unknown:
        raise RunError(f"unlisted per-layer metrics: {sorted(unknown)}")
    os.makedirs(OUT, exist_ok=True)
    tracer.dump(os.path.join(OUT, f"trace-{loop.wl.NAME}.json"),
                {"events": {str(k): v for k, v in events.items()}, "metrics": metrics})
    return metrics, {"plain_op_s": [w for w, _c in plain]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # pandas-UDF functions without type hints warn on every call
    warnings.filterwarnings("ignore", message="Cannot infer the eval type", category=UserWarning)

    if not os.path.isfile(os.path.join(ROOT, "gotrackmaster_spark", "__init__.py")):
        print(f"engine package gotrackmaster_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import gotrackmaster_spark
    from procstat import capacity_probe, cpu_ticks
    from spans import NullTracer
    from workloads import WORKLOADS

    if not os.path.realpath(gotrackmaster_spark.__file__).startswith(os.path.realpath(ROOT)):
        print(f"driver imported the engine from {gotrackmaster_spark.__file__}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    inputs, ref = _inputs(args.workload, args.seed)
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    probe_before = capacity_probe()
    ticks_before = cpu_ticks()
    spark = None
    try:
        dirs = _isolate(work)
        spark, setup = _setup(args.workload, dirs, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, inputs, ref, work)
        loop = Loop(wl, NullTracer())
        if args.trace:
            values, detail = run_traced(spark, setup, loop, args.seconds, dirs)
            units = PER_LAYER
        else:
            values, detail = run_end_to_end(spark, setup, loop, args.seconds)
            units = END_TO_END
        if loop.last is not None:
            wl.cleanup(loop.last)
    except RunError as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 3
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    ticks_after = cpu_ticks()
    context = {
        "workload": args.workload, "seed": args.seed, "gen_s": ref["gen_s"],
        "steal_share": (ticks_after[0] - ticks_before[0]) / max(1, ticks_after[1] - ticks_before[1]),
        "capacity_before": probe_before, "capacity_after": capacity_probe(),
        "worker_engine_file": setup["worker_engine_file"], **detail,
    }
    print(json.dumps({"perfbench_context": context}))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
