"""Benchmark entry point.

    python3 perfbench/run.py --workload {replicate,analytics,serve} \
        --seed N --seconds S --trace {0,1} [--smoke]
    python3 perfbench/run.py --workload all --seed N --seconds S --trace 0

Run from the repository root. One invocation runs one workload in this
fresh process (``all`` runs each workload in a fresh child process):

1. make the inputs from ``--seed`` (``perfbench/gen.py``);
2. start the session (JVM launch included), then run the workload's
   own setup; ``setup_s`` is the two together;
3. measure for ``--seconds`` after warm-up, then check every output;
4. print, as the last stdout line, ``{"correct", "attempted", "failed",
   "metrics"}``: the end-to-end metrics with ``--trace 0``, the
   per-layer metrics with ``--trace 1``.

End-to-end metrics carry the same name on every workload; what each
means per workload is documented in ``perfbench/README.md``. A detail
line before the result names them the workload's own way.

Everything the run writes lives under ``perfbench/out/`` (removed at
exit; a traced run leaves its span dump there).
``--smoke`` shrinks inputs and phases for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("replicate", "analytics", "serve")

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "cold_s": "s",
}

LAYER_UNITS = {
    "session.create_s": "s",
    "session.gc_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.lag_records_max": "count",
    "sources.gen_late_ms_max": "ms",
    "streaming.triggers": "count",
    "streaming.rows_per_trigger": "count",
    "streaming.trigger_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "exactly_once.add_batch_ms": "ms",
    "exactly_once.tasks_per_trigger": "count",
    "exactly_once.task_busy_s": "s",
    "exactly_once.txns": "count",
    "exactly_once.records_per_txn": "count",
    "exactly_once.ledger_skips": "count",
    **{
        f"{layer}.{m}": u
        for layer in ("operators", "functions")
        for m, u in (
            ("build_s", "s"),
            ("exec_s", "s"),
            ("optimization_ms", "ms"),
            ("stages", "count"),
            ("tasks", "count"),
            ("shuffle_bytes", "bytes"),
        )
    },
    "functions.memo_build_s": "s",
    "io.scan_bytes": "bytes",
    "sinks.index_build_s": "s",
    "sinks.hybrid_build_s": "s",
    "sinks.hybrid_exec_s": "s",
    "sinks.lexical_leg_s": "s",
    "sinks.vector_leg_s": "s",
    "sinks.jobs_per_request": "count",
    "sinks.append_vector_s": "s",
    "sinks.append_lexical_s": "s",
    "sinks.index_deltas": "count",
    "sinks.index_files": "count",
    "sinks.ingest_docs_per_s": "1/s",
    "sinks.recall_at_10": "ratio",
    **{
        f"{layer}.self_s": "s"
        for layer in (
            "session", "sources", "streaming", "exactly_once",
            "operators", "functions", "io", "sinks",
        )
    },
    "trace.overhead_s": "s",
}


class Ctx:
    """What a workload gets: the run's arguments, its private work
    directory, the tracer and (once the session is up) the counters."""

    def __init__(self, args, work: str):
        from perfbench.measure import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.work = work
        self.tracer = Tracer(self.trace)
        self.counters = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _configure_env(work: str) -> None:
    """Size the session to the box and keep every scratch write inside
    the work directory. Must run before pyspark launches its JVM."""
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(2, int(mem_gb // 4)))}g")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the broker stand-in from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def session_confs(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "10000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }


def start_session(work: str):
    from flink_kafka_replicator_spark.session import get_session, prepare

    spark = get_session(app_name="perfbench", extra_confs=session_confs(work))
    spark.sparkContext.setLogLevel("ERROR")
    return prepare(spark)


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait until
    it and the Python workers it forked have exited."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _result(failed: int, attempted: int, metrics: dict, units: dict) -> dict:
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"workload did not report {sorted(missing)}")
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def run_one(args) -> dict:
    import importlib

    from perfbench.measure import RssSampler, SparkCounters

    work = os.path.join(HERE, "out", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        _configure_env(work)
        # fail fast (before any output) when the engine is not importable
        importlib.import_module("flink_kafka_replicator_spark.sinks")
        mod = importlib.import_module(f"perfbench.{args.workload}")
        ctx = Ctx(args, work)
        rss = RssSampler().start()
        state = mod.make_inputs(ctx)

        # one fresh start: JVM launch plus session. A restart after
        # spark.stop() reuses the warm JVM (about 0.25 s against 6-7 s)
        # and a real relaunch per repeat does not fit the run budget, so
        # the median of setup_s is taken across runs.
        t0 = time.perf_counter()
        with ctx.tracer.span("session.get_session"):
            spark = start_session(work)
        session_s = time.perf_counter() - t0
        # the workload's own setup (table registration, index builds)
        t0 = time.perf_counter()
        mod.setup(ctx, spark, state)
        workload_setup_s = time.perf_counter() - t0

        ctx.counters = SparkCounters(spark)
        gc0 = ctx.counters.gc_ms()
        out = mod.run(ctx, spark, state)
        gc_s = (ctx.counters.gc_ms() - gc0) / 1000.0
        peak_mb = rss.stop()
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "detail": out["detail"],
                      "session_start_s": session_s, "workload_setup_s": workload_setup_s}),
          flush=True)
    if not ctx.trace:
        e2e = dict(out["e2e"], setup_s=session_s + workload_setup_s, peak_rss_mb=peak_mb)
        return _result(out["failed"], out["attempted"], e2e, E2E_UNITS)
    layer = {k: 0.0 for k in LAYER_UNITS}
    layer.update({f"{k}.self_s": v for k, v in ctx.tracer.self_times().items()})
    layer.update(out["layer"], **{"session.create_s": session_s, "session.gc_s": gc_s})
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    ctx.tracer.dump(os.path.join(HERE, "out", f"spans-{args.workload}-s{args.seed}.jsonl"))
    return _result(out["failed"], out["attempted"], layer, LAYER_UNITS)


def run_all(args) -> dict:
    """Each workload in a fresh child process; one summary line."""
    results = {}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
        results[w] = json.loads(proc.stdout.strip().splitlines()[-1])
    return results


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, short phases")
    args = ap.parse_args(argv)
    res = run_all(args) if args.workload == "all" else run_one(args)
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    # import as the ``perfbench`` package from the repository root
    sys.path[0] = ROOT
    sys.exit(main())
