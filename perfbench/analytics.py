"""``analytics``: one client running a fixed basket of registry queries.

Each query is ``registry.all_queries()[qid](spark, sf_dir)``. The
first pass is cold (``cold_s``: codegen and artifact-memo builds, which
every fresh job pays) and collects each result to the client, which is
what a fresh job does with its answers; then one warm pass per
``SECONDS_PER_PASS`` of ``--seconds`` (at least one; a traced run makes
at least two) executes through a noop write. A fixed pass count keeps
runs comparable however fast the box is. Result memos
are cleared before every pass so each pass re-runs the queries.

- ``throughput_per_s``: basket queries ÷ median warm-pass wall.
- ``latency_p50_ms``/``latency_p90_ms``: per query (build + execute)
  over the untraced warm passes (54 samples at the benchmark's
  ``--seconds``).

A traced run records spans only in its cold and traced passes, so the
tracing overhead is the traced minus the untraced pass wall.

Correct when every basket id's cold-pass result matches its DuckDB
oracle (``registry.all_oracles()``, compared by ``tests/oracle.compare``
after the timed passes).
"""

from __future__ import annotations

import time

from perfbench import gen
from perfbench.measure import median, percentile

OPERATOR_IDS = (
    "agg_hash_groupby", "join_inner", "join_asof", "window_rank",
    "sql_q3_shipping_priority", "sql_q18_large_orders",
    "sql_q21_waiting_supplier", "stream_tumbling", "stream_session",
    "topic_pattern_filter", "latest_offset_per_topic", "funnel_conversion",
    "sessionize_events",
)
FUNCTION_IDS = (
    "dedup_fuzzy_minhash", "dedup_simhash", "tfidf_top_terms",
    "pipeline_end_to_end", "bm25_topk",
)
BASKET = OPERATOR_IDS + FUNCTION_IDS
SF, SMOKE_SF = 0.005, 0.002
SECONDS_PER_PASS = 4


def make_inputs(ctx) -> dict:
    sf_dir = ctx.path("sf")
    rows = gen.write_tables(sf_dir, SMOKE_SF if ctx.smoke else SF, ctx.seed)
    return {"sf_dir": sf_dir, "rows": rows}


def setup(ctx, spark, state) -> None:
    """Register every table scan (file listing + footers)."""
    from flink_kafka_replicator_spark.io import TABLES, load_table

    with ctx.tracer.span("io.load_table"):
        for t in TABLES:
            load_table(spark, state["sf_dir"], t)


class _Collected:
    """A collected result in the shape ``tests/oracle.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _pass(ctx, spark, queries, sf_dir: str, tag: str, traced: bool, collect: bool = False) -> dict:
    from flink_kafka_replicator_spark.functions.pipeline_queries import clear_result_memos

    clear_result_memos()
    tr, counters = ctx.tracer, ctx.counters
    tr.enabled = traced
    rows = []
    t_pass = time.perf_counter()
    for qid in BASKET:
        layer = "operators" if qid in OPERATOR_IDS else "functions"
        group = f"{tag}:{qid}"
        if ctx.trace:
            counters.set_group(group)
        t0 = time.perf_counter()
        with tr.span(f"{layer}.build", request=group):
            df = queries[qid](spark, sf_dir)
        build = time.perf_counter() - t0
        opt = counters.optimization_ms(df) if traced else 0.0
        t1 = time.perf_counter()
        with tr.span(f"{layer}.exec", request=group):
            if collect:
                result = _Collected(df.toPandas())
            else:
                df.write.format("noop").mode("overwrite").save()
                result = None
        rows.append({
            "qid": qid, "layer": layer, "group": group, "build": build,
            "exec": time.perf_counter() - t1, "opt": opt, "result": result,
        })
    wall = time.perf_counter() - t_pass
    tr.enabled = ctx.trace
    return {"tag": tag, "traced": traced, "wall": wall, "rows": rows}


def _check(cold: dict, sf_dir: str) -> dict[str, str]:
    from flink_kafka_replicator_spark.registry import all_oracles
    from tests.oracle import compare, duckdb_connection

    oracles = all_oracles()
    con = duckdb_connection(sf_dir)
    out = {}
    for r in cold["rows"]:
        qid = r["qid"]
        try:
            compare(r["result"], con, oracles[qid])
            out[qid] = "ok"
        except AssertionError as e:
            out[qid] = str(e)[:200]
    con.close()
    return out


def _layer_sum(p: dict, layer: str, key: str) -> float:
    return sum(r[key] for r in p["rows"] if r["layer"] == layer)


def run(ctx, spark, state) -> dict:
    from flink_kafka_replicator_spark.registry import all_queries

    queries = all_queries()
    sf_dir = state["sf_dir"]
    cold = _pass(ctx, spark, queries, sf_dir, "cold", ctx.trace, collect=True)
    # warm passes; a traced run alternates untraced and traced passes so
    # the tracing overhead is the difference of their medians
    warm: list[dict] = []
    n_warm = max(2 if ctx.trace else 1, int(ctx.seconds // SECONDS_PER_PASS))
    for i in range(n_warm):
        traced = ctx.trace and i % 2 == 1
        warm.append(_pass(ctx, spark, queries, sf_dir, f"warm{i}", traced))
    checks = _check(cold, sf_dir)
    failed = sum(v != "ok" for v in checks.values())

    plain = [p for p in warm if not p["traced"]]
    lat_ms = [1000.0 * (r["build"] + r["exec"]) for p in plain for r in p["rows"]]
    warm_s = median(p["wall"] for p in plain)
    e2e = {
        "throughput_per_s": len(BASKET) / warm_s,
        "latency_p50_ms": percentile(lat_ms, 50),
        "latency_p90_ms": percentile(lat_ms, 90),
        "cold_s": cold["wall"],
    }
    detail = {
        "basket_cold_s": cold["wall"],
        "basket_warm_s": warm_s,
        "warm_passes_s": [p["wall"] for p in warm],
        "query_latency_p50_ms": e2e["latency_p50_ms"],
        "query_latency_p90_ms": e2e["latency_p90_ms"],
        "latency_samples": len(lat_ms),
        "rows": state["rows"],
        "oracle": checks,
    }
    layer = {}
    if ctx.trace:
        traced = [p for p in warm if p["traced"]]
        jobs = ctx.counters.jobs_by_group()
        stages = ctx.counters.completed_stages()
        for p in [cold] + warm:
            for r in p["rows"]:
                r.update(ctx.counters.stage_totals(jobs.get(r["group"], []), stages))
        for lay in ("operators", "functions"):
            layer[f"{lay}.build_s"] = median(_layer_sum(p, lay, "build") for p in warm)
            layer[f"{lay}.exec_s"] = median(_layer_sum(p, lay, "exec") for p in warm)
            for key, name in (("opt", "optimization_ms"), ("stages", "stages"),
                              ("tasks", "tasks"), ("shuffle_bytes", "shuffle_bytes")):
                layer[f"{lay}.{name}"] = median(_layer_sum(p, lay, key) for p in traced)
        layer["functions.memo_build_s"] = (
            _layer_sum(cold, "functions", "build") - layer["functions.build_s"]
        )
        layer["io.scan_bytes"] = median(
            _layer_sum(p, "operators", "input_bytes") + _layer_sum(p, "functions", "input_bytes")
            for p in traced
        )
        layer["trace.overhead_s"] = median(p["wall"] for p in traced) - warm_s
    return {
        "attempted": len(BASKET) * (1 + len(warm)),
        "failed": failed,
        "e2e": e2e,
        "layer": layer,
        "detail": detail,
    }
