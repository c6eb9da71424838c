"""``serve``: hybrid retrieval served from persisted indexes, with ingest.

Setup builds both indexes from the served corpus
(``sinks.write_vector_index`` + ``sinks.write_lexical_index``). The
corpus is fixed (``CORPUS_SEED``); ``--seed`` drives the traffic: the
query batches and the ingested docs. Each request is a batch of
queries (terms plus a perturbed embedding) answered exactly the way the
``hybrid-search`` server's foreachBatch body does:
``sinks.hybrid_search_from_indexes`` plus a batch-partitioned parquet
write. An ingest batch of fresh docs is admitted through
``sinks.append_vector_batch`` and ``sinks.append_lexical_batch`` before
the first timed request and every ``INGEST_EVERY``-th one after it, and
the exact-vector table grows in step, so writes run beside reads and
every timed request reads an index that appends have grown.

One request per ``SECONDS_PER_REQUEST`` of ``--seconds`` (at least two;
a traced run makes at least four) follows an untimed first request; a
fixed count keeps runs comparable however fast the box is. A request
costs about the same at 2 or 16
queries (its jobs, not its queries, dominate), so the request count,
not the batch size, sets the number of latency samples.

- ``cold_s``: the first request (codegen, first plans).
- ``latency_p50_ms``/``latency_p90_ms``: per query, request submit to
  answers written.
- ``throughput_per_s``: answered queries ÷ timed serve wall (requests
  and ingests).

Correct when every query has exactly k answers and the ANN leg's
recall@10 on a fixed probe batch (against a numpy brute-force exact
cosine over the current vector set, computed untimed) stays at or
above ``RECALL_FLOOR``, a floor just below its value when this
benchmark was written.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.measure import median, percentile

SF, SMOKE_SF = 0.005, 0.002
CORPUS_SEED = 0
QUERIES_PER_REQUEST = 16
INGEST_EVERY = 4
SECONDS_PER_REQUEST = 4
INGEST_DOCS = 50
PROBES = 32
# recall@10 of the fixed probe batch at the engine's IVF/PQ defaults, as
# measured when this benchmark was written: 0.941 on the base corpus and
# 0.928-0.959 after one or two ingests of seeds 1-18 (smoke corpus: 0.831
# base, 0.866-0.884 after). The floors sit about 0.02 (0.03) below the
# lowest, so a run fails once the ANN leg loses that much recall.
RECALL_FLOOR, SMOKE_RECALL_FLOOR = 0.91, 0.8
QUERY_SCHEMA = "qid bigint, terms array<string>, embedding array<float>"


def make_inputs(ctx) -> dict:
    sf_dir = ctx.path("sf")
    rows = gen.write_tables(sf_dir, SMOKE_SF if ctx.smoke else SF, CORPUS_SEED)
    os.makedirs(ctx.path("exact", "d=0"))
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), ctx.path("exact", "d=0", "base.parquet"))
    return {"sf_dir": sf_dir, "n_docs": rows["documents"]}


def setup(ctx, spark, state) -> None:
    from flink_kafka_replicator_spark import sinks

    t0 = time.perf_counter()
    with ctx.tracer.span("sinks.write_vector_index"):
        sinks.write_vector_index(spark, state["sf_dir"], ctx.path("vec"))
    with ctx.tracer.span("sinks.write_lexical_index"):
        sinks.write_lexical_index(spark, state["sf_dir"], ctx.path("lex"))
    state["index_build_s"] = time.perf_counter() - t0


def _exact_df(ctx, spark):
    return spark.read.parquet(ctx.path("exact")).select("vec_id", "embedding")


def _request(ctx, spark, qs, batch_id: int) -> dict:
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark.sinks import hybrid_search_from_indexes

    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("sinks.request", request=batch_id):
        qdf = spark.createDataFrame(qs, QUERY_SCHEMA)
        with tr.span("sinks.hybrid_search_from_indexes", request=batch_id):
            answers = hybrid_search_from_indexes(
                spark, qdf, ctx.path("lex"), ctx.path("vec"), _exact_df(ctx, spark)
            )
        t1 = time.perf_counter()
        with tr.span("sinks.write_answers", request=batch_id):
            (
                answers.withColumn("batch_id", F.lit(batch_id))
                .coalesce(8)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(ctx.path("answers"))
            )
    t2 = time.perf_counter()
    return {"batch_id": batch_id, "n": len(qs), "lat": t2 - t0, "build": t1 - t0, "exec": t2 - t1}


def _legs(ctx, spark, qs) -> tuple[float, float]:
    """The request's two legs timed on their own (traced runs only)."""
    from flink_kafka_replicator_spark.sinks import (
        bm25_search_from_index,
        knn_batch_search_refined_from_index,
    )

    qdf = spark.createDataFrame(qs, QUERY_SCHEMA)
    out = []
    for name, make in (
        ("sinks.bm25_search_from_index", lambda: bm25_search_from_index(
            spark, qdf.select("qid", "terms"), ctx.path("lex"), k=20)),
        ("sinks.knn_batch_search_refined_from_index", lambda: knn_batch_search_refined_from_index(
            spark, qdf.select("qid", "embedding"), ctx.path("vec"), _exact_df(ctx, spark), k=10)),
    ):
        t0 = time.perf_counter()
        with ctx.tracer.span(name):
            make().write.format("noop").mode("overwrite").save()
        out.append(time.perf_counter() - t0)
    return out[0], out[1]


def _ingest(ctx, spark, sg: gen.ServeGen, k: int) -> tuple[float, float]:
    from flink_kafka_replicator_spark.sinks import append_lexical_batch, append_vector_batch

    docs, ids, vecs = sg.ingest_batch(INGEST_DOCS)
    vrows = [(int(i), v.tolist()) for i, v in zip(ids, vecs)]
    vdf = spark.createDataFrame(vrows, "vec_id bigint, embedding array<float>")
    ldf = spark.createDataFrame(docs, "doc_id bigint, text string")
    t0 = time.perf_counter()
    with ctx.tracer.span("sinks.append_vector_batch"):
        append_vector_batch(spark, vdf, ctx.path("vec"), k)
    t1 = time.perf_counter()
    with ctx.tracer.span("sinks.append_lexical_batch"):
        append_lexical_batch(ldf, ctx.path("lex"), k)
    t2 = time.perf_counter()
    # the exact-vector table grows in step with the vector index
    d = ctx.path("exact", f"d={k + 1}")
    os.makedirs(d)
    table = pa.table({
        "vec_id": ids,
        "embedding": gen.embedding_array(vecs),
        "label": np.zeros(len(ids), np.int32),
    })
    pq.write_table(table, os.path.join(d, "part.parquet"))
    return t1 - t0, t2 - t1


def _recall(ctx, spark, probes) -> float:
    """ANN-leg recall@10 against brute-force exact cosine (untimed)."""
    from flink_kafka_replicator_spark.sinks import knn_batch_search_refined_from_index

    exact = pads.dataset(ctx.path("exact"), format="parquet", partitioning="hive").to_table(
        columns=["vec_id", "embedding"])
    ids = exact.column("vec_id").to_numpy()
    mat = np.stack(exact.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    qv = np.array([p[2] for p in probes], dtype=np.float64)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    truth = np.argsort(-(qv @ mat.T), axis=1, kind="stable")[:, :10]
    got = knn_batch_search_refined_from_index(
        spark, spark.createDataFrame(probes, QUERY_SCHEMA).select("qid", "embedding"),
        ctx.path("vec"), _exact_df(ctx, spark), k=10,
    ).select("qid", "vec_id").toPandas()
    hits = 0
    for i, p in enumerate(probes):
        ann = set(got.loc[got["qid"] == p[0], "vec_id"].tolist())
        hits += len(ann & set(ids[truth[i]].tolist()))
    return hits / (10.0 * len(probes))


def _index_shape(ctx) -> tuple[int, int]:
    deltas = 0
    for meta in glob.glob(ctx.path("vec", "*META*.json")) + glob.glob(ctx.path("lex", "*META*.json")):
        with open(meta) as f:
            deltas += len(json.load(f).get("delta_ids", []))
    files = sum(
        len(glob.glob(os.path.join(ctx.path(d), "**", "*.parquet"), recursive=True))
        for d in ("vec", "lex")
    )
    return deltas, files


def run(ctx, spark, state) -> dict:
    from flink_kafka_replicator_spark.functions.pipeline_queries import HYBRID_TOP_K

    sg = gen.ServeGen(ctx.seed, CORPUS_SEED, state["n_docs"])
    probes = gen.ServeGen(CORPUS_SEED, CORPUS_SEED, 0, stream=4).query_batch(PROBES)
    tr, counters = ctx.tracer, ctx.counters
    cold = _request(ctx, spark, sg.query_batch(QUERIES_PER_REQUEST), 0)

    # A traced run records spans for one request of each consecutive
    # pair, first of the pair in even pairs and second in odd ones, so
    # the overhead (traced minus untraced latency, median over at least
    # two pairs) does not pick up where a request sits in the run.
    reqs, appends, legs = [], [], []
    serve_s = 0.0
    for i in range(max(4 if ctx.trace else 2, int(ctx.seconds // SECONDS_PER_REQUEST))):
        qs = sg.query_batch(QUERIES_PER_REQUEST)
        traced = ctx.trace and i % 2 == (i // 2) % 2
        tr.enabled = traced
        t0 = time.perf_counter()
        if i % INGEST_EVERY == 0:
            if ctx.trace:
                counters.set_group("ingest")
            appends.append(_ingest(ctx, spark, sg, len(appends)))
        if ctx.trace:
            counters.set_group(f"req{i + 1}")
        r = _request(ctx, spark, qs, i + 1)
        serve_s += time.perf_counter() - t0
        r["traced"] = traced
        reqs.append(r)
        if traced:
            counters.set_group("legs")
            legs.append(_legs(ctx, spark, qs))
    tr.enabled = ctx.trace
    if ctx.trace:
        counters.set_group("check")

    # correctness: k answers per query, recall at or above the floor
    answers = pq.read_table(ctx.path("answers"), columns=["batch_id", "qid"]).to_pandas()
    per_query = answers.groupby(["batch_id", "qid"], observed=True).size()
    n_queries = QUERIES_PER_REQUEST * (len(reqs) + 1)
    short = n_queries - int((per_query == HYBRID_TOP_K).sum())
    recall = _recall(ctx, spark, probes)
    failed = short + (recall < (SMOKE_RECALL_FLOOR if ctx.smoke else RECALL_FLOOR))

    plain = [r for r in reqs if not r["traced"]]
    lat_ms = [1000.0 * r["lat"] for r in plain for _ in range(r["n"])]
    append_s = sum(a + b for a, b in appends)
    e2e = {
        "throughput_per_s": sum(r["n"] for r in reqs) / serve_s,
        "latency_p50_ms": percentile(lat_ms, 50),
        "latency_p90_ms": percentile(lat_ms, 90),
        "cold_s": cold["lat"],
    }
    detail = {
        "queries_per_s": e2e["throughput_per_s"],
        "query_latency_p50_ms": e2e["latency_p50_ms"],
        "query_latency_p90_ms": e2e["latency_p90_ms"],
        "request_latencies_s": [r["lat"] for r in reqs],
        "first_request_s": cold["lat"],
        "ingest_docs_per_s": INGEST_DOCS * len(appends) / append_s,
        "recall_at_10": recall,
        "ingests": len(appends),
        "short_answers": short,
        "index_build_s": state["index_build_s"],
    }
    layer = {}
    if ctx.trace:
        jobs = counters.jobs_by_group()
        deltas, files = _index_shape(ctx)
        pairs = [reqs[j:j + 2] for j in range(0, len(reqs) - 1, 2)]
        layer = {
            "sinks.index_build_s": state["index_build_s"],
            "sinks.hybrid_build_s": median(r["build"] for r in reqs),
            "sinks.hybrid_exec_s": median(r["exec"] for r in reqs),
            "sinks.lexical_leg_s": median(l[0] for l in legs),
            "sinks.vector_leg_s": median(l[1] for l in legs),
            "sinks.jobs_per_request": median(len(jobs.get(f"req{r['batch_id']}", [])) for r in reqs),
            "sinks.append_vector_s": median(a for a, _ in appends),
            "sinks.append_lexical_s": median(b for _, b in appends),
            "sinks.index_deltas": deltas,
            "sinks.index_files": files,
            "sinks.ingest_docs_per_s": detail["ingest_docs_per_s"],
            "sinks.recall_at_10": recall,
            "trace.overhead_s": median(
                sum(r["lat"] if r["traced"] else -r["lat"] for r in p) for p in pairs
            ),
        }
    return {
        "attempted": n_queries + INGEST_DOCS * len(appends),
        "failed": int(failed),
        "e2e": e2e,
        "layer": layer,
        "detail": detail,
    }
