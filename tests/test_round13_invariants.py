"""Round-13 invariants: phash fan-out guard, bench probe machinery."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_kafka_replicator_spark.functions import multimodal
from flink_kafka_replicator_spark.io import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_phash64_fans_out_small_scans(spark):
    """Spark sizes scan splits by BYTES; phash's cost is per-byte
    PYTHON work. A small-file corpus (1 split) must fan out to
    defaultParallelism before the mapInPandas stage — otherwise the
    whole signature pass runs in one task (the round-13 bench fix:
    8.6 s → 1.9 s at sf0.1)."""
    d = load_table(spark, SF_DIR, "documents")
    blobs = multimodal.with_blob(d).coalesce(1)
    assert blobs.rdd.getNumPartitions() == 1
    sigs = multimodal.phash64(blobs)
    got = sigs.rdd.getNumPartitions()
    want = spark.sparkContext.defaultParallelism
    assert got >= want, f"phash64 ran on {got} partitions, want >= {want}"


def test_phash64_leaves_wide_inputs_alone(spark):
    """The fan-out guard must be a no-op on production-shaped inputs:
    a scan that already has >= cores partitions keeps its partitioning
    (no gratuitous shuffle of 100 TB of payload bytes)."""
    d = load_table(spark, SF_DIR, "documents")
    want = spark.sparkContext.defaultParallelism
    wide = multimodal.with_blob(d).repartition(want * 2)
    sigs = multimodal.phash64(wide)
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    # exactly one Repartition node — the explicit one above, none added
    assert plan.count("Repartition") <= 1, plan


def test_phash64_signatures_match_reference_loop(spark):
    """The numpy-vectorized vote path must reproduce the straightforward
    per-bit loop exactly (bit 63 wraps to long-min)."""
    import hashlib

    d = load_table(spark, SF_DIR, "documents").limit(20)
    rows = {
        r.doc_id: r.text for r in d.select("doc_id", "text").collect()
    }
    got = {
        r.doc_id: (r.phash, r.n_shingles)
        for r in multimodal.phash64(multimodal.with_blob(d)).collect()
    }
    k = multimodal.PHASH_SHINGLE_BYTES
    for doc_id, text in rows.items():
        b = text.encode("utf-8")
        shingles = {b[i : i + k] for i in range(max(len(b) - k + 1, 1))}
        votes = [0] * 64
        for sh in shingles:
            hx = hashlib.md5(sh).hexdigest()
            hl, hh = int(hx[0:8], 16), int(hx[8:16], 16)
            for j in range(32):
                votes[j] += (hl >> j) & 1
                votes[32 + j] += (hh >> j) & 1
        m = len(shingles)
        sig = 0
        for j in range(64):
            if 2 * votes[j] > m:
                sig += (1 << j) if j < 63 else -(1 << 63)
        assert got[doc_id] == (sig, m), doc_id


def test_bench_probe_normalization_math():
    """bench.py's nearest-probe lookup and stability stamp are plain
    functions of the probe record — pin the arithmetic the settlement
    protocol rests on."""
    probes = [(0, 0.4), (15, 0.8), (30, 0.4)]

    def nearest(idx):
        return min(probes, key=lambda p: abs(p[0] - idx))[1]

    assert nearest(3) == 0.4
    assert nearest(10) == 0.8
    assert nearest(22) == 0.8
    assert nearest(29) == 0.4
    vals = [p for _, p in probes]
    assert max(vals) / min(vals) == pytest.approx(2.0)  # unstable > 1.35


def test_pq_query_lut_driver_fold_matches_spark_hof(spark):
    """The driver-side LUT (round 13: zero jobs per search) must be
    bit-identical to the Spark-HOF derivation it replaced — same
    left-to-right (x-y)^2 fold over the same codebook rows."""
    from flink_kafka_replicator_spark.functions import (
        pipeline_queries as pq,
    )

    driver = {
        (r.m, r.cid): r.qd2
        for r in pq._pq_query_lut(spark, SF_DIR).collect()
    }
    hof = {
        (r.m, r.cid): r.qd2
        for r in pq._pq_lut_from(
            pq._pq_codebook(spark, SF_DIR)
        ).collect()
    }
    assert driver == hof  # exact float equality, not approx
    assert len(driver) > 0


def test_mmr_driver_greedy_matches_plan(spark):
    """The driver-side MMR greedy (round 13: kills the k-deep nested
    lazy plan) must reproduce the plan formulation's rows exactly —
    same picks, same ranks, same rounded mmr scores."""
    from flink_kafka_replicator_spark.functions import (
        pipeline_queries as pq,
    )

    pq.mmr_rerank_batch(spark, SF_DIR).collect()  # builds artifacts
    short, sims = pq._mmr_batch_artifacts(spark, SF_DIR)  # memo hit
    drv = {
        tuple(r) for r in pq._mmr_greedy_batch(short, sims).collect()
    }
    plan = {
        tuple(r)
        for r in pq._mmr_greedy_batch_plan(short, sims).collect()
    }
    assert drv == plan
    assert len(drv) > 0


def test_probe_curve_rank_filter_matches_per_rung_search(spark):
    """Rung n of the single-scan curve (cell_rank <= n over
    _probe_curve_base) must select exactly the top-10 the per-rung
    probe-membership search (_ivf_search over probe_ids(n)) returns."""
    from flink_kafka_replicator_spark.functions import (
        pipeline_queries as pq,
    )
    from flink_kafka_replicator_spark.io import load_table

    cents, _ = pq._ivf_model(spark, SF_DIR)
    e = load_table(spark, SF_DIR, "embeddings")
    base = pq._probe_curve_base(spark, SF_DIR)
    for n in pq.PROBE_LADDER:
        old = {
            (r["vec_id"], r["cos_sim"])
            for r in pq._ivf_search(
                e, cents, pq._probe_nearest(cents, n_probe=n)
            ).collect()
        }
        new = {
            (r["vec_id"], r["cos_sim"])
            for r in base.filter(F.col("cell_rank") <= n)
            .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
            .limit(10)
            .collect()
        }
        assert new == old, f"rung {n} diverged"


def test_mmr_driver_greedy_matches_plan_random(spark):
    """Property pin beyond the fixed dataset: on seeded-random
    shortlist/sims artifacts (including rel/sim ties, shortlists
    shorter than k, and a qid with a single candidate) the driver
    greedy and the plan greedy agree row-for-row."""
    import random

    from flink_kafka_replicator_spark.functions import (
        pipeline_queries as pq,
    )

    rng = random.Random(13)
    for trial in range(3):
        short_rows, sim_rows = [], []
        for qid in range(4):
            n = rng.choice([1, 3, pq.MMR_K - 1, pq.MMR_K + 4])
            vids = rng.sample(range(100), n)
            # coarse 1dp grid manufactures rel/sim ties on purpose
            rels = {v: round(rng.randint(0, 10) / 10.0, 1) for v in vids}
            short_rows += [(qid, v, rels[v]) for v in vids]
            for a in vids:
                for b in vids:
                    if a != b:
                        sim_rows.append(
                            (qid, a, b, round(rng.randint(0, 10) / 10.0, 1))
                        )
        short = spark.createDataFrame(
            short_rows, "qid bigint, vec_id bigint, rel double"
        )
        sims = spark.createDataFrame(
            sim_rows, "qid bigint, a bigint, b bigint, s double"
        )
        drv = {tuple(r) for r in pq._mmr_greedy_batch(short, sims).collect()}
        plan = {
            tuple(r)
            for r in pq._mmr_greedy_batch_plan(short, sims).collect()
        }
        assert drv == plan, f"trial {trial} diverged"
