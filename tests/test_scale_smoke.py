"""Opt-in scale smoke (SPARK_GRAFT_SCALE_TEST=1): replicate sf0.1 10×
into /tmp and check the heavy operators complete with ~linear cost.

Not part of the default gate (adds minutes); run before perf-sensitive
changes: SPARK_GRAFT_SCALE_TEST=1 python -m pytest tests/test_scale_smoke.py -q
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from tests.streamutil import drain

from flink_kafka_replicator_spark import memo

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_TEST") != "1",
    reason="scale smoke is opt-in (SPARK_GRAFT_SCALE_TEST=1)",
)

SRC = "/root/testdata/sf0.1"
COPIES = 10

# Wall-clock linearity ratios are load-sensitive (SCALE.md round-12
# records load-flaky failures on a busy box with zero code regression);
# SPARK_GRAFT_SCALE_TIMING=0 keeps every strict output-size invariant
# while skipping the timing half (ADVICE r12).
TIMING = os.environ.get("SPARK_GRAFT_SCALE_TIMING", "1") == "1"


def _linear(
    big: float, small: float, floor: float = 0.2, copies: int | None = None
) -> bool:
    """Timing half of a 10x/100x linearity check: big within copies*3
    of the small run (floor guards sub-100ms denominators). Always True
    when timing checks are disabled."""
    c = COPIES if copies is None else copies
    return (not TIMING) or big < max(small, floor) * c * 3



@pytest.fixture(scope="module")
def big_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf1x"))
    for name, id_col in [
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("lineitem", "l_orderkey"),
        ("orders", "o_orderkey"),
        ("events", "event_id"),
    ]:
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        n = df.count()
        copies = [
            df.withColumn(id_col, F.col(id_col) + F.lit(i * n * 10)) for i in range(COPIES)
        ]
        union = copies[0]
        for c in copies[1:]:
            union = union.union(c)
        union.repartition(16).write.parquet(f"{out}/{name}.parquet")
    for name in ["customer", "supplier", "part", "nation", "region"]:
        spark.read.parquet(f"{SRC}/{name}.parquet").write.parquet(
            f"{out}/{name}.parquet"
        )
    return out


def _timed(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _clear_artifact_caches():
    """Linearity ratios need COLD builds on both sides: drop the
    memoized index artifacts (minhash pair table, CC labels, knn
    assignment) so a prior test's warm cache can't make the small-scale
    denominator ~0 and fail the big-side bound spuriously."""
    memo.clear(
        "_minhash_candidates_with_jaccard",
        "_cc_labels",
        "_knn_assignment",
        "_knn_vectors",
        "_knn_incell_half",
        "_banded_documents",
        "_pq_codes",
        "_pagerank_ranks",
    )


def test_minhash_scales_linearly(spark, big_dir):
    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        dedup_fuzzy_minhash,
    )

    _clear_artifact_caches()
    small = _timed(dedup_fuzzy_minhash(spark, SRC))
    _clear_artifact_caches()
    big = _timed(dedup_fuzzy_minhash(spark, big_dir))
    assert _linear(big, small, 0.0), (
        f"minhash at 10x took {big:.1f}s vs {small:.1f}s at 1x — superlinear"
    )


def test_q1_scales_linearly(spark, big_dir):
    from flink_kafka_replicator_spark.operators.aggregates import agg_hash_groupby

    small = _timed(agg_hash_groupby(spark, SRC))
    big = _timed(agg_hash_groupby(spark, big_dir))
    assert _linear(big, small, 0.0), f"q1 at 10x: {big:.1f}s vs {small:.1f}s"


def test_join_and_window_at_10x(spark, big_dir):
    from flink_kafka_replicator_spark.operators.joins import join_broadcast
    from flink_kafka_replicator_spark.operators.windows import window_rank

    t_join = _timed(join_broadcast(spark, big_dir))
    t_win = _timed(window_rank(spark, big_dir))
    assert t_join < 60 and t_win < 60


def test_asof_and_simhash_at_10x(spark, big_dir):
    from flink_kafka_replicator_spark.functions.pipeline_queries import dedup_simhash
    from flink_kafka_replicator_spark.operators.advanced import join_asof

    t_asof = _timed(join_asof(spark, big_dir))
    t_sim = _timed(dedup_simhash(spark, big_dir))
    assert t_asof < 60 and t_sim < 120, f"asof {t_asof:.1f}s simhash {t_sim:.1f}s"


def test_gap_fill_and_lateral_at_10x(spark, big_dir):
    from flink_kafka_replicator_spark.operators.advanced import gap_fill_locf
    from flink_kafka_replicator_spark.operators.reshape import sql_lateral_topk

    t_gap = _timed(gap_fill_locf(spark, big_dir))
    t_lat = _timed(sql_lateral_topk(spark, big_dir))
    assert t_gap < 60 and t_lat < 60, f"gap {t_gap:.1f}s lateral {t_lat:.1f}s"


def test_round4_ops_at_10x(spark, big_dir):
    """sessionize / pack / PII scrub are window- or map-shaped: strictly
    linear at 10×. knn_ivf_join is O(n²/k) BY DESIGN with the fixed
    16-cell test quantizer — its scale contract is that k grows with n
    (√n cells keeps cell size bounded), so it is bounded here rather
    than asserted linear."""
    from flink_kafka_replicator_spark.functions.corpus import (
        doc_pii_scrub,
        pack_token_sequences,
    )
    from flink_kafka_replicator_spark.operators.advanced import sessionize_events

    for q in (sessionize_events, pack_token_sequences, doc_pii_scrub):
        t_small = _timed(q(spark, SRC))
        t_big = _timed(q(spark, big_dir))
        assert _linear(t_big, t_small, 0.2), (
            f"{q.__name__} superlinear at 10x: {t_big:.1f}s vs {t_small:.1f}s"
        )


def test_round5_ops_at_10x(spark, big_dir):
    """Round-5 additions: funnel/retention are single-user_id-shuffle
    windows, repetition is explode + combine-friendly aggregates,
    incremental dedup is the bipartite LSH — all ~linear at 10×.
    TPC-H q1 is the map-side-combine benchmark."""
    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        dedup_incremental,
        text_repetition_ratio,
    )
    from flink_kafka_replicator_spark.operators.events_funnel import (
        funnel_stages,
        retention_cohorts,
    )
    from flink_kafka_replicator_spark.operators.tpch import (
        sql_q1_pricing_summary,
    )

    for q in (
        funnel_stages,
        retention_cohorts,
        text_repetition_ratio,
        sql_q1_pricing_summary,
    ):
        t_small = _timed(q(spark, SRC))
        t_big = _timed(q(spark, big_dir))
        assert _linear(t_big, t_small, 0.2), (
            f"{q.__name__} superlinear at 10x: {t_big:.1f}s vs {t_small:.1f}s"
        )
    _clear_artifact_caches()
    t_small = _timed(dedup_incremental(spark, SRC))
    _clear_artifact_caches()
    t_big = _timed(dedup_incremental(spark, big_dir))
    assert _linear(t_big, t_small, 0.2), (
        f"dedup_incremental superlinear at 10x: {t_big:.1f}s vs {t_small:.1f}s"
    )


# ----------------------------------------------------------------- 100×
# A corpus-realistic 100× of sf0.1 (≈ sf10): documents get a per-copy
# token salt so each copy has its own vocabulary — the original corpus's
# planted near-dup structure is replicated 100× while cross-copy Jaccard
# is 0, exactly how a 100× larger real corpus behaves (duplication RATE
# constant, not 100 copies of every doc). Events offset both event_id
# and user_id per copy: more keys, same per-key distribution.

COPIES100 = 100


@pytest.fixture(scope="module")
def big100_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf10x"))
    d = spark.read.parquet(f"{SRC}/documents.parquet")
    nd = d.count()
    doc_copies = [
        d.select(
            (F.col("doc_id") + F.lit(i * nd * 10)).alias("doc_id"),
            F.expr(
                f"concat_ws(' ', transform(split(text, ' '), t -> concat(t, '_{i}')))"
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(COPIES100)
    ]
    docs = doc_copies[0]
    for c in doc_copies[1:]:
        docs = docs.unionByName(c)
    docs.repartition(32).write.parquet(f"{out}/documents.parquet")

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    ne = ev.count()
    ev_copies = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(i * ne * 10)).withColumn(
            "user_id", F.col("user_id") + F.lit(i * 1_000_000)
        )
        for i in range(COPIES100)
    ]
    evs = ev_copies[0]
    for c in ev_copies[1:]:
        evs = evs.unionByName(c)
    evs.repartition(32).write.parquet(f"{out}/events.parquet")

    # embeddings at 100×: per-copy deterministic PERTURBATION (not
    # verbatim duplication) so the vectors are fresh points like real
    # corpus growth — verbatim copies would make every cell grow by
    # exactly the copy count and trivialize the quantizer-dial test
    em = spark.read.parquet(f"{SRC}/embeddings.parquet")
    nv = em.count()
    em_copies = [
        em.select(
            (F.col("vec_id") + F.lit(i * nv * 10)).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, j) -> "
                f"cast(x + 0.05 * sin((j + 1) * {i + 1}) as float))"
            ).alias("embedding"),
            *[c for c in em.columns if c not in ("vec_id", "embedding")],
        )
        for i in range(COPIES100)
    ]
    ems = em_copies[0]
    for c in em_copies[1:]:
        ems = ems.unionByName(c)
    ems.repartition(32).write.parquet(f"{out}/embeddings.parquet")
    return out


def test_minhash_at_100x_linear_no_pair_blowup(spark, big100_dir):
    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        dedup_fuzzy_minhash,
    )

    _clear_artifact_caches()
    t_small = _timed(dedup_fuzzy_minhash(spark, SRC))
    n_small = dedup_fuzzy_minhash(spark, SRC).count()
    _clear_artifact_caches()
    t0 = time.perf_counter()
    n_big = dedup_fuzzy_minhash(spark, big100_dir).count()
    t_big = time.perf_counter() - t0
    print(f"\nminhash 1x: {t_small:.1f}s/{n_small} pairs; "
          f"100x: {t_big:.1f}s/{n_big} pairs")
    assert _linear(t_big, t_small, 0.2, COPIES100), (
        f"superlinear: {t_big:.1f}s vs {t_small:.1f}s at 1x"
    )
    # pair structure must scale with the corpus (no bucket blowup): each
    # copy contributes its own near-dup pairs; LSH recall jitters per
    # salt, so allow a band around exactly-100×
    assert 0.5 * COPIES100 * n_small <= n_big <= 2 * COPIES100 * max(n_small, 1), (
        f"pair count {n_big} not ~100× the 1× count {n_small}"
    )


def test_simhash_at_100x_linear(spark, big100_dir):
    from flink_kafka_replicator_spark.functions.pipeline_queries import dedup_simhash

    t_small = _timed(dedup_simhash(spark, SRC))
    t0 = time.perf_counter()
    n_big = dedup_simhash(spark, big100_dir).count()
    t_big = time.perf_counter() - t0
    print(f"\nsimhash 1x: {t_small:.1f}s; 100x: {t_big:.1f}s/{n_big} pairs")
    assert _linear(t_big, t_small, 0.2, COPIES100), (
        f"superlinear: {t_big:.1f}s vs {t_small:.1f}s"
    )


def test_asof_at_100x_linear(spark, big100_dir):
    from flink_kafka_replicator_spark.operators.advanced import join_asof

    t_small = _timed(join_asof(spark, SRC))
    t0 = time.perf_counter()
    n_big = join_asof(spark, big100_dir).count()
    t_big = time.perf_counter() - t0
    print(f"\nasof 1x: {t_small:.1f}s; 100x: {t_big:.1f}s/{n_big} rows")
    assert _linear(t_big, t_small, 0.2, COPIES100), (
        f"superlinear: {t_big:.1f}s vs {t_small:.1f}s"
    )


def test_corpus_ops_at_100x_linear(spark, big100_dir):
    """tfidf / decontamination / the end-to-end pipeline at 100× docs.
    Contamination is the interesting one: the eval side grows with the
    corpus here (1% of docs), so this also bounds the broadcast-side
    growth; a real benchmark set is fixed-size."""
    from flink_kafka_replicator_spark.functions.corpus import (
        contamination_ngram,
        pipeline_end_to_end,
        tfidf_top_terms,
    )

    for q in (tfidf_top_terms, contamination_ngram, pipeline_end_to_end):
        t_small = _timed(q(spark, SRC))
        t0 = time.perf_counter()
        n_big = q(spark, big100_dir).count()
        t_big = time.perf_counter() - t0
        print(f"\n{q.__name__} 1x: {t_small:.1f}s; 100x: {t_big:.1f}s/{n_big} rows")
        assert _linear(t_big, t_small, 0.2, COPIES100), (
            f"{q.__name__} superlinear: {t_big:.1f}s vs {t_small:.1f}s"
        )


def test_paragraph_dedup_at_100x_linear(spark, big100_dir):
    """Sub-document dedup at 100× docs: wall-clock ~linear AND the
    paragraph-key cardinality (distinct md5 segment hashes — the md5
    shuffle's key space) grows ~100×, i.e. the key domain scales with
    the corpus instead of collapsing into hot buckets (the salted
    copies guarantee disjoint vocabularies, exactly how fresh corpus
    growth behaves)."""
    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        _paragraph_occ,
        dedup_paragraph_exact,
    )
    from flink_kafka_replicator_spark.io import load_table

    t_small = _timed(dedup_paragraph_exact(spark, SRC))
    t0 = time.perf_counter()
    n_big = dedup_paragraph_exact(spark, big100_dir).count()
    t_big = time.perf_counter() - t0
    print(f"\nparagraph dedup 1x: {t_small:.1f}s; 100x: {t_big:.1f}s/{n_big} docs")
    assert _linear(t_big, t_small, 0.2, COPIES100), (
        f"superlinear: {t_big:.1f}s vs {t_small:.1f}s"
    )

    def keys(sf):
        d = load_table(spark, sf, "documents").select("doc_id", "text")
        return _paragraph_occ(d).select("para_hash").distinct().count()

    k_small, k_big = keys(SRC), keys(big100_dir)
    assert 0.9 * COPIES100 * k_small <= k_big <= 1.1 * COPIES100 * k_small, (
        f"paragraph-key cardinality not ~100x: {k_big} vs {k_small} at 1x"
    )


def test_funnel_retention_at_100x_linear(spark, big100_dir):
    """Funnel/retention at 100× events AND 100× distinct users (the
    copies offset user_id): the single user-keyed exchange must scale
    with rows, not blow up with key count."""
    from flink_kafka_replicator_spark.operators.events_funnel import (
        funnel_stages,
        retention_cohorts,
    )

    for q in (funnel_stages, retention_cohorts):
        t_small = _timed(q(spark, SRC))
        t0 = time.perf_counter()
        n_big = q(spark, big100_dir).count()
        t_big = time.perf_counter() - t0
        print(f"\n{q.__name__} 1x: {t_small:.1f}s; 100x: {t_big:.1f}s/{n_big} rows")
        assert _linear(t_big, t_small, 0.2, COPIES100), (
            f"{q.__name__} superlinear: {t_big:.1f}s vs {t_small:.1f}s"
        )


def test_quality_classifier_at_100x_linear(spark, big100_dir, monkeypatch):
    """Round-7 curation classifier at 100× docs: the scorer is a pure
    map pass (trivially linear), and the TRAINER's model state must
    stay corpus-size-independent — the weight table is ≤QC_BUCKETS
    rows at any scale, so train wall-clock tracks the feature-matrix
    scan, not the model. (The 100× fixture salts every token with a
    per-copy suffix, so the label token is repointed at copy 0's
    vocabulary — labels stay non-degenerate.)"""
    from flink_kafka_replicator_spark.functions import (
        pipeline_queries as pq,
    )

    t_small = _timed(pq.quality_classifier_score(spark, SRC))
    t0 = time.perf_counter()
    n_big = pq.quality_classifier_score(spark, big100_dir).count()
    t_big = time.perf_counter() - t0
    print(f"\nqc score 1x: {t_small:.1f}s; 100x: {t_big:.1f}s/{n_big} docs")
    assert _linear(t_big, t_small, 0.2, COPIES100)

    # time a COLD fit at 1x, BUILD INCLUDED: _qc_fit is memoized and
    # eagerly pinned per (session, dataset) since round 10, so the
    # expensive work happens at query BUILD — a cache-hit (or
    # build-excluded) t_small (~0.1s) would collapse the linearity
    # bound below any honest 100x cold-fit time. Fresh cache dicts +
    # the build inside the timer give both sides identical cold-start
    # semantics (the 100x side below already times its build).
    monkeypatch.setitem(memo._STORE, "_qc_fit", {})
    monkeypatch.setitem(memo._STORE, "_qc_features", {})
    t0 = time.perf_counter()
    pq.quality_classifier_train(spark, SRC).count()
    t_small = time.perf_counter() - t0
    monkeypatch.setattr(pq, "QC_LABEL_TOKEN", "spark_0")
    t0 = time.perf_counter()
    big = pq.quality_classifier_train(spark, big100_dir)
    n_big = big.count()
    t_big = time.perf_counter() - t0
    print(f"\nqc train 1x: {t_small:.1f}s; 100x: {t_big:.1f}s/{n_big} docs")
    assert _linear(t_big, t_small, 0.2, COPIES100)
    # model state independence: the fitted weight table never exceeds
    # the bucket count, no matter the corpus size
    n_w = (
        pq._qc_features(spark, big100_dir)
        .select("bucket")
        .distinct()
        .count()
    )
    assert n_w <= pq.QC_BUCKETS


# --------------------------------------------------- round-8 additions
# The round-7 query family (VERDICT r7 task 3) plus the IVF k dial
# (task 2): quadratic-by-design in-cell work must shrink ~k-fold when
# the quantizer scales, and the eval/curation family must stay bounded.


def test_ivf_k_dial_at_100x(spark, big100_dir):
    """The scale-killer-shaped constant, dialed: at 100× vectors the
    per-cell membership histogram must still partition the corpus at
    every k, the in-cell pair total must shrink ~k-fold as k grows
    (the N²/k law — scaling k with N is what keeps pair work linear),
    and the ROWWISE assignment job itself must stay ~linear in N."""
    from flink_kafka_replicator_spark.functions import (
        pipeline_queries as pq,
    )

    n_small = spark.read.parquet(f"{SRC}/embeddings.parquet").count()
    n_big = spark.read.parquet(f"{big100_dir}/embeddings.parquet").count()
    assert n_big == COPIES100 * n_small

    t0 = time.perf_counter()
    h_small64 = pq.ivf_cell_counts(spark, SRC, n_centroids=64).collect()
    t_small = time.perf_counter() - t0

    def pairs(hist):
        return sum(r.n * (r.n - 1) // 2 for r in hist)

    totals = {}
    for k in (16, 64, 640):
        t0 = time.perf_counter()
        hist = pq.ivf_cell_counts(spark, big100_dir, n_centroids=k).collect()
        t = time.perf_counter() - t0
        assert sum(r.n for r in hist) == n_big, f"k={k} lost vectors"
        assert len(hist) <= k
        totals[k] = pairs(hist)
        print(f"\nk={k} at 100x: {t:.1f}s, {len(hist)} cells, "
              f"{totals[k]:,} in-cell pairs")
        if k == 64:
            t_k64 = t
    # the dial works at scale: pair totals shrink substantially with k
    # (exactly k-fold under uniformity; perturbed copies are near it)
    assert totals[64] < totals[16] / 2, totals
    assert totals[640] < totals[64] / 2, totals
    # the assignment job is ~linear in N at fixed k (broadcast join,
    # no shuffle growth beyond the vec_id exchange)
    assert _linear(t_k64, t_small, 0.2, COPIES100), (
        f"rowwise assignment superlinear: {t_k64:.1f}s vs {t_small:.1f}s"
    )
    # scaling k ~ N keeps in-cell pair work ~linear: at k=640 (40× the
    # 1× default) the 100× corpus carries within ~8× of 100× the 1×
    # default-k pair count — the (100²/40)=250× arithmetic with
    # distribution slack, vs the 10000× a fixed k=16 costs
    small_hist = pq.ivf_cell_counts(spark, SRC, n_centroids=16).collect()
    p_small = pairs(small_hist)
    assert totals[640] < 8 * COPIES100 * max(p_small, 1), (
        f"k-scaled pair total {totals[640]:,} not ~linear vs "
        f"{p_small:,} at 1x"
    )
    assert totals[16] > 20 * COPIES100 * max(p_small, 1), (
        "fixed-k pair total should blow up quadratically (sanity check "
        "that the dial is actually needed)"
    )


def test_knn_recall_family_at_10x(spark, big_dir):
    """The whole-family recall report at 10× vectors: completes with
    its 5 rows, ladder theorems hold (multiprobe >= single, refined >=
    ivf_pq), truth stays sample-bounded. In-cell pair work at fixed
    k=16 is quadratic BY DESIGN (the k dial is the scale path, pinned
    above), so the bound here is generous wall-clock, not linearity."""
    from flink_kafka_replicator_spark.functions import (
        pipeline_queries as pq,
    )

    _clear_artifact_caches()
    t0 = time.perf_counter()
    rows = {r.path: r for r in pq.knn_recall_family(spark, big_dir).collect()}
    t = time.perf_counter() - t0
    print(f"\nrecall family at 10x: {t:.1f}s, "
          f"{ {p: r.recall for p, r in rows.items()} }")
    assert set(rows) == {
        "ivf_single", "ivf_multiprobe", "pq_adc", "ivf_pq",
        "ivf_pq_refined",
    }
    assert rows["ivf_multiprobe"].recall >= rows["ivf_single"].recall
    assert rows["ivf_pq_refined"].recall >= rows["ivf_pq"].recall
    assert rows["ivf_single"].n_truth == pq.KNN_EVAL_SAMPLE * pq.KNN_K
    assert t < 600, f"recall family at 10x took {t:.1f}s"


def test_semantic_dedup_family_at_10x(spark, big_dir):
    """SemDeDup + semantic decontamination at 10× vectors: both reuse
    the shared in-cell half-pair artifact (warm after the recall-family
    test), the cluster output covers every vector exactly once, and
    survivors are cluster minima."""
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark.functions import (
        pipeline_queries as pq,
    )

    n = spark.read.parquet(f"{big_dir}/embeddings.parquet").count()
    t0 = time.perf_counter()
    clusters = pq.dedup_semantic_clusters(spark, big_dir)
    assert clusters.count() == n
    t_c = time.perf_counter() - t0
    keep = clusters.filter(F.col("keep"))
    assert keep.count() == clusters.select("cluster_id").distinct().count()
    t0 = time.perf_counter()
    n_cont = pq.contamination_semantic(spark, big_dir).count()
    t_d = time.perf_counter() - t0
    print(f"\nsemdedup at 10x: {t_c:.1f}s; contamination: "
          f"{t_d:.1f}s/{n_cont} pairs")
    assert t_c < 600 and t_d < 300


def test_probe_recall_curve_at_10x_linear(spark, big_dir):
    """The n_probe recall curve at 10× vectors: every rung is a single
    probe-pruned scan+agg (linear in N), so the whole curve must scale
    ~linearly — and stay a monotone ladder ending at 1.0."""
    from flink_kafka_replicator_spark.functions import (
        pipeline_queries as pq,
    )

    t_small = _timed(pq.knn_probe_recall_curve(spark, SRC))
    t0 = time.perf_counter()
    rows = sorted(
        pq.knn_probe_recall_curve(spark, big_dir).collect(),
        key=lambda r: r["n_probe"],
    )
    t_big = time.perf_counter() - t0
    print(f"\nprobe curve 1x: {t_small:.1f}s; 10x: {t_big:.1f}s")
    recalls = [r["recall"] for r in rows]
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0
    assert _linear(t_big, t_small, 0.2), (
        f"probe curve superlinear: {t_big:.1f}s vs {t_small:.1f}s"
    )


def test_batch_adc_and_pagerank_at_10x(spark, big_dir):
    """Round-8 additions at 10× vectors/docs: batch-ADC serving is
    codes x |queries| map-side work (linear in the corpus at a fixed
    query batch), and PageRank's per-round message pass is linear in
    the edge list (the LSH pair graph, itself pinned linear)."""
    from flink_kafka_replicator_spark.functions import (
        pipeline_queries as pq,
    )

    _clear_artifact_caches()
    t_small = _timed(pq.knn_batch_adc(spark, SRC))
    _clear_artifact_caches()
    t0 = time.perf_counter()
    n_big = pq.knn_batch_adc(spark, big_dir).count()
    t_big = time.perf_counter() - t0
    print(f"\nbatch adc 1x: {t_small:.1f}s; 10x: {t_big:.1f}s/{n_big} rows")
    assert n_big > 0
    assert _linear(t_big, t_small, 0.2), (
        f"batch adc superlinear: {t_big:.1f}s vs {t_small:.1f}s"
    )

    # PageRank's jobs run at BUILD (memoized + per-round checkpoints),
    # so time construction + collect together. The verbatim-copy 10×
    # fixture makes every doc a near-dup of its 9 clones — the edge
    # list grows ~100×, not 10× (a fixture artifact, clones pair with
    # clones) — so the bound here is absolute wall-clock plus the mass
    # invariant, not a linearity ratio against 1×.
    _clear_artifact_caches()
    t0 = time.perf_counter()
    rows = pq.dedup_graph_pagerank(spark, big_dir).collect()
    t_big = time.perf_counter() - t0
    print(f"\npagerank 10x: {t_big:.1f}s/{len(rows)} nodes")
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < len(rows) * 1e-6 * (pq.PR_ITERS + 1) + 1e-9
    assert all(r.pagerank > 0 for r in rows)
    assert t_big < 180, f"pagerank at 10x took {t_big:.1f}s"


def test_streaming_serve_under_churn_at_10x(spark, big_dir, tmp_path_factory):
    """Round 9: the vector-store lifecycle under churn at 10× — a
    streaming serve leg answers queries, ingest appends new deltas, the
    grown index serves the same queries, then (quiesced, per the
    maintenance contract and the writer lease) one compaction cycle
    runs and the served answers afterwards are IDENTICAL — and all
    post-growth answers equal a from-scratch rebuild over the full
    vector set. Pins that growth is visible, compaction is invisible,
    and the delta machinery never drifts from the rebuild at scale."""
    from flink_kafka_replicator_spark.sinks import (
        compact_vector_index,
        knn_batch_search_from_index,
        write_vector_index,
        writer_lease,
    )
    from flink_kafka_replicator_spark.streaming.vector_ingest import (
        start_streaming_vector_ingest,
    )
    from flink_kafka_replicator_spark.streaming.vector_search import (
        start_streaming_vector_search,
    )

    t0 = time.perf_counter()
    root = str(tmp_path_factory.mktemp("serve_churn"))
    e = spark.read.parquet(f"{big_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = e.filter(F.col("vec_id") % 3 != 0)
    ix = f"{root}/vindex"
    write_vector_index(spark, big_dir, ix, df=base)

    queries = e.filter(
        (F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 16)
    ).select(F.col("vec_id").alias("qid"), "embedding")
    qsrc = f"{root}/queries"
    answers = f"{root}/answers"
    serve_ck = f"{root}/serve_ck"

    def serve_leg(tag):
        queries.coalesce(1).write.parquet(f"{qsrc}/leg={tag}")
        stream = (
            spark.readStream.schema("qid bigint, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(qsrc)
        )
        q = start_streaming_vector_search(
            spark, stream, ix, answers, serve_ck, k=5, available_now=True
        )
        drain(q)
        latest = (
            spark.read.parquet(answers)
            .agg(F.max("batch_id"))
            .collect()[0][0]
        )
        return {
            (r.qid, r.vec_id, r.adc_dist, r.rank)
            for r in spark.read.parquet(answers)
            .filter(F.col("batch_id") == latest)
            .collect()
        }

    pre_growth = serve_leg("a")

    # GROW: stream the held-out third in as two micro-batch deltas
    # (serving is between legs — the ingest is the only writer)
    delta = e.filter(F.col("vec_id") % 3 == 0)
    dsrc = f"{root}/delta_src"
    delta.filter(F.col("vec_id") % 6 == 0).coalesce(1).write.parquet(
        dsrc, mode="append"
    )
    delta.filter(F.col("vec_id") % 6 == 3).coalesce(1).write.parquet(
        dsrc, mode="append"
    )
    qi = start_streaming_vector_ingest(
        spark,
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(dsrc),
        ix,
        f"{root}/ingest_ck",
    )
    drain(qi)
    post_growth = serve_leg("b")
    assert post_growth != pre_growth, (
        "growth must be visible to the serving path"
    )

    # COMPACT under the writer lease (serving quiesced between legs)
    with writer_lease(ix, owner="smoke-compact") as tok:
        res = compact_vector_index(spark, ix, writer_token=tok)
    assert res["compacted"] is True

    post_compact = serve_leg("c")
    assert post_compact == post_growth, (
        "compaction changed served answers"
    )

    # quiesced from-scratch rebuild over the FULL vector set == the
    # grown+compacted index's answers (same frozen models: both train
    # on the same corpus)
    rebuild = f"{root}/rebuild"
    write_vector_index(spark, big_dir, rebuild, df=e)
    want = {
        tuple(r)
        for r in knn_batch_search_from_index(
            spark, queries, rebuild, k=5
        ).collect()
    }
    assert post_compact == want, (
        f"only_served={post_compact - want} only_rebuild={want - post_compact}"
    )
    t = time.perf_counter() - t0
    print(f"\nserve-under-churn 10x: {t:.1f}s")
    assert t < 600, f"serve-under-churn at 10x took {t:.1f}s"


def test_round9_text_ops_at_10x(spark, big_dir):
    """The round-9 corpus-scan family stays linear at 10×: the Gopher
    rule pass and BM25 are map/agg-shaped; the substring-span signal's
    one shuffle is keyed by the 128-bit span hash, so 10 verbatim
    copies of every document multiply group sizes, never fan out into
    pairs — and with every doc copied, every span IS duplicated, so
    the per-doc output must cover the whole ≥8-token corpus with
    dup_span_ratio == 1."""
    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        SPAN_TOKENS,
        bm25_topk,
        dedup_substring_spans,
        quality_gopher_rules,
    )

    for q, bound in ((quality_gopher_rules, 60), (bm25_topk, 60)):
        t_small = _timed(q(spark, SRC))
        t_big = _timed(q(spark, big_dir))
        assert _linear(t_big, t_small, 0.2), (
            f"{q.__name__} superlinear at 10x: {t_big:.1f}s vs {t_small:.1f}s"
        )
        assert t_big < bound, f"{q.__name__} {t_big:.1f}s"

    t0 = time.perf_counter()
    spans = dedup_substring_spans(spark, big_dir)
    rows = spans.count()
    t_spans = time.perf_counter() - t0
    eligible = (
        spark.read.parquet(f"{big_dir}/documents.parquet")
        .where(F.size(F.split("text", " ")) >= SPAN_TOKENS)
        .count()
    )
    assert rows == eligible, f"{rows} rows vs {eligible} eligible docs"
    n_partial = spans.where(F.col("dup_span_ratio") < 1.0).count()
    assert n_partial == 0, f"{n_partial} docs with ratio < 1 under 10x copies"
    assert t_spans < 180, f"substring spans {t_spans:.1f}s at 10x"


def test_scrub_spans_at_10x(spark, big_dir):
    """scrub_duplicate_spans at 10× verbatim copies: every non-owner
    copy is fully covered by owned-elsewhere spans, so ≥ 9/10 of
    ≥8-token docs must come back fully scrubbed — and the job stays in
    the linear span-table cost class (bounded wall-clock)."""
    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        SPAN_TOKENS,
        scrub_duplicate_spans,
    )

    t0 = time.perf_counter()
    out = scrub_duplicate_spans(spark, big_dir)
    n_total = out.count()
    n_full = out.where(F.col("removed_ratio") == 1.0).count()
    t = time.perf_counter() - t0
    eligible = (
        spark.read.parquet(f"{big_dir}/documents.parquet")
        .where(F.size(F.split("text", " ")) >= SPAN_TOKENS)
        .count()
    )
    assert n_full >= eligible * 9 // 10, (
        f"only {n_full}/{eligible} fully scrubbed under 10x copies"
    )
    assert n_total == spark.read.parquet(
        f"{big_dir}/documents.parquet"
    ).count()
    assert t < 240, f"scrub {t:.1f}s at 10x"


def test_lexical_serving_at_10x(spark, big_dir, tmp_path_factory):
    """Lexical lifecycle at 10× docs: index build stays linear (one
    explode + combine-friendly aggregates) and serving a 12-query batch
    is postings-pruned — bounded wall-clock, answers rank-complete."""
    from flink_kafka_replicator_spark.sinks import (
        bm25_search_from_index,
        write_lexical_index,
    )

    ix = str(tmp_path_factory.mktemp("lex10x") / "index")
    t0 = time.perf_counter()
    write_lexical_index(spark, big_dir, ix)
    t_build = time.perf_counter() - t0
    q = spark.createDataFrame(
        [(i, ["spark", "join"]) for i in range(12)],
        "qid int, terms array<string>",
    )
    t0 = time.perf_counter()
    rows = bm25_search_from_index(spark, q, ix, k=10).collect()
    t_serve = time.perf_counter() - t0
    assert len(rows) == 12 * 10
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r.qid, set()).add(r.rank)
    assert all(v == set(range(1, 11)) for v in by_qid.values())
    assert t_build < 120, f"index build {t_build:.1f}s at 10x"
    assert t_serve < 60, f"serve {t_serve:.1f}s at 10x"


def test_lexical_serve_under_churn_at_10x(spark, big_dir, tmp_path_factory):
    """The lexical leg of the serve-under-churn lifecycle at 10×:
    base build → serve → streaming ingest of a held-out third (two
    micro-batch deltas) → growth visible to serving → compaction →
    answers unchanged → quiesced full rebuild serves identically.
    Completes lifecycle parity across all three persisted indexes
    (VERDICT r9 missing #4)."""
    from flink_kafka_replicator_spark.sinks import (
        bm25_search_from_index,
        compact_lexical_index,
        write_lexical_index,
        writer_lease,
    )
    from flink_kafka_replicator_spark.streaming.lexical_ingest import (
        start_streaming_lexical_ingest,
    )

    t0 = time.perf_counter()
    root = str(tmp_path_factory.mktemp("lex_churn"))
    d = spark.read.parquet(f"{big_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    ix = f"{root}/lexindex"
    write_lexical_index(spark, big_dir, ix, df=d.filter(F.col("doc_id") % 3 != 0))

    q = spark.createDataFrame(
        [(i, ["spark", "join"]) for i in range(6)],
        "qid int, terms array<string>",
    )

    def serve():
        return sorted(
            (r.qid, r.doc_id, r.bm25, r.rank)
            for r in bm25_search_from_index(spark, q, ix, k=10).collect()
        )

    pre_growth = serve()

    delta = d.filter(F.col("doc_id") % 3 == 0)
    dsrc = f"{root}/delta_src"
    delta.filter(F.col("doc_id") % 6 == 0).coalesce(1).write.parquet(
        dsrc, mode="append"
    )
    delta.filter(F.col("doc_id") % 6 == 3).coalesce(1).write.parquet(
        dsrc, mode="append"
    )
    qi = start_streaming_lexical_ingest(
        spark,
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(dsrc),
        ix,
        f"{root}/ingest_ck",
    )
    drain(qi)
    post_growth = serve()
    assert post_growth != pre_growth, "growth invisible to serving"

    with writer_lease(ix, owner="smoke-lex-compact") as tok:
        res = compact_lexical_index(spark, ix, writer_token=tok)
    assert res["compacted"] is True
    assert serve() == post_growth, "compaction changed served answers"

    rebuild = f"{root}/rebuild"
    write_lexical_index(spark, big_dir, rebuild, df=d)
    want = sorted(
        (r.qid, r.doc_id, r.bm25, r.rank)
        for r in bm25_search_from_index(spark, q, rebuild, k=10).collect()
    )
    assert serve() == want, "grown+compacted != quiesced rebuild"
    t = time.perf_counter() - t0
    print(f"\nlexical serve-under-churn 10x: {t:.1f}s")
    assert t < 600, f"lexical churn at 10x took {t:.1f}s"


def test_round9b_ops_at_10x(spark, big_dir):
    """Round-9 second-session operators stay linear at 10×:

    - bloom prefilter: the bitset saturates (more keys set more of the
      FIXED M bits) so fp_rate may RISE, but the plan stays one
      broadcast + map-side filter — time must scale ~linearly and
      soundness (pass ⊇ true matches) must hold at any density;
    - interval overlap: candidate pairs grow with spans×incidents per
      hour bucket — 10× both sides is bounded by ~100× pairs worst
      case, but the bucket equi-join must not degenerate to BNLJ (time
      bound is the proxy);
    - CMS: the cell grid is CONSTANT-size (≤ D×W rows) regardless of
      corpus size — the defining property of the sketch;
    - zorder: pure map + 256-key agg, trivially linear;
    - LSH: one pass, constant plane count — linear.
    """
    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        knn_lsh_hyperplane,
    )
    from flink_kafka_replicator_spark.operators.advanced import layout_zorder
    from flink_kafka_replicator_spark.operators.aggregates import (
        CMS_D,
        CMS_W,
        agg_cms_heavy_hitters,
    )
    from flink_kafka_replicator_spark.operators.joins import (
        join_bloom_prefilter,
        join_interval_overlap,
    )

    for q, bound in (
        (join_bloom_prefilter, 90),
        (join_interval_overlap, 120),
        (agg_cms_heavy_hitters, 90),
        (layout_zorder, 60),
        (knn_lsh_hyperplane, 90),
    ):
        t_small = _timed(q(spark, SRC))
        t_big = _timed(q(spark, big_dir))
        assert _linear(t_big, t_small, 0.2), (
            f"{q.__name__} superlinear at 10x: {t_big:.1f}s vs {t_small:.1f}s"
        )
        assert t_big < bound, f"{q.__name__} {t_big:.1f}s"

    row = join_bloom_prefilter(spark, big_dir).collect()[0]
    assert row.n_pass_bloom >= row.n_true_match, "bloom dropped true matches"

    # constant-size sketch state: the cell grid never outgrows D×W
    from flink_kafka_replicator_spark.io import load_table

    d = load_table(spark, big_dir, "documents")
    t = d.select(F.split("text", " ").alias("toks"))
    grams = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(toks) - 2, 1)),"
                " i -> concat_ws(' ', slice(toks, i, 3)))"
            )
        ).alias("g")
    )
    from flink_kafka_replicator_spark.operators.aggregates import _cms_pos

    n_cells = (
        grams.groupBy("g")
        .count()
        .select(F.expr(_cms_pos(0, "g")).alias("pos"))
        .distinct()
        .count()
    )
    assert n_cells <= CMS_W, f"{n_cells} cells in one row > W={CMS_W}"
    assert CMS_D * CMS_W == 4096


def test_round9b_dq_and_serving_at_10x(spark, big_dir):
    """DQ rule engine / PSI drift / batch-LSH stay linear at 10×:
    rules and drift are scan+tiny-agg shapes; batch LSH's candidate
    join grows with the corpus side only (fixed query batch)."""
    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        knn_batch_lsh,
    )
    from flink_kafka_replicator_spark.operators.data_quality import (
        dq_distribution_drift,
        dq_rules_engine,
    )

    for q, bound in (
        (dq_rules_engine, 60),
        (dq_distribution_drift, 60),
        (knn_batch_lsh, 120),
    ):
        t_small = _timed(q(spark, SRC))
        t_big = _timed(q(spark, big_dir))
        assert _linear(t_big, t_small, 0.2), (
            f"{q.__name__} superlinear at 10x: {t_big:.1f}s vs {t_small:.1f}s"
        )
        assert t_big < bound, f"{q.__name__} {t_big:.1f}s"


def test_bpe_train_at_10x_vocab_bound(spark, big_dir):
    """BPE induction work is ∝ vocabulary, not corpus (round 11): 10
    verbatim copies leave the vocab IDENTICAL, so the learned merges
    are the same pairs with exactly 10× the weighted counts — and the
    run pays ~one extra corpus scan (the pinned word count), never 10×
    the per-round training cost."""
    import time as _time

    from flink_kafka_replicator_spark.functions import (
        pipeline_queries as pq,
    )

    memo.clear("_bpe_merges")
    t0 = _time.perf_counter()
    small = pq._bpe_merges(spark, SRC)
    t_small = _time.perf_counter() - t0
    t0 = _time.perf_counter()
    big = pq._bpe_merges(spark, big_dir)
    t_big = _time.perf_counter() - t0
    assert [(a, b) for a, b, _ in big] == [(a, b) for a, b, _ in small], (
        "identical vocab must learn identical merges"
    )
    assert [c for _, _, c in big] == [c * COPIES for _, _, c in small], (
        "10 verbatim copies must scale every pair count by exactly 10"
    )
    assert t_big < max(t_small, 1.0) * COPIES, (
        f"BPE training scaled with the corpus, not the vocab: "
        f"{t_big:.1f}s vs {t_small:.1f}s"
    )


def test_index_deletion_at_10x(spark, big_dir, tmp_path_factory):
    """The round-11 SHRINK lifecycle at 10×: build the lexical index
    over the full 10× corpus, tombstone-delete a third of it (work ∝
    the dropped docs' postings + one dfreq merge — never an index
    rewrite), serve, compact (folds the tombstones physically), serve
    again — every serve byte-equal to the rebuild over survivors."""
    from flink_kafka_replicator_spark.sinks import (
        bm25_search_from_index,
        compact_lexical_index,
        delete_lexical_docs,
        read_lexical_index,
        write_lexical_index,
        writer_lease,
    )

    t0 = time.perf_counter()
    root = str(tmp_path_factory.mktemp("lex_del"))
    d = spark.read.parquet(f"{big_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    ix = f"{root}/lexindex"
    write_lexical_index(spark, big_dir, ix, df=d)

    q = spark.createDataFrame(
        [(i, ["spark", "join"]) for i in range(6)],
        "qid int, terms array<string>",
    )

    def serve(path):
        return sorted(
            (r.qid, r.doc_id, r.bm25, r.rank)
            for r in bm25_search_from_index(spark, q, path, k=10).collect()
        )

    with writer_lease(ix, owner="smoke-delete") as tok:
        res = delete_lexical_docs(
            spark,
            d.filter(F.col("doc_id") % 3 == 0).select("doc_id"),
            ix,
            writer_token=tok,
        )
    assert res["n_docs_deleted"] == d.filter(F.col("doc_id") % 3 == 0).count()

    rebuild = f"{root}/rebuild"
    write_lexical_index(
        spark, big_dir, rebuild, df=d.filter(F.col("doc_id") % 3 != 0)
    )
    want = serve(rebuild)
    assert serve(ix) == want, "serve-after-delete != rebuild at 10x"
    _, _, _, meta_t = read_lexical_index(spark, ix)
    _, _, _, meta_r = read_lexical_index(spark, rebuild)
    assert (meta_t["n_docs"], meta_t["sum_dl"]) == (
        meta_r["n_docs"],
        meta_r["sum_dl"],
    )

    with writer_lease(ix, owner="smoke-delete-compact") as tok:
        cres = compact_lexical_index(spark, ix, writer_token=tok)
    assert cres["compacted"] is True
    assert serve(ix) == want, "compaction changed served answers"
    t = time.perf_counter() - t0
    print(f"\nlexical delete lifecycle 10x: {t:.1f}s")
    assert t < 600, f"deletion lifecycle at 10x took {t:.1f}s"


# ------------------------------------------- 100× relational (TPC-H)
# VERDICT r11 task 7: the relational core at 100× — lineitem/orders
# replicated with CONSISTENT orderkey offsets (same stride both sides,
# so referential structure and per-key distributions are preserved:
# 100× the orders, same lineitems-per-order), dims verbatim (each
# customer/supplier simply owns 100× the business, the realistic way a
# fact table outgrows its dimensions).


@pytest.fixture(scope="module")
def big100_rel_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf10rel"))
    o = spark.read.parquet(f"{SRC}/orders.parquet")
    stride = (
        o.agg(F.max("o_orderkey").alias("m")).collect()[0]["m"] + 1
    ) * 10
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        copies = [
            df.withColumn(key, F.col(key) + F.lit(i * stride))
            for i in range(COPIES100)
        ]
        union = copies[0]
        for c in copies[1:]:
            union = union.unionByName(c)
        union.repartition(32).write.parquet(f"{out}/{name}.parquet")
    for name in ("customer", "supplier", "part", "nation", "region"):
        spark.read.parquet(f"{SRC}/{name}.parquet").write.parquet(
            f"{out}/{name}.parquet"
        )
    return out


def test_tpch_heavy_at_100x_linear_plan_safe(spark, big100_rel_dir):
    """The 3 heaviest TPC-H shapes (q9 multi-join profit, q21
    triple-self-join waiting-supplier, q18 large-orders having) at
    100× facts: runtime ∝ rows, and the plans keep their scale-safe
    shapes — no BroadcastNestedLoopJoin / CartesianProduct anywhere,
    and the AQE re-planner (skew-split) stays in the plan."""
    from flink_kafka_replicator_spark.operators.sql_surface import (
        sql_q18_large_orders,
    )
    from flink_kafka_replicator_spark.operators.tpch import (
        sql_q21_waiting_supplier,
        sql_q9_product_profit,
    )
    from flink_kafka_replicator_spark.plans import formatted_plan

    assert (
        spark.conf.get("spark.sql.adaptive.enabled", "true") == "true"
    ), "AQE must stay on: the skew-split is part of the 100TB contract"

    for q in (sql_q9_product_profit, sql_q21_waiting_supplier,
              sql_q18_large_orders):
        t_small = _timed(q(spark, SRC))
        n_small = q(spark, SRC).count()
        df_big = q(spark, big100_rel_dir)
        plan = formatted_plan(df_big)
        assert "CartesianProduct" not in plan, (q.__name__, plan[:1500])
        assert "BroadcastNestedLoopJoin" not in plan, (
            q.__name__,
            plan[:1500],
        )
        assert "AdaptiveSparkPlan" in plan, (q.__name__, plan[:400])
        t0 = time.perf_counter()
        n_big = df_big.count()
        t_big = time.perf_counter() - t0
        print(
            f"\n{q.__name__} 1x: {t_small:.1f}s/{n_small} rows; "
            f"100x: {t_big:.1f}s/{n_big} rows"
        )
        assert _linear(t_big, t_small, 0.5, COPIES100), (
            f"{q.__name__} superlinear: {t_big:.1f}s vs {t_small:.1f}s"
        )
        assert n_big > 0
        if q is sql_q18_large_orders:
            # q18's output is per qualifying ORDER — it must scale with
            # the fact table (the aggregation key space grows 100×)
            assert n_big >= 50 * max(n_small, 1), (n_small, n_big)


def test_vector_retrain_at_10x(spark, big_dir, tmp_path_factory):
    """RETRAIN at 10× vectors: recluster_vector_index stays ~linear
    (its work is the bounded-Lloyd fits + one survivor re-encode —
    the same scan shape as a GROW over the whole index) and the
    recall trigger machinery runs against the grown index."""
    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.sinks import (
        recall_drift_report,
        recluster_vector_index,
        write_vector_index,
    )

    def run(sf_dir, tag):
        ix = str(tmp_path_factory.mktemp(f"vix{tag}") / "ix")
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        write_vector_index(spark, sf_dir, ix)
        t0 = time.perf_counter()
        stats = recluster_vector_index(spark, ix, e, kmeans_iters=2)
        t = time.perf_counter() - t0
        rep = recall_drift_report(spark, ix, e).count()
        return t, stats["n_vectors"], rep

    t_small, n_small, _ = run(SRC, "1x")
    t_big, n_big, n_rep = run(big_dir, "10x")
    print(f"\nretrain 1x: {t_small:.1f}s/{n_small}; "
          f"10x: {t_big:.1f}s/{n_big}")
    assert n_big == n_small * COPIES
    assert n_rep > 0
    assert _linear(t_big, t_small, 1.0), (
        f"superlinear retrain: {t_big:.1f}s vs {t_small:.1f}s"
    )


# --------------------------------------------- round-12 second session


def test_series_diagnostics_at_10x_linear(spark, big_dir):
    """ACF / MACD / M4 at 10× events: all three are one user- (or
    bucket-) keyed exchange over the fact table — wall clock must stay
    ~linear and the plans must keep exactly one hash exchange."""
    import re

    from flink_kafka_replicator_spark.operators.advanced import (
        time_downsample_m4,
    )
    from flink_kafka_replicator_spark.operators.windows import (
        window_autocorr,
        window_macd,
    )

    for q in (window_autocorr, window_macd, time_downsample_m4):
        small = _timed(q(spark, SRC))
        big = _timed(q(spark, big_dir))
        assert _linear(big, small, 0.2), (
            f"{q.__name__} at 10x took {big:.1f}s vs {small:.1f}s — superlinear"
        )
        plan = q(spark, big_dir)._jdf.queryExecution().executedPlan().toString()
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_ex == 1, f"{q.__name__}: {n_ex} exchanges"


def test_phash_dedup_at_10x_linear(spark, big_dir):
    """Byte-simhash asset dedup at 10× docs: signature cost is one
    mapInPandas pass (linear), candidates band-bounded like the text
    family. The salted 10× copies share no 8-gram windows across
    copies beyond chance, so pairs grow ~linearly with the corpus."""
    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        multimodal_phash_dedup,
    )

    t0 = time.perf_counter()
    n_small = multimodal_phash_dedup(spark, SRC).count()
    small = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_big = multimodal_phash_dedup(spark, big_dir).count()
    big = time.perf_counter() - t0
    assert n_big >= n_small, "10x replication cannot lose pairs"
    assert _linear(big, small, 0.5), (
        f"phash dedup at 10x took {big:.1f}s vs {small:.1f}s — superlinear"
    )


def test_bitmap_distinct_at_10x_state_bound(spark, big_dir):
    """The bitmap-distinct shuffle carries bucket rows, not event rows:
    at 10× events with 10× the id span, bucket count grows ~10× (id
    space), and the popcount total equals the true distinct count."""
    from flink_kafka_replicator_spark.operators.aggregates import (
        agg_bitmap_distinct,
    )

    rows = agg_bitmap_distinct(spark, big_dir).collect()
    ev = spark.read.parquet(f"{big_dir}/events.parquet")
    truth = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.n_distinct_users == truth[r.event_type]


# --------------------------------------------- round-12 third session


def test_closed_form_stats_at_10x_linear(spark, big_dir):
    """OLS / Pearson / moments are single-scan hash aggregates with
    map-side combine — strictly linear at 10×, and the correlation
    matrix must keep its single-scan plan at scale."""
    from flink_kafka_replicator_spark.operators.aggregates import (
        agg_ols_trend,
        agg_pearson_corr,
        agg_skew_kurtosis,
    )

    for q in (agg_ols_trend, agg_pearson_corr, agg_skew_kurtosis):
        small = _timed(q(spark, SRC))
        big = _timed(q(spark, big_dir))
        assert _linear(big, small, 0.2), (
            f"{q.__name__} at 10x took {big:.1f}s vs {small:.1f}s — superlinear"
        )
    plan = (
        agg_pearson_corr(spark, big_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1


def test_interval_union_and_backlog_at_10x(spark, big_dir):
    """Interval union is one customer-keyed window; the backlog sweep
    collapses to day grain before its only unpartitioned window — both
    ~linear at 10×, and the backlog still conserves (ends at zero)."""
    from flink_kafka_replicator_spark.operators.advanced import (
        intervals_merge_overlaps,
        orders_open_backlog,
    )

    for q in (intervals_merge_overlaps, orders_open_backlog):
        small = _timed(q(spark, SRC))
        big = _timed(q(spark, big_dir))
        assert _linear(big, small, 0.2), (
            f"{q.__name__} at 10x took {big:.1f}s vs {small:.1f}s — superlinear"
        )
    last = orders_open_backlog(spark, big_dir).orderBy(F.col("day").desc()).limit(1).collect()
    assert last[0].backlog == 0


def test_text_and_embedding_profiles_at_10x(spark, big_dir):
    """Hapax / JS shuffles carry vocabulary rows; the dim profile
    carries |dims| rows — output sizes must be corpus-independent and
    wall clock ~linear at 10×."""
    from flink_kafka_replicator_spark.functions.corpus import (
        lang_js_divergence,
        text_hapax_ratio,
    )
    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        embedding_dim_profile,
    )

    for q in (text_hapax_ratio, lang_js_divergence, embedding_dim_profile):
        t0 = time.perf_counter()
        n_small = q(spark, SRC).count()
        small = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_big = q(spark, big_dir).count()
        big = time.perf_counter() - t0
        assert n_big == n_small, (
            f"{q.__name__}: output must be corpus-size-independent "
            f"({n_small} vs {n_big})"
        )
        assert _linear(big, small, 0.5), (
            f"{q.__name__} at 10x took {big:.1f}s vs {small:.1f}s — superlinear"
        )
