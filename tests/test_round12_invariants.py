"""Round-12 invariants: batch/served MMR, the bench era stamp, and
the dq-monitor checkpoint co-location."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_kafka_replicator_spark import sinks
from flink_kafka_replicator_spark.functions import pipeline_queries as pq
from flink_kafka_replicator_spark.io import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_mmr_batch_single_query_reproduces_fixed_query(spark):
    """mmr_rerank_batch restricted to one query whose embedding IS the
    fixed QUERY_VEC must pick the exact rows mmr_rerank picks — the
    batch machinery is a strict generalization, not a second
    implementation."""
    e = load_table(spark, SF_DIR, "embeddings")
    q = spark.createDataFrame(
        [(0, [float(x) for x in pq.QUERY_VEC])],
        "qid bigint, embedding array<float>",
    ).select("qid", pq.as_double(F.col("embedding")).alias("qv"))
    from pyspark.sql import Window

    from flink_kafka_replicator_spark.functions.similarity import (
        as_double,
        cosine,
    )

    scored = e.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        F.round(cosine(as_double(F.col("embedding")), F.col("qv")), 4).alias(
            "rel"
        ),
    )
    ws = Window.partitionBy("qid").orderBy(
        F.col("rel").desc(), F.col("vec_id").asc()
    )
    short = (
        scored.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= pq.MMR_SHORTLIST)
        .select("qid", "vec_id", "rel")
    )
    sv = short.select("qid", "vec_id").join(
        e.select("vec_id", as_double(F.col("embedding")).alias("v")),
        "vec_id",
    )
    a = sv.select("qid", F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = sv.select("qid", F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    sims = (
        a.join(b, "qid")
        .filter(F.col("a") != F.col("b"))
        .select(
            "qid",
            "a",
            "b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("s"),
        )
    )
    from flink_kafka_replicator_spark.io import materialize_small

    got = sorted(
        (r.rank, r.vec_id, r.rel, r.mmr)
        for r in pq._mmr_greedy_batch(
            materialize_small(short), materialize_small(sims)
        ).collect()
    )
    want = sorted(
        (r.rank, r.vec_id, r.rel, r.mmr)
        for r in pq.mmr_rerank(spark, SF_DIR).collect()
    )
    assert got == want


def test_mmr_batch_rank1_is_top_rel_and_picks_distinct(spark):
    """Structural invariants per qid: rank 1 is the relevance argmax,
    picks are distinct, ranks are 1..MMR_K, and every pick comes from
    that qid's shortlist."""
    rows = pq.mmr_rerank_batch(spark, SF_DIR).collect()
    by_qid: dict[int, list] = {}
    for r in rows:
        by_qid.setdefault(r.qid, []).append(r)
    assert len(by_qid) == pq.QBATCH_MAX // 2
    for qid, picks in by_qid.items():
        assert sorted(p.rank for p in picks) == list(
            range(1, pq.MMR_K + 1)
        )
        assert len({p.vec_id for p in picks}) == pq.MMR_K
        first = next(p for p in picks if p.rank == 1)
        # the batch query set queries ARE corpus members: rank 1 is the
        # self-match (rel 1.0) under (rel DESC, vec_id ASC)
        assert first.rel == max(p.rel for p in picks)


def test_mmr_served_from_index_matches_session_fixed_query(spark, tmp_path):
    """The served MMR (persisted index + exact table) with probe-all
    and a corpus-wide ADC shortlist must reproduce the in-session
    mmr_rerank picks for the fixed query — build/serve parity for the
    diversified read path."""
    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    ix = str(tmp_path / "vix")
    sinks.write_vector_index(spark, SF_DIR, ix)
    q = spark.createDataFrame(
        [(0, [float(x) for x in pq.QUERY_VEC])],
        "qid bigint, embedding array<float>",
    )
    served = sinks.mmr_rerank_from_index(
        spark,
        q,
        ix,
        e,
        n_probe=pq.IVF_N_CENTROIDS,
        adc_shortlist=e.count(),
    )
    got = sorted(
        (r.rank, r.vec_id, r.rel, r.mmr) for r in served.collect()
    )
    want = sorted(
        (r.rank, r.vec_id, r.rel, r.mmr)
        for r in pq.mmr_rerank(spark, SF_DIR).collect()
    )
    assert got == want


def test_streaming_vector_search_mmr_flag(spark, tmp_path):
    """--mmr on the serving stream: answers are diversified per qid
    and match the batch served MMR; mmr without refine_with refuses."""
    from flink_kafka_replicator_spark.streaming.vector_search import (
        start_streaming_vector_search,
    )
    from tests.streamutil import drain

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    ix = str(tmp_path / "vix")
    sinks.write_vector_index(spark, SF_DIR, ix)
    queries = spark.createDataFrame(
        [
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in e.filter(
                (F.col("vec_id") % 2 == 1)
                & (F.col("vec_id") < pq.QBATCH_MAX)
            ).collect()
        ],
        "qid bigint, embedding array<float>",
    )
    src = str(tmp_path / "queries")
    queries.coalesce(1).write.parquet(src)
    out = str(tmp_path / "answers")

    with pytest.raises(ValueError, match="requires refine_with"):
        start_streaming_vector_search(
            spark,
            spark.readStream.schema(queries.schema).parquet(src),
            ix,
            out,
            str(tmp_path / "ck0"),
            mmr=True,
        )

    q = start_streaming_vector_search(
        spark,
        spark.readStream.schema(queries.schema).parquet(src),
        ix,
        out,
        str(tmp_path / "ck"),
        k=pq.MMR_K,
        refine_with=e,
        mmr=True,
    )
    drain(q)
    got = sorted(
        (r.qid, r.rank, r.vec_id, r.rel, r.mmr)
        for r in spark.read.parquet(out).drop("batch_id").collect()
    )
    want = sorted(
        (r.qid, r.rank, r.vec_id, r.rel, r.mmr)
        for r in sinks.mmr_rerank_from_index(spark, queries, ix, e).collect()
    )
    assert got == want


def test_dq_monitor_default_checkpoint_colocated(spark, tmp_path, capsys):
    """ADVICE r11: with no --checkpoint-location the dq-monitor
    checkpoint must live INSIDE --output, so deleting the output dir
    also resets the checkpoint (no silently-omitted batches)."""
    from flink_kafka_replicator_spark.cli import dq_monitor_main

    o = load_table(spark, SF_DIR, "orders")
    src = str(tmp_path / "orders_stream")
    o.limit(50).coalesce(1).write.parquet(src)
    li_dir = str(tmp_path / "lineitem")
    load_table(spark, SF_DIR, "lineitem").limit(100).write.parquet(li_dir)
    out = str(tmp_path / "dq")
    rc = dq_monitor_main(
        ["--source", src, "--lineitem-dir", li_dir, "--output", out],
        spark=spark,
    )
    assert rc == 0
    capsys.readouterr()
    assert os.path.isdir(os.path.join(out, "_checkpoint"))


def test_bollinger_bands_structure(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.windows import (
        BOLLINGER_K,
        window_bollinger_bands,
    )

    rows = window_bollinger_bands(spark, sf_dir).collect()
    assert rows
    for r in rows[:500]:
        assert r.sd >= 0
        assert r.lower <= r.ma <= r.upper
        # band width is 2K·σ, symmetric around the mean (4dp rounding)
        assert abs((r.upper - r.ma) - (r.ma - r.lower)) < 2e-4
        if r.value > r.upper or r.value < r.lower:
            assert r.is_breakout


def test_decay_weighted_revenue_bounds(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.aggregates import (
        agg_decay_weighted_revenue,
    )

    rows = agg_decay_weighted_revenue(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # decayed revenue can never exceed raw revenue, and the
        # retention factor is a weight average in (0, 1]
        assert 0 < r.decayed_revenue <= r.revenue + 1e-9
        assert 0 < r.retention_factor <= 1.0


def test_hourly_heatmap_covers_all_events(spark, sf_dir):
    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.operators.events_funnel import (
        events_hourly_heatmap,
    )

    rows = events_hourly_heatmap(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == total
    assert all(1 <= r.dow <= 7 and 0 <= r.hour <= 23 for r in rows)
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3


def test_dedup_rate_by_source_consistent_with_exact_docs(spark, sf_dir):
    from flink_kafka_replicator_spark.functions.corpus import (
        dedup_rate_by_source,
    )
    from flink_kafka_replicator_spark.io import load_table

    rows = dedup_rate_by_source(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    total_unique = d.select(F.md5("text")).distinct().count()
    # per-source uniques can only over-count the global distinct set
    # (the same content in two sources is unique in each)
    assert sum(r.n_unique for r in rows) >= total_unique
    for r in rows:
        assert 0 <= r.dup_rate < 1
        assert r.n_duplicates == r.n_docs - r.n_unique


def test_vocab_growth_monotone_and_complete(spark, sf_dir):
    from flink_kafka_replicator_spark.functions.corpus import (
        vocab_growth_curve,
    )

    rows = sorted(
        vocab_growth_curve(spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(10))
    assert all(
        a.vocab_size <= b.vocab_size and a.cum_tokens < b.cum_tokens
        for a, b in zip(rows, rows[1:])
    )
    assert rows[-1].vocab_size == sum(r.n_new_words for r in rows)


def test_mix_divergence_identities(spark, sf_dir):
    import math

    from flink_kafka_replicator_spark.functions.corpus import (
        corpus_mix_divergence,
    )

    r = corpus_mix_divergence(spark, sf_dir).collect()[0]
    # 0 <= entropy <= ln(k); KL >= 0; KL == ln(k) - entropy (quantized)
    assert 0 <= r.entropy <= math.log(r.n_langs) + 1e-6
    assert r.kl_to_uniform >= -1e-6
    assert abs(r.kl_to_uniform - (math.log(r.n_langs) - r.entropy)) < 1e-4


def test_rsi_bounds_and_neutral(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.windows import window_rsi

    rows = window_rsi(spark, sf_dir).collect()
    assert rows
    assert all(0.0 <= r.rsi <= 100.0 for r in rows)


def test_new_vs_returning_reconciles(spark, sf_dir):
    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.operators.events_funnel import (
        events_new_vs_returning,
    )

    rows = sorted(
        events_new_vs_returning(spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    ev = load_table(spark, sf_dir, "events")
    # every user is new exactly once, so Σ n_new == distinct users
    assert sum(r.n_new for r in rows) == (
        ev.select("user_id").distinct().count()
    )
    # day 1 of the stream: everyone active is new
    assert rows[0].n_new == rows[0].n_active
    assert all(
        r.n_active == r.n_new + r.n_returning and r.n_active > 0
        for r in rows
    )


def test_freshness_report_head_consistency(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.events_funnel import (
        dq_freshness_report,
    )

    rows = dq_freshness_report(spark, sf_dir).collect()
    assert rows
    # exactly the head type(s) sit at 0 hours behind
    assert min(r.hours_behind_head for r in rows) == 0
    for r in rows:
        assert 0 <= r.n_last_24h <= r.n_last_7d <= r.n_events


def test_source_lang_matrix_shares(spark, sf_dir):
    from collections import defaultdict

    from flink_kafka_replicator_spark.functions.corpus import (
        corpus_source_lang_matrix,
    )

    rows = corpus_source_lang_matrix(spark, sf_dir).collect()
    by_src = defaultdict(float)
    for r in rows:
        by_src[r.source] += r.share_in_source
    assert all(abs(v - 1.0) < 1e-3 for v in by_src.values()), by_src
    assert abs(sum(r.share_of_corpus for r in rows) - 1.0) < 1e-3


def test_knn_graph_symmetry_consistency(spark, sf_dir):
    r = pq.knn_graph_symmetry(spark, sf_dir).collect()[0]
    knn = pq.knn_ivf_join(spark, sf_dir)
    assert r.n_edges == knn.count()
    assert 0 <= r.n_mutual <= r.n_edges
    assert 0 <= r.n_nodes_with_mutual <= r.n_nodes
    assert 0.0 <= r.symmetry_rate <= 1.0


def test_embedding_norm_profile_ordering(spark, sf_dir):
    from flink_kafka_replicator_spark.io import load_table

    r = pq.embedding_norm_profile(spark, sf_dir).collect()[0]
    assert r.n_vectors == load_table(spark, sf_dir, "embeddings").count()
    assert (
        r.min_norm <= r.p25_norm <= r.median_norm
        <= r.p75_norm <= r.max_norm
    )
    assert r.min_norm <= r.mean_norm <= r.max_norm


def test_retention_revenue_cohorts_reconciles(spark, sf_dir):
    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.operators.events_funnel import (
        retention_cohorts,
        retention_revenue_cohorts,
    )

    rows = retention_revenue_cohorts(spark, sf_dir).collect()
    # head-count triangle must agree with the head-count query
    want = {
        (r.cohort_date, r.week_offset): r.n_active_users
        for r in retention_cohorts(spark, sf_dir).collect()
    }
    got = {
        (r.cohort_date, r.week_offset): r.n_active_users for r in rows
    }
    assert got == want
    # total revenue reconciles with the raw table to the cent
    total = sum(r.revenue for r in rows)
    ev = load_table(spark, sf_dir, "events")
    want_total = (
        ev.select(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
        ).collect()[0]["c"]
        / 100.0
    )
    assert abs(total - want_total) < 0.01
    # cumulative is monotone within each cohort
    from collections import defaultdict

    by_c = defaultdict(list)
    for r in rows:
        by_c[r.cohort_date].append(r)
    for cohort, rs in by_c.items():
        rs.sort(key=lambda r: r.week_offset)
        assert all(
            a.cum_revenue <= b.cum_revenue + 1e-9
            for a, b in zip(rs, rs[1:])
        )


def test_order_lines_hist_reconciles(spark, sf_dir):
    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.operators.aggregates import (
        agg_order_lines_hist,
    )

    rows = agg_order_lines_hist(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    assert sum(r.n_orders * r.n_lines for r in rows) == li.count()
    assert sum(r.n_orders for r in rows) == (
        li.select("l_orderkey").distinct().count()
    )
    assert abs(sum(r.order_share for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.revenue_share for r in rows) - 1.0) < 1e-3


def test_activity_streaks_within_data_span(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.events_funnel import (
        events_activity_streaks,
    )

    rows = events_activity_streaks(spark, sf_dir).collect()
    assert rows and len(rows) <= 20
    # the fixture spans ~30 days — no streak can exceed the span
    assert all(1 <= r.longest_streak <= 31 for r in rows)
    assert all(r.n_streaks >= 1 for r in rows)
    # leaderboard order: streak desc, user asc
    keys = [(-r.longest_streak, r.user_id) for r in rows]
    assert keys == sorted(keys)


def test_peak_concurrency_bounds(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.events_funnel import (
        events_peak_concurrency,
    )

    r = events_peak_concurrency(spark, sf_dir).collect()[0]
    from flink_kafka_replicator_spark.io import load_table

    n_users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    # at most one OPEN session per user at any instant by construction
    assert 1 <= r.peak_concurrent <= n_users
    assert r.n_sessions >= n_users


def test_cluster_size_hist_reconciles_with_survivors(spark, sf_dir):
    rows = pq.dedup_cluster_size_hist(spark, sf_dir).collect()
    surv = pq.dedup_survivors(spark, sf_dir).collect()
    assert sum(r.n_clusters for r in rows) == len(surv)
    assert sum(r.n_docs for r in rows) == sum(s.n_members for s in surv)
    assert sum(r.n_dropped for r in rows) == sum(
        s.n_members - 1 for s in surv
    )
    assert all(r.size >= 2 for r in rows)  # pairs make clusters of >=2


def test_cross_source_pairs_reconcile_with_flat_pairs(spark, sf_dir):
    rows = pq.dedup_cross_source_pairs(spark, sf_dir).collect()
    flat = pq.dedup_fuzzy_minhash(spark, sf_dir).count()
    assert sum(r.n_pairs for r in rows) == flat
    assert abs(sum(r.pair_share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.source_a <= r.source_b
        assert r.cross_source == (r.source_a != r.source_b)
        assert 0.5 <= r.mean_jaccard <= 1.0


def test_session_length_stats_reconcile(spark, sf_dir):
    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.operators.advanced import (
        session_length_stats,
    )

    rows = session_length_stats(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    # Σ len·count == total events; single-event sessions last 0s
    assert sum(r.session_len * r.n_sessions for r in rows) == ev.count()
    for r in rows:
        if r.session_len == 1:
            assert r.mean_duration_sec == 0.0
        assert r.mean_duration_sec >= 0.0
    assert abs(sum(r.session_share for r in rows) - 1.0) < 1e-3


def test_enum_conformity_clean_fixture(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.data_quality import (
        ENUM_CONFORMITY_RULES,
        dq_enum_conformity,
    )

    rows = dq_enum_conformity(spark, sf_dir).collect()
    assert len(rows) == len(ENUM_CONFORMITY_RULES)
    for r in rows:
        assert r.n_values > 0
        assert 0 <= r.n_violations <= r.n_values
        assert r.n_distinct_bad <= r.n_violations


# ---------------------------------------------------------------- batch: series + association ops


def test_autocorr_bounded_and_constant_series_null(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.windows import (
        ACF_MIN_PAIRS,
        window_autocorr,
    )

    rows = window_autocorr(spark, sf_dir).collect()
    assert rows, "sf fixture has users with enough pairs"
    for r in rows:
        assert r.n_pairs_lag1 >= ACF_MIN_PAIRS
        if r.acf1 is not None:
            assert -1.0 - 1e-9 <= r.acf1 <= 1.0 + 1e-9
        if r.acf2 is not None:
            assert -1.0 - 1e-9 <= r.acf2 <= 1.0 + 1e-9
    # a constant series has zero variance -> NULL acf, not a crash
    const = spark.createDataFrame(
        [(1, i, 5.0) for i in range(20)], "user_id long, event_id long, value double"
    ).withColumn("ts", F.timestamp_seconds(F.col("event_id") + 1_600_000_000))
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        const.select("event_id", "ts", "user_id",
                     F.lit("view").alias("event_type"), "value",
                     F.lit("{}").alias("props")).write.parquet(td + "/events.parquet")
        got = window_autocorr(spark, td).collect()
        assert len(got) == 1 and got[0].acf1 is None and got[0].acf2 is None


def test_macd_single_exchange_and_smoother_identity(spark, sf_dir):
    """All three MACD window stacks share ONE (user_id | ts,event_id)
    sort: the physical plan must contain exactly one shuffle exchange.
    And on any constant series fast == slow -> macd == 0 == signal."""
    from flink_kafka_replicator_spark.operators.windows import window_macd

    df = window_macd(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, plan[:2000]
    rows = df.limit(50).collect()
    assert rows
    # histogram identity: macd_hist == macd - signal (to rounding)
    for r in rows:
        assert abs(r.macd_hist - (r.macd - r.signal)) < 2e-4


def test_type_entropy_bounds(spark, sf_dir):
    import math

    from flink_kafka_replicator_spark.operators.events_funnel import (
        events_type_entropy,
    )

    rows = events_type_entropy(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.entropy_nats + 1e-6
        # H <= ln(n_types) (quantization slack)
        assert r.entropy_nats <= math.log(r.n_types) + 1e-5
        if r.n_types == 1:
            assert abs(r.entropy_nats) < 2e-6


def test_cooccurrence_pmi_symmetric_domain(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.events_funnel import (
        events_cooccurrence_pmi,
    )

    rows = events_cooccurrence_pmi(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.type_x < r.type_y  # unordered pairs, kept once
        assert (r.type_x, r.type_y) not in seen
        seen.add((r.type_x, r.type_y))
        assert r.nxy >= 1
        # PMI <= min(ln(1/px), ln(1/py)) <= ln(n_users); loose sanity
        assert r.pmi_nats < 20.0


def test_link_prediction_wedges_cover_triangles(spark, sf_dir):
    """On a clique-structured dup corpus every wedge pair is an edge
    (open-wedge count == 0 ⇔ transitivity == 1 families); scores are
    bounded and the pair domain is canonical."""
    rows = pq.graph_link_prediction(spark, sf_dir).collect()
    assert rows, "dup families produce wedge pairs"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.n_common >= 1
        assert 0.0 < r.nbr_jaccard <= 1.0
        assert r.n_common <= min(r.deg_a, r.deg_b)
    tri = pq.graph_triangle_count(spark, sf_dir).collect()[0]
    if tri.transitivity == 1.0:
        assert all(r.is_edge for r in rows)


def test_centroid_pairs_full_matrix_and_self_similarity(spark, sf_dir):
    rows = pq.sim_centroid_pairs(spark, sf_dir).collect()
    labels = set()
    for r in rows:
        assert r.label_a < r.label_b
        assert -1.0 - 1e-9 <= r.centroid_cosine <= 1.0 + 1e-9
        labels.add(r.label_a)
        labels.add(r.label_b)
    n = len(labels)
    assert len(rows) == n * (n - 1) // 2  # every unordered pair once


def test_lift_gains_monotone_and_reconciles(spark, sf_dir):
    rows = sorted(
        pq.eval_lift_gains(spark, sf_dir).collect(),
        key=lambda r: -r.bin,
    )
    assert rows
    # cumulative columns are running sums from the top bin down
    cd = cp = 0
    for r in rows:
        cd += r.n_docs
        cp += r.n_pos
        assert r.cum_docs == cd and r.cum_pos == cp
        assert 0.0 <= r.gain <= 1.0 + 1e-9
        assert r.lift >= 0.0
    # the bottom row covers everything: gain == 1, lift == 1
    assert abs(rows[-1].gain - 1.0) < 1e-9
    assert abs(rows[-1].lift - 1.0) < 1e-6
    # gain is monotone nonincreasing as bins are removed from the top
    gains = [r.gain for r in rows]
    assert gains == sorted(gains)


def test_cross_field_consistency_clean_and_dirty(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.data_quality import (
        CROSS_FIELD_RULES,
        dq_cross_field_consistency,
    )

    rows = dq_cross_field_consistency(spark, sf_dir).collect()
    assert len(rows) == len(CROSS_FIELD_RULES)
    by_rule = {r.rule_id: r for r in rows}
    # the generator writes consistent data: structural rules hold
    assert by_rule["nonpositive_charge"].n_violations == 0
    assert by_rule["n_chars_mismatch"].n_violations == 0
    assert by_rule["nonpositive_total"].n_violations == 0
    for r in rows:
        assert 0 <= r.n_violations <= r.n_rows
        # rate is ROUND(…, 6)
        assert abs(r.violation_rate - r.n_violations / r.n_rows) < 5e-7


def test_bitmap_distinct_equals_count_distinct(spark, sf_dir):
    """The 63-bit bucket-bitmap pipeline is EXACT: it must reproduce
    COUNT(DISTINCT) per group, and bucket counts bound the ids seen."""
    from flink_kafka_replicator_spark.operators.aggregates import (
        agg_bitmap_distinct,
    )

    got = {
        r.event_type: r
        for r in agg_bitmap_distinct(spark, sf_dir).collect()
    }
    truth = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(truth)
    for t, r in got.items():
        assert r.n_distinct_users == truth[t]
        # each bucket holds 1..63 users
        assert r.n_buckets <= r.n_distinct_users <= r.n_buckets * 63


def test_seasonal_decompose_identity_and_centering(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.advanced import (
        time_seasonal_decompose,
    )

    rows = time_seasonal_decompose(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # additive identity to output rounding
        assert abs(r.revenue - (r.trend + r.seasonal + r.residual)) < 3e-4
        assert 1 <= r.iso_weekday <= 7
    # seasonal components, weighted by weekday frequency, sum to ~0
    # (they are means of a detrended series whose total is ~0)
    from collections import Counter

    wk = {}
    cnt = Counter()
    for r in rows:
        wk[r.iso_weekday] = r.seasonal
        cnt[r.iso_weekday] += 1
    weighted = sum(wk[d] * cnt[d] for d in wk)
    mean_rev = sum(r.revenue for r in rows) / len(rows)
    assert abs(weighted) / max(mean_rev * len(rows), 1.0) < 1e-2


def test_hist_log_buckets_reconcile(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.scalar_fns import (
        hist_log_buckets,
    )

    rows = hist_log_buckets(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    assert sum(r.n_orders for r in rows) == o.count()
    for r in rows:
        # bucket d holds cent values with exactly d digits
        assert 10 ** (r.decade - 1) <= round(r.min_total * 100)
        assert round(r.max_total * 100) < 10**r.decade
        assert r.min_total <= r.max_total


def test_phash_dedup_finds_exact_dups_at_hamming_zero(spark, sf_dir):
    """Identical blobs hash identically: every exact-dup doc pair must
    surface in the phash pair set with hamming 0 (same signature →
    same bands), and all reported pairs obey the canonical domain."""
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in pq.multimodal_phash_dedup(spark, sf_dir).collect()
    }
    assert pairs
    for (a, b), h in pairs.items():
        assert a < b and 0 <= h <= 8
    # exact text dups -> exact blob dups (blob = UTF-8 of text)
    from collections import defaultdict

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    ).collect()
    groups = defaultdict(list)
    for r in docs:
        groups[r.h].append(r.doc_id)
    for ids in groups.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                assert pairs.get((ids[i], ids[j])) == 0, (ids[i], ids[j])


def test_rake_scores_bounded_and_stopword_free(spark, sf_dir):
    from flink_kafka_replicator_spark.functions import text as t

    rows = pq.text_keyword_rake(spark, sf_dir).collect()
    assert len(rows) == pq.RAKE_TOP_K
    for r in rows:
        assert r.word not in t.STOPWORDS and r.word != ""
        # degree >= freq (every occurrence sits in a phrase of len >= 1)
        assert r.degree >= r.freq >= 1
        assert r.rake_score >= 1.0


def test_curriculum_buckets_partition_the_corpus(spark, sf_dir):
    rows = pq.corpus_curriculum_buckets(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    total_chars = d.agg(F.sum("n_chars")).collect()[0][0]
    assert sum(r.total_chars for r in rows) == total_chars
    assert abs(sum(r.doc_share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.len_bucket in ("short", "medium", "long")
        assert 0 <= r.score_bin < 10


def test_embedding_outlier_scores_nonneg_and_ranked(spark, sf_dir):
    rows = pq.embedding_outlier_zscore(spark, sf_dir).collect()
    assert len(rows) == pq.OUTLIER_TOP_K
    scores = [r.mean_z2 for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.mean_z2 >= 0.0
        # mean z^2 of the TOP outlier is still bounded by n (extreme
        # case: all corpus variance concentrated in one vector)
        assert r.mean_z2 < 1e6


def test_m4_downsample_envelope(spark, sf_dir):
    """M4 invariants: endpoints lie inside [min, max]; bucket point
    counts reconcile with the raw table; single-point buckets have
    first == last == min == max."""
    from flink_kafka_replicator_spark.operators.advanced import (
        time_downsample_m4,
    )

    rows = time_downsample_m4(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    assert sum(r.n_points for r in rows) == ev.count()
    for r in rows:
        assert r.v_min <= r.v_first <= r.v_max
        assert r.v_min <= r.v_last <= r.v_max
        if r.n_points == 1:
            assert r.v_first == r.v_last == r.v_min == r.v_max
