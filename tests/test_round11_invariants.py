"""Round-11 invariants: the vocabulary-broadcast size gate in the
unigram-LM family (VERDICT r10 "What's wrong" #1 — at 100 TB an
open-vocabulary corpus exceeds driver/broadcast limits, so the logp
model join must be able to shuffle instead of broadcast, with
identical answers on both paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_kafka_replicator_spark.functions import pipeline_queries as pq
from flink_kafka_replicator_spark.plans import formatted_plan


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "qname", ["doc_unigram_logprob", "quality_perplexity_buckets"]
)
def test_vocab_gate_low_threshold_forces_shuffle_join(
    spark, sf_dir, qname, monkeypatch
):
    """Forcing the cap to 0 must remove the broadcast hint from the
    logp join: the vocab side arrives through an Exchange
    (shuffle-keyed on tok), not a BroadcastExchange — and the answers
    on both paths are identical."""
    fn = getattr(pq, qname)
    default = fn(spark, sf_dir)

    # At sf0.001 every side sits under autoBroadcastJoinThreshold, so
    # Catalyst broadcasts SOMETHING with or without the hint. The
    # 100 TB situation the gate exists for is "nothing auto-fits, only
    # the hint forces a broadcast" — model it by disabling the auto
    # threshold: the hinted path must STILL broadcast (hints override
    # the threshold — exactly the OOM hazard), the gated path must
    # plan a shuffle join.
    thr = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thr)
    try:
        spark.conf.set(thr, "-1")
        plan_bc = formatted_plan(fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan_bc, plan_bc[:2000]

        monkeypatch.setattr(pq, "VOCAB_BROADCAST_MAX_TERMS", 0)
        gated = fn(spark, sf_dir)
        plan_sh = formatted_plan(gated)
        assert "BroadcastHashJoin" not in plan_sh, (
            f"gate did not drop the vocab broadcast:\n{plan_sh[:2000]}"
        )
        assert (
            "SortMergeJoin" in plan_sh or "ShuffledHashJoin" in plan_sh
        ), f"expected a shuffle join on tok:\n{plan_sh[:2000]}"
    finally:
        spark.conf.set(thr, prev)

    monkeypatch.setattr(pq, "VOCAB_BROADCAST_MAX_TERMS", 0)
    assert _rows(fn(spark, sf_dir)) == _rows(default), (
        "shuffle path answers differ from broadcast path"
    )


def test_vocab_count_memoized_per_session_dataset(spark, sf_dir, monkeypatch):
    """The gate's vocab count must run at most one job per (session,
    dataset) — a second query build reuses the memoized count
    (the zero-jobs-at-build contract, see test_build_guard)."""
    from flink_kafka_replicator_spark import memo

    key = (
        spark.sparkContext.applicationId,
        (__import__("os").path.normpath(sf_dir),),
    )
    vocab_n = memo._STORE.setdefault("_vocab_n", {})
    vocab_n.pop(key, None)
    pq.doc_unigram_logprob(spark, sf_dir)
    assert key in vocab_n
    n_before = vocab_n[key][1]

    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    pq.quality_perplexity_buckets(spark, sf_dir)  # build only — no action
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after == jobs_before, "query build re-counted the vocab"
    assert vocab_n[key][1] == n_before


def test_vocab_gate_default_path_still_broadcasts(spark, sf_dir):
    """With the default cap the sf0.001 vocab fits, so the logp join
    must keep its broadcast plan (no regression from adding the gate:
    two BroadcastExchanges — corpus total + vocab model)."""
    plan = formatted_plan(pq.doc_unigram_logprob(spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 2, plan[:2000]


# ---------------------------------------------------------------- BPE


def test_bpe_merge_application_is_greedy_left_to_right(spark):
    """The delimiter-replace trick must implement greedy left-to-right
    non-overlapping merge application (the Sennrich semantics): 'aaaa'
    + (a,a) → [aa, aa], 'aaa' → [aa, a], 'baaa' → [b, aa, a] — and a
    merged symbol never re-matches the raw pair ('aab' → [aa, b], not
    [aab])."""
    cases = {
        "aaaa": ["aa", "aa"],
        "aaa": ["aa", "a"],
        "baaa": ["b", "aa", "a"],
        "aab": ["aa", "b"],
        "ab": ["a", "b"],
        "a": ["a"],
    }
    df = spark.createDataFrame([(w,) for w in cases], "w string")
    delim = df.select(
        "w",
        F.concat(
            F.lit(pq._BPE_DD),
            F.regexp_replace(F.col("w"), "(.)", "$1" + pq._BPE_DD),
        ).alias("s"),
    )
    got = {
        r.w: list(r.syms)
        for r in delim.select(
            "w",
            pq._bpe_syms(
                pq._bpe_apply_merge(F.col("s"), "a", "a")
            ).alias("syms"),
        ).collect()
    }
    assert got == cases


def test_bpe_first_merge_equals_pair_counts_top1(spark, sf_dir):
    """Round 1 of the full induction must be exactly what
    bpe_pair_counts already reports as its top candidate."""
    top = pq.bpe_pair_counts(spark, sf_dir).limit(1).collect()[0]
    merges = pq._bpe_merges(spark, sf_dir)
    a, b, wc = merges[0]
    assert f"{a} {b}" == top["pair"]
    assert wc == top["weighted_count"]


def test_bpe_merges_memoized_zero_jobs_on_rebuild(spark, sf_dir):
    """The second build of either BPE query must run ZERO jobs (the
    merge list is a memoized model artifact — the build-guard
    contract)."""
    pq.bpe_train_merges(spark, sf_dir)  # warm (first call may train)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    pq.bpe_train_merges(spark, sf_dir)
    pq.bpe_tokenize_compression(spark, sf_dir)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "BPE query build re-ran the training jobs"


def test_bpe_compression_is_consistent(spark, sf_dir):
    """Tokenize-with-merges sanity: BPE tokens per word are bounded by
    chars (merging only shrinks) and at least 1; totals positive."""
    rows = pq.bpe_tokenize_compression(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_bpe_tokens <= r.n_chars
        assert r.n_words > 0
        assert r.chars_per_token >= 1.0


# ----------------------------------------------- round-11 widening ops


def test_window_drawdown_invariants(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.windows import (
        window_drawdown,
    )

    rows = window_drawdown(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.max_drawdown >= 0.0, "drawdown is a non-negative drop"
        assert r.final_value <= r.peak_value + 1e-9
        assert r.n_events > 0


def test_agg_theil_index_nonnegative(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.aggregates import (
        agg_theil_index,
    )

    for r in agg_theil_index(spark, sf_dir).collect():
        # Theil T >= 0 by Jensen; 1e-6 ln quantization can shave the
        # boundary by at most ~1e-6
        assert r.theil_t >= -1e-5, r


def test_events_top_paths_shape(spark, sf_dir):
    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.operators.events_funnel import (
        events_top_paths,
    )

    rows = events_top_paths(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    n_users = load_table(spark, sf_dir, "events").select(
        "user_id"
    ).distinct().count()
    assert sum(r.n_users for r in rows) <= n_users
    for r in rows:
        assert 1 <= len(r.path.split(">")) <= 3


def test_dq_completeness_matrix_covers_declared_columns(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.data_quality import (
        COMPLETENESS_COLS,
        dq_completeness_matrix,
    )

    rows = dq_completeness_matrix(spark, sf_dir).collect()
    assert {(r.table_name, r.column_name) for r in rows} == set(
        COMPLETENESS_COLS
    )
    for r in rows:
        assert 0.0 <= r.missing_rate <= 1.0
        assert r.n_null + r.n_blank <= r.n_rows


def test_doc_bigram_logprob_transition_counts(spark, sf_dir):
    from flink_kafka_replicator_spark.io import load_table

    got = {
        r.doc_id: (r.n_transitions, r.avg_neg_logp)
        for r in pq.doc_bigram_logprob(spark, sf_dir).collect()
    }
    toks = {
        r.doc_id: r.n
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    for doc_id, (n_tr, neg) in got.items():
        assert n_tr == toks[doc_id] - 1, "transitions must be n_tokens-1"
        assert neg > 0, "smoothed probabilities are < 1, so -logp > 0"


def test_eval_precision_at_k_monotonicity(spark, sf_dir):
    rows = sorted(
        pq.eval_precision_at_k(spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert b.recall_at_k >= a.recall_at_k, "recall must be monotone"
        assert b.reciprocal_rank >= a.reciprocal_rank
    # precision@k equals cumulative relevance over k by construction
    for r in rows:
        assert abs(r.precision_at_k - r.n_rel_cum / r.rank) < 1e-6


def test_agg_hhi_bounds(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.aggregates import (
        agg_hhi_concentration,
    )

    for r in agg_hhi_concentration(spark, sf_dir).collect():
        # 1/n <= HHI <= 1 for positive shares
        assert 1.0 / r.n - 1e-9 <= r.hhi <= 1.0 + 1e-9, r


def test_dq_duplicate_key_report_on_clean_tables(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.data_quality import (
        DUPKEY_TABLES,
        dq_duplicate_key_report,
    )

    rows = {r.table_name: r for r in dq_duplicate_key_report(spark, sf_dir).collect()}
    assert set(rows) == {t for t, _ in DUPKEY_TABLES}
    for t in ("orders", "customer", "events", "documents"):
        r = rows[t]
        # these synthetic PKs are clean — the audit must say so
        assert r.n_dup_keys == 0 and r.max_multiplicity == 1, r
        assert r.n_keys == r.n_rows
    # ...and the synthetic lineitem's (l_orderkey, l_linenumber) is
    # genuinely NON-unique (the generator reuses line numbers) — the
    # audit must catch a real duplicated key, not just vacuously pass
    li = rows["lineitem"]
    assert li.n_dup_keys > 0 and li.max_multiplicity > 1, li
    assert li.n_keys < li.n_rows
    assert li.n_rows_in_dups > li.n_dup_keys


def test_events_rfm_scores_cover_users(spark, sf_dir):
    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.operators.events_funnel import (
        events_rfm_segmentation,
    )

    rows = events_rfm_segmentation(spark, sf_dir).collect()
    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(r.n_users for r in rows) == n_users, "every user scored once"
    for r in rows:
        assert 1 <= r.r_score <= 5
        assert 1 <= r.f_score <= 5
        assert 1 <= r.m_score <= 5
    # quintiles are near-balanced per dimension (ties can shift a bin,
    # never empty the extremes on 10k users)
    from collections import Counter

    for dim in ("r_score", "f_score", "m_score"):
        c = Counter()
        for r in rows:
            c[getattr(r, dim)] += r.n_users
        assert set(c) == {1, 2, 3, 4, 5}, (dim, c)
        assert max(c.values()) <= 2 * min(c.values()) + 5, (dim, c)


def test_join_skew_report_consistency(spark, sf_dir):
    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.operators.joins import (
        join_skew_report,
    )

    r = join_skew_report(spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem")
    assert r.n_rows == li.count()
    assert r.n_keys == li.select("l_orderkey").distinct().count()
    assert r.p50_group <= r.p99_group <= r.max_group
    assert r.skew_max_over_mean >= 1.0


def test_dedup_threshold_sweep_monotone(spark, sf_dir):
    rows = sorted(
        pq.dedup_threshold_sweep(spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == list(pq.DEDUP_SWEEP_THRESHOLDS)
    for a, b in zip(rows, rows[1:]):
        # a stricter threshold can only fire fewer pairs / touch fewer docs
        assert b.n_pairs <= a.n_pairs
        assert b.n_docs_affected <= a.n_docs_affected
    for r in rows:
        assert r.n_docs_affected <= 2 * r.n_pairs


def test_events_inter_arrival_shares_sum_to_one(spark, sf_dir):
    from collections import defaultdict

    from flink_kafka_replicator_spark.operators.events_funnel import (
        INTER_ARRIVAL_LABELS,
        events_inter_arrival_dist,
    )

    rows = events_inter_arrival_dist(spark, sf_dir).collect()
    by_type = defaultdict(float)
    for r in rows:
        assert r.bucket in INTER_ARRIVAL_LABELS
        by_type[r.event_type] += r.share
    for t, total in by_type.items():
        assert abs(total - 1.0) < 1e-4, (t, total)


def test_agg_revenue_mom_chain(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.aggregates import (
        agg_revenue_mom_change,
    )

    rows = sorted(
        agg_revenue_mom_change(spark, sf_dir).collect(),
        key=lambda r: r.month,
    )
    assert rows[0].prev_revenue is None and rows[0].mom_pct is None
    for a, b in zip(rows, rows[1:]):
        assert b.prev_revenue == a.revenue, "LAG chain broken"
        assert abs(b.mom_delta - round(b.revenue - a.revenue, 2)) < 0.011


def test_agg_pareto_share_sums_and_order(spark, sf_dir):
    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.operators.aggregates import (
        agg_pareto_share,
    )

    rows = sorted(
        agg_pareto_share(spark, sf_dir).collect(), key=lambda r: -r.decile
    )
    n_cust = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    assert abs(sum(r.revenue_share for r in rows) - 1.0) < 1e-4
    # cumulative-from-top is monotone and ends at ~1; the TOP decile
    # carries at least its population share of revenue
    assert abs(rows[-1].cum_share_from_top - 1.0) < 1e-4
    for a, b in zip(rows, rows[1:]):
        assert b.cum_share_from_top >= a.cum_share_from_top - 1e-9
    top = rows[0]
    assert top.revenue_share >= top.n_customers / n_cust - 1e-6


def test_dedup_containment_dominates_jaccard(spark, sf_dir):
    rows = pq.dedup_containment(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # containment >= jaccard always (the denominator can only shrink)
        assert r.containment_a >= r.jaccard - 1e-9
        assert r.containment_b >= r.jaccard - 1e-9
        assert r.max_containment >= pq.CONTAINMENT_MIN
        assert max(r.containment_a, r.containment_b) == r.max_containment


def test_events_engagement_dau_mau_ordering(spark, sf_dir):
    from flink_kafka_replicator_spark.operators.events_funnel import (
        events_engagement_dau_mau,
    )

    rows = events_engagement_dau_mau(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.dau <= r.wau <= r.mau, "trailing windows must nest"
        assert 0 < r.stickiness <= 1.0


def test_vector_postings_cid_sorted_on_disk(spark, sf_dir, tmp_path):
    """The postings layout claim, pinned at the file level: base
    build, delta append, and the compactor all land cid-SORTED parquet
    (row-group min/max stats tight enough that a probe-cell filter
    prunes IO — the reason the sort exists)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.sinks import (
        append_vector_delta,
        compact_vector_index,
        write_vector_index,
    )

    def assert_sorted(ix, delta_glob):
        files = _glob.glob(f"{ix}/postings/{delta_glob}/*.parquet")
        assert files
        for f in files:
            cids = _pq.read_table(f, columns=["cid"]).column("cid").to_pylist()
            assert cids == sorted(cids), f"unsorted postings file {f}"

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ix = str(tmp_path / "vix")
    write_vector_index(
        spark, sf_dir, ix, df=e.filter(F.col("vec_id") % 2 == 0)
    )
    assert_sorted(ix, "delta_id=0")
    append_vector_delta(
        spark, e.filter(F.col("vec_id") % 2 == 1), ix, delta_id=1
    )
    assert_sorted(ix, "delta_id=1")
    res = compact_vector_index(spark, ix, files=2)
    assert res["compacted"] is True
    assert_sorted(ix, "delta_id=2")
