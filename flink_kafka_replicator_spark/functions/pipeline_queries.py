"""LLM-data-pipeline queries over documents/embeddings (SURVEY.md §2.5).

Oracle-backed wherever DuckDB can express the same computation;
hash-seed-dependent ops (xxhash64 LSH) and float-ordered top-k are
rows-only, with pytest covering their invariants instead.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .. import memo
from ..io import fan_out_small_scan, load_table, materialize_small
from . import multimodal, text
from .similarity import (
    _MINHASH_P,
    _MINHASH_PARAMS,
    QUERY_VEC,
    as_double,
    banded_minhash,
    cosine,
    dot,
    hamming64,
    hyperplane_bucket,
    jaccard,
    lsh_candidate_pairs,
    lsh_candidate_pairs_payload,
    minhash_signature_table,
    query_vec_col,
    shingle_pipeline,
    simhash_bands,
    simhash_table,
)

# ------------------------------------------------------------------ dedup


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup: canonical survivor (min doc_id) per md5(text).
    Hash-groupBy — one shuffle on the digest, the exact-dedup plan that
    scales linearly."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("content_hash", F.md5("text"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# Sub-document dedup segmentation: non-overlapping PARA_TOKENS-token
# spans stand in for paragraphs (the fixture's documents carry no
# newline structure; a corpus with real paragraphs swaps the segmenter
# for split(text, '\n\n') and keeps everything downstream unchanged).
# Segments shorter than PARA_MIN_TOKENS are dropped as trivially short.
PARA_TOKENS = 10
PARA_MIN_TOKENS = 5


def _paragraph_occ(d: DataFrame) -> DataFrame:
    """(doc_id, para_hash) occurrences: whitespace tokens sliced into
    non-overlapping PARA_TOKENS spans, short tails dropped, md5-keyed.
    Shared by ``dedup_paragraph_exact`` and the 100x scale smoke (which
    asserts paragraph-key cardinality grows linearly with the corpus)."""
    return (
        d.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform("
                    " sequence(0, greatest(cast(ceil(size(split(text, ' '))"
                    f" / {PARA_TOKENS}.0D) as int) - 1, 0)),"
                    f" g -> concat_ws(' ', slice(split(text, ' '),"
                    f" g * {PARA_TOKENS} + 1, {PARA_TOKENS})))"
                )
            ).alias("para_idx", "para_text"),
        )
        .filter(F.size(F.split("para_text", " ")) >= PARA_MIN_TOKENS)
        .select("doc_id", F.md5("para_text").alias("para_hash"))
    )


def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup (the Lee et al. "Deduplicating Training
    Data" shape at paragraph granularity): documents explode into
    normalized fixed-span token segments, each segment occurrence is
    marked duplicated when its content hash appears more than once
    corpus-wide, and the report collapses back per document — paragraph
    count, duplicated-paragraph count, how many duplicated paragraphs
    this doc canonically owns (its doc_id is the minimum over the
    hash's occurrences — the occurrence a dedup pass would KEEP), the
    duplicate fraction, and the keep decision (drop docs that are
    majority duplicated content).

    Scale shape: segmentation is a per-row JVM expression (tokens →
    non-overlapping slices → concat_ws), so the explode multiplies rows
    by ~tokens/PARA_TOKENS but never re-reads the corpus. Duplicate
    stats are a groupBy on md5(para_text) — partial aggregation
    collapses hot boilerplate paragraphs map-side (the real-world skew:
    license headers, nav bars), unlike a window over para_hash which
    would sort entire skewed partitions. The stats table is
    distinct-paragraph-sized; the join back is a pure equi-join on the
    uniform md5 key (AQE skew-join covers residual hot keys), followed
    by one doc_id-keyed collapse. Three exchanges total, all on
    high-cardinality uniform keys; paragraph-key cardinality grows
    linearly with the corpus (pinned by the 100x scale smoke). The
    'keep' threshold compares 2*n_dup <= n_paras in integers — no
    float-boundary ambiguity between engines."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    occ = _paragraph_occ(d)
    stats = occ.groupBy("para_hash").agg(
        F.count("*").alias("n_occ"), F.min("doc_id").alias("first_doc_id")
    )
    agged = (
        occ.join(stats, "para_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias(
                "n_dup_paras"
            ),
            F.sum(
                F.when(
                    (F.col("n_occ") > 1)
                    & (F.col("first_doc_id") == F.col("doc_id")),
                    1,
                ).otherwise(0)
            ).alias("n_owned_dups"),
        )
    )
    return agged.select(
        "doc_id",
        "n_paras",
        "n_dup_paras",
        "n_owned_dups",
        F.round(
            F.col("n_dup_paras").cast("double") / F.col("n_paras"), 4
        ).alias("dup_para_frac"),
        (F.lit(2) * F.col("n_dup_paras") <= F.col("n_paras")).alias("keep"),
    )


# The banded-minhash table over the whole documents corpus — THE shared
# near-dup index artifact (what sinks.write_minhash_index persists to
# disk). Banding is per-document-deterministic, so every consumer that
# needs bands for any SUBSET of the corpus (the LSH self-join, the
# old/new bipartite split) filters this one table instead of re-running
# the shingle→minhash→band pipeline per query. Memoized per (session,
# dataset) like _knn_assignment; at 100 TB this is a parquet artifact
# next to the corpus, not a recompute.
@memo.dataset
def _banded_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return materialize_small(banded_minhash(d, "doc_id", "text"))


# The verified (pair, jaccard) table is the near-dup index artifact a
# production pipeline builds once and consumes many times; four queries
# consume it here (fuzzy threshold, unthresholded jaccard, clusters,
# survivors), so it is memoized per (session, dataset) like _cc_labels.
@memo.dataset
def _minhash_candidates_with_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared MinHash-LSH pipeline: shingle → 16 minhashes (one xxhash64
    per shingle + affine permutations) → 8 bands → bucket-local pair
    expansion → exact-Jaccard verification of the (tiny) candidate set.

    The candidate pair table is broadcast for the verify joins, so the
    documents table is scanned, not shuffled, in that phase. The final
    DataFrame is memoized LAZY: its expensive inputs (banding → pairs,
    candidate shingles) are already checkpoint-pinned, so a warm call
    re-runs only the cheap broadcast verify joins — while the returned
    plan keeps the live join structure the plan-shape tests inspect.
    """
    d = load_table(spark, sf_dir, "documents")
    banded = _banded_documents(spark, sf_dir)
    # The candidate table is tiny but feeds three differently-keyed
    # broadcasts (semi id_a, semi id_b, final join) — materialize_small
    # truncates the lineage so the LSH banding pipeline runs exactly
    # once instead of once per broadcast mode (reliable checkpoint dir
    # when configured, else localCheckpoint).
    pairs = broadcast(materialize_small(lsh_candidate_pairs(banded, "doc_id")))
    # Shingle only the candidate docs, and each candidate ONCE: explode
    # the pair table into its distinct ids, left-semi-prune the corpus
    # against that broadcast, compute shingles for the union, and pin
    # the (small) result. The per-side joins then reuse one shingle
    # table instead of re-shingling per side — at 100 TB the verify
    # phase computes |candidates| shingle sets, not 2×, and touches
    # |candidates| docs, not |corpus|.
    ids = pairs.select(F.explode(F.array("id_a", "id_b")).alias("doc_id")).distinct()
    cand = d.join(broadcast(ids), "doc_id", "left_semi")
    sh = broadcast(
        materialize_small(
            shingle_pipeline(cand, "doc_id", "text").select("doc_id", "shingles")
        )
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"),
        )
    )


CONTAINMENT_MIN = 0.5


@memo.dataset
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    C(A→B) = |A∩B| / |A| next to the symmetric Jaccard — the signal
    that catches quotation/inclusion pairs (a short doc embedded
    verbatim in a long one) that Jaccard structurally misses (the
    union in its denominator is dominated by the long side). Reported
    for every LSH candidate pair whose max containment clears
    CONTAINMENT_MIN, with both directions and the Jaccard for
    contrast — the Broder containment companion to
    ``dedup_fuzzy_minhash``.

    Scale shape: identical to the Jaccard verify — the same memoized
    banding → candidate pairs (broadcast), shingles computed once for
    candidate docs only; the three set sizes come from one
    array_intersect per pair. Memoized per (session, dataset) like
    the pair table itself."""
    d = load_table(spark, sf_dir, "documents")
    banded = _banded_documents(spark, sf_dir)
    pairs = broadcast(
        materialize_small(lsh_candidate_pairs(banded, "doc_id"))
    )
    ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    cand = d.join(broadcast(ids), "doc_id", "left_semi")
    sh = broadcast(
        materialize_small(
            shingle_pipeline(cand, "doc_id", "text").select(
                "doc_id", "shingles"
            )
        )
    )
    a = sh.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias(
                "jaccard"
            ),
            F.round(inter / F.size("sh_a"), 4).alias("containment_a"),
            F.round(inter / F.size("sh_b"), 4).alias("containment_b"),
        )
        .withColumn(
            "max_containment",
            F.greatest("containment_a", "containment_b"),
        )
        .filter(F.col("max_containment") >= CONTAINMENT_MIN)
    )


def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact Jaccard ≥ 0.5.

    Oracle is the brute-force all-pairs Jaccard — the match verifies the
    LSH path end-to-end (recall AND precision) at test scale, not just
    the verify arithmetic."""
    return _minhash_candidates_with_jaccard(spark, sf_dir).filter(
        F.col("jaccard") >= 0.5
    )


# The bipartite incremental-dedup results are memoized: the verify
# stage pins two small intermediates eagerly (materialize_small), so
# without the memo every query BUILD would re-run those jobs — the
# zero-jobs-at-build guard (tests/test_build_guard.py) pins warm builds
# to zero jobs.
@memo.dataset
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) near-dedup: which NEW docs near-match a
    doc already in the index? The ingestion-time shape every growing
    corpus needs — new batch vs existing index, NOT the self-join.

    Scale shape: the index side's band keys are computed once at index
    build and persisted (here: the shared in-session banded-corpus
    artifact; ``dedup_incremental_indexed`` is the on-disk-artifact
    form); the join is bipartite on band_key, so work is
    Σ |new_bucket|·|old_bucket|, never |new|·|old|; candidate pairs are
    verified with exact Jaccard on shingles computed once per candidate
    doc (left-semi prune, same as the self-join path). Old/new split is
    doc_id parity — a stand-in for the batch boundary.

    Degenerate band keys (boilerplate shingles landing thousands of docs
    in one bucket) are dropped on BOTH sides before the join — the same
    MAX_BUCKET hygiene lsh_candidate_pairs applies to the self-join;
    without it one hot key makes the bipartite join quadratic. At scale
    the index side's key counts are precomputed index statistics, not a
    per-batch aggregate.

    Oracle: brute-force cross-corpus all-pairs Jaccard — a match proves
    the bipartite LSH (including the cap) loses nothing at test scale."""
    from .similarity import MAX_BUCKET

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # banding commutes with the old/new split (it is per-document), so
    # both sides filter the shared banded-corpus artifact instead of
    # re-running the minhash pipeline twice
    bands = _banded_documents(spark, sf_dir)
    b_old = bands.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("old_id"), "band_key"
    )
    b_new = bands.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("new_id"), "band_key"
    )
    ok_old = (
        b_old.groupBy("band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= MAX_BUCKET)
        .select("band_key")
    )
    return _bipartite_verify(d, _bipartite_candidates(b_new, b_old, ok_old))


def _bipartite_candidates(
    b_new: DataFrame, b_old: DataFrame, ok_old: DataFrame
) -> DataFrame:
    """Distinct (new_id, old_id) LSH candidates from a bipartite band-key
    join, with mega-bucket hygiene on both sides. ``ok_old`` is the set
    of index-side band keys already known to be under MAX_BUCKET — an
    aggregate here (self-contained path) or precomputed index statistics
    (``dedup_incremental_indexed``); the NEW side's keys are always
    counted per batch, which is cheap because a batch is small. Kept
    lazy so plan tests can inspect the aggregate structure."""
    from .similarity import MAX_BUCKET

    ok_new = (
        b_new.groupBy("band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= MAX_BUCKET)
        .select("band_key")
    )
    b_old = b_old.join(ok_old, "band_key", "left_semi")
    b_new = b_new.join(ok_new, "band_key", "left_semi")
    return (
        b_new.join(b_old, "band_key")
        # self-pair guard: the sides are disjoint in the batch queries,
        # but a streaming replay can momentarily see its own docs on the
        # index side; a doc must never near-dup-match itself.
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id")
        .distinct()
    )


def _bipartite_verify(d: DataFrame, cand_lazy: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of bipartite candidates: pin the (tiny)
    candidate table, shingle each distinct candidate doc once via a
    left-semi prune of the corpus, and broadcast-join the two sides."""
    cand = broadcast(materialize_small(cand_lazy))
    ids = cand.select(
        F.explode(F.array("new_id", "old_id")).alias("doc_id")
    ).distinct()
    sh = broadcast(
        materialize_small(
            shingle_pipeline(d.join(broadcast(ids), "doc_id", "left_semi"), "doc_id", "text")
        )
    )
    a = sh.select(F.col("doc_id").alias("new_id"), F.col("shingles").alias("sh_n"))
    b = sh.select(F.col("doc_id").alias("old_id"), F.col("shingles").alias("sh_o"))
    return (
        cand.join(a, "new_id")
        .join(b, "old_id")
        .select(
            "new_id",
            "old_id",
            F.round(jaccard(F.col("sh_n"), F.col("sh_o")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# The on-disk minhash index artifact for the even-doc_id "already
# ingested" half. Built once per session like a real index build job;
# every later batch reads it.
@memo.dataset
def _minhash_index_dir(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    from ..sinks import write_minhash_index

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = tempfile.mkdtemp(prefix="fkr_minhash_index_")
    # session-lifetime artifact, process-lifetime cleanup: without this,
    # every (session, dataset) pair leaves an orphaned index dir in /tmp
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    write_minhash_index(d.filter(F.col("doc_id") % 2 == 0), out)
    return out


@memo.dataset
def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental`` against a PERSISTED index artifact — the
    shape a production ingestion pipeline actually runs batch after
    batch. The index side's band table and its band-key statistics come
    from ``sinks.write_minhash_index`` (built once per session here, at
    index-build time in production); per-batch work therefore runs ZERO
    aggregation over the index: hot-band hygiene for the old side is a
    pushed ``n <= MAX_BUCKET`` filter on the tiny stats parquet
    (test_round5_invariants pins one count-aggregate total — the new
    batch's own — and the pushed filter), and the index participates
    only through the bipartite band_key equi-join plus the candidate
    text fetch. Results are identical to ``dedup_incremental`` (same
    oracle SQL; equality also pytest-pinned)."""
    from .similarity import MAX_BUCKET
    from ..sinks import read_minhash_index

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = d.filter(F.col("doc_id") % 2 == 1)
    bands_old, stats_old = read_minhash_index(
        spark, _minhash_index_dir(spark, sf_dir)
    )
    b_old = bands_old.select(F.col("doc_id").alias("old_id"), "band_key")
    ok_old = stats_old.filter(F.col("n") <= MAX_BUCKET).select("band_key")
    b_new = banded_minhash(new, "doc_id", "text").select(
        F.col("doc_id").alias("new_id"), "band_key"
    )
    return _bipartite_verify(d, _bipartite_candidates(b_new, b_old, ok_old))


# deterministic content-hash split: buckets 0-97 train, 98 val, 99 test
SPLIT_BUCKETS = 100


def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment from a content-stable
    hash of the doc id — reproducible across runs and engines, immune to
    row order and partitioning, and stable as the corpus grows (a doc
    never migrates between splits). Map-side only: scan-speed at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.expr("conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)")
        .cast("bigint")
        % SPLIT_BUCKETS
    )
    staged = d.select("doc_id", "lang", bucket.alias("bucket"))
    return staged.select(
        "doc_id",
        "lang",
        F.col("bucket").cast("int").alias("bucket"),
        F.when(F.col("bucket") < 98, "train")
        .when(F.col("bucket") == 98, "val")
        .otherwise("test")
        .alias("split"),
    )


CC_MAX_ITERS = 10


def cc_label_propagation(pairs: DataFrame, max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Distributed min-label propagation over an undirected pair graph.

    ``pairs`` has columns (doc_a, doc_b). Every node starts labeled with
    itself; each round, a node adopts the min label among itself and
    its neighbors (edges both directions → one join + one min-agg per
    round); the driver polls a scalar changed-count and stops at the
    fixed point. Convergence takes O(component diameter) rounds; each
    round's label table is pinned (materialize_small) so lineage stays
    flat. Exhausting ``max_iters`` while labels are still moving RAISES
    — at scale a silent exit here keeps wrong clusters and the dedup
    stage deletes the wrong documents, so non-convergence must be loud."""
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    edges = materialize_small(
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ).distinct()
    )
    labels = edges.select(F.col("doc_a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges.doc_a == labels.node)
            .groupBy(F.col("doc_b").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
                (F.col("nmin") < F.col("label")).alias("chg"),
            )
        )
        new_labels = materialize_small(new_labels)
        changed = new_labels.filter(F.col("chg")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected-components did not converge within {max_iters} rounds "
            f"({changed} labels still changing): a component's diameter exceeds "
            "the iteration bound — raise max_iters (silently keeping these "
            "labels would cluster, and delete, the wrong documents)"
        )
    return labels


def cc_label_propagation_compressed(
    pairs: DataFrame, max_iters: int = CC_MAX_ITERS
) -> DataFrame:
    """Min-label propagation WITH path compression (pointer doubling) —
    the 100 TB path VERDICT r6 task 6 ordered for the driver-coordinated
    CC loop: plain propagation needs O(component diameter) rounds (a
    100-link near-dup chain = 100 shuffles), while adding one
    label-of-label join per round shortcuts chains exponentially, so the
    fixed point arrives in O(log diameter) rounds — the standard
    hash-to-min / pointer-doubling recipe from the MapReduce CC
    literature (Kiveris et al.'s star operations share the same bound).

    Per round: (1) the same neighborhood-min join+agg as
    :func:`cc_label_propagation`; (2) compression — each node also
    adopts its (updated) label's label via one equi-join of the label
    table with itself. Both steps only ever LOWER labels toward node
    ids already in the table, so the fixed points are identical to
    plain propagation's (labels = component minima) — pinned by a
    same-labels pytest. The driver still polls one scalar changed-count
    per round (inherent to any driver-coordinated loop), but now pays
    it log(d) times, not d."""
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    edges = materialize_small(
        pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        ).distinct()
    )
    labels = (
        edges.select(F.col("doc_a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges.doc_a == labels.node)
            .groupBy(F.col("doc_b").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        l1 = labels.join(neigh, "node", "left").select(
            "node",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias(
                "label"
            ),
        )
        parent = l1.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        l2 = l1.join(parent, l1["label"] == parent["p_node"], "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("p_label", F.col("label"))
            ).alias("label"),
            (
                F.least(F.col("label"), F.coalesce("p_label", F.col("label")))
                < F.col("old")
            ).alias("chg"),
        )
        new_labels = materialize_small(l2)
        changed = new_labels.filter(F.col("chg")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected-components did not converge within {max_iters} rounds "
            f"({changed} labels still changing) even with path compression — "
            "raise max_iters (silently keeping these labels would cluster, "
            "and delete, the wrong documents)"
        )
    return labels


# labels are deterministic per (session, data dir); memoize like the
# quantizer models so dedup_survivors reuses the labels dedup_cluster_cc
# already computed instead of re-running the whole LSH+CC pipeline —
# the two queries were the most expensive pair in the correctness gate.
@memo.dataset
def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_fuzzy_minhash(spark, sf_dir).select("doc_a", "doc_b")
    # materialize: the fixed-point labels are final data, not a lazy
    # plan — pinning them makes every downstream reuse O(|labels|).
    # The compressed variant is the production path (log-diameter
    # rounds); fixed points are identical to plain propagation's.
    return materialize_small(cc_label_propagation_compressed(pairs))


def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph: the step that
    turns dedup PAIRS into dedup CLUSTERS, so a canonical survivor
    (min doc_id per component) can be kept and the rest dropped — the
    actual deletion decision of a dedup pipeline.

    Propagation mechanics + convergence guard: cc_label_propagation.
    Only docs that appear in some pair participate — singletons are
    trivially their own cluster and would dominate the output without
    adding signal.

    The oracle recomputes components via a recursive CTE over the
    BRUTE-FORCE pair graph, so a match re-verifies LSH recall AND the
    propagation fixed point (integer labels: no float parity risk)."""
    return _cc_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final verdict: per near-dup cluster, the
    canonical survivor (min doc_id) and how many docs it replaces —
    what actually gets kept vs dropped. Pure aggregation over the
    (memoized) connected-components labels; integer-only output."""
    cc = dedup_cluster_cc(spark, sf_dir)
    return cc.groupBy("cluster_id").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_members"),
        F.sum(F.when(F.col("doc_id") != F.col("cluster_id"), 1).otherwise(0)).alias(
            "n_dropped"
        ),
    )


# damped PageRank over the near-dup graph: iteration count and damping
# are fixed so the oracle can replay the exact unrolled iterations
PR_ITERS = 3
_PR_D = "CAST('0.85' AS DOUBLE)"


def dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality over the near-dup pair graph: PR_ITERS damped
    PageRank rounds on the LSH near-dup edges — the iterative-graph
    workload pattern (the CC queries cover reachability; this covers
    weighted propagation). Curation use: survivor selection by
    CENTRALITY instead of min-id — the most-connected duplicate is the
    best canonical representative of its near-dup cluster (least
    likely to be a truncated/mangled variant).

    Parity: every rank update is floor-quantized to 1e-6 (the k-means
    pattern) so Spark's partial-sum order and DuckDB's cannot drift;
    damping constants enter as string-cast doubles in BOTH engines
    (a bare 0.85 would parse as DECIMAL). Undirected graph → every
    node has deg >= 1 and an in-edge, so there is no dangling-mass
    term to model.

    Scale shape: per iteration one src-keyed join of the (tiny) rank
    table into the edge list and one dst-keyed sum — the standard
    Pregel-style message pass as two exchanges per round over edge
    data only; the corpus is never rescanned (the pair table is the
    shared memoized LSH artifact). The rank table is CHECKPOINTED
    every round (materialize_small) — the non-negotiable move of every
    iterative DataFrame algorithm: unmaterialized, round N's lineage
    re-executes rounds 1..N-1 and the edge build N times over. The
    final table is memoized per (session, dataset) like the CC
    labels."""
    return _pagerank_ranks(spark, sf_dir).select(
        "doc_id", F.col("pr").alias("pagerank")
    )


# final rank table memoized per (session, dataset) — the iterative loop
# materializes each round (unmaterialized, round N's lineage re-runs
# rounds 1..N-1 and the edge build N times over), so like _cc_labels
# the first build pays the jobs and later builds are free
@memo.dataset
def _pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _minhash_candidates_with_jaccard(spark, sf_dir).filter(
        F.col("jaccard") >= 0.5
    )
    edges = materialize_small(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionAll(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
    )
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    n1 = nodes.agg(F.count("*").alias("n"))
    pr = nodes.crossJoin(broadcast(n1)).select(
        "doc_id",
        "n",
        F.expr(f"floor(1.0D / n * {_Q6}) / {_Q6}").alias("pr"),
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(
                pr.select(F.col("doc_id").alias("src"), "pr"), "src"
            )
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.expr("sum(pr / deg)").alias("c"))
        )
        pr = materialize_small(
            pr.select("doc_id", "n")
            .join(
                contrib.withColumnRenamed("dst", "doc_id"),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                "n",
                F.expr(
                    f"floor(((1.0D - {_PR_D}) / n + {_PR_D} * "
                    f"coalesce(c, 0.0D)) * {_Q6}) / {_Q6}"
                ).alias("pr"),
            )
        )
    return pr


def _duck_pagerank_ctes() -> str:
    """The shared PageRank CTE chain (brute-force near-dup edges + the
    identical quantized iterations unrolled, ending at pr{PR_ITERS}) —
    reused by the pagerank oracle and the centrality-survivor oracle.
    Declared RECURSIVE so composers can append recursive CTEs."""
    head = r"""
        WITH RECURSIVE t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
            FROM t
        ),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
        ),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM p
              UNION ALL SELECT doc_b, doc_a FROM p),
        nodes AS (SELECT DISTINCT src AS doc_id FROM e),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        pr0 AS (
            SELECT doc_id,
                   FLOOR(CAST('1.0' AS DOUBLE) / n * 1000000.0) / 1000000.0 AS pr
            FROM nodes CROSS JOIN nn
        )"""
    blocks = []
    for i in range(1, PR_ITERS + 1):
        blocks.append(f""",
        c{i} AS (
            SELECT dst, SUM(pr / deg) AS c
            FROM e JOIN pr{i - 1} ON pr{i - 1}.doc_id = e.src
                   JOIN deg ON deg.src = e.src
            GROUP BY dst
        ),
        pr{i} AS (
            SELECT nodes.doc_id,
                   FLOOR(((CAST('1.0' AS DOUBLE) - {_PR_D}) / n + {_PR_D} *
                          COALESCE(c, CAST('0.0' AS DOUBLE))) * 1000000.0)
                       / 1000000.0 AS pr
            FROM nodes CROSS JOIN nn
            LEFT JOIN c{i} ON c{i}.dst = nodes.doc_id
        )""")
    return head + "".join(blocks)


def _duck_pagerank() -> str:
    return (
        _duck_pagerank_ctes()
        + f"\n        SELECT doc_id, pr AS pagerank FROM pr{PR_ITERS}"
    )


def _duck_centrality_survivors() -> str:
    """Centrality-survivor oracle: the PageRank chain + the CC
    reachability closure over the SAME edge list, joined and ranked
    with the identical (pr DESC, doc_id ASC) tie-break."""
    return (
        _duck_pagerank_ctes()
        + f""",
        reach(node, r) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node
        ),
        lab AS (SELECT node AS doc_id, MIN(r) AS cluster_id
                FROM reach GROUP BY node),
        j AS (
            SELECT lab.cluster_id, lab.doc_id, pr{PR_ITERS}.pr
            FROM lab JOIN pr{PR_ITERS} USING (doc_id)
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY cluster_id
                       ORDER BY pr DESC, doc_id ASC) AS rn,
                   COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
            FROM j
        )
        SELECT cluster_id, doc_id AS keep_doc_id, pr AS keep_pagerank,
               CAST(n_members AS BIGINT) AS n_members
        FROM ranked WHERE rn = 1"""
    )


def dedup_survivors_by_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph family composed into the curation decision: per
    near-dup CLUSTER (connected components), keep the MOST CENTRAL
    member (max PageRank, ties → min doc_id) — the upgrade over
    ``dedup_survivors``' min-id rule: the best-connected duplicate is
    the representative least likely to be a truncated or mangled
    variant of the cluster's content. Output: (cluster_id,
    keep_doc_id, keep_pagerank, n_members).

    Pure composition of two memoized artifacts (CC labels + the rank
    table) — a cluster-keyed window over their (tiny) join; the corpus
    and the pair graph are not touched again. Oracle replays both the
    reachability closure and the quantized rank iterations over the
    same brute-force edges, so a match re-verifies CC, PageRank, and
    the tie-break in one row set."""
    from pyspark.sql import Window

    cc = dedup_cluster_cc(spark, sf_dir)
    pr = dedup_graph_pagerank(spark, sf_dir)
    j = cc.join(pr, "doc_id")
    w = Window.partitionBy("cluster_id")
    wr = w.orderBy(F.col("pagerank").desc(), F.col("doc_id").asc())
    return (
        j.withColumn("rn", F.row_number().over(wr))
        .withColumn("n_members", F.count("*").over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("pagerank").alias("keep_pagerank"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


def dedup_family_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup dashboard (round 8): how many items each rung of the
    dedup ladder would DROP, as one report — the number a curation run
    reviews before executing deletions (the dedup analog of
    ``knn_recall_family``'s measured ladder):

    - ``exact``: non-canonical copies under md5 content hashing
      (Σ n_copies − 1);
    - ``paragraph``: documents dropped for majority-duplicated
      sub-document content;
    - ``minhash_cc``: documents dropped by near-dup clustering
      (Σ n_dropped over the CC survivor report);
    - ``semantic``: vectors dropped by SemDeDup cluster survivorship.

    Every input is an already-verified (and memoized) family member —
    the report is four tiny aggregates unioned; the oracle nests each
    method's full oracle SQL and re-aggregates identically, so a match
    re-verifies the whole ladder end-to-end in one row set."""
    exact = dedup_exact_docs(spark, sf_dir).agg(
        F.sum(F.col("n_copies") - 1).cast("bigint").alias("n_flagged")
    )
    para = dedup_paragraph_exact(spark, sf_dir).filter(
        ~F.col("keep")
    ).agg(F.count("*").cast("bigint").alias("n_flagged"))
    mh = dedup_survivors(spark, sf_dir).agg(
        F.sum("n_dropped").cast("bigint").alias("n_flagged")
    )
    sem = dedup_semantic_clusters(spark, sf_dir).filter(
        ~F.col("keep")
    ).agg(F.count("*").cast("bigint").alias("n_flagged"))
    parts = [
        ("exact", exact),
        ("paragraph", para),
        ("minhash_cc", mh),
        ("semantic", sem),
    ]
    out = None
    for method, df in parts:
        row = df.select(
            F.lit(method).alias("method"), F.col("n_flagged")
        )
        out = row if out is None else out.unionByName(row)
    return out


def corpus_apply_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ladder EXECUTED (round 9): the per-document decision
    matrix that turns the family's four verdicts into one keep/drop
    column — the row set ``sinks.apply_dedup_corpus`` materializes into
    the surviving corpus (reference parity: the reference ships a
    deployable end-to-end job, FlinkKafkaReplicator.java:126-134, not a
    report; this is the dedup counterpart):

    - ``keep_exact``: the doc is the canonical (min doc_id) owner of
      its md5 content-hash group (``dedup_exact_docs``);
    - ``keep_paragraph``: not majority-duplicated sub-document content
      (``dedup_paragraph_exact``; docs with no scorable paragraphs keep
      by default);
    - ``keep_minhash``: not in a near-dup cluster, or the cluster's
      most-central member (``dedup_survivors_by_centrality`` — the
      PageRank upgrade over min-id survivorship);
    - ``keep_semantic``: SemDeDup cluster survivor for the doc's
      embedding (``dedup_semantic_clusters``; doc_id == vec_id by the
      fixture's alignment contract, docs without a vector keep);
    - ``keep``: the conjunction — survives every rung.

    Scale shape: one content-hash equi-join (uniform md5 key), two
    corpus-sized doc_id equi-joins (paragraph verdicts, semantic
    verdicts), and two joins against tiny memoized artifacts (CC
    labels, centrality survivors) that Spark broadcasts — no new
    exchange pattern beyond the family members' own plans, all of
    which are individually driver-green. The oracle nests each rung's
    full oracle SQL, so one green row re-verifies the ladder AND its
    composition."""
    return dedup_decision_matrix(spark, sf_dir)


DEDUP_RUNGS = ("exact", "paragraph", "minhash", "semantic")


def dedup_decision_matrix(
    spark: SparkSession,
    sf_dir: str,
    rungs: tuple[str, ...] = DEDUP_RUNGS,
) -> DataFrame:
    """The composable core of :func:`corpus_apply_dedup`: joins only
    the REQUESTED rungs' verdicts (so a corpus without an embeddings
    table can run the text rungs without touching vectors) and emits
    one ``keep_<rung>`` column per requested rung plus the ``keep``
    conjunction. The registry query is the all-rungs instantiation."""
    bad = [r for r in rungs if r not in DEDUP_RUNGS]
    if bad:
        raise ValueError(f"unknown dedup rungs {bad}; valid: {DEDUP_RUNGS}")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    j = d.withColumn("content_hash", F.md5("text"))
    keeps: dict[str, Column] = {}
    if "exact" in rungs:
        ex = dedup_exact_docs(spark, sf_dir).select(
            F.col("content_hash").alias("__ex_hash"),
            F.col("keep_doc_id").alias("__exact_keep_id"),
        )
        # NULL-SAFE equi-join: md5(NULL text) is NULL, and the NULL-hash
        # docs form one exact-dup group in both engines' group-bys — a
        # plain inner join would silently drop them from the decision
        # matrix instead of deciding them (the matrix must rule on
        # EVERY doc; tests/adversarial_sweep.py pins the row count)
        j = j.join(
            ex, F.col("content_hash").eqNullSafe(F.col("__ex_hash"))
        ).drop("__ex_hash")
        keeps["exact"] = F.col("doc_id") == F.col("__exact_keep_id")
    if "paragraph" in rungs:
        para = dedup_paragraph_exact(spark, sf_dir).select(
            "doc_id", F.col("keep").alias("__keep_para")
        )
        j = j.join(para, "doc_id", "left")
        keeps["paragraph"] = F.coalesce(F.col("__keep_para"), F.lit(True))
    if "minhash" in rungs:
        cc = dedup_cluster_cc(spark, sf_dir)
        cen = dedup_survivors_by_centrality(spark, sf_dir).select(
            "cluster_id", F.col("keep_doc_id").alias("__cen_keep_id")
        )
        j = j.join(broadcast(cc), "doc_id", "left").join(
            broadcast(cen), "cluster_id", "left"
        )
        keeps["minhash"] = F.col("cluster_id").isNull() | (
            F.col("doc_id") == F.col("__cen_keep_id")
        )
    if "semantic" in rungs:
        sem = dedup_semantic_clusters(spark, sf_dir).select(
            F.col("vec_id").alias("doc_id"), F.col("keep").alias("__keep_sem")
        )
        j = j.join(sem, "doc_id", "left")
        keeps["semantic"] = F.coalesce(F.col("__keep_sem"), F.lit(True))
    keep_all = F.lit(True)
    for c in keeps.values():
        keep_all = keep_all & c
    return j.select(
        "doc_id",
        *[c.alias(f"keep_{r}") for r, c in keeps.items()],
        keep_all.alias("keep"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signature, 4×16-bit band blocking,
    hamming distance ≤ 8 verification.

    Signatures use the portable md5-half token hash (round 9 — formerly
    xxhash64, which made this id rows-only), so the DuckDB oracle
    replays the WHOLE pipeline bit-exactly: hashes, majority votes,
    band keys, MAX_BUCKET hygiene, hamming filter."""
    d = load_table(spark, sf_dir, "documents")
    sims = simhash_table(d, "doc_id", "text")
    banded = sims.select(
        "doc_id", "sim", F.explode(simhash_bands(F.col("sim"))).alias("band_key")
    )
    # hamming filter runs pre-distinct (it commutes with dedup and cuts
    # the distinct's shuffle input from all candidates to survivors)
    pairs = lsh_candidate_pairs_payload(
        banded,
        "doc_id",
        "sim",
        pair_filter=lambda df: df.filter(
            hamming64(F.col("p_a"), F.col("p_b")) <= 8
        ),
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        hamming64(F.col("p_a"), F.col("p_b")).cast("int").alias("hamming"),
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All MinHash-LSH candidate pairs with their exact n-gram Jaccard
    (the scale-correct composition: LSH prunes |df|² → candidate set,
    exact Jaccard verifies). Unthresholded variant of
    dedup_fuzzy_minhash."""
    return _minhash_candidates_with_jaccard(spark, sf_dir)


N_MINHASHES = len(_MINHASH_PARAMS)

# The pinned candidate-doc signature table — memoized so only the
# FIRST build runs the eager pin (the zero-jobs-at-build guard's
# allowlist contract)
@memo.dataset
def _candidate_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _minhash_candidates_with_jaccard(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    ids = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    cand = d.join(broadcast(ids), "doc_id", "left_semi")
    return broadcast(
        materialize_small(minhash_signature_table(cand, "doc_id", "text"))
    )


def dedup_minhash_jaccard_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch calibration for the MinHash machinery: for every LSH
    candidate pair, the Jaccard ESTIMATE the 16-slot signature implies
    (matching slots / 16 — the MinHash collision-probability theorem)
    next to the exact shingle Jaccard and the signed estimation error.
    The calibration-row pattern ``agg_linear_count_distinct``
    established, applied to the dedup sketch: one green row proves the
    signature arithmetic, the banding, AND the estimator's bias are
    all exactly what the theory says, engine-independently.

    Scale: the signature table is computed only for candidate docs
    (left-semi pruned via the broadcast pair table — |candidates|
    rows, not |corpus|); slot agreement is a 16-element zip per pair.
    At 100 TB this doubles as the monitoring query that detects a
    drifted/corrupted persisted signature index: error quantiles
    shifting from the expected ±1/16 lattice mean the index no longer
    matches its corpus."""
    pairs = _minhash_candidates_with_jaccard(spark, sf_dir)
    sig = _candidate_signatures(spark, sf_dir)
    a = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("__sig").alias("sig_a")
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("__sig").alias("sig_b")
    )
    matches = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))"
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            matches.cast("int").alias("n_slot_matches"),
            F.round(
                matches.cast("double") / F.lit(float(N_MINHASHES)), 4
            ).alias("jaccard_est"),
            F.col("jaccard").alias("jaccard_exact"),
            F.round(
                matches.cast("double") / F.lit(float(N_MINHASHES))
                - F.col("jaccard"),
                4,
            ).alias("est_error"),
        )
    )


def dedup_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup graph (pairs with exact
    Jaccard ≥ 0.5, both endpoints counted): how many docs have 1, 2,
    … near-duplicates — the observability row a dedup operator reads
    before executing deletions (a fat tail here means boilerplate is
    about to collapse whole sources into one survivor; a spike at
    degree |cluster|−1 means clique-shaped template families).

    Composition over the memoized pair table: explode each pair into
    its two endpoints, count per doc, histogram the counts — two tiny
    aggregates over the candidate-pair artifact, nothing corpus-sized.
    """
    pairs = _minhash_candidates_with_jaccard(spark, sf_dir).filter(
        F.col("jaccard") >= 0.5
    )
    deg = (
        pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


def _hyperplane_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", as_double(F.col("embedding")).alias("vec"))


# The hyperplane-LSH candidate-pair table, memoized per (session,
# dataset): the eager pin otherwise re-runs at every BUILD (zero-jobs-
# at-build guard)
@memo.dataset
def _embedding_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucketed = _hyperplane_vectors(spark, sf_dir).select(
        "vec_id", hyperplane_bucket(F.col("vec")).alias("band_key")
    )
    return broadcast(
        materialize_small(lsh_candidate_pairs(bucketed, "vec_id"))
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH buckets + exact cosine
    verification (≥ 0.9) within buckets.

    Oracle is the brute-force all-pairs cosine — verifies bucketing
    introduces no false positives/negatives at test scale."""
    v = _hyperplane_vectors(spark, sf_dir)
    pairs = _embedding_candidate_pairs(spark, sf_dir)
    # Same candidate-prune-before-verify shape as the minhash path.
    v_a = v.join(pairs, v.vec_id == pairs.id_a, "left_semi")
    v_b = v.join(pairs, v.vec_id == pairs.id_b, "left_semi")
    a = v_a.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("vec_a"))
    b = v_b.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos_sim", F.round(cosine(F.col("vec_a"), F.col("vec_b")), 4))
        .filter(F.col("cos_sim") >= 0.9)
        .select(F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"), "cos_sim")
    )


# SemDeDup cosine threshold — fixture-calibrated: the synthetic
# embeddings carry no planted near-dup structure (max in-cell cosine
# ≈0.49), so the production-typical τ≈0.9 would make the component
# graph empty and the oracle trivially green; 0.42 sits at the ≈99.9th
# in-cell percentile, giving a small non-trivial graph (4/6/91 pairs at
# sf 0.001/0.01/0.1) that actually exercises clustering + survivor
# selection. A real deployment raises τ; the plan is unchanged.
SEMDEDUP_TAU = 0.42

# semantic CC labels memoized per (session, dataset) — the propagation
# loop is driver-coordinated (like _cc_labels), first build only
@memo.dataset
def _semantic_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        _knn_incell_half(spark, sf_dir)
        .filter(F.col("cos_sim") >= SEMDEDUP_TAU)
        .select(F.col("qid").alias("doc_a"), F.col("nid").alias("doc_b"))
    )
    return materialize_small(cc_label_propagation_compressed(pairs))


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup in
    embedding space — cluster the corpus (the IVF cell assignment IS the
    k-means clustering), score exact cosine only WITHIN cells (the
    pruning that makes the quadratic pair scan Σ|cell|², never |V|²),
    threshold at SEMDEDUP_TAU, run connected components over the
    semantic near-dup graph (the pointer-doubling CC — log-diameter
    rounds), and keep one canonical survivor (min vec_id) per semantic
    group. Output: every vector with its semantic cluster id and the
    keep decision — the row-level deletion list the curation pipeline
    executes. Completes the dedup family's semantic rung: exact (md5),
    fuzzy (MinHash), sub-document (paragraph), embedding-pairs
    (hyperplane LSH), and now cluster-scoped semantic groups.

    Scope note vs dedup_embedding_cosine: that query verifies LSH
    bucketing against ALL pairs; this one deliberately restricts
    near-dup search to the IVF cell — SemDeDup's own design, where
    cross-cluster near-dups are accepted misses, the price of linear
    scaling.

    Plan: the in-cell pair artifact is the SAME materialized half-pair
    table every knn query shares (zero recompute); CC runs on the tiny
    thresholded graph; the final join is labels (small) into the vector
    list. Oracle: brute-force in-cell pairs (replaying the assignment)
    + a recursive-CTE reachability closure — a match re-verifies the
    cell assignment, the threshold, and the CC fixed point with integer
    labels."""
    labels = _semantic_labels(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return (
        e.join(labels, e.vec_id == labels.node, "left")
        .select(
            "vec_id",
            F.coalesce("label", F.col("vec_id"))
            .cast("bigint")
            .alias("cluster_id"),
        )
        .select(
            "vec_id",
            "cluster_id",
            (F.col("vec_id") == F.col("cluster_id")).alias("keep"),
        )
    )


def contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark-decontamination screen: which TRAINING
    vectors are embedding-near-duplicates of a BENCHMARK vector — the
    embedding-space sibling of contamination_ngram (n-gram overlap
    catches verbatim leakage; cosine proximity catches paraphrased
    leakage, the modern eval-contamination concern). Split convention
    as in dedup_incremental: even vec_ids = training corpus, odd =
    benchmark.

    Plan: reuses the SAME materialized in-cell half-pair artifact as
    the knn family and SemDeDup (zero recompute) — candidates are
    cell-scoped (Σ|cell|², never |train|×|bench|), then parity-filtered
    to the bipartite subset and thresholded. Output: (train_id,
    benchmark_id, cos_sim) — the deletion list a decontamination pass
    executes against the training corpus.

    Oracle: assignment replay + brute-force bipartite in-cell pairs —
    a match re-verifies the cell scoping loses nothing vs the
    quadratic bipartite baseline at test scale."""
    pairs = _knn_incell_half(spark, sf_dir).filter(
        F.col("cos_sim") >= SEMDEDUP_TAU
    )
    bipartite = pairs.filter(
        (F.col("qid") % 2) != (F.col("nid") % 2)
    )
    return bipartite.select(
        F.when(F.col("qid") % 2 == 0, F.col("qid"))
        .otherwise(F.col("nid"))
        .cast("bigint")
        .alias("train_id"),
        F.when(F.col("qid") % 2 == 1, F.col("qid"))
        .otherwise(F.col("nid"))
        .cast("bigint")
        .alias("benchmark_id"),
        "cos_sim",
    )


# ------------------------------------------------------------- similarity


def sim_cosine_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity of every embedding against the fixed query vector
    — the oracle-checkable core of similarity search (no float ordering)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.round(cosine(as_double(F.col("embedding")), query_vec_col()), 4).alias(
            "cos_sim"
        ),
    )


def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 nearest to the query vector: the exact baseline.
    TakeOrderedAndProject keeps it a per-partition top-k at scale."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "vec_id",
            F.round(cosine(as_double(F.col("embedding")), query_vec_col()), 4).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


IVF_N_CENTROIDS = 16
IVF_N_PROBE = 4


def _sql_double(x: float) -> str:
    # string→double cast round-trips repr exactly and is constant-folded
    # at plan time (a bare decimal literal would parse as DECIMAL)
    return f"CAST('{x!r}' AS DOUBLE)"


def _fold_dot(a: list[float], b: list[float]) -> float:
    """Left-to-right fold, matching Spark's aggregate() HOF and DuckDB's
    list_dot_product, so driver-computed norms bit-match the oracle."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _ivf_model(
    spark: SparkSession, sf_dir: str, n_centroids: int | None = None
) -> tuple[list[tuple[int, list[float], float]], list[int]]:
    """The IVF coarse-quantizer model: (centroid_id, vector, l2-norm)
    plus the IVF_N_PROBE centroid ids nearest the query vector.

    The k-row collect is a bounded *model artifact* (like loading a
    trained quantizer), not a data-plane collect — at 100 TB the
    centroids come from a k-means fit and are still O(k·dim) bytes.
    Probe selection is pure driver arithmetic on those k vectors.

    ``n_centroids`` is THE scale dial (VERDICT r7): in-cell exact work
    grows as (N/k)^2, so a growing corpus scales k with N (k ~
    N/target_cell_size) to keep pair counts linear — the scale smoke
    pins this. Default is the engine constant the oracle replays."""
    k = n_centroids if n_centroids is not None else IVF_N_CENTROIDS
    return _ivf_fit(spark, sf_dir, k)


# quantizer models are deterministic per (session, data dir): memoize
# like load_table so repeated query construction (bench best-of-2, the
# correctness gate) doesn't refit — a real deployment loads the model
# artifact once, too.
@memo.dataset
def _ivf_fit(
    spark: SparkSession, sf_dir: str, k: int
) -> tuple[list[tuple[int, list[float], float]], list[int]]:
    import math

    e = load_table(spark, sf_dir, "embeddings")
    rows = (
        e.filter(F.col("vec_id") < k)
        .select("vec_id", as_double(F.col("embedding")).alias("cvec"))
        .collect()
    )
    cents = []
    for r in sorted(rows, key=lambda r: r["vec_id"]):
        cvec = [float(x) for x in r["cvec"]]
        cents.append((int(r["vec_id"]), cvec, math.sqrt(_fold_dot(cvec, cvec))))
    if not cents:
        # EMPTY store: one query-vector centroid keeps the dim (and
        # every dim-derived expression well-formed) while no vector can
        # ever assign to it — every read path degenerates to an empty
        # result instead of an IndexError at the model artifact. The
        # contract: an empty vector store SERVES empty, it doesn't
        # crash the serving job (tests/test_round13_invariants.py).
        cvec = [float(x) for x in QUERY_VEC]
        cents = [(0, cvec, math.sqrt(_fold_dot(cvec, cvec)))]
    qnorm = math.sqrt(_fold_dot(QUERY_VEC, QUERY_VEC))
    probes = sorted(
        cents,
        key=lambda c: (1.0 - _fold_dot(c[1], QUERY_VEC) / (c[2] * qnorm), c[0]),
    )[:IVF_N_PROBE]
    return cents, sorted(c[0] for c in probes)


def _sql_double_array(vals: list[float]) -> str:
    # constant-folded to one Literal(ArrayData) at plan time
    return f"array({', '.join(_sql_double(v) for v in vals)})"


def _dot_sums(
    cents: list[tuple[int, list[float], float]],
    include_query: bool,
    qvec: list[float] = QUERY_VEC,
) -> list:
    """Codegen'd SUM aggregates over a posexploded vector: one dot per
    centroid, the self-dot, and optionally the query dot. A group's 64
    exploded rows come from one input row, so each SUM accumulates in
    position order inside a single partial — the same left fold as
    DuckDB's list_dot_product."""
    x = "cast(x as double)"
    sums = [
        F.expr(f"sum({x} * element_at({_sql_double_array(cvec)}, pos + 1))").alias(
            f"dot_{cid}"
        )
        for cid, cvec, _ in cents
    ]
    sums.append(F.expr(f"sum({x} * {x})").alias("selfdot"))
    if include_query:
        sums.append(
            F.expr(
                f"sum({x} * element_at({_sql_double_array(qvec)}, pos + 1))"
            ).alias("dot_q")
        )
    return sums


def _dist_cols(cents: list[tuple[int, list[float], float]]) -> list:
    return [
        F.expr(f"1.0D - dot_{cid} / (sqrt(selfdot) * {_sql_double(cn)})").alias(
            f"d_{cid}"
        )
        for cid, _, cn in cents
    ]


def _argmin_case(cents: list[tuple[int, list[float], float]]) -> str:
    """Argmin over the d_<cid> columns via least()+CASE — the first
    equal WHEN in centroid order reproduces the oracle's
    (dist ASC, centroid_id ASC) tie-break, all in codegen. A 1-centroid
    model (the empty-store fallback) is a constant assignment — Spark's
    least() rejects a single argument."""
    if len(cents) == 1:
        return str(cents[0][0])
    m = f"least({', '.join(f'd_{cid}' for cid, _, _ in cents)})"
    return (
        "CASE "
        + " ".join(f"WHEN d_{cid} = {m} THEN {cid}" for cid, _, _ in cents)
        + " END"
    )


def _ivf_search(
    e: DataFrame,
    cents: list[tuple[int, list[float], float]],
    probe_ids: list[int],
    qvec: list[float] = QUERY_VEC,
) -> DataFrame:
    """Probe-pruned top-10 given a centroid model.

    Shape: posexplode the vector once and compute all centroid dot
    products + the self-dot + the query dot as codegen'd SUMs in one
    hash aggregate (the measured-fast pattern vs interpreted HOF
    folds); argmin via least()+CASE; cos_sim comes from the same
    aggregate row, so there is no join back to the data.

    Plan: Scan → Generate → partial HashAgg → ONE Exchange(vec_id) →
    final HashAgg → Project/Filter → TakeOrderedAndProject. No join,
    no window; the crossJoin(centroids)+row_number argmin this replaces
    shuffled 16× the data to sort it."""
    import math

    qnorm = math.sqrt(_fold_dot(qvec, qvec))
    agg = (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("vec_id")
        .agg(*_dot_sums(cents, include_query=True, qvec=qvec))
    )
    staged = agg.select(
        "vec_id",
        F.expr(f"round(dot_q / (sqrt(selfdot) * {_sql_double(qnorm)}), 4)").alias(
            "cos_sim"
        ),
        *_dist_cols(cents),
    )
    return (
        staged.filter(F.expr(_argmin_case(cents)).isin(probe_ids))
        .select("vec_id", "cos_sim")
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


def _probe_nearest(
    cents: list[tuple[int, list[float], float]],
    n_probe: int = IVF_N_PROBE,
    qvec: list[float] = QUERY_VEC,
) -> list[int]:
    """Probe selection: pure driver arithmetic on the tiny centroid set,
    same (dist ASC, cid ASC) ordering as the oracle's probe subquery."""
    import math

    qnorm = math.sqrt(_fold_dot(qvec, qvec))
    probes = sorted(
        cents,
        key=lambda c: (1.0 - _fold_dot(c[1], qvec) / (c[2] * qnorm), c[0]),
    )[:n_probe]
    return sorted(c[0] for c in probes)


def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN with fixed seed centroids (vec_id < 16): assign
    each vector to its nearest centroid, then search only the
    IVF_N_PROBE inverted lists closest to the query. See _ivf_search
    for the plan shape; float parity with the SQL oracle is exact
    (fold-order sums, repr round-trip literals)."""
    cents, probe_ids = _ivf_model(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    return _ivf_search(e, cents, probe_ids)


KMEANS_ITERS = 2
# centroid quantization factor: floor(x*1e6)/1e6. The D suffix keeps
# Spark on the DOUBLE path (a bare decimal literal parses as DECIMAL
# and would reroute the division through decimal arithmetic).
_Q6 = "1000000.0D"


def _quant6(x: float) -> float:
    import math

    return float(math.floor(x * 1000000.0)) / 1000000.0


def _kmeans_centroids(
    spark: SparkSession,
    sf_dir: str,
    iters: int = KMEANS_ITERS,
    n_centroids: int | None = None,
) -> list[tuple[int, list[float], float]]:
    """Lloyd's algorithm, DataFrame-native: per round, (1) one
    explode-agg job computes every vector's nearest-centroid id, (2) a
    vec_id-keyed join back to the exploded vectors + hash aggregate
    produces per-(cluster, dim) means. Only the k×dim centroid table is
    ever collected — bounded model state, like MLlib's k-means driver
    loop. Empty clusters drop out (both engines agree).

    Centroids are floor-quantized to 6 decimals after every update
    (and at seeding): summation order inside AVG differs between Spark
    partials and the DuckDB oracle by ~1 ulp, and FLOOR(x*1e6)/1e6 is
    IEEE-deterministic given near-identical inputs, so both engines
    iterate on bit-identical centroid models. (ROUND would tie-break
    differently on division results — see the repo's parity notes.)"""
    k = n_centroids if n_centroids is not None else IVF_N_CENTROIDS
    return _kmeans_fit(spark, sf_dir, iters, k)


@memo.dataset
def _kmeans_fit(
    spark: SparkSession, sf_dir: str, iters: int, k: int
) -> list[tuple[int, list[float], float]]:
    cents_raw, _ = _ivf_fit(spark, sf_dir, k)
    cents = [
        (cid, [_quant6(v) for v in cvec]) for cid, cvec, _ in cents_raw
    ]
    e = load_table(spark, sf_dir, "embeddings")
    return _lloyd_centroid_rounds(e, cents, iters)


def _lloyd_centroid_rounds(
    e: DataFrame,
    cents: list[tuple[int, list[float]]],
    iters: int,
) -> list[tuple[int, list[float], float]]:
    """The Lloyd iteration loop over ANY (vec_id, embedding) frame and
    ANY (quantized) seed — shared by the session path above and the
    persisted-index RETRAIN (which re-learns the coarse quantizer on
    the index's committed survivors). Identical computation to the
    historical in-line loop: floor-quantized per-(cluster, dim) means,
    empty clusters drop out, only k×dim rows reach the driver."""
    import math

    exploded = e.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
    for _ in range(iters):
        cents3 = [
            (cid, cvec, math.sqrt(_fold_dot(cvec, cvec))) for cid, cvec in cents
        ]
        assigned = (
            exploded.groupBy("vec_id")
            .agg(*_dot_sums(cents3, include_query=False))
            .select("vec_id", *_dist_cols(cents3))
            .select("vec_id", F.expr(_argmin_case(cents3)).alias("cid"))
        )
        upd = (
            assigned.join(exploded, "vec_id")
            .groupBy("cid", "pos")
            .agg(
                F.expr(
                    f"floor(avg(cast(x as double)) * {_Q6}) / {_Q6}"
                ).alias("cv")
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in upd:
            by_cid.setdefault(int(r["cid"]), {})[int(r["pos"])] = float(r["cv"])
        if not by_cid:
            # empty training frame: no assignment can update anything —
            # keep the seed model instead of iterating on zero clusters
            break
        cents = [
            (cid, [dims[p] for p in range(len(dims))])
            for cid, dims in sorted(by_cid.items())
        ]
    return [
        (cid, cvec, math.sqrt(_fold_dot(cvec, cvec))) for cid, cvec in cents
    ]


def _kmeans_centroids_from(
    e: DataFrame,
    iters: int = KMEANS_ITERS,
    n_centroids: int | None = None,
) -> list[tuple[int, list[float], float]]:
    """The learned coarse quantizer over ANY (vec_id, embedding) frame —
    the RETRAIN half of the persisted vector index's lifecycle
    (:func:`~..sinks.recluster_vector_index`), where the training set
    is the index's committed survivors rather than a session table.

    Seeding follows the engine's fixed-seed convention adapted to an
    arbitrary id space: the k SMALLEST surviving vec_ids (a bounded
    TakeOrdered — on the session tables, whose ids are contiguous from
    0, this is exactly the ``vec_id < k`` seed), renumbered to dense
    centroid ids 0..k-1 so the learned model is independent of the
    survivors' absolute ids. Deterministic end to end: same survivor
    set → same model."""
    k = n_centroids if n_centroids is not None else IVF_N_CENTROIDS
    seed_rows = (
        e.select("vec_id", as_double(F.col("embedding")).alias("cvec"))
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    if not seed_rows:
        raise ValueError("cannot train a quantizer on an empty frame")
    cents = [
        (i, [_quant6(float(x)) for x in r["cvec"]])
        for i, r in enumerate(sorted(seed_rows, key=lambda r: r["vec_id"]))
    ]
    return _lloyd_centroid_rounds(e, cents, iters)


def sim_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over centroids LEARNED by 2 Lloyd iterations (seeded from
    vec_id < 16) instead of the raw seed vectors — the production
    composition of embedding_centroids (the update step) with
    sim_topk_ivf (the probe-pruned search). The oracle replays the
    identical quantized iterations in SQL."""
    cents = _kmeans_centroids(spark, sf_dir)
    probe_ids = _probe_nearest(cents)
    e = load_table(spark, sf_dir, "embeddings")
    return _ivf_search(e, cents, probe_ids)


KNN_K = 3


# The IVF cell-assignment table (vec_id, nrm, d_<cid>..., cid) is the
# index's postings list: built once per (session, dataset) and shared by
# every knn_* query — a vector store persists exactly this at build time.
@memo.dataset
def _knn_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized per-vector assignment: norm, all centroid distances,
    the argmin cell id, AND the second-nearest cell id (``pcid``, the
    probe-2 target — tie-broken by cell id like the oracle's
    (dist ASC, cid ASC) ROW_NUMBER). Both cell columns belong in the
    same persisted postings-list artifact: computing pcid here means
    multiprobe's analyzer never re-walks the masked-least/CASE tree
    per query build. Materialization also matters mechanically: the
    argmin tree is O(k²) nodes and self-joining two live copies of
    it sends Spark 4's analyzer into minutes of attribute-dedup work
    (measured: analysis alone exceeded 200 s un-materialized, ~2 s
    materialized)."""
    cents, _ = _ivf_model(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    return materialize_small(_assignment_from(e, cents))


def _assignment_from(
    e: DataFrame, cents: list[tuple[int, list[float], float]]
) -> DataFrame:
    """The assignment computation over ANY (vec_id, embedding) frame and
    ANY centroid model — shared by the session path above and the
    persisted-index delta append (which encodes new vectors with the
    index's frozen coarse quantizer loaded from disk)."""
    cids = [cid for cid, _, _ in cents]
    # 1-centroid models (empty-store fallback) have no second-nearest;
    # least() needs >= 2 args, so degenerate to a NULL runner-up
    masked_least = (
        "least("
        + ", ".join(f"if(cid = {c}, cast(null as double), d_{c})" for c in cids)
        + ")"
        if len(cids) > 1
        else "cast(null as double)"
    )
    cid2_case = (
        "CASE "
        + " ".join(f"WHEN cid <> {c} AND d_{c} = d2 THEN {c}" for c in cids)
        + " END"
    )
    # the assignment agg already folds the self-dot; carry sqrt(selfdot)
    # so pair scorers run ONE dot fold per pair instead of three — the
    # fold is the same position-ordered SUM as the oracle's
    # list_dot_product, so the carried norm is bit-identical to the
    # oracle's per-pair sqrt(list_dot_product(v,v)) denominators.
    return (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("vec_id")
        .agg(*_dot_sums(cents, include_query=False))
        .select("vec_id", "selfdot", *_dist_cols(cents))
        .select(
            "vec_id",
            F.sqrt(F.col("selfdot")).alias("nrm"),
            *[F.col(f"d_{cid}") for cid, _, _ in cents],
            F.expr(_argmin_case(cents)).alias("cid"),
        )
        .withColumn("d2", F.expr(masked_least))
        .withColumn("pcid", F.expr(cid2_case))
        .drop("d2")
    )


def _cents_df(
    spark: SparkSession, cents: list[tuple[int, list[float], float]]
) -> DataFrame:
    """The collected centroid model as a (cid, cvec, nrm) DataFrame —
    the broadcast side of the rowwise assignment (and the exact schema
    ``write_vector_index`` persists)."""
    return spark.createDataFrame(
        [(cid, cvec, nrm) for cid, cvec, nrm in cents],
        schema="cid int, cvec array<double>, nrm double",
    )


def _rowwise_candidates(
    e: DataFrame, cents_df: DataFrame, dim: int | None = None
) -> DataFrame:
    """(vec_id, nrm, cid, d): the n·k candidate table behind both
    rowwise assignment shapes — the LARGE-k scale path. The
    expression-unrolled :func:`_assignment_from` generates O(k) SUM
    expressions and an O(k²) argmin CASE tree: the measured-fast shape
    for the default k=16, but the tree collapses the analyzer beyond a
    few dozen centroids. At 100 TB the cell count must scale with the
    corpus (k ~ N/target_cell_size, so in-cell pair work stays linear —
    scale-smoke-pinned), which means assignment has to be data-shaped,
    not expression-shaped: broadcast the k-row centroid table, n·k
    candidate rows map-side.

    Both sides are projected to per-dimension PRIMITIVE columns first so
    the dot product is :func:`unrolled_product_sum` — plain codegen'd
    double arithmetic, bit-identical to the aggregate() fold but
    measured ~10× faster (the HOF fold is interpreted per element; at
    n·k·dim = 10¹⁰ multiplies that is the whole job). The division
    grouping (1 − dot/(nrm·cnrm)) matches the unrolled path's _dist_cols
    exactly, so distances are bit-equal across all three shapes."""
    from .similarity import unrolled_product_sum

    if dim is None:
        # fallback dim discovery runs one tiny job — callers that hold
        # the driver-side centroid list pass dim so query BUILD stays
        # zero-jobs (test_build_guard)
        dim = len(cents_df.select("cvec").first()["cvec"])
    v = e.select(
        "vec_id",
        *[
            F.expr(f"cast(embedding[{i}] as double)").alias(f"ax{i + 1}")
            for i in range(dim)
        ],
    ).withColumn(
        "nrm", F.sqrt(unrolled_product_sum("ax", "ax", dim))
    )
    c = cents_df.select(
        "cid",
        F.col("nrm").alias("cnrm"),
        *[
            F.expr(f"element_at(cvec, {i + 1})").alias(f"bx{i + 1}")
            for i in range(dim)
        ],
    )
    return v.crossJoin(broadcast(c)).select(
        "vec_id",
        "nrm",
        "cid",
        (
            F.lit(1.0)
            - unrolled_product_sum("ax", "bx", dim)
            / (F.col("nrm") * F.col("cnrm"))
        ).alias("d"),
    )


def _assignment_rowwise(
    e: DataFrame, cents_df: DataFrame, dim: int | None = None
) -> DataFrame:
    """(vec_id, nrm, cid): nearest-centroid assignment over the rowwise
    candidate table — argmin via a map-combinable min_by over a
    (dist, cid) struct (the lexicographic struct order IS the oracle's
    (dist ASC, cid ASC) tie-break), one vec_id exchange carrying n
    rows — the same candidates-then-min_by shape as :func:`_pq_assign`."""
    return (
        _rowwise_candidates(e, cents_df, dim=dim)
        .groupBy("vec_id")
        .agg(
            F.min("nrm").alias("nrm"),
            F.expr("min_by(cid, struct(d, cid))").alias("cid"),
        )
    )


def _assignment_top2_rowwise(
    e: DataFrame, cents_df: DataFrame, dim: int | None = None
) -> DataFrame:
    """(vec_id, nrm, cid, pcid): the rowwise assignment EXTENDED with the
    second-nearest cell — the any-k postings builder for the persisted
    vector index (the unrolled :func:`_assignment_from` computes pcid
    via a masked least/CASE tree, which is O(k²) expression nodes).
    Candidates are the same n·k broadcast rows; the top-2 collapse is a
    WindowGroupLimit rank (rn <= 2 pushed below the exchange), then one
    tiny agg. pcid is null when k = 1, matching the unrolled path's
    empty masked-least. Bit-identical to _assignment_from at any k both
    can run (pytest-pinned): both distance folds are the same
    position-ordered left fold."""
    from pyspark.sql import Window

    cands = _rowwise_candidates(e, cents_df, dim=dim)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d").asc(), F.col("cid").asc()
    )
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.min("nrm").alias("nrm"),
            F.expr("min_by(cid, rn)").alias("cid"),
            F.when(
                F.count("*") > 1, F.expr("max_by(cid, rn)")
            ).alias("pcid"),
        )
    )


def ivf_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell membership counts (cid, n) of the IVF quantizer — the
    skew monitor an ANN deployment watches: a mega-cell means quadratic
    in-cell work concentrates in one task, and the fix (scale k with N,
    or split the hot cell) shows up here first. Runs the ROWWISE
    assignment (:func:`_assignment_rowwise`) so the correctness gate
    pins the large-k scale path's semantics against the oracle at the
    default k, where both assignment shapes must agree (also pinned in
    pytest)."""
    cents, _ = _ivf_model(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    return (
        _assignment_rowwise(
            e, _cents_df(spark, cents), dim=len(cents[0][1])
        )
        .groupBy("cid")
        .agg(F.count("*").alias("n"))
    )


def ivf_cell_counts(
    spark: SparkSession, sf_dir: str, n_centroids: int | None = None
) -> DataFrame:
    """(cid, n) histogram at an arbitrary quantizer size — the k dial
    exposed: the scale smoke asserts Σ n·(n-1)/2 over this histogram
    stays ~linear in corpus size when k scales with N. Dispatches to
    the codegen path for small k and the rowwise path beyond it."""
    cents, _ = _ivf_model(spark, sf_dir, n_centroids=n_centroids)
    e = load_table(spark, sf_dir, "embeddings")
    if len(cents) <= 32:
        assigned = _assignment_from(e, cents).select("vec_id", "cid")
    else:
        assigned = _assignment_rowwise(
            e, _cents_df(spark, cents), dim=len(cents[0][1])
        )
    return assigned.groupBy("cid").agg(F.count("*").alias("n"))


def knn_ivf_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN self-join: every vector's top-KNN_K nearest neighbors among
    vectors sharing its IVF cell — the per-document neighbor list
    semantic dedup and clustering pipelines consume (the sim_topk_*
    queries answer ONE query vector; this answers all of them).

    Shape: the explode-agg assignment (same codegen'd SUM machinery as
    sim_topk_ivf — no join, one vec_id shuffle) keys every vector by its
    nearest-centroid cell; the neighbor search is then an EQUI-join on
    the cell id (Σ cell² work, never |V|²), ranked per query vector by a
    window whose WindowGroupLimit pushes the top-k below the shuffle.
    At 100 TB the cell count k scales ~√n so cells stay bounded, and a
    multi-probe variant (union over the P nearest cells) buys recall at
    P× the join input — same plan, wider key.

    The assignment table comes from the shared, materialized
    :func:`_knn_assignment` (the persisted IVF postings-list artifact —
    see there for why materialization is also an analyzer necessity)."""
    return _knn_topk(spark, _knn_incell_scored(spark, sf_dir))


# The column-layout vector store: (vec_id, nrm, cid, x1..xD) with each
# dimension a primitive double column — materialized alongside the
# assignment because every pair scorer reads it, and because a live
# 64-alias × 3-layer plan costs the analyzer ~2 s PER QUERY BUILD while
# a checkpoint scan's bound attributes cost nothing.
@memo.dataset
def _knn_vectors(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """((vec_id, nrm, cid, x1..xD), D): the vectors joined to the
    materialized assignment, as per-DIMENSION double columns rather
    than an array (materialized — see the note above). The column
    layout is what makes the pair scorer fast: unrolled_product_sum
    over primitive columns stays entirely in whole-stage codegen (see
    similarity.unrolled_product_sum for the measured alternatives). D
    comes from the quantizer model artifact — embedding width is fixed
    per store."""
    dim = len(_ivf_model(spark, sf_dir)[0][0][1])
    e = load_table(spark, sf_dir, "embeddings")
    # pcid rides along (round 13): multiprobe's query side previously
    # re-joined the assignment table on vec_id just to fetch the
    # probe-2 cell — both columns belong to the same postings artifact
    assigned = _knn_assignment(spark, sf_dir).select(
        "vec_id", "nrm", "cid", "pcid"
    )
    out = materialize_small(
        e.selectExpr(
            "vec_id",
            *[
                f"cast(element_at(embedding, {i}) as double) as x{i}"
                for i in range(1, dim + 1)
            ],
        ).join(assigned, "vec_id")
    )
    return out, dim


def _knn_pair_sides(
    v: DataFrame, dim: int, b_cell_col: str = "cid"
) -> tuple[DataFrame, DataFrame]:
    """The two join sides of a pair scorer over the per-dim layout:
    query side (qid, nrm_a, cid, ax1..axD), index side
    (nid, nrm_b, {b_cell_col}, bx1..bxD). selectExpr keeps each side
    at ONE py4j round-trip — per-Column aliasing of 64 dims was a
    measurable slice of every query build."""
    a = v.selectExpr(
        "vec_id as qid", "nrm as nrm_a", "cid",
        *[f"x{i} as ax{i}" for i in range(1, dim + 1)],
    )
    b = v.selectExpr(
        "vec_id as nid", "nrm as nrm_b", f"cid as {b_cell_col}",
        *[f"x{i} as bx{i}" for i in range(1, dim + 1)],
    )
    return a, b


# The folded in-primary-cell half-pair scores (qid < nid, one cosine per
# unordered pair): the session's pairwise-score index artifact. Built
# once per (session, dataset) and shared by knn_ivf_join,
# knn_ivf_multiprobe (whose primary-cell candidates are exactly this
# set) and knn_label_vote (via knn_ivf_join) — a vector store persists
# these scores next to the postings list for the same reason. Without
# the memo, multiprobe re-ran the entire in-cell fold on top of its own
# probe-2 work (the r4 bench's most expensive query).


def _knn_incell_half_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY build plan of the half-pair score artifact — split out so
    plan tests can pin the build's equi-join shape (the materialized
    artifact's lineage is truncated, as any persisted index's is).

    The pair cosine is an unrolled product-sum over per-dim primitive
    columns — bit-identical to the HOF fold but fully codegen'd (the
    fold was the dominant cost of the whole knn family)."""
    from .similarity import unrolled_product_sum

    v, dim = _knn_vectors(spark, sf_dir)
    a, b = _knn_pair_sides(v, dim)
    return (
        a.join(b, "cid")
        .filter(F.col("qid") < F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(
                unrolled_product_sum("ax", "bx", dim)
                / (F.col("nrm_a") * F.col("nrm_b")),
                4,
            ).alias("cos_sim"),
        )
    )


@memo.dataset
def _knn_incell_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each unordered in-primary-cell pair folded ONCE (qid < nid) with
    its rounded cosine, materialized (see the half-pair note above)."""
    return materialize_small(_knn_incell_half_plan(spark, sf_dir))


def _knn_incell_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All directed in-primary-cell pairs with their rounded cosine.

    Cosine is symmetric: fold each unordered pair ONCE (qid < nid, the
    shared _knn_incell_half artifact), then explode both directions for
    the per-query ranking — halves the dominant dot-fold work for the
    price of a shuffle-free Generate."""
    half = _knn_incell_half(spark, sf_dir)
    return half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("qid").alias("q"),
                    F.col("nid").alias("n"),
                    F.col("cos_sim"),
                ),
                F.struct(
                    F.col("nid").alias("q"),
                    F.col("qid").alias("n"),
                    F.col("cos_sim"),
                ),
            )
        ).alias("p")
    ).select(
        F.col("p.q").alias("qid"),
        F.col("p.n").alias("nid"),
        F.col("p.cos_sim").alias("cos_sim"),
    )


def _knn_topk(spark: SparkSession, scored: DataFrame) -> DataFrame:
    """Per-query top-KNN_K over (qid, nid, cos_sim) with the oracle's
    (cos_sim DESC, nid ASC) tie-break."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("nid").alias("neighbor_id"),
            "cos_sim",
            F.col("rn").cast("int").alias("rank"),
        )
    )


KNN_N_PROBE = 2


def knn_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe k-NN: each QUERY vector searches its KNN_N_PROBE
    nearest cells while the index side keeps one cell per vector — the
    standard IVF recall lever (probing P cells multiplies candidates by
    ~P without touching the index layout). Neighbor lists are supersets
    of knn_ivf_join's, pinned by a pytest invariant.

    The probe-2 cell is the ``pcid`` column of the SAME materialized
    postings-list artifact the primary assignment lives in (computed at
    index build by a masked least + first-match scan over the bound
    d_<cid> columns — tie-broken by cell id, mirroring the oracle's
    (dist ASC, cid ASC) ROW_NUMBER). The pair join is still a pure
    equi-join: (query, probe-2-cell) rows against the index side's
    primary cell. The primary-cell pairs are NOT recomputed — they read
    from the shared materialized _knn_incell_half artifact knn_ivf_join
    folds (each unordered pair once), and a query's probe-2 neighbors
    are disjoint from its primary-cell neighbors (every index vector
    lives in exactly one cell), so the union has no duplicates and the
    extra fold work is only the probe-2 candidates."""
    from .similarity import unrolled_product_sum

    v, dim = _knn_vectors(spark, sf_dir)
    _, b = _knn_pair_sides(v, dim, b_cell_col="pcid")
    # the query side reads pcid straight off the materialized vector
    # store (round 13) — it used to re-join the assignment table on
    # vec_id purely to fetch the probe-2 cell: one whole join (and its
    # broadcast of the wide per-dim rows) gone from every multiprobe
    # plan and every plan that embeds it (recall family)
    q = v.selectExpr(
        "vec_id as qid", "nrm as nrm_a", "pcid",
        *[f"x{i} as ax{i}" for i in range(1, dim + 1)],
    )
    p2_scored = (
        q.join(b, "pcid")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(
                unrolled_product_sum("ax", "bx", dim)
                / (F.col("nrm_a") * F.col("nrm_b")),
                4,
            ).alias("cos_sim"),
        )
    )
    scored = _knn_incell_scored(spark, sf_dir).unionByName(p2_scored)
    return _knn_topk(spark, scored)


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the neighbor lists: majority label among
    each vector's KNN_K nearest in-cell neighbors (ties → smallest
    label) — the label-propagation / auto-labeling step a curation
    pipeline runs on top of the ANN index.

    Pure composition: knn_ivf_join (already bucketed and materialized)
    → join neighbor labels → per-query vote via count + WindowGroupLimit.
    The label join keys on neighbor_id — at scale the label table is a
    column of the same store, so this is a co-partitioned or broadcast
    join, never a second ANN pass."""
    from pyspark.sql import Window

    nn = knn_ivf_join(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    # unlabeled neighbors ABSTAIN: a NULL label must not form a voting
    # bloc (and its rank position differs per engine — Spark sorts
    # NULLS FIRST on the ASC tiebreak, DuckDB NULLS LAST)
    votes = (
        nn.join(labels, "neighbor_id")
        .filter(F.col("n_label").isNotNull())
        .groupBy("vec_id", "n_label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("votes").desc(), F.col("n_label").asc()
    )
    return (
        votes.withColumn("vrn", F.row_number().over(w))
        .filter(F.col("vrn") == 1)
        .select("vec_id", F.col("n_label").alias("pred_label"), "votes")
    )


# fixed evaluation sample for ANN quality measurement: eval never scans
# all |V|² pairs — ground truth is exact only for this bounded query set
KNN_EVAL_SAMPLE = 50


# the exact-truth eval artifact, memoized per (session, dataset): both
# recall reports (single-probe and family) read the same ground truth,
# and a real deployment computes it once per index build, not per query
@memo.dataset
def _knn_exact_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, neighbor_id): EXACT brute-force top-KNN_K neighbors for
    the bounded eval sample — the shared ground truth of every recall
    measurement (single-probe and family-wide). Materialized + memoized
    (see cache note above); the plan-shape test inspects the LAZY
    :func:`_knn_exact_truth_plan` underneath."""
    return materialize_small(_knn_exact_truth_plan(spark, sf_dir))


def _knn_exact_truth_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy truth plan: |sample|×|V| scored pairs via a broadcast
    of the bounded sample over the column-layout vector store —
    map-side, no shuffle of the index, linear in corpus size (the one
    sanctioned nested loop, plan-pinned)."""
    from .similarity import unrolled_product_sum

    v, dim = _knn_vectors(spark, sf_dir)
    a, b = _knn_pair_sides(v, dim, b_cell_col="bcid")
    sample = a.filter(F.col("qid") < KNN_EVAL_SAMPLE).drop("cid")
    truth_scored = (
        broadcast(sample)
        .join(b.drop("bcid"), F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(
                unrolled_product_sum("ax", "bx", dim)
                / (F.col("nrm_a") * F.col("nrm_b")),
                4,
            ).alias("cos_sim"),
        )
    )
    return _knn_topk(spark, truth_scored).select("vec_id", "neighbor_id")


def knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: recall@k of the IVF neighbor lists against
    EXACT brute-force top-k, for a fixed bounded query sample — the
    measurement loop every production ANN deployment runs after (re)
    building an index.

    Scale shape: ground truth costs |sample|×|V| scored pairs via a
    broadcast of the (bounded) sample over the column-layout vector
    store — map-side, no shuffle of the index, linear in corpus size.
    The IVF side reads the SAME materialized in-cell pair artifact the
    knn queries share (zero recompute). Recall joins are per-(query,
    neighbor) equi-joins on a sample-sized table.

    Oracle: DuckDB replays both the exact and IVF top-k with identical
    (cos DESC, nid ASC) tie-breaks, so recall matches exactly."""
    truth = _knn_exact_truth(spark, sf_dir)
    ivf = knn_ivf_join(spark, sf_dir).filter(
        F.col("vec_id") < KNN_EVAL_SAMPLE
    ).select("vec_id", "neighbor_id")
    hits = truth.join(ivf, ["vec_id", "neighbor_id"], "left_semi")
    return (
        truth.groupBy("vec_id")
        .agg(F.count("*").alias("k"))
        .join(
            hits.groupBy("vec_id").agg(F.count("*").alias("n_hits")),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("k"), 4
            ).alias("recall_at_k"),
        )
    )


def _knn_eval_neighbor_lists(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(single, multi): the eval sample's per-query neighbor lists for
    the single-probe and multiprobe read paths, from ONE window pass —
    the recall family's shared base (round 14).

    Row-for-row identical (pytest-pinned) to
    ``knn_ivf_join(...).filter(vec_id < KNN_EVAL_SAMPLE)`` and
    ``knn_ivf_multiprobe(...).filter(...)`` because:

    - the eval filter commutes with per-qid ranking (qid is the window
      partition key), so filtering the candidate pairs FIRST changes
      nothing — and shrinks the probe-2 join's query side to the
      sample before the join instead of after the window;
    - multiprobe's candidate set is incell ∪ probe-2 with the two sets
      DISJOINT (an index vector lives in exactly one cell), and both
      paths rank by the same (cos_sim DESC, nid ASC) key, which is
      UNIQUE per qid (nid appears once) — so row_number over the union
      IS multiprobe's rank, and a running count of in-cell rows in the
      same order IS the in-cell-only row_number. One Window node (same
      partition/order/frame) computes both; the single-probe list is
      the in-cell rows with rn_incell <= KNN_K, the multiprobe list is
      rn_all <= KNN_K."""
    from pyspark.sql import Window

    from .similarity import unrolled_product_sum

    v, dim = _knn_vectors(spark, sf_dir)
    incell = _knn_incell_scored(spark, sf_dir).filter(
        F.col("qid") < KNN_EVAL_SAMPLE
    )
    _, b = _knn_pair_sides(v, dim, b_cell_col="pcid")
    q = v.filter(F.col("vec_id") < KNN_EVAL_SAMPLE).selectExpr(
        "vec_id as qid", "nrm as nrm_a", "pcid",
        *[f"x{i} as ax{i}" for i in range(1, dim + 1)],
    )
    p2 = (
        q.join(b, "pcid")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(
                unrolled_product_sum("ax", "bx", dim)
                / (F.col("nrm_a") * F.col("nrm_b")),
                4,
            ).alias("cos_sim"),
        )
    )
    cand = incell.withColumn(
        "in_cell", F.lit(1)
    ).unionByName(p2.withColumn("in_cell", F.lit(0)))
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid").asc()
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = cand.select(
        "qid",
        "nid",
        "in_cell",
        F.row_number().over(w).alias("rn_all"),
        F.sum("in_cell").over(wrun).alias("rn_incell"),
    )
    single = ranked.filter(
        (F.col("in_cell") == 1) & (F.col("rn_incell") <= KNN_K)
    ).select(
        F.col("qid").alias("vec_id"), F.col("nid").alias("neighbor_id")
    )
    multi = ranked.filter(F.col("rn_all") <= KNN_K).select(
        F.col("qid").alias("vec_id"), F.col("nid").alias("neighbor_id")
    )
    return single, multi


def _tag_eval_rows(path: str, df: DataFrame, with_nid: bool) -> DataFrame:
    """(path, vec_id, nid): a rung's rows in the recall family's common
    key space — pq rungs have no neighbor column, so both sides use the
    -1 sentinel (vec_ids are non-negative by the fixture contract)."""
    nid = (F.col("neighbor_id") if with_nid else F.lit(-1)).cast("bigint")
    return df.select(
        F.lit(path).alias("path"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        nid.alias("nid"),
    )


# the per-(session, dataset) eval-predictions artifact: every ANN read
# path's answer over the bounded eval inputs, path-tagged, ≤|sample|·K
# + 3·10 rows. The prediction TWIN of _knn_exact_truth: a deployment
# computes both sides of the recall dashboard once per index (re)build
# and serves the report from the persisted pair, exactly like the
# exact-truth side has been memoized since round 5.
@memo.dataset
def _knn_eval_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(path, vec_id, nid): the five measured read paths' predictions
    over the eval inputs, materialized + memoized (see cache note).

    Build shape (round 14, replaces five independently grown trees):
    the single/multiprobe lists come from ONE window pass over the
    eval sample's candidate pairs (:func:`_knn_eval_neighbor_lists`);
    ivf_pq and ivf_pq_refined share ONE ADC shortlist (ivf_pq's top-10
    is the first 10 of the refined path's 50-deep shortlist by
    construction — same scorer, same (adc_dist, vec_id) total order);
    pq_adc is the full-code-table scorer. Per-rung row equality with
    the standalone queries is pytest-pinned."""
    single, multi = _knn_eval_neighbor_lists(spark, sf_dir)
    adc = knn_pq_adc(spark, sf_dir).select("vec_id")
    shortlist = _adc_topk(
        spark,
        sf_dir,
        _ivf_pruned_codes(spark, sf_dir),
        k=PQ_REFINE_SHORTLIST,
    )
    ivfpq = shortlist.limit(10).select("vec_id")
    refined = _refine_shortlist(spark, sf_dir, shortlist).select("vec_id")
    return materialize_small(
        _tag_eval_rows("ivf_single", single, True)
        .unionByName(_tag_eval_rows("ivf_multiprobe", multi, True))
        .unionByName(_tag_eval_rows("pq_adc", adc, False))
        .unionByName(_tag_eval_rows("ivf_pq", ivfpq, False))
        .unionByName(_tag_eval_rows("ivf_pq_refined", refined, False))
    )


# the path-tagged TRUTH side of the recall dashboard, memoized like the
# untagged exact-truth artifact it extends: without it, the plan embeds
# three live copies of the sim_topk_cosine tree (the pq rungs' truth)
# and re-folds the corpus per report build.
@memo.dataset
def _knn_eval_truth_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(path, vec_id, nid): every rung's ground truth in the family's
    common key space — the neighbor-list truth (_knn_exact_truth) for
    the ivf rungs, the exact top-10 baseline (sim_topk_cosine) for the
    pq rungs. Materialized + memoized per (session, dataset) exactly
    like _knn_exact_truth itself (computed once per index build)."""
    truth = _knn_exact_truth(spark, sf_dir)
    qtruth = sim_topk_cosine(spark, sf_dir).select("vec_id")
    return materialize_small(
        _tag_eval_rows("ivf_single", truth, True)
        .unionByName(_tag_eval_rows("ivf_multiprobe", truth, True))
        .unionByName(_tag_eval_rows("pq_adc", qtruth, False))
        .unionByName(_tag_eval_rows("ivf_pq", qtruth, False))
        .unionByName(_tag_eval_rows("ivf_pq_refined", qtruth, False))
    )


def knn_recall_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k for EVERY ANN read path this engine ships, in one
    report — the index-quality dashboard a production deployment
    watches after each (re)build, and the measurement VERDICT r5/r6
    ordered: the multiprobe/ADC/refine recall ladder asserted as data,
    not prose.

    Five rows (path, n_hits, n_truth, recall):

    - ``ivf_single`` / ``ivf_multiprobe``: micro-averaged recall@KNN_K
      of the per-query neighbor lists (:func:`knn_ivf_join` /
      :func:`knn_ivf_multiprobe`) against the shared exact truth
      (:func:`_knn_exact_truth`) over the bounded eval sample.
      Multiprobe's candidate cells are a superset of single-probe's and
      both rank by exact cosine, so recall(multiprobe) >=
      recall(single) is a theorem — pinned in pytest.
    - ``pq_adc`` / ``ivf_pq`` / ``ivf_pq_refined``: overlap of each
      path's top-10 for the fixed query vector with the exact
      brute-force top-10 (:func:`sim_topk_cosine`). The refined path
      re-ranks its ADC shortlist by the SAME (cos DESC, vec_id ASC)
      order the truth uses, and the ivf_pq top-10 is a prefix of that
      shortlist, so recall(refined) >= recall(ivf_pq) is likewise a
      theorem — also pinned.

    Plan shape: every side is a bounded artifact (sample-sized truth,
    top-10 lists); the stats are semi-join counts over those bounded
    tables — nothing here rescans the corpus beyond what the measured
    paths themselves do. Round 14: the five prediction sides share
    subplans instead of growing five independent trees — the
    single/multiprobe eval lists come from ONE window pass over the
    eval sample's candidate pairs (:func:`_knn_eval_neighbor_lists`,
    per-rung equality with the standalone queries pytest-pinned), and
    ivf_pq / ivf_pq_refined both read ONE ADC shortlist (ivf_pq's
    top-10 is the first 10 of the refined path's 50-deep shortlist by
    construction — same scorer, same (adc_dist, vec_id) order)."""
    # Stat glue, round 14: ONE broadcast join + ONE aggregate for all
    # five rungs. Round 13's shape (a LEFT join + a global aggregate
    # PER rung, then a 5-way union) executed 5 broadcast builds and 5
    # SinglePartition agg exchanges — at sf0.1 the family's wall is
    # ~70 ms-per-AQE-stage scheduling, and at cluster scale every
    # stage is a round of task launches. The prediction side is the
    # materialized per-build eval-predictions artifact (see
    # :func:`_knn_eval_predictions` — the prediction twin of the
    # memoized exact-truth artifact this report joins against); the
    # truth side is path-tagged the same way, the join keys on
    # (path, vec_id, nid) (rungs cannot cross-match because path is a
    # join key; per-rung prediction keys stay unique — pinned in
    # test_round14_invariants), and a groupBy(path) aggregate replaces
    # the five global aggregates. The pq rungs have no neighbor
    # column: both sides use the -1 sentinel (vec_ids are
    # non-negative), preserving exact single-key matching. The
    # constant 5-row path table LEFT JOIN keeps the empty-corpus
    # contract: every rung emits its row with zero counts and NULL
    # recall (never DIVIDE_BY_ZERO).
    truth_all = _knn_eval_truth_tagged(spark, sf_dir)
    preds_all = _knn_eval_predictions(spark, sf_dir).withColumn(
        "__hit", F.lit(1)
    )
    stats = (
        truth_all.join(broadcast(preds_all), ["path", "vec_id", "nid"], "left")
        .groupBy("path")
        .agg(
            F.count("*").alias("__n_truth"),
            F.count("__hit").alias("__n_hits"),
        )
    )
    paths = spark.createDataFrame(
        [(p,) for p in (
            "ivf_single",
            "ivf_multiprobe",
            "pq_adc",
            "ivf_pq",
            "ivf_pq_refined",
        )],
        schema="path string",
    )
    return paths.join(broadcast(stats), "path", "left").select(
        "path",
        F.coalesce("__n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.coalesce("__n_truth", F.lit(0)).cast("bigint").alias("n_truth"),
        F.when(
            F.col("__n_truth") > 0,
            F.round(
                F.col("__n_hits").cast("double") / F.col("__n_truth"),
                4,
            ),
        ).alias("recall"),
    )


# the n_probe ladder the recall curve measures: doubling rungs up to
# every-cell (the exact-search degenerate). Must match the oracle's
# UNION ALL blocks.
PROBE_LADDER: tuple[int, ...] = (1, 2, 4, 8, 16)

# (vec_id, cos_sim, cell_rank) per (session, dataset): the ONE scored
# scan every ladder rung filters — see _probe_curve_base
@memo.dataset
def _probe_curve_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cos_sim, cell_rank): every vector scored against the
    query ONCE, tagged with its assigned cell's RANK in the query's
    probe order (dist ASC, cid ASC — driver arithmetic over the ≤16-row
    centroid model). Rung n of the ladder is then exactly the rows with
    cell_rank <= n — the same set `_argmin_case(...).isin(probe_ids(n))`
    selects, because probe_ids(n) IS the first n cells of that order.

    This turns the curve's five probe-pruned scans (each a full
    explode+hash-agg pass — the probe filter in _ivf_search applies
    AFTER the in-scan assignment) into ONE scan plus five trivial
    rank-filter + TakeOrdered jobs. Pinned (checkpoint) because five
    downstream actions reuse it; at 100 TB a deployment evaluates the
    curve over a bounded query/corpus sample per index build (see
    knn_probe_recall_curve docstring), so the pinned intermediate is
    sample-sized there, corpus-sized only at bench scale."""
    import math

    cents, _ = _ivf_model(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    qnorm = math.sqrt(_fold_dot(QUERY_VEC, QUERY_VEC))
    # full probe ORDER (not just the first IVF_N_PROBE): the same
    # (dist ASC, cid ASC) key _probe_nearest sorts by
    ordered = sorted(
        cents,
        key=lambda c: (
            1.0 - _fold_dot(c[1], QUERY_VEC) / (c[2] * qnorm),
            c[0],
        ),
    )
    rank_of = {cid: i + 1 for i, (cid, _, _) in enumerate(ordered)}
    agg = (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("vec_id")
        .agg(*_dot_sums(cents, include_query=True))
    )
    staged = (
        agg.select(
            "vec_id",
            F.expr(
                f"round(dot_q / (sqrt(selfdot) * {_sql_double(qnorm)}), 4)"
            ).alias("cos_sim"),
            *_dist_cols(cents),
        )
        .select(
            "vec_id",
            "cos_sim",
            F.expr(_argmin_case(cents)).alias("acid"),
        )
        .select(
            "vec_id",
            "cos_sim",
            F.expr(
                "CASE acid "
                + " ".join(
                    f"WHEN {cid} THEN {rank}"
                    for cid, rank in rank_of.items()
                )
                + " END"
            )
            .cast("int")
            .alias("cell_rank"),
        )
    )
    return materialize_small(staged)


def knn_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the probe-pruned IVF search at every rung of the
    n_probe ladder, in one report (n_probe, n_hits, n_truth, recall) —
    the measured curve that closes the ANN tuning loop: VERDICT r7
    ordered a helper that picks the smallest n_probe meeting a recall
    target FROM DATA instead of folklore (:func:`tune_n_probe` does
    the driver-side pick over these ≤|ladder| rows).

    Monotonicity is a theorem here — each rung's probe set is a
    superset of the previous (same (dist ASC, cid ASC) order, longer
    prefix) and ranking is by exact cosine — so recall is
    non-decreasing in n_probe and the top rung (probe == every cell)
    degenerates to the exact scan, recall 1.0. Both ends pinned in
    pytest.

    Scale shape (round 13): ONE scored scan for the whole ladder —
    `_probe_curve_base` computes each vector's cos_sim and its
    assigned cell's probe-order rank once; rung n is the rows with
    cell_rank <= n (provably the same set the per-rung
    probe-membership filter selected), so each rung costs a trivial
    filter + TakeOrdered over the pinned base instead of its own
    explode+hash-agg pass. The stats are semi-join counts over 10-row
    lists. A production deployment evaluates the curve over a bounded
    query sample per index build, not per query."""
    base = _probe_curve_base(spark, sf_dir)
    qtruth = sim_topk_cosine(spark, sf_dir).select("vec_id")
    parts = []
    for n_probe in PROBE_LADDER:
        ivf = (
            base.filter(F.col("cell_rank") <= n_probe)
            .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
            .limit(10)
            .select("vec_id")
        )
        hits = qtruth.join(ivf, "vec_id", "left_semi").agg(
            F.count("*").alias("n_hits")
        )
        tot = qtruth.agg(F.count("*").alias("n_truth"))
        parts.append(
            hits.crossJoin(tot).select(
                F.lit(n_probe).alias("n_probe"),
                F.col("n_hits").cast("bigint").alias("n_hits"),
                F.col("n_truth").cast("bigint").alias("n_truth"),
                # empty eval set → NULL recall (see knn_recall_family)
                F.when(
                    F.col("n_truth") > 0,
                    F.round(
                        F.col("n_hits").cast("double")
                        / F.col("n_truth"),
                        4,
                    ),
                ).alias("recall"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def tune_n_probe(
    spark: SparkSession, sf_dir: str, target_recall: float = 1.0
) -> int:
    """The tuning loop closed: smallest ladder rung whose MEASURED
    recall meets the target — bounded driver arithmetic over the
    ≤|PROBE_LADDER|-row curve (never a corpus pass beyond what the
    curve itself measures). Falls back to the top rung (exact-scan
    degenerate, recall 1.0 by construction) if no smaller rung
    qualifies, so the returned setting always satisfies any target
    <= 1.0."""
    rows = sorted(
        knn_probe_recall_curve(spark, sf_dir).collect(),
        key=lambda r: r["n_probe"],
    )
    for r in rows:
        if r["recall"] >= target_recall:
            return int(r["n_probe"])
    return int(rows[-1]["n_probe"])


# product-quantization geometry: 64 dims → PQ_M subspaces of PQ_SUBDIM,
# PQ_K codes per subspace. The codebook is LEARNED: per-subspace Lloyd
# iterations (PQ_LLOYD_ROUNDS) seeded from the first PQ_K vectors'
# subvectors — the same fixed-seed convention as the IVF quantizer
# _ivf_model, and the same floor-quantized update as _kmeans_centroids
# so Spark and the DuckDB oracle iterate on bit-identical models.
PQ_M = 8
PQ_SUBDIM = 8
PQ_K = 16
PQ_LLOYD_ROUNDS = 2

# subspace squared-L2 between two SUBDIM-length arrays: a left-assoc
# position-ordered fold, the same shape the oracle's list_reduce replays
_PQ_SUBD2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " 0D, (acc, x) -> acc + x)"
)

_PQ_CB_SCHEMA = "m int, cid int, c array<double>"


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, s): every embedding split into its PQ_M subvectors —
    the row layout every PQ stage (train, encode, search LUT) consumes."""
    return _subvectors_of(load_table(spark, sf_dir, "embeddings"))


def _subvectors_of(e: DataFrame) -> DataFrame:
    """The subvector split over ANY (vec_id, embedding) frame — shared
    by the session path and the persisted-index delta append."""
    return (
        e.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .select(
            "vec_id",
            F.explode(F.expr(f"sequence(0, {PQ_M - 1})")).alias("m"),
            "v",
        )
        .select(
            "vec_id",
            "m",
            F.expr(f"slice(v, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("s"),
        )
    )


def _pq_assign(sv: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, cid, d2): nearest codebook entry per subvector. The
    m·k candidate table comes from a broadcast codebook (≤128 rows); the
    argmin collapses through a map-combinable min_by over a (d2, cid)
    struct — the exchange carries n·M rows, not n·M·K, and the
    lexicographic struct order IS the (d2 ASC, cid ASC) tie-break."""
    return (
        sv.join(broadcast(cb), "m")
        .select(
            "vec_id",
            "m",
            "cid",
            F.expr(_PQ_SUBD2.format(a="s", b="c")).alias("d2"),
        )
        .groupBy("vec_id", "m")
        .agg(
            F.expr("min_by(cid, struct(d2, cid))").alias("cid"),
            F.min("d2").alias("d2"),
        )
    )


def _pq_codebook(
    spark: SparkSession, sf_dir: str, rounds: int = PQ_LLOYD_ROUNDS
) -> DataFrame:
    """(m, cid, c): the per-subspace PQ codebook, LEARNED by ``rounds``
    Lloyd iterations from the quantized fixed seed (subvectors of
    vec_id < PQ_K). Each round is one assignment job (broadcast
    codebook, map-combinable argmin) and one update job (per-(m, cid,
    dim) mean over the assigned subvectors); only the ≤128-row model
    ever reaches the driver — the MLlib k-means driver-loop shape, like
    :func:`_kmeans_centroids`, whose floor-to-6-decimals quantization
    this reuses so Spark partials and the DuckDB oracle iterate on
    bit-identical centroids. Empty codes drop out (both engines agree).

    At 100 TB the training input would be a bounded sample of the
    corpus (codebook quality saturates quickly in n); the encode pass
    over the full corpus is the scan that matters, and it is unchanged.
    Memoized per (session, dataset, rounds): steady-state query builds
    run zero jobs."""
    return spark.createDataFrame(
        _pq_codebook_rows(spark, sf_dir, rounds), schema=_PQ_CB_SCHEMA
    )


# learned codebook model per (session, dataset, rounds): the collected
# (m, cid, centroid) rows — bounded model state, ≤ PQ_M·PQ_K = 128 rows
@memo.dataset
def _pq_codebook_rows(
    spark: SparkSession, sf_dir: str, rounds: int = PQ_LLOYD_ROUNDS
) -> list[tuple[int, int, list[float]]]:
    sv = _pq_subvectors(spark, sf_dir)
    seed = sv.filter(F.col("vec_id") < PQ_K).select(
        "m",
        F.col("vec_id").alias("cid"),
        F.expr(f"transform(s, x -> floor(x * {_Q6}) / {_Q6})").alias("c"),
    )
    return _pq_lloyd_rounds(spark, sv, seed, rounds)


def _pq_lloyd_rounds(
    spark: SparkSession, sv: DataFrame, seed: DataFrame, rounds: int
) -> list[tuple[int, int, list[float]]]:
    """The per-subspace Lloyd loop over ANY subvector frame and ANY
    (quantized) seed codebook — shared by the session path above and
    the persisted-index RETRAIN. Identical computation to the
    historical in-line loop: floor-quantized per-(m, cid, dim) means,
    empty codes drop out, only the ≤PQ_M·PQ_K-row model is collected."""
    if rounds == 0:
        rows = [
            (int(r["m"]), int(r["cid"]), [float(x) for x in r["c"]])
            for r in seed.collect()
        ]
    cb = seed
    for _ in range(rounds):
        asg = _pq_assign(sv, cb).select("vec_id", "m", "cid")
        upd = (
            asg.join(sv, ["vec_id", "m"])
            .select("m", "cid", F.posexplode("s").alias("j", "x"))
            .groupBy("m", "cid", "j")
            .agg(F.expr(f"floor(avg(x) * {_Q6}) / {_Q6}").alias("cv"))
            .collect()
        )
        by_mc: dict[tuple[int, int], dict[int, float]] = {}
        for r in upd:
            by_mc.setdefault((int(r["m"]), int(r["cid"])), {})[
                int(r["j"])
            ] = float(r["cv"])
        rows = [
            (m, cid, [dims[j] for j in sorted(dims)])
            for (m, cid), dims in sorted(by_mc.items())
        ]
        cb = spark.createDataFrame(rows, schema=_PQ_CB_SCHEMA)
    return rows


def _pq_codebook_from(
    spark: SparkSession, e: DataFrame, rounds: int = PQ_LLOYD_ROUNDS
) -> DataFrame:
    """The learned PQ codebook over ANY (vec_id, embedding) frame — the
    RETRAIN half of the persisted vector index's lifecycle. Seeding
    follows the engine's fixed-seed convention adapted to an arbitrary
    id space: subvectors of the PQ_K SMALLEST surviving vec_ids (on
    the session tables this is exactly the ``vec_id < PQ_K`` seed),
    renumbered to dense code ids 0..PQ_K-1 so the model is independent
    of the survivors' absolute ids."""
    seed_ids = [
        int(r["vec_id"])
        for r in e.select("vec_id").orderBy("vec_id").limit(PQ_K).collect()
    ]
    if not seed_ids:
        raise ValueError("cannot train a PQ codebook on an empty frame")
    renum = "CASE " + " ".join(
        f"WHEN vec_id = {v} THEN {i}" for i, v in enumerate(seed_ids)
    ) + " END"
    sv = _subvectors_of(e)
    seed = sv.filter(F.col("vec_id").isin(seed_ids)).select(
        "m",
        F.expr(renum).cast("int").alias("cid"),
        F.expr(f"transform(s, x -> floor(x * {_Q6}) / {_Q6})").alias("c"),
    )
    rows = _pq_lloyd_rounds(spark, sv, seed, rounds)
    return spark.createDataFrame(rows, schema=_PQ_CB_SCHEMA)


# The PQ code table is the persisted half of an IVF-PQ index: encode
# writes it once, every search reads it. Memoized+materialized per
# (session, dataset) exactly like _knn_assignment — without the memo
# each of the three PQ queries re-ran the full n·M·K distance build.
@memo.dataset
def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, cid, d2): each vector's per-subspace code — the PQ
    code table an IVF-PQ index persists (materialized, see cache note).
    The m·k distance table comes from a broadcast codebook × exploded
    subspace (map-side by definition of PQ); the argmin collapses
    through a map-combinable min_by over a (d2, cid) struct, NOT a
    top-1 window — the exchange carries one row per (vec, subspace),
    n·M rows instead of n·M·K. The lexicographic struct order IS the
    (d2 ASC, cid ASC) tie-break."""
    return materialize_small(
        _pq_assign(
            _pq_subvectors(spark, sf_dir), _pq_codebook(spark, sf_dir)
        )
    )


def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode — the compression step of an IVF-PQ
    vector index (each vector → PQ_M one-byte codes + a reconstruction
    error, a 64× storage cut here). Completes the vector-store family:
    IVF cells (coarse), PQ codes (fine), int8 (flat), recall eval.

    Per subspace m, a vector's code is the L2-argmin over the PQ_K
    codebook entries, tie-broken by code id (see _pq_codes for the
    map-combinable plan). Distances are the same left-assoc HOF fold
    both engines replay; argmin separation between random centroids is
    ≫ ulp, the same argument the knn/IVF oracles rest on."""
    return (
        _pq_codes(spark, sf_dir)
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(m, cid))), p -> p.cid)"),
                ",",
            ).alias("codes_csv"),
            F.round(F.sum("d2"), 4).alias("pq_err"),
        )
    )


def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search via asymmetric distance computation (ADC) — the query
    side of an IVF-PQ index: the query builds a PQ_M×PQ_K look-up table
    of subspace distances to the codebook ONCE, and every coded vector's
    approximate distance is just Σ_m lut[m][code_m] — no vector data is
    touched at query time, only the (tiny) code table.

    Plan: the LUT is codebook × subspace (PQ_M·PQ_K = 128 rows,
    broadcast); the code table joins it on (m, cid) map-side, collapses
    per vector with a partial-combined SUM, and the top-10 compiles to
    TakeOrderedAndProject. At 100 TB the query-time working set is the
    code table (M bytes/vector), the defining economy of PQ."""
    return _adc_topk(spark, sf_dir, _pq_codes(spark, sf_dir))


# batch ANN serving: queries = odd vec_ids below this bound (8 query
# vectors), corpus = the even vec_ids — the dedup_incremental split
# convention, so queries never trivially match themselves
QBATCH_MAX = 16
BATCH_TOPK = 5


def knn_batch_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query ADC serving — the shape a vector store actually runs
    in production: a BATCH of query vectors answered in ONE plan
    against the PQ code table (every other knn_* query serves the
    single fixed QUERY_VEC). Per query the LUT is its PQ_M×PQ_K
    subspace-distance table; batching stacks them into one
    (qid, m, cid, qd2) table built by joining the query subvectors
    with the broadcast learned codebook — no per-query job, no driver
    loop over queries.

    Plan: codes ⋈ broadcast(batched LUT) on (m, cid) fans each code
    row out to |queries| rows map-side (work ∝ |codes|·|queries| — the
    irreducible ADC cost of a query batch), one (qid, vec_id) hash
    aggregate, and a per-qid WindowGroupLimit top-k. At 100 TB this is
    the online-serving inner loop: queries arrive in micro-batches,
    each batch is one such plan over the persisted code table.

    Parity: qd2 is the same position-ordered fold as the single-query
    LUT; the per-pair SUM is rounded to 4dp (partial-order drift
    absorbed — the knn_pq_adc convention); (adc ASC, vec_id ASC)
    tie-break replayed by the oracle's ROW_NUMBER."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    sv_q = _subvectors_of(
        e.filter(
            (F.col("vec_id") % 2 == 1) & (F.col("vec_id") < QBATCH_MAX)
        ).select("vec_id", "embedding")
    ).select(F.col("vec_id").alias("qid"), "m", "s")
    blut = sv_q.join(broadcast(_pq_codebook(spark, sf_dir)), "m").select(
        "qid",
        "m",
        "cid",
        F.expr(_PQ_SUBD2.format(a="s", b="c")).alias("qd2"),
    )
    codes = _pq_codes(spark, sf_dir).filter(F.col("vec_id") % 2 == 0)
    scored = (
        codes.select("vec_id", "m", "cid")
        .join(broadcast(blut), ["m", "cid"])
        .groupBy("qid", "vec_id")
        .agg(F.round(F.sum("qd2"), 4).alias("adc_dist"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BATCH_TOPK)
        .withColumn("rank", F.col("rank").cast("int"))
    )


# the batch serving path's eval pair, memoized per (session, dataset)
# exactly like the single-query truth (_knn_exact_truth) and the family
# predictions (_knn_eval_predictions): a deployment computes both sides
# of the batch recall dashboard once per index (re)build.
@memo.dataset
def _knn_batch_eval_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(truth, adc): exact brute-force top-BATCH_TOPK per batch query
    and the measured batch-ADC top-BATCH_TOPK lists, both bounded
    (|batch|·BATCH_TOPK rows), materialized + memoized."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(
        (F.col("vec_id") % 2 == 1) & (F.col("vec_id") < QBATCH_MAX)
    ).select(
        F.col("vec_id").alias("qid"),
        as_double(F.col("embedding")).alias("qv"),
    )
    c = e.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id", as_double(F.col("embedding")).alias("cv")
    )
    from pyspark.sql import Window

    from .similarity import cosine

    scored = c.crossJoin(broadcast(q)).select(
        "qid",
        "vec_id",
        F.round(cosine(F.col("cv"), F.col("qv")), 4).alias("cos_sim"),
    )
    wt = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    truth = materialize_small(
        scored.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= BATCH_TOPK)
        .select("qid", "vec_id")
    )
    adc = materialize_small(
        knn_batch_adc(spark, sf_dir).select("qid", "vec_id")
    )
    return truth, adc


def knn_batch_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@BATCH_TOPK of the batch-ADC serving path, PER QUERY,
    against exact brute-force truth — completing the measured-not-
    guessed contract for the serving shape (``knn_recall_family``
    covers the single-fixed-query read paths; this covers the
    multi-query one). Output: (qid, n_hits, n_truth, recall).

    Scale shape: truth costs |queries|×|corpus| scored pairs via a
    broadcast of the bounded query batch over the corpus — map-side,
    linear in corpus size (the sanctioned nested loop) — computed once
    per index build alongside the measured ADC lists (the memoized
    eval-artifact pair, :func:`_knn_batch_eval_artifacts`); the report
    is ONE left join + ONE aggregate over those BATCH_TOPK-row lists
    (round 14 — previously a semi-join + two aggregates + a distinct +
    a re-join, five extra stages of per-rep scheduling). The ADC keys
    are unique per qid (a top-k list), so the left join cannot
    duplicate truth rows and count(marker) IS the semi-join count;
    every qid with truth rows appears, exactly as the old
    distinct-then-left-join emitted it."""
    truth, adc = _knn_batch_eval_artifacts(spark, sf_dir)
    marked = truth.join(
        adc.withColumn("__hit", F.lit(1)), ["qid", "vec_id"], "left"
    )
    return (
        marked.groupBy("qid")
        .agg(F.count("__hit").alias("__n_hits"))
        .select(
            "qid",
            F.col("__n_hits").cast("bigint").alias("n_hits"),
            F.lit(BATCH_TOPK).cast("bigint").alias("n_truth"),
            F.round(
                F.col("__n_hits").cast("double") / F.lit(BATCH_TOPK),
                4,
            ).alias("recall"),
        )
    )


def _adc_topk(
    spark: SparkSession,
    sf_dir: str,
    codes: DataFrame,
    k: int = 10,
    lut: DataFrame | None = None,
) -> DataFrame:
    """The one ADC scorer all PQ search variants share: broadcast the
    query LUT, equi-join on (m, code), partial-combined per-vector SUM,
    deterministic top-k. Any change to rounding/tie-breaks/join keys
    lands in exactly one place (and the oracle twins compose the same
    shared SQL fragments). ``lut`` overrides the session-built query
    LUT — the persisted-index search path passes one derived from the
    on-disk codebook."""
    if lut is None:
        lut = _pq_query_lut(spark, sf_dir)
    return (
        codes.select("vec_id", "m", "cid")
        .join(broadcast(lut), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("qd2"), 4).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


# the session query LUT per (session, dataset): a ≤128-row local
# relation — bounded model state, like the codebook rows it derives from
@memo.dataset
def _pq_query_lut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, cid, qd2): the query vector's PQ_M×PQ_K subspace-distance
    look-up table — ≤128 rows, built once per session and broadcast.

    Computed DRIVER-SIDE from the memoized codebook rows: both the
    codebook rows and the query vector (QUERY_VEC) already
    live on the driver, so deriving 128 subspace distances through a
    Spark job spent ~0.3s of pure scheduling per search (measured
    round 13 — it was a third of knn_ivf_pq_refined's wall). The fold
    is the same left-to-right (x-y)² accumulation as the _PQ_SUBD2
    aggregate HOF (the _fold_dot precedent: identical IEEE-754 double
    ops in identical order are bit-equal across driver and executor),
    pinned by tests/test_round13_invariants.py against _pq_lut_from.
    At 100 TB nothing changes — the LUT is per-QUERY model state; the
    scan this table broadcasts into is where the data size lives."""
    lut_rows = []
    for m, cid, c in _pq_codebook_rows(spark, sf_dir):
        qs = QUERY_VEC[m * PQ_SUBDIM : m * PQ_SUBDIM + PQ_SUBDIM]
        s = 0.0
        for x, y in zip(qs, c):
            s += (x - y) * (x - y)
        lut_rows.append((m, cid, s))
    return spark.createDataFrame(
        lut_rows, schema="m int, cid int, qd2 double"
    )


def _pq_lut_from(cb: DataFrame) -> DataFrame:
    """The query LUT derived from ANY (m, cid, c) codebook table —
    session-built or loaded from a persisted vector index."""
    return (
        cb.select("m", "cid", "c", query_vec_col().alias("qv"))
        .select(
            "m",
            "cid",
            F.expr(f"slice(qv, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias(
                "qs"
            ),
            "c",
        )
        .select(
            "m",
            "cid",
            F.expr(_PQ_SUBD2.format(a="qs", b="c")).alias("qd2"),
        )
    )


def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ search — the production ANN read path, composed
    end-to-end from this engine's own index artifacts: the coarse
    quantizer picks the query's IVF_N_PROBE cells (driver arithmetic on
    the loaded 16-vector model, `_ivf_model`), the materialized postings
    list (`_knn_assignment`) yields those cells' members, and scoring is
    pure ADC over the persisted PQ code table — at query time neither
    the probe filter nor the scorer touches a full-width vector.

    Plan: membership is a left-semi join against the cell-pruned
    assignment; the 128-row LUT broadcasts into a map-side equi-join on
    (m, code); the per-vector sum partial-combines; top-10 compiles to
    TakeOrderedAndProject. Work ∝ (probed fraction of corpus)·PQ_M
    rows of code-table IO — the IVF recall/cost dial times the PQ
    compression, which is the entire point of the combination."""
    return _adc_topk(spark, sf_dir, _ivf_pruned_codes(spark, sf_dir))


def _ivf_pruned_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ code table restricted to the query's probed IVF cells —
    the exact row set an IVF-PQ search reads."""
    _, probe_ids = _ivf_model(spark, sf_dir)
    members = (
        _knn_assignment(spark, sf_dir)
        .select("vec_id", "cid")
        .filter(F.col("cid").isin(*probe_ids))
        .select("vec_id")
    )
    return _pq_codes(spark, sf_dir).join(members, "vec_id", "left_semi")


PQ_REFINE_SHORTLIST = 50


def knn_ivf_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage three of the production ANN read path (probe → ADC →
    REFINE): the ADC scan over the probed cells produces a
    PQ_REFINE_SHORTLIST-deep shortlist from codes alone, and only those
    R vectors' full-width embeddings are fetched for exact re-ranking —
    quantization error can reorder near-ties, so real deployments always
    re-rank a small multiple of k exactly. At 100 TB the full-width
    fetch is R point lookups, not a scan; here it is a broadcast
    semi-prune of the embeddings table (same shape).

    Output: exact cosine top-10 of the shortlist, with the ADC distance
    carried alongside so the refinement is visible."""
    shortlist = _adc_topk(
        spark,
        sf_dir,
        _ivf_pruned_codes(spark, sf_dir),
        k=PQ_REFINE_SHORTLIST,
    )
    return _refine_shortlist(spark, sf_dir, shortlist)


def _refine_shortlist(
    spark: SparkSession, sf_dir: str, shortlist: DataFrame
) -> DataFrame:
    """The exact re-rank epilogue over a prebuilt ADC shortlist —
    split out (round 14) so knn_recall_family can feed ONE shared
    shortlist to both the ivf_pq and refined rungs instead of growing
    a second scorer tree. Identical plan to the inline form."""
    e = load_table(spark, sf_dir, "embeddings")
    exact = (
        e.join(broadcast(shortlist), "vec_id")
        .select(
            "vec_id",
            "adc_dist",
            F.round(
                cosine(as_double(F.col("embedding")), query_vec_col()), 4
            ).alias("cos_sim"),
        )
    )
    return exact.orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    ).limit(10)


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absmax int8 quantization of the embedding column — the storage
    transform a 100 TB vector store applies before indexing (4× smaller,
    one scale per vector). Pure per-row array arithmetic: map-side,
    shuffle-free, whole-stage codegen.

    Quantized values are defined as floor(x·127/absmax + 0.5) (integer
    half-up, unambiguous in both engines — engine round() half-even vs
    half-up would drift); the vector is emitted CSV-serialized (the
    repo's convention for array outputs in oracle-checked queries) plus
    an L1 checksum."""
    e = load_table(spark, sf_dir, "embeddings")
    staged = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    ).select(
        "vec_id",
        "v",
        F.expr("greatest(array_max(transform(v, x -> abs(x))), 1e-12d)").alias("mx"),
    ).select(
        "vec_id",
        "mx",
        F.expr(
            "transform(v, x -> cast(floor(x * 127.0d / mx + 0.5d) as int))"
        ).alias("q"),
    )
    return staged.select(
        "vec_id",
        F.round(F.col("mx") / 127.0, 6).alias("scale"),
        F.array_join("q", ",").alias("q_csv"),
        F.expr(
            "cast(aggregate(q, 0L, (acc, x) -> acc + abs(x)) as bigint)"
        ).alias("q_l1"),
    )


# ------------------------------------------------------------ text analysis

# fastText-style hashed-n-gram linear quality classifier (round 7, the
# last common curation primitive — VERDICT r5 task 7): token uni+bigrams
# → hashed feature buckets → a fixed pseudo-random INTEGER weight per
# bucket → per-doc logit + keep decision. Integer weights make the
# per-doc sum order-independent and engine-exact; the logit is a single
# division of identical integers, floor-quantized, so the oracle is
# hash-exact (the corpus_split_assign md5 parity pattern).
QC_BUCKETS = 256
QC_MULT = 2654435761  # Knuth multiplicative-hash constant
QC_WEIGHT_MOD = 2001  # integer weights land in [-1000, 1000]
# the D suffixes keep Spark on the DOUBLE path — a bare decimal literal
# parses as DECIMAL and reroutes the division through decimal arithmetic
QC_SCALE = "1000.0D"


def _qc_bucket(g: str) -> str:
    """SQL fragment: the md5 feature bucket of n-gram expression ``g``
    — the ONE definition both the scorer's weight hash and the
    trainer's feature matrix compose, so they can never drift onto
    different bucketings."""
    return (
        f"(cast(conv(substring(md5({g}), 1, 8), 16, 10) as bigint)"
        f" % {QC_BUCKETS})"
    )


def _qc_weight(g: str) -> str:
    """SQL fragment: the integer weight of n-gram expression ``g`` —
    md5-bucket then a multiplicative scramble, all int64 arithmetic
    (max intermediate 255·QC_MULT < 2^40)."""
    return f"(({_qc_bucket(g)} * {QC_MULT}) % {QC_WEIGHT_MOD}) - 1000"


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality-classifier scoring pass: the shape of a
    fastText/CCNet-style curation filter (hashed n-gram features × a
    linear model → keep/drop), with a deterministic weight table so the
    decision is reproducible across engines and runs.

    Plan: pure per-row array arithmetic — the n-gram fold runs inside
    whole-stage codegen, no explode, no shuffle, no Python; scan-speed
    at 100 TB exactly like corpus_split_assign. A real deployment swaps
    the arithmetic weight for a broadcast ≤2^D-row learned weight table
    joined map-side; the feature hashing, batch shape, and keep
    semantics are identical."""
    return qc_score_of(load_table(spark, sf_dir, "documents"))


def qc_score_of(d: DataFrame) -> DataFrame:
    """The scoring pass over ANY (doc_id, text) frame — a stateless
    per-row map, so it composes unchanged into a streaming micro-batch
    (the curation gate of a streaming corpus build; pytest-verified
    stream==batch in tests/test_streaming_corpus.py)."""
    staged = (
        d.select("doc_id", F.expr("split(text, ' ')").alias("t"))
        .select(
            "doc_id",
            "t",
            F.expr(
                "CASE WHEN size(t) < 2 THEN slice(t, 1, 0) "
                "ELSE transform(sequence(1, size(t) - 1), "
                "i -> concat(t[i-1], ' ', t[i])) END"
            ).alias("b"),
        )
        .select(
            "doc_id",
            (
                # coalesced like the oracle's list_sum: a NULL-text doc
                # folds to sum_iw = 0 → keep = false (the classifier
                # DROPS degenerate docs, it doesn't abstain with NULL)
                F.coalesce(
                    F.expr(
                        f"aggregate(t, 0L, (acc, g) -> acc + ({_qc_weight('g')}))"
                    ),
                    F.lit(0).cast("long"),
                )
                + F.coalesce(
                    F.expr(
                        f"aggregate(b, 0L, (acc, g) -> acc + ({_qc_weight('g')}))"
                    ),
                    F.lit(0).cast("long"),
                )
            ).alias("sum_iw"),
            (F.size("t") + F.size("b")).cast("bigint").alias("n_features"),
        )
    )
    return staged.select(
        "doc_id",
        "n_features",
        F.expr(
            f"floor(cast(sum_iw as double) / (n_features * {QC_SCALE})"
            " * 10000.0D) / 10000.0D"
        ).alias("logit"),
        (F.col("sum_iw") > 0).alias("keep"),
    )


# the materialized hashed-feature matrix, memoized per (session,
# dataset) like the other index artifacts (_knn_assignment, _pq_codes)
@memo.dataset
def _qc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bucket, f): the hashed-n-gram feature matrix the
    classifier trains and scores on — token uni+bigrams bucketed by the
    same md5 arithmetic as :func:`quality_classifier_score`, with
    ``f`` the PER-MILLE bucket frequency ``(cnt·1000) div n_features``
    (integer floor division, exact in both engines). Frequencies, not
    raw counts: document length correlates with almost any content
    label, and unnormalized counts let that confound dominate the
    learned weights. One explode + one combine-friendly (doc_id,
    bucket) count agg; at 100 TB this is the materialize-once training
    artifact — and it IS materialized + memoized per (session,
    dataset) here: the trainer's plan references it from the weight
    fit, the scoring pass, and the threshold fit, and an unpinned
    matrix would recompute the explode for each (measured 3.4 s →
    ~1 s at sf0.1)."""
    return materialize_small(
        _qc_features_of(load_table(spark, sf_dir, "documents"))
    )


def _qc_features_of(d: DataFrame) -> DataFrame:
    """The feature transform over ANY (doc_id, text) frame — shared by
    the memoized training path and model inference
    (:func:`qc_score_with_model`)."""
    bucket = _qc_bucket("g")
    return (
        d.select("doc_id", F.expr("split(text, ' ')").alias("t"))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN size(t) < 2 THEN t "
                "ELSE concat(t, transform(sequence(1, size(t) - 1), "
                "i -> concat(t[i-1], ' ', t[i]))) END"
            ).alias("feats"),
        )
        .select(
            "doc_id",
            F.size("feats").cast("bigint").alias("tot"),
            F.explode("feats").alias("g"),
        )
        .select("doc_id", "tot", F.expr(bucket).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.expr("(count(*) * 1000L) div max(tot)").alias("f")
        )
    )

QC_LABEL_TOKEN = "spark"


def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the hashed-n-gram classifier instead of scoring with a
    fixed table — the supervised half of the fastText recipe, as a
    nearest-class-centroid linear model with a LEARNED decision
    threshold, all in exact integer arithmetic. The training label is
    content-derived and genuinely learnable from the features (y=+1
    iff the doc contains the token ``QC_LABEL_TOKEN``, ~77%/23% in the
    fixture; the fixture's ``lang`` column is independent of its
    synthetic text, so a real-signal label must come from the text).

    Model: w[b] = (Σ₊f[b]·1e6) div n_pos − (Σ₋f[b]·1e6) div n_neg —
    the per-bucket difference of class-mean per-mille frequencies
    (frequencies, not counts: doc length correlates with almost any
    content label and would otherwise dominate). Scores s = Σ w[b]·f[b]
    separate the classes around a non-zero operating point, so the
    threshold is LEARNED too: θ = midpoint of the class mean scores.
    (A full-batch perceptron was prototyped first and permanently
    oscillates between all-positive and all-negative under unit-rate
    batch updates — the closed-form centroid fit is the correct
    one-pass trainer here.) Every quantity is an int64 — frequencies
    ≤1000, weights ≤1e9, scores ≤2.6e14 — so sums are order-free and
    training is bit-exact across engines and partitionings; `div`
    truncates toward zero in BOTH engines (verified), so θ matches.

    Output: per-doc evaluation (doc_id, label, score, theta, pred_pos,
    correct) — verifying feature extraction, the fitted weights, the
    fitted threshold, and inference end-to-end. Accuracy above the
    majority-class baseline is pinned in pytest.

    Plan: the feature matrix (one explode + one combine-friendly count
    agg) is composed once; the weight fit is ONE ≤QC_BUCKETS-row
    aggregate broadcast back map-side; scoring is one doc_id-keyed
    partial-aggregated sum; θ is a 1-row aggregate cross-joined in. No
    driver-side collect anywhere — the whole train+eval is one lazy
    plan. At 100 TB: materialize the feature matrix, everything else
    is broadcast-sized."""
    _labels, _w, scored, theta = _qc_fit(spark, sf_dir)
    return scored.crossJoin(broadcast(theta)).select(
        "doc_id",
        F.col("y").alias("label"),
        F.col("s").cast("bigint").alias("score"),
        F.col("theta").cast("bigint").alias("theta"),
        (F.col("s") > F.col("theta")).alias("pred_pos"),
        ((F.col("s") > F.col("theta")) == (F.col("y") > 0)).alias(
            "correct"
        ),
    )


# the complete fit (labels, w, scored, theta), memoized per (session,
# dataset): quality_classifier_train, eval_pr_curve,
# eval_confusion_matrix and sinks.write_classifier_model all compose it,
# and an un-memoized fit replays the weight agg + scoring join per
# caller (VERDICT r9 "What's wrong" #3 — eval_pr_curve alone was 3.5 s).
@memo.dataset
def _qc_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(labels, weights, scored, theta): the complete classifier fit —
    composed by the trainer's eval output AND by
    ``sinks.write_classifier_model`` (which persists weights + θ as
    the deployable model artifact). ``scored`` carries (doc_id, y, s);
    ``theta`` is the 1-row learned threshold. ``w``/``scored``/``theta``
    come back MATERIALIZED and memoized per (session, dataset) like the
    other shared model artifacts (_qc_features, _cc_labels,
    _pq_codebook_rows): three headline queries plus the model sink share the
    fit, and each would otherwise replay the scoring join and the
    weight aggregate end to end."""
    feats = _qc_features(spark, sf_dir)
    labels = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.array_contains(
                F.split(F.col("text"), " "), QC_LABEL_TOKEN
            ),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("y"),
    )
    counts = labels.agg(
        F.sum(F.when(F.col("y") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("y") > 0, 0).otherwise(1))
        .cast("bigint")
        .alias("n_neg"),
    )
    # pin each stage before the next composes it, so the weight agg and
    # the scoring join each run exactly once across all four callers
    w = materialize_small(_qc_weights(feats, labels, counts))
    scored = labels.join(
        feats.join(broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("f") * F.col("w")).alias("s")),
        "doc_id",
    )
    scored = materialize_small(scored)
    # class-wide sums in DECIMAL(38,0): per-doc scores are int64-safe
    # (docstring bound ~2.6e14) but summing a class of them overflows
    # BIGINT past ~3.5e4 worst-case docs — DuckDB promotes SUM(BIGINT)
    # to HUGEINT, so Spark must sum exactly too or theta diverges.
    # The MEANS are back under the per-doc bound, so theta stays int64.
    theta = scored.crossJoin(broadcast(counts)).agg(
        F.expr(
            "cast(((sum(case when y > 0 then cast(s as decimal(38,0))"
            " else cast(0 as decimal(38,0)) end) div max(n_pos))"
            " + (sum(case when y < 0 then cast(s as decimal(38,0))"
            " else cast(0 as decimal(38,0)) end) div max(n_neg)))"
            " div 2 as bigint)"
        ).alias("theta")
    )
    # w is ≤QC_BUCKETS rows, theta is 1 row, scored is one narrow row
    # per doc — all artifact-sized relative to the explode they pin.
    return labels, w, scored, materialize_small(theta)


PR_CURVE_STEPS = 20


def eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve of the trained quality classifier — the
    threshold-sweep eval every curation classifier ships with (pick the
    operating point from the curve, not from θ alone): 21 thresholds
    spanning [min score, max score] in equal integer steps, each with
    predicted-positive count, TP/FP, precision, recall, F1.

    The scale design is the HISTOGRAM form, not a 21× data fanout:
    thresholds are bucket edges by construction (b = (s−lo) div Δ, so
    pred@k ⇔ b ≥ k exactly), the per-bucket (pos, neg) histogram is a
    ≤21-row aggregate, and the sweep is suffix sums over that tiny
    table — at 100 TB the corpus is scanned once and the curve costs
    nothing more. All in exact integer arithmetic until the final
    divisions."""
    _labels, _w, scored, _theta = _qc_fit(spark, sf_dir)
    bounds = scored.agg(
        F.min("s").alias("lo"),
        F.max("s").alias("hi"),
        F.sum(F.when(F.col("y") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
    )
    step = f"greatest(1L, (hi - lo) div {PR_CURVE_STEPS})"
    binned = scored.crossJoin(broadcast(bounds)).select(
        F.expr(
            f"least((s - lo) div {step}, {PR_CURVE_STEPS}L)"
        ).alias("b"),
        "y",
    )
    hist = binned.groupBy("b").agg(
        F.sum(F.when(F.col("y") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("y") > 0, 0).otherwise(1))
        .cast("bigint")
        .alias("neg"),
    )
    ks = spark.range(0, PR_CURVE_STEPS + 1).select(F.col("id").alias("k"))
    agg = (
        ks.join(broadcast(hist), F.col("b") >= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.sum(F.coalesce("pos", F.lit(0))).cast("bigint").alias("tp"),
            F.sum(F.coalesce("neg", F.lit(0))).cast("bigint").alias("fp"),
        )
    )
    p = F.col("tp") / (F.col("tp") + F.col("fp"))
    r = F.col("tp") / F.col("n_pos")
    return agg.crossJoin(broadcast(bounds)).select(
        "k",
        F.expr(f"lo + k * ({step})").alias("threshold"),
        "tp",
        "fp",
        (F.col("tp") + F.col("fp")).alias("n_pred"),
        F.when(F.col("tp") + F.col("fp") > 0, F.round(p, 6)).alias(
            "precision"
        ),
        F.round(r, 6).alias("recall"),
        F.when(F.col("tp") > 0, F.round(2 * p * r / (p + r), 6)).alias(
            "f1"
        ),
    )


def eval_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the trained quality classifier — the
    threshold-free counterpart of :func:`eval_pr_curve` (AUC is the
    Mann-Whitney U statistic: the probability a random positive
    outscores a random negative, ties counting half).

    The scale design mirrors the PR curve's histogram form: never a
    global sort of per-doc rows. Scores collapse to a per-DISTINCT-
    score (pos, neg) histogram first; a prefix sum over that (small)
    table counts, for each score s, the negatives strictly below s —
    then concordant pairs = Σ_s pos_s·neg_below_s and tied pairs =
    Σ_s pos_s·neg_s, all exact BIGLONG arithmetic in DECIMAL(38,0)
    (pair counts overflow int64 past ~3M balanced docs), with ONE
    float division at the end. At 100 TB the corpus is scanned once
    (by the memoized fit); the AUC itself costs a distinct-score agg.

    Output: 1 row (n_pos, n_neg, n_concordant, n_tied, auc)."""
    _labels, _w, scored, _theta = _qc_fit(spark, sf_dir)
    hist = scored.groupBy("s").agg(
        F.sum(F.when(F.col("y") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("y") > 0, 0).otherwise(1))
        .cast("bigint")
        .alias("neg"),
    )
    w = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the window runs over the distinct-score histogram, not the corpus
    cum = hist.select(
        "s",
        "pos",
        "neg",
        (F.sum("neg").over(w) - F.col("neg")).alias("neg_below"),
    )
    return cum.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.sum(
            F.col("pos").cast("decimal(38,0)") * F.col("neg_below")
        ).alias("_conc"),
        F.sum(F.col("pos").cast("decimal(38,0)") * F.col("neg")).alias(
            "_tied"
        ),
    ).select(
        "n_pos",
        "n_neg",
        F.col("_conc").cast("bigint").alias("n_concordant"),
        F.col("_tied").cast("bigint").alias("n_tied"),
        F.round(
            (
                F.col("_conc").cast("double")
                + F.col("_tied").cast("double") / 2.0
            )
            / (F.col("n_pos") * F.col("n_neg")).cast("double"),
            6,
        ).alias("auc"),
    )


CALIB_BINS = 10


def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the trained classifier: scores bucketed
    into CALIB_BINS equal-width bins over [min, max], each bin
    reporting its doc count, positive count, empirical positive rate,
    and mean score — the table a calibration plot (and any
    recalibration fit) is drawn from.

    Same histogram discipline as the PR curve: equal-WIDTH integer
    bins (never ntile — a global rank at corpus scale), the bin id a
    map-side expression over the broadcast 1-row bounds, the report a
    ≤CALIB_BINS-row aggregate. Mean score stays exact: scores are
    int64, summed in DECIMAL(38,0), divided once."""
    _labels, _w, scored, _theta = _qc_fit(spark, sf_dir)
    bounds = scored.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    step = f"greatest(1L, (hi - lo) div {CALIB_BINS})"
    binned = scored.crossJoin(broadcast(bounds)).select(
        F.expr(f"least((s - lo) div {step}, {CALIB_BINS}L - 1)").alias(
            "bin"
        ),
        "y",
        "s",
        F.expr(f"lo + least((s - lo) div {step}, {CALIB_BINS}L - 1)"
               f" * ({step})").alias("_edge"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.min("_edge").cast("bigint").alias("bin_lo"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("y") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
            F.sum(F.col("s").cast("decimal(38,0)")).alias("_sum_s"),
        )
        .select(
            "bin",
            "bin_lo",
            "n_docs",
            "n_pos",
            F.round(
                F.col("n_pos").cast("double") / F.col("n_docs"), 6
            ).alias("pos_rate"),
            F.round(
                F.col("_sum_s").cast("double") / F.col("n_docs"), 4
            ).alias("mean_score"),
        )
    )


NDCG_K = 10


def eval_ndcg_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking for the engine's fixed query —
    the graded-relevance eval that completes the retrieval harness
    (recall curves grade the ANN leg, P/R/F1/AUC grade the
    classifier; NDCG grades the lexical ranking itself).

    Relevance labels are deterministic and content-derived: rel(doc) =
    min(3, total occurrences of the query terms) — a 0–3 graded scale
    like real judgment sets. DCG@k = Σ (2^rel − 1) · wq(rank) with
    wq(r) = floor(1e6/log2(r+1))/1e6 (ranks are the constants 1..10,
    so the quantized weights are engine-identical); the ideal ranking
    re-sorts by (rel DESC, doc_id ASC). Both cumulative sums run over
    ≤10-row frames.

    Scale: the candidate set (docs containing a query term) is the
    same pushed-filter explode BM25 itself runs; both top-10s compile
    to TakeOrderedAndProject; everything after is 10-row arithmetic.

    Output: one row per rank 1..10 (rank, doc_id, rel, dcg_cum,
    idcg_cum, ndcg_cum) — row 10's ndcg_cum is NDCG@10."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    rel = (
        toks.filter(F.col("t").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id")
        .agg(
            F.least(F.count("*"), F.lit(3)).cast("int").alias("rel")
        )
    )
    ranked = (
        bm25_topk(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(NDCG_K)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            ),
        )
        .join(rel, "doc_id", "left")
        .select(
            "rank", "doc_id", F.coalesce("rel", F.lit(0)).alias("rel")
        )
    )
    ideal = (
        rel.orderBy(F.col("rel").desc(), F.col("doc_id").asc())
        .limit(NDCG_K)
        .withColumn(
            "irank",
            F.row_number().over(
                Window.orderBy(F.col("rel").desc(), F.col("doc_id").asc())
            ),
        )
        .select("irank", F.col("rel").alias("irel"))
    )
    wq = "(floor(1000000.0D / log2(rank + 1)) / 1000000.0D)"
    iwq = "(floor(1000000.0D / log2(irank + 1)) / 1000000.0D)"
    gains = (
        ranked.join(ideal, F.col("rank") == F.col("irank"))
        .select(
            "rank",
            "doc_id",
            "rel",
            F.expr(
                f"(cast(pow(2, rel) as bigint) - 1) * {wq}"
            ).alias("_g"),
            F.expr(
                f"(cast(pow(2, irel) as bigint) - 1) * {iwq}"
            ).alias("_ig"),
        )
    )
    wcum = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return gains.select(
        "rank",
        "doc_id",
        "rel",
        F.round(F.sum("_g").over(wcum), 6).alias("dcg_cum"),
        F.round(F.sum("_ig").over(wcum), 6).alias("idcg_cum"),
        F.round(
            F.sum("_g").over(wcum) / F.sum("_ig").over(wcum), 6
        ).alias("ndcg_cum"),
    )


def _qc_weights(
    feats: DataFrame, labels: DataFrame, counts: DataFrame
) -> DataFrame:
    """(bucket, w): the class-centroid-difference weight table."""
    return (
        feats.join(labels, "doc_id")
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("y") > 0, F.col("f")).otherwise(0)).alias(
                "pos_sum"
            ),
            F.sum(F.when(F.col("y") < 0, F.col("f")).otherwise(0)).alias(
                "neg_sum"
            ),
        )
        .crossJoin(broadcast(counts))
        .select(
            "bucket",
            F.expr(
                "(pos_sum * 1000000L) div n_pos"
                " - (neg_sum * 1000000L) div n_neg"
            ).alias("w"),
        )
    )


def qc_score_with_model(
    d: DataFrame, weights: DataFrame, theta: int
) -> DataFrame:
    """Apply a TRAINED classifier model to ANY (doc_id, text) frame:
    featurize (same per-mille hashed uni+bigrams as training), score
    against the broadcast weight table, decide keep = score > θ — the
    inference path a curation pipeline runs at ingest, batch or
    streaming (stateless per-row + one broadcast join). Model comes
    from ``sinks.read_classifier_model``; applying it to the training
    corpus reproduces the trainer's own predictions exactly
    (pytest-pinned)."""
    feats = _qc_features_of(d)
    return (
        feats.join(broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("f") * F.col("w")).alias("s"))
        .join(d.select("doc_id"), "doc_id", "right")
        .select(
            "doc_id",
            F.coalesce(F.col("s"), F.lit(0)).cast("bigint").alias("score"),
            (F.coalesce(F.col("s"), F.lit(0)) > F.lit(theta)).alias(
                "keep"
            ),
        )
    )


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = text.tokens("text")
    n_tokens = F.size(toks)
    compact_len = F.length(F.regexp_replace("text", " ", ""))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("text_len"),
        F.round(compact_len.cast("double") / n_tokens, 4).alias("avg_token_len"),
    )


def lang_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(text.stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.round(text.distinct_token_ratio("text"), 4).alias("distinct_ratio"),
        F.round(text.quality_score("text"), 4).alias("quality"),
    )


def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/C4-style filters):
    duplicate 3-gram fraction and the most-frequent-token share of each
    document.

    Both signals are pure array arithmetic — map-side, scan-speed,
    ZERO shuffles (plan-pinned). The top-token share is the max token
    multiplicity, computed as the longest equal-run of the SORTED token
    array via a single fold (O(n log n) per row inside codegen) — the
    round-7 replacement for the explode → two-shuffle histogram this
    query used through round 6 (bench: 2.5 s → map pass at sf0.1). At
    100 TB a per-row fold beats shuffling every token of every doc by
    construction; a doc is its own unit of work."""
    d = load_table(spark, sf_dir, "documents")
    # bind tokens, then grams, to real columns before use: a HOF lambda
    # re-evaluates a non-foldable subexpression per element, so building
    # grams from split(text) inline would re-split the text once per
    # 3-gram position (O(n·len) per doc), and using the grams expression
    # twice (distinct + total) would materialize it twice
    max_run = (
        "aggregate(array_sort(toks),"
        " named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', if(x <=> acc.prev, acc.run + 1L, 1L),"
        "   'best', greatest(acc.best, if(x <=> acc.prev, acc.run + 1L, 1L))),"
        " acc -> acc.best)"
    )
    # degenerate docs (NULL/empty text) are EXCLUDED: repetition ratios
    # over zero tokens are 0/0, and engines disagree on every NULL
    # fallback along the way — the quality gate upstream already drops
    # them (quality_classifier_score keep=false)
    return (
        d.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.expr(
                "transform(sequence(1, greatest(size(toks) - 2, 1)),"
                " i -> concat_ws(' ', slice(toks, i, 3)))"
            ).alias("grams"),
        )
        .select(
            "doc_id",
            F.round(
                1.0
                - F.size(F.array_distinct("grams")).cast("double")
                / F.size("grams"),
                4,
            ).alias("dup_3gram_ratio"),
            F.round(
                F.expr(max_run).cast("double") / F.size("toks"), 4
            ).alias("top_token_ratio"),
        )
    )


# ---- vocabulary broadcast size gate (unigram-LM family) ------------
# doc_unigram_logprob / quality_perplexity_buckets join the token
# stream against the vocabulary-sized logp model. For any capped
# tokenizer vocabulary (the production shape — CCNet's unigram LM is
# 64k SentencePiece) an explicit broadcast is the right plan; for a
# raw open-vocabulary explode of 100 TB of unnormalized text the
# vocab can exceed driver/broadcast limits, so the hint must come OFF
# and the join shuffle on tok (same answer — AQE may still pick a
# runtime broadcast from the ACTUAL size, which is the safe
# direction). The gate counts the vocab once per (session, dataset),
# memoized like every other model artifact so query build stays
# zero-jobs on re-use (test_build_guard).
VOCAB_BROADCAST_MAX_TERMS = 2_000_000

@memo.dataset
def _vocab_n(spark: SparkSession, sf_dir: str) -> int:
    """Distinct-token count of the documents corpus (the unigram vocab)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(text.tokens("text")).alias("tok"))
    return toks.groupBy("tok").agg(F.count("*").alias("n_tok")).count()


def _gate_vocab_broadcast(
    spark: SparkSession, sf_dir: str, lp: DataFrame
) -> DataFrame:
    """Return the logp model with the broadcast hint only when the
    distinct-token vocabulary fits the budget
    (``SPARK_GRAFT_VOCAB_BROADCAST_MAX_TERMS`` overrides the default
    cap; the plan test forces it to 0 and asserts the shuffle path)."""
    cap = int(
        os.environ.get(
            "SPARK_GRAFT_VOCAB_BROADCAST_MAX_TERMS",
            VOCAB_BROADCAST_MAX_TERMS,
        )
    )
    return F.broadcast(lp) if _vocab_n(spark, sf_dir) <= cap else lp


def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score (the CCNet recipe, one model class
    down): mean negative log-probability of each document's tokens under
    the corpus' own unigram LM. High values = rare-token-heavy docs
    (gibberish, boilerplate soup); the standard cheap stand-in for an LM
    perplexity filter.

    Shape: one explode → global token-count aggregate (the unigram
    model — vocabulary-sized, broadcast back THROUGH the size gate:
    :func:`_gate_vocab_broadcast` drops the hint when the vocab
    exceeds the broadcast budget and lets the join shuffle on tok —
    same answer either way, pytest-pinned), then a map-side logprob
    join and a per-doc combine-friendly mean. At 100 TB the vocab
    table is the model artifact a real pipeline persists;
    n_corpus_tokens is a scalar aggregate, not a collect. ln() is
    floor-quantized at 1e-6 (the tfidf_top_terms parity pattern —
    engines' ln may differ in the last ulp) and the per-doc mean is an
    exact BIGINT sum of the quantized micro-units before ONE division
    (the doc_bigram_logprob idiom): a double AVG over the quantized
    values is merge-order-dependent in its last ulp, which the skew
    audit caught flipping a round-at-4 digit on a duplicated-text
    corpus (SKEW_SWEEP round 13)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("n_tok"))
    total = vocab.agg(F.sum("n_tok").alias("n_corpus_tokens"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.expr(
            "cast(floor(ln(cast(n_tok as double) / n_corpus_tokens)"
            " * 1000000.0D) as bigint)"
        ).alias("logp_q"),
    )
    return (
        toks.join(_gate_vocab_broadcast(spark, sf_dir, lp), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                -F.sum("logp_q") / F.count("*") / F.lit(1_000_000.0), 4
            ).alias("avg_neg_logp"),
        )
    )


def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy — one model class up from
    :func:`doc_unigram_logprob` (the CCNet ladder's next rung): mean
    negative log-probability of each document's token TRANSITIONS
    under the corpus' own add-one-smoothed bigram model,
    logp(b|a) = ln((c(a,b) + 1) / (c(a) + V)). Catches
    locally-plausible-but-incoherent text (shuffled sentences, template
    soup) that unigram frequency cannot see.

    Shape: adjacent-pair explode (map-side from the split array — the
    same guard as BPE for 1-token docs), a corpus-bounded bigram-count
    aggregate and a vocab-sized unigram aggregate, V as a broadcast
    1-row scalar, then the model joins back onto the transition stream
    UNHINTED (the bigram table is corpus-vocabulary-scale — exactly
    the open-vocabulary case the round-11 broadcast gate exists for,
    so Catalyst/AQE picks from actual size). ln floor-quantized at
    1e-6 and summed as exact BIGINT before ONE division."""
    d = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    pairs = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "if(size(toks) > 1,"
                " transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) as a,"
                " element_at(toks, i + 1) as b)),"
                " array())"
            )
        ).alias("p"),
    ).select("doc_id", "p.a", "p.b")
    bigrams = pairs.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    unigrams = (
        t.select(F.explode("toks").alias("a"))
        .groupBy("a")
        .agg(F.count("*").alias("c_a"))
    )
    vsize = unigrams.agg(F.count("*").alias("v"))
    model = (
        bigrams.join(unigrams, "a")
        .crossJoin(F.broadcast(vsize))
        .select(
            "a",
            "b",
            F.expr(
                "cast(floor(ln((c_ab + 1.0D) / (c_a + cast(v as double)))"
                " * 1000000.0D) as bigint)"
            ).alias("logp_q"),
        )
    )
    return (
        pairs.join(model, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_transitions"),
            F.round(
                -F.sum("logp_q") / F.count("*") / F.lit(1_000_000.0), 4
            ).alias("avg_neg_logp"),
        )
    )


def eval_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@k / Recall@k / reciprocal-rank table of the BM25
    ranking against the content-derived relevance labels — the binary-
    relevance half of the retrieval harness next to
    :func:`eval_ndcg_bm25`'s graded half (rel >= 1 ⇔ relevant, the
    standard binarization). Row k's reciprocal_rank is 1/r of the
    FIRST relevant hit at or above k (0 until one appears) — row 10
    carries P@10, R@10 and the query's MRR contribution.

    Exactness: cumulative relevant counts are integers over the ≤10-row
    ranked frame; P@k = cum/k and R@k = cum/n_relevant are single
    divisions of exact integers; first_rel_rank via a conditional MIN.
    Scale: identical to the NDCG query — the candidate explode is
    BM25's own pushed-filter scan, both top-10s are
    TakeOrderedAndProject, everything after is 10-row arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    rel = (
        toks.filter(F.col("t").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.least(F.count("*"), F.lit(3)).cast("int").alias("rel"))
    )
    n_rel = rel.filter(F.col("rel") >= 1).agg(
        F.count("*").cast("bigint").alias("n_relevant")
    )
    ranked = (
        bm25_topk(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(NDCG_K)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            ),
        )
        .join(rel, "doc_id", "left")
        .select(
            "rank",
            "doc_id",
            (F.coalesce("rel", F.lit(0)) >= 1).cast("int").alias("is_rel"),
        )
    )
    wcum = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ranked.withColumn(
            "n_rel_cum", F.sum("is_rel").over(wcum).cast("bigint")
        )
        .withColumn(
            "first_rel_rank",
            F.min(F.when(F.col("is_rel") == 1, F.col("rank"))).over(wcum),
        )
        .crossJoin(F.broadcast(n_rel))
        .select(
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "is_rel",
            "n_rel_cum",
            F.round(F.col("n_rel_cum") / F.col("rank"), 6).alias(
                "precision_at_k"
            ),
            F.round(F.col("n_rel_cum") / F.col("n_relevant"), 6).alias(
                "recall_at_k"
            ),
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("first_rel_rank"), F.lit(0.0)
                ),
                6,
            ).alias("reciprocal_rank"),
        )
    )


def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        text.predicted_lang("text").alias("predicted_lang"),
    )


def eval_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval primitive: the confusion matrix of the n-gram
    language identifier against the labeled ``lang`` column — per
    (predicted, actual) cell count and its share of the actual class
    (row-normalized recall), the standard harness every curation
    classifier is judged by. (On this synthetic corpus the label is
    independent of the text, so the matrix shows chance-level mixing —
    exactly what the harness should report for such a labeler.)

    Shape: the per-doc prediction is map-side array arithmetic
    (lang_id_ngram); the matrix is one ≤|langs|²-key aggregate plus a
    broadcast per-class total join — scan-bound at 100 TB."""
    pred = lang_id_ngram(spark, sf_dir)
    cells = pred.groupBy(
        F.col("predicted_lang"), F.col("lang").alias("actual_lang")
    ).agg(F.count("*").alias("n"))
    totals = cells.groupBy("actual_lang").agg(
        F.sum("n").alias("n_actual")
    )
    return (
        cells.join(broadcast(totals), "actual_lang")
        .select(
            "predicted_lang",
            "actual_lang",
            "n",
            F.round(F.col("n") / F.col("n_actual"), 6).alias(
                "share_of_actual"
            ),
        )
    )


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_ws_tokens"),
        text.bpe_token_count("text").alias("n_bpe_tokens"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.rolling_fingerprint("text").alias("fp_min"),
        text.distinct_kgram_count("text").alias("n_kgrams"),
    )


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster vector centroids in exploded (cluster, dim, value)
    form — the distributed k-means update step. posexplode + hash
    aggregate: per-dim partial sums combine map-side, the shuffle
    carries (clusters × dims) rows regardless of corpus size.
    Components are floor-quantized to 1e-6 units and summed as exact
    BIGINT before ONE division (a double SUM over billions of
    components is merge-order-dependent — the round-13 skew-audit
    class; 1e-6 is far below the round-at-4 output quantum)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            (F.col("vec_id") % 8).alias("cluster_id"),
            F.posexplode(as_double(F.col("embedding"))).alias("dim", "v"),
        )
        .groupBy("cluster_id", "dim")
        .agg(
            F.round(
                F.sum(F.expr("cast(floor(v * 1000000.0D) as bigint)"))
                / F.count("*")
                / F.lit(1_000_000.0),
                4,
            ).alias("centroid_v"),
            F.count("*").alias("n_vecs"),
        )
    )


def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sharding for training-data output: each
    doc goes to shard md5(text)[:4] mod 16, with per-shard size stats.

    Content (not id) hashing keeps shard assignment stable under
    re-ingestion and independent of upstream partitioning — the property
    a 100 TB training-data writer needs so a re-run overwrites the same
    shards. md5 is the cross-engine-portable choice (oracle-exact).
    """
    from ..sinks import with_shard

    d = load_table(spark, sf_dir, "documents")
    return (
        with_shard(d).select("shard", F.length("text").alias("text_len"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("text_len").alias("total_chars"),
        )
    )


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, strip non-alphanumerics,
    collapse whitespace) — the standard pre-dedup/pre-tokenize pass."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.substring(norm, 1, 80).alias("norm_prefix"),
        F.length(norm).alias("norm_len"),
        F.md5(norm).alias("norm_hash"),
    )


def sample_per_group_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling: take the 3 docs per language
    whose md5(doc_id || salt) sorts lowest — reproducible downsampling
    with no RNG state, stable under re-runs and input reordering (the
    property a resumable 100 TB sampling job needs; sample_stratified
    is the seeded-RNG fractional counterpart). md5 is engine-portable,
    so unlike the RNG path this one is fully oracle-checked."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|corpus-v1")))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "lang", h.alias("sample_key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "doc_id", "sample_key", F.col("rn").cast("int").alias("rank"))
    )


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded stratified sampling by language: downsample the dominant
    strata (the corpus-rebalancing move before training). Bernoulli
    sampling per stratum — embarrassingly parallel, no shuffle; the
    seed pins the row set so replays are deterministic. rows-only:
    DuckDB's RNG differs, so pytest asserts the per-stratum proportions
    instead (tests/test_functions.py)."""
    d = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 1.0}
    return d.sampleBy("lang", fractions, seed=42).select("doc_id", "lang", "source")


# ------------------------------------------------------------- multimodal


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata via Arrow-batched mapInPandas (oracle checks
    the byte-level results against DuckDB's blob functions)."""
    d = load_table(spark, sf_dir, "documents")
    return multimodal.blob_meta(multimodal.with_blob(d))


def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-codec image decode (real codecs stubbed; plumbing real)."""
    d = load_table(spark, sf_dir, "documents")
    return multimodal.decode_image_meta(multimodal.with_blob(d), use_fake_codec=True)


def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-codec audio decode (real codecs stubbed; plumbing real)."""
    d = load_table(spark, sf_dir, "documents")
    return multimodal.decode_audio_meta(multimodal.with_blob(d), use_fake_codec=True)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return multimodal.sample_frames(multimodal.with_blob(d))


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection on the OPAQUE BINARY column: 64-bit byte-
    level SimHash (multimodal.phash64, an Arrow-batched mapInPandas
    stage) → the standard 4×16-bit band blocking with MAX_BUCKET
    hygiene → hamming ≤ 8 verification — the asset-dedup pass a
    multimodal training-data pipeline runs on images/audio it never
    decodes. Mirrors dedup_simhash's downstream exactly; only the
    signature source differs (byte 8-gram set over the payload vs
    word multiset over the text), so text-dedup and asset-dedup share
    one banding/verify/report machinery.

    Scale: signature cost is one linear pass per blob inside
    mapInPandas (no shuffle); candidates are band-bounded exactly as
    the text family. The fixture's blobs are the documents' UTF-8
    bytes (the multimodal fake-codec convention), which is what lets
    DuckDB replay the byte shingles as char 8-grams and check the
    whole pipeline hash-exactly."""
    d = load_table(spark, sf_dir, "documents")
    sigs = multimodal.phash64(multimodal.with_blob(d))
    banded = sigs.select(
        "doc_id",
        F.col("phash").alias("sim"),
        F.explode(simhash_bands(F.col("phash"))).alias("band_key"),
    )
    pairs = lsh_candidate_pairs_payload(
        banded,
        "doc_id",
        "sim",
        pair_filter=lambda df: df.filter(
            hamming64(F.col("p_a"), F.col("p_b")) <= 8
        ),
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        hamming64(F.col("p_a"), F.col("p_b")).cast("int").alias("hamming"),
    )


OUTLIER_TOP_K = 20
OUTLIER_Q = 1_000_000


def embedding_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: per-vector diagonal
    Mahalanobis distance (mean of squared per-dimension z-scores
    against the corpus-wide per-dim mean/variance), top-K reported —
    the vectors a curation pass eyeballs first (corrupt embeddings,
    out-of-distribution docs, encoder version skew).

    Exactness discipline: components quantize to 1e6-grid BIGINTs, so
    the per-dim sufficient statistics (n, Σq, Σq²; cross terms in
    DECIMAL(38,0)) are exact; μ and σ² derive from them in identical
    float expressions; each (vec, dim) z² quantizes BACK to a BIGINT
    before the per-vector sum (double sums are merge-order-dependent;
    integer sums are not — the events_type_entropy rule). Shape: one
    posexplode scan → a dims-sized stats aggregate (broadcast back) →
    one map-side z² projection → a per-vec hash agg → top-K via
    TakeOrderedAndProject. Zero-variance dims contribute 0 by guard."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "vec_id",
        "label",
        F.posexplode(as_double(F.col("embedding"))).alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("v") * OUTLIER_Q).cast("long").alias("q"),
    )
    dec = "decimal(38,0)"
    stats = comp.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("q").cast(dec)).alias("s"),
        F.sum(F.col("q").cast(dec) * F.col("q")).alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        (F.col("n").cast(dec) * F.col("ss") - F.col("s") * F.col("s")).cast(
            "double"
        )
        / (F.col("n").cast("double") * F.col("n").cast("double"))
    )
    z2 = (
        (F.col("q").cast("double") - mu)
        * (F.col("q").cast("double") - mu)
        / var
    )
    terms = comp.join(broadcast(stats), "dim").select(
        "vec_id",
        "label",
        F.when(var > 0, F.floor(z2 * OUTLIER_Q).cast("long"))
        .otherwise(F.lit(0))
        .alias("t"),
    )
    per_vec = terms.groupBy("vec_id", "label").agg(
        F.sum("t").alias("m2q"), F.count("*").alias("dims")
    )
    return (
        per_vec.select(
            "vec_id",
            "label",
            F.round(
                F.col("m2q").cast("double")
                / (F.col("dims").cast("double") * OUTLIER_Q),
                6,
            ).alias("mean_z2"),
        )
        .orderBy(F.col("mean_z2").desc(), F.col("vec_id").asc())
        .limit(OUTLIER_TOP_K)
    )


def _embedding_outlier_oracle() -> str:
    q = OUTLIER_Q
    return f"""
        WITH comp AS (
            SELECT vec_id, label,
                   CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER)
                       AS dim,
                   CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * {q}, 0)
                        AS BIGINT) AS q
            FROM embeddings
        ),
        stats AS (
            SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(q AS HUGEINT)) AS s,
                   SUM(CAST(q AS HUGEINT) * q) AS ss
            FROM comp GROUP BY dim
        ),
        terms AS (
            SELECT vec_id, label,
                   CASE WHEN CAST(n * ss - s * s AS DOUBLE)
                             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) > 0
                        THEN CAST(FLOOR(
                            (CAST(q AS DOUBLE)
                             - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                            * (CAST(q AS DOUBLE)
                               - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                            / (CAST(n * ss - s * s AS DOUBLE)
                               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                            * {q}) AS BIGINT)
                        ELSE 0 END AS t
            FROM comp JOIN stats USING (dim)
        ),
        per_vec AS (
            SELECT vec_id, label, SUM(t) AS m2q, COUNT(*) AS dims
            FROM terms GROUP BY 1, 2
        )
        SELECT vec_id, label,
               ROUND(CAST(m2q AS DOUBLE)
                     / (CAST(dims AS DOUBLE) * {q}), 6) AS mean_z2
        FROM per_vec
        ORDER BY mean_z2 DESC, vec_id ASC
        LIMIT {OUTLIER_TOP_K}
    """


CURRICULUM_LEN_EDGES = (200, 400)  # chars: short / medium / long


def corpus_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-planning mix table: the corpus cross-tabulated by
    classifier-score bin × document-length bucket, each cell carrying
    doc count, exact char volume, and corpus share — the table a
    quality-curriculum schedule (start short+high-score, anneal
    toward the full mix) is drawn from, and the coverage check that a
    score threshold doesn't silently empty a length band.

    Same scale discipline as the eval tables: score bins are
    equal-WIDTH over broadcast [lo, hi] bounds, length buckets are
    FIXED edges — never ntile/percentile (global sorts at corpus
    scale); one corpus-scan hash aggregate to ≤ bins×3 cells. Exact
    integers until the share division."""
    _labels, _w, scored, _theta = _qc_fit(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lo_e, hi_e = CURRICULUM_LEN_EDGES
    bounds = scored.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    step = f"greatest(1L, (hi - lo) div {CALIB_BINS})"
    cells = (
        scored.join(d, "doc_id")
        .crossJoin(broadcast(bounds))
        .select(
            F.expr(
                f"least((s - lo) div {step}, {CALIB_BINS}L - 1)"
            ).alias("score_bin"),
            F.when(F.col("n_chars") < lo_e, F.lit("short"))
            .when(F.col("n_chars") < hi_e, F.lit("medium"))
            .otherwise(F.lit("long"))
            .alias("len_bucket"),
            "n_chars",
        )
        .groupBy("score_bin", "len_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )
    totals = cells.agg(F.sum("n_docs").alias("t_docs"))
    return cells.crossJoin(broadcast(totals)).select(
        "score_bin",
        "len_bucket",
        "n_docs",
        "total_chars",
        F.round(
            F.col("n_docs").cast("double") / F.col("t_docs").cast("double"),
            6,
        ).alias("doc_share"),
    )


RAKE_TOP_K = 20


def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style keyword extraction over the corpus: tokens are
    segmented into candidate phrases at stopword boundaries
    (text.STOPWORDS — the same profile the language-ID heuristic
    uses), each content word scored degree/frequency (degree = total
    length of the phrases it appears in — words that travel in long
    multi-word phrases score high; Rose et al. 2010), top-K reported.
    The keyword table a corpus curation UI shows next to tfidf_top_terms
    — co-occurrence salience vs corpus rarity.

    Phrase segmentation is gaps-and-islands, NOT regex splitting:
    posexplode tokens with position, flag stopwords, phrase_id = the
    running stopword count per doc — one doc-keyed window exchange,
    deterministic in both engines where a regex-boundary split is a
    dialect minefield. Then two hash aggregates (phrase lengths, word
    stats) and a top-K via TakeOrderedAndProject over the vocab-sized
    word table. All-integer until the one score division."""
    d = load_table(spark, sf_dir, "documents")
    stop_arr = ", ".join(f"'{w}'" for w in text.STOPWORDS)
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias(
            "pos", "w"
        ),
    ).withColumn("is_stop", F.expr(f"w IN ({stop_arr})"))
    w_doc = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    phrased = (
        toks.withColumn(
            "phrase_id", F.sum(F.col("is_stop").cast("int")).over(w_doc)
        )
        .filter((~F.col("is_stop")) & (F.col("w") != ""))
        .select("doc_id", "phrase_id", "w")
    )
    plen = phrased.groupBy("doc_id", "phrase_id").agg(
        F.count("*").alias("plen")
    )
    scored = (
        phrased.join(plen, ["doc_id", "phrase_id"])
        .groupBy("w")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("degree"),
        )
        .select(
            F.col("w").alias("word"),
            "freq",
            "degree",
            F.round(
                F.col("degree").cast("double") / F.col("freq").cast("double"),
                4,
            ).alias("rake_score"),
        )
    )
    return scored.orderBy(
        F.col("rake_score").desc(),
        F.col("freq").desc(),
        F.col("word").asc(),
    ).limit(RAKE_TOP_K)


def _rake_oracle() -> str:
    stop_arr = ", ".join(f"'{w}'" for w in text.STOPWORDS)
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   generate_subscripts(string_split(lower(text), ' '), 1)
                       AS pos,
                   unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ),
        flagged AS (
            SELECT doc_id, pos, w,
                   CASE WHEN w IN ({stop_arr}) THEN 1 ELSE 0 END AS is_stop
            FROM toks
        ),
        phrased AS (
            SELECT doc_id, w,
                   SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS phrase_id,
                   is_stop
            FROM flagged
        ),
        content AS (
            SELECT doc_id, phrase_id, w FROM phrased
            WHERE is_stop = 0 AND w <> ''
        ),
        plen AS (
            SELECT doc_id, phrase_id, COUNT(*) AS plen
            FROM content GROUP BY 1, 2
        ),
        scored AS (
            SELECT w AS word,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(plen) AS BIGINT) AS degree
            FROM content JOIN plen USING (doc_id, phrase_id)
            GROUP BY w
        )
        SELECT word, freq, degree,
               ROUND(CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE), 4)
                   AS rake_score
        FROM scored
        ORDER BY rake_score DESC, freq DESC, word ASC
        LIMIT {RAKE_TOP_K}
    """


# ----------------------------------------- Gopher-style rule filter (r9)

# Rule bounds from the Gopher quality heuristics (Rae et al. 2021,
# arXiv:2112.11446, Table A1). Rules that depend on characters the
# synthetic fixture never contains (symbols, bullets, ellipses) are
# omitted rather than included as always-true columns.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOPWORDS = 2


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter: per-document signal columns,
    one boolean per rule (so a downstream curator can relax rules
    individually), and ``keep`` as the conjunction.

    Every signal is per-row array arithmetic over a single bound token
    column — map-side, ZERO shuffles, scan-speed at 100 TB: a document
    is its own unit of work, exactly like text_repetition_ratio."""
    d = load_table(spark, sf_dir, "documents")
    stops = ", ".join(f"'{w}'" for w in text.STOPWORDS)
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    m = t.select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.expr(
            "aggregate(toks, 0L, (acc, w) -> acc + length(w))"
        ).alias("n_word_chars"),
        F.expr("size(filter(toks, w -> w rlike '[a-zA-Z]'))").alias(
            "n_alpha_words"
        ),
        F.expr(f"size(filter(toks, w -> w in ({stops})))").alias(
            "n_stopwords"
        ),
    )
    # unrounded ratios feed the flags (both engines compute the same
    # IEEE-exact division); rounding is display-only
    mean_len = F.col("n_word_chars") / F.col("n_words")
    alpha_ratio = F.col("n_alpha_words") / F.col("n_words")
    return m.select(
        "doc_id",
        "n_words",
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(alpha_ratio, 4).alias("alpha_word_ratio"),
        "n_stopwords",
        (
            (F.col("n_words") >= GOPHER_MIN_WORDS)
            & (F.col("n_words") <= GOPHER_MAX_WORDS)
        ).alias("rule_word_count"),
        (
            (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
            & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN)
        ).alias("rule_mean_word_len"),
        (alpha_ratio >= GOPHER_MIN_ALPHA_WORD_RATIO).alias("rule_alpha_words"),
        (F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS).alias("rule_stopwords"),
        (
            (F.col("n_words") >= GOPHER_MIN_WORDS)
            & (F.col("n_words") <= GOPHER_MAX_WORDS)
            & (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
            & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN)
            & (alpha_ratio >= GOPHER_MIN_ALPHA_WORD_RATIO)
            & (F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS)
        ).alias("keep"),
    )


def gopher_keep_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Filter to rows passing the Gopher `keep` conjunction — the
    corpus-build ingest-gate twin of :func:`quality_gopher_rules` (same
    module constants, same arithmetic), returning the input columns
    unchanged. Still a pure map-side pass: the metric columns are bound
    once, used by the filter, and dropped."""
    stops = ", ".join(f"'{w}'" for w in text.STOPWORDS)
    m = (
        df.withColumn("__toks", F.split(text_col, " "))
        .withColumn("__n_words", F.size("__toks"))
        .withColumn(
            "__n_word_chars",
            F.expr("aggregate(__toks, 0L, (acc, w) -> acc + length(w))"),
        )
        .withColumn(
            "__n_alpha", F.expr("size(filter(__toks, w -> w rlike '[a-zA-Z]'))")
        )
        .withColumn(
            "__n_stop", F.expr(f"size(filter(__toks, w -> w in ({stops})))")
        )
    )
    mean_len = F.col("__n_word_chars") / F.col("__n_words")
    alpha_ratio = F.col("__n_alpha") / F.col("__n_words")
    keep = (
        (F.col("__n_words") >= GOPHER_MIN_WORDS)
        & (F.col("__n_words") <= GOPHER_MAX_WORDS)
        & (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN)
        & (alpha_ratio >= GOPHER_MIN_ALPHA_WORD_RATIO)
        & (F.col("__n_stop") >= GOPHER_MIN_STOPWORDS)
    )
    return m.filter(keep).drop(
        "__toks", "__n_words", "__n_word_chars", "__n_alpha", "__n_stop"
    )


# ------------------------------------------------- BM25 retrieval (r9)

BM25_QUERY_TERMS = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed query (Robertson/Sparck Jones;
    the Lucene-default k1=1.2, b=0.75 scoring) over the documents
    corpus — the standard lexical leg of a retrieval/curation stack
    next to the ANN family.

    Scale shape: one explode pre-filtered to the query terms (the
    filter is pushed below the shuffle, so the per-(doc,term) agg sees
    only matching postings, never the whole token stream), vocabulary-
    sized df and 1-row corpus stats broadcast onto it, then a global
    top-k that compiles to TakeOrderedAndProject — no full sort.

    Float parity: idf is ln-based, so it floor-quantizes at 1e-6 (the
    tfidf_top_terms idiom — ln may differ in the last ulp across
    engines); everything after is IEEE-exact +,*,/ in a FIXED textual
    order — per-term scores become pivoted columns summed s0+s1+s2,
    never a float SUM whose order the shuffle picks."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    dl = t.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    posting = t.select(
        "doc_id", F.explode("toks").alias("term")
    ).filter(F.col("term").isin(*BM25_QUERY_TERMS))
    tf = posting.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = posting.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    k1, b = BM25_K1, BM25_B
    scored = (
        tf.join(broadcast(df_), "term")
        .crossJoin(broadcast(stats))
        .join(dl, "doc_id")
        .select(
            "doc_id",
            "term",
            F.expr(
                "floor(ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))"
                " * 1000000.0D) / 1000000.0D"
                f" * (tf * {k1 + 1.0}D)"
                f" / (tf + {k1}D * ({1.0 - b}D + {b}D"
                " * (dl / (sum_dl / n_docs))))"
            ).alias("s"),
        )
    )
    wide = scored.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == term, F.col("s"))), F.lit(0.0)
            ).alias(f"s{i}")
            for i, term in enumerate(BM25_QUERY_TERMS)
        ]
    )
    total = F.col("s0") + F.col("s1") + F.col("s2")
    return (
        wide.select("doc_id", total.alias("_bm25"))
        .orderBy(F.col("_bm25").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_K)
        .select("doc_id", F.round(F.col("_bm25"), 4).alias("bm25"))
    )


def contamination_family_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination dashboard (round 9 — the contamination
    counterpart of ``dedup_family_report``): how many training docs
    each screen flags against the benchmark split (doc_id % 100 == 0 /
    odd vec_ids, the family's fixture conventions), one row per
    modality:

    - ``ngram``: docs sharing a CONTAM_NGRAM-word n-gram
      (``contamination_ngram`` — verbatim leakage);
    - ``substring``: docs sharing an exact SPAN_TOKENS-token span (the
      ``dedup_substring_spans`` machinery pointed at the benchmark —
      long-verbatim leakage, stricter than ngram);
    - ``semantic``: training vectors with a cosine near-dup benchmark
      vector (``contamination_semantic`` — paraphrased leakage).

    Each input is an already-verified family member (the substring
    screen reuses the span-hash recipe inline); the report is three
    tiny aggregates unioned, and the oracle nests each screen's full
    SQL — one green row re-verifies the whole decontamination family."""
    from .corpus import contamination_ngram

    ng = contamination_ngram(spark, sf_dir).agg(
        F.count("*").cast("bigint").alias("n_flagged")
    )
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % 100).alias("m"),
        F.split("text", " ").alias("toks"),
    )
    k = SPAN_TOKENS
    sp = t.select(
        "doc_id",
        "m",
        F.explode(
            F.expr(
                f"case when size(toks) >= {k} then"
                f" transform(sequence(1, size(toks) - {k} + 1),"
                f" i -> md5(concat_ws(' ', slice(toks, i, {k}))))"
                " else array() end"
            )
        ).alias("h"),
    )
    ev = sp.filter(F.col("m") == 0).select("h").distinct()
    sub = (
        sp.filter(F.col("m") != 0)
        .join(broadcast(ev), "h")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_flagged"))
    )
    sem = contamination_semantic(spark, sf_dir).agg(
        F.countDistinct("train_id").cast("bigint").alias("n_flagged")
    )
    out = None
    for method, df in (("ngram", ng), ("substring", sub), ("semantic", sem)):
        row = df.select(F.lit(method).alias("method"), F.col("n_flagged"))
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------- hybrid lexical+vector fusion (r9)

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
HYBRID_TOP_K = 10


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009): fuse the BM25 lexical top-20 with the exact-cosine vector
    top-10 (doc_id == vec_id by fixture contract) as
    ``1/(60+rank_lex) + 1/(60+rank_vec)``, missing-list ranks
    contributing 0 — the standard two-leg retrieval stack composed
    from this engine's own legs.

    Scale shape: both inputs are already top-k artifacts (≤20 rows —
    TakeOrderedAndProject on the corpus side), so the rank windows,
    the full-outer join, and the final sort all run on bounded data;
    the corpus is scanned exactly twice (once per leg), never joined
    against itself. Ranks are assigned over the ROUNDED leg scores
    with id tiebreaks (both engines rank identical numbers), and the
    two reciprocal terms are summed in fixed textual order."""
    from pyspark.sql import Window

    lex = bm25_topk(spark, sf_dir)
    vec = sim_topk_cosine(spark, sf_dir)
    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    wv = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    lr = lex.select(
        "doc_id", F.row_number().over(wl).alias("lex_rank")
    )
    vr = vec.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wv).alias("vec_rank"),
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)
    )
    return (
        lr.join(vr, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "vec_rank", rrf.alias("_rrf"))
        .orderBy(F.col("_rrf").desc(), F.col("doc_id").asc())
        .limit(HYBRID_TOP_K)
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round(F.col("_rrf"), 6).alias("rrf_score"),
        )
    )


# --------------------------------------- exact substring spans (r9)

SPAN_TOKENS = 8


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499, decision reduced to fixed-length spans — the
    MapReduce-friendly form of their suffix-array pass): for every
    document, the fraction of its 8-token spans that appear verbatim
    in at least one OTHER document.

    Scale shape: one explode (linear in total tokens) keyed by the
    span's full md5 (fixed 32-byte shuffle key, 128-bit so collisions
    are negligible — never the raw span text), a count-distinct-docs
    agg with map-side partial aggregation, and a join back on the same
    md5 key — the partitioning from the agg is reused, no second
    shuffle of the span table. Per-doc totals are a map-side-combined
    count. No all-pairs anything: cost is O(total tokens), the same
    class as exact-doc dedup."""
    # per-token md5 work the byte-sized split planning cannot see —
    # fan out a single-split corpus first (no-op at scale)
    d = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    k = SPAN_TOKENS
    # exact-length spans only: sequence(a, b) DESCENDS when b < a, so
    # short docs need the explicit empty-array branch
    spans = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"case when size(toks) >= {k} then"
                f" transform(sequence(1, size(toks) - {k} + 1),"
                f" i -> md5(concat_ws(' ', slice(toks, i, {k}))))"
                " else array() end"
            )
        ).alias("h"),
    )
    hot = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    tot = spans.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    dup = (
        spans.join(hot, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_spans"),
            F.max("n_docs").alias("max_span_docs"),
        )
    )
    return tot.join(dup, "doc_id").select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.round(F.col("n_dup_spans") / F.col("n_spans"), 4).alias(
            "dup_span_ratio"
        ),
        "max_span_docs",
    )


def scrub_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-substring dedup EXECUTED (the RefinedWeb / Lee et al.
    2021 removal, not just the report): every 8-token span that appears
    in ≥2 documents is kept only in its canonical owner (the minimum
    doc_id containing it) and the covered tokens are REMOVED from every
    other document's text. Returns per doc the scrubbed text plus
    removal accounting.

    Scale shape: the span table (one explode, linear in total tokens,
    md5-keyed) feeds a per-span (owner, n_docs) aggregate; non-owned
    duplicated span positions come back to each doc through one more
    equi-join on the same key and a per-doc collect (bounded by the
    doc's own token count — never cross-doc). The scrub itself is
    per-row array arithmetic built to stay LINEAR in tokens: covered
    indices are materialized once via flatten(transform(starts,
    s -> sequence(s, s+7))) and removed with one hash-based
    array_except — no exists() scan per token, which would go
    quadratic on a fully-duplicated long document."""
    d = load_table(spark, sf_dir, "documents")
    return span_scrub_frame(d.select("doc_id", "text"))


def span_scrub_frame(d: DataFrame) -> DataFrame:
    """The composable scrub core over any (doc_id, text) frame —
    :func:`scrub_duplicate_spans` is its whole-corpus instantiation,
    and ``sinks.apply_dedup_corpus(scrub_spans=True)`` runs it over the
    ladder's SURVIVOR set (span ownership must be decided among the
    docs that remain, or content would be scrubbed whose only
    duplicate was already deleted)."""
    t = fan_out_small_scan(d).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    k = SPAN_TOKENS
    # 0-based span start positions alongside the hashes
    spans = t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"case when size(toks) >= {k} then"
                f" transform(sequence(1, size(toks) - {k} + 1),"
                f" i -> md5(concat_ws(' ', slice(toks, i, {k}))))"
                " else array() end"
            )
        ).alias("pos", "h"),
    )
    owners = (
        spans.groupBy("h")
        .agg(
            F.min("doc_id").alias("owner"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    starts = (
        spans.join(owners, "h")
        .filter(F.col("doc_id") != F.col("owner"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("starts"))
    )
    scrubbed = (
        t.join(starts, "doc_id", "left")
        .withColumn(
            "starts",
            F.coalesce(F.col("starts"), F.expr("cast(array() as array<int>)")),
        )
        .withColumn(
            "__covered",
            F.expr(
                "array_distinct(flatten(transform(starts,"
                f" s -> sequence(s, least(s + {k} - 1,"
                " size(toks) - 1)))))"
            ),
        )
        .withColumn(
            "__kept_idx",
            F.expr("array_except(sequence(0, size(toks) - 1), __covered)"),
        )
    )
    return scrubbed.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size("__covered").alias("n_removed"),
        F.round(F.size("__covered") / F.size("toks"), 4).alias(
            "removed_ratio"
        ),
        F.expr(
            "concat_ws(' ', transform(__kept_idx,"
            " i -> element_at(toks, i + 1)))"
        ).alias("text_scrubbed"),
    )


def knn_batch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch LSH retrieval — the JOIN form of hyperplane LSH: the
    single-query variant (knn_lsh_hyperplane) folds the query's band
    values into a map-side filter; a query BATCH instead materializes
    band signatures for both sides and meets them in a (band_idx,
    band_val) equi-join — the shape a serving tier runs when queries
    arrive in micro-batches, and the third member of the batch-serving
    family next to knn_batch_adc (codes) and the persisted-index path.

    Plan: one signature aggregate per side (16 codegen'd plane dots),
    4-row band explode each, equi-join → distinct candidate pairs
    (a pair sharing 2+ bands must not score twice), exact cosine only
    on candidates (broadcast query vectors; work ∝ candidates, never
    |corpus|·|queries|), per-qid WindowGroupLimit top-5. At 100 TB the
    corpus signature table is the persisted artifact, band-partitioned
    so each query batch's join prunes to its band partitions."""
    from pyspark.sql import Window

    planes = _lsh_planes()
    e = load_table(spark, sf_dir, "embeddings")
    x = "cast(x as double)"

    def _bands_of(df: DataFrame, idcol: str) -> DataFrame:
        agg = (
            df.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("vec_id")
            .agg(
                *[
                    F.expr(
                        f"sum({x} * element_at("
                        f"{_sql_double_array(list(p))}, pos + 1))"
                    ).alias(f"dh{h}")
                    for h, p in enumerate(planes)
                ]
            )
        )
        bands = _lsh_band_expr("dh")
        return agg.select(
            F.col("vec_id").alias(idcol),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("bi"),
                            F.expr(b).cast("int").alias("bv"),
                        )
                        for i, b in enumerate(bands)
                    ]
                )
            ).alias("jb"),
        ).select(idcol, F.col("jb.bi").alias("bi"), F.col("jb.bv").alias("bv"))

    corpus = e.filter(F.col("vec_id") % 2 == 0)
    queries = e.filter(
        (F.col("vec_id") % 2 == 1) & (F.col("vec_id") < QBATCH_MAX)
    )
    cand = (
        _bands_of(queries, "qid")
        .join(_bands_of(corpus, "vec_id"), ["bi", "bv"])
        .select("qid", "vec_id")
        .distinct()
    )
    qv = queries.select(
        F.col("vec_id").alias("qid"),
        as_double(F.col("embedding")).alias("qv"),
    )
    cv = corpus.select("vec_id", as_double(F.col("embedding")).alias("cv"))
    scored = (
        cand.join(broadcast(qv), "qid")
        .join(cv, "vec_id")
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BATCH_TOPK)
        .select("qid", "rank", "vec_id", "cos_sim")
    )


MMR_LAMBDA_SQL = "0.7D"
MMR_K = 5
MMR_SHORTLIST = 20

# Query ids whose FINAL result is a collected local relation (the
# driver-side greedy): a warm repeat build returns the memoized
# relation and executes ~zero work, so a best-of-N bench rep would
# time a memo hit + a ≤5-row noop, not the query (VERDICT r13 item 2).
# Each id's result memo is the memo kind of its own function name.
# bench.py clears exactly these memos before every timed rep, so each
# rep re-runs the greedy and its bounded artifact collects; the
# artifact memos (_mmr_artifacts / _mmr_batch_artifacts) stay warm —
# the accepted build-once/serve-many shape whose epilogue is what the
# rep measures.
RESULT_MEMOIZED_IDS = frozenset({"mmr_rerank", "mmr_rerank_batch"})


def clear_result_memos() -> None:
    """Drop the result-level (collected local relation) memos ONLY.

    Bench scaffolding: called between timed reps so the headline
    number is a real greedy re-run, never a memo hit. Artifact-level
    memos are deliberately untouched."""
    memo.clear(*RESULT_MEMOIZED_IDS)


# the (shortlist, pairwise-sim) pair, memoized per (session, dataset)
# like every checkpoint-backed model artifact — the zero-jobs-at-build
# guard requires warm builds free
@memo.dataset
def _mmr_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    e = load_table(spark, sf_dir, "embeddings")
    scored = e.select(
        "vec_id",
        F.round(
            cosine(as_double(F.col("embedding")), query_vec_col()), 4
        ).alias("rel"),
    )
    short = materialize_small(
        scored.orderBy(
            F.col("rel").desc(), F.col("vec_id").asc()
        ).limit(MMR_SHORTLIST)
    )
    sv = e.join(short.select("vec_id"), "vec_id").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    a = sv.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = sv.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    sims = materialize_small(
        a.crossJoin(broadcast(b))
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("s"),
        )
    )
    return short, sims


# the FINAL local relation is memoized too: the driver-side greedy
# collects at build time, so only a result-level memo keeps repeat
# builds at zero jobs
@memo.dataset
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k via Maximal Marginal Relevance (Carbonell &
    Goldstein 1998): greedily pick 5 of the query's top-20 cosine
    shortlist, each step maximizing λ·rel − (1−λ)·max-sim-to-selected
    (λ=0.7) — the rerank RAG retrievers run so the context window isn't
    5 near-copies of the same passage.

    Scale shape: MMR is inherently sequential in k, so the ONLY
    scalable formulation is exact-top-R shortlist first (TakeOrdered —
    distributed), then the greedy over bounded R×R state: shortlist
    and its pairwise-sim table are pinned small artifacts
    (materialize_small) and the 5 selection rounds run driver-side
    over that model-sized state (see :func:`_mmr_greedy_batch`) —
    work independent of corpus size beyond the one scored scan.
    Both the relevance and pairwise sims are rounded to 4 before the
    greedy, so the argmax comparisons are bit-identical cross-engine."""
    short, sims = _mmr_artifacts(spark, sf_dir)
    # single query = a batch of one: same driver-side greedy (and the
    # same parity pin) as the batch/served paths, zero nested plans
    zero = F.lit(0).cast("bigint").alias("qid")
    return _mmr_greedy_batch(
        short.select(zero, "vec_id", "rel"),
        sims.select(zero, "a", "b", "s"),
    ).select("rank", "vec_id", "rel", "mmr")


# the numeric twin of MMR_LAMBDA_SQL ("0.7D") — one constant, two
# spellings; test_round13_invariants pins the driver greedy against
# the plan greedy, which would catch any divergence between them
MMR_LAMBDA = 0.7


def _mmr_greedy_batch(
    short: DataFrame, sims: DataFrame, k: int = MMR_K
) -> DataFrame:
    """The per-qid MMR greedy over stacked bounded artifacts —
    ``short`` (qid, vec_id, rel) and ``sims`` (qid, a, b, s) —
    computed DRIVER-SIDE (round 13). MMR is inherently sequential in
    k; the previous formulation kept each selection round as lazy
    DataFrame ops, which nests round r's plan inside round r+1's —
    Catalyst re-analyzes the whole deepening tree every round and the
    5-round batch plan spent ~3s of pure planning on ≤160-row state.
    The shortlists are bounded SERVING state (|Q|·R and |Q|·R² rows,
    R=MMR_SHORTLIST — corpus-size-independent by construction; the
    corpus-scan work all happens upstream in the shortlist build), so
    this is the codebook/centroid pattern: collect the model-sized
    artifact, do the sequential arithmetic where sequential work
    belongs, hand back a local relation. Float parity: λ·rel and
    λ·rel − (1−λ)·pen use the same IEEE-754 double ops Catalyst's
    constant-folded expressions ran (Python 1.0-0.7 ≡ the folded
    0.30000000000000004); the final ROUND stays IN Spark so oracle
    rounding semantics are untouched. Bit-equality with the plan
    formulation is pinned by
    tests/test_round13_invariants.py::test_mmr_driver_greedy_matches_plan.
    Shared by the session batch query and the served rerank
    (:func:`~..sinks.mmr_rerank_from_index`)."""
    spark = short.sparkSession
    lam = MMR_LAMBDA
    pen_w = 1.0 - lam
    srows = short.select("qid", "vec_id", "rel").collect()
    simrows = sims.select("qid", "a", "b", "s").collect()
    by_q: dict = {}
    for r in srows:
        by_q.setdefault(r["qid"], {})[r["vec_id"]] = r["rel"]
    sim: dict = {}
    for r in simrows:
        sim.setdefault(r["qid"], {})[(r["a"], r["b"])] = r["s"]
    out = []
    for qid, cands in by_q.items():
        remaining = dict(cands)
        sel_ids: list = []
        for rank in range(1, k + 1):
            best = None  # (mmr, vec_id, rel)
            for vid, rel in remaining.items():
                if rank == 1:
                    mmr = lam * rel
                    better = best is None or (
                        rel > best[2]
                        or (rel == best[2] and vid < best[1])
                    )
                else:
                    pens = [
                        sim[qid][(vid, b)]
                        for b in sel_ids
                        if (vid, b) in sim[qid]
                    ]
                    if not pens:
                        # mirrors the plan twin's INNER join to the
                        # penalty table: a candidate with no sim row
                        # to any selected item is not selectable
                        continue
                    mmr = lam * rel - pen_w * max(pens)
                    better = best is None or (
                        mmr > best[0]
                        or (mmr == best[0] and vid < best[1])
                    )
                if better:
                    best = (mmr, vid, rel)
            if best is None:
                break
            out.append((qid, rank, best[1], best[2], best[0]))
            sel_ids.append(best[1])
            del remaining[best[1]]
    qid_t = short.schema["qid"].dataType.simpleString()
    vid_t = short.schema["vec_id"].dataType.simpleString()
    res = spark.createDataFrame(
        out,
        schema=(
            f"qid {qid_t}, rank int, vec_id {vid_t},"
            " rel double, mmr double"
        ),
    )
    return res.select(
        "qid", "rank", "vec_id", "rel", F.round("mmr", 6).alias("mmr")
    )


def _mmr_greedy_batch_plan(
    short: DataFrame, sims: DataFrame, k: int = MMR_K
) -> DataFrame:
    """The lazy-DataFrame formulation of the per-qid MMR greedy (every
    query advances together per round; a window argmax replaces the
    single-query ORDER BY ... LIMIT 1). Kept as the parity twin the
    driver-side greedy is pinned against — and the shape a cluster
    would run if the per-batch shortlist state ever outgrew the
    driver (it is |Q|·R²-bounded, so it does not)."""
    from pyspark.sql import Window

    lam = MMR_LAMBDA_SQL
    w1 = Window.partitionBy("qid").orderBy(
        F.col("rel").desc(), F.col("vec_id").asc()
    )
    sel = (
        short.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "qid",
            "vec_id",
            "rel",
            F.lit(1).alias("rank"),
            F.expr(f"{lam} * rel").alias("mmr"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("mmr").desc(), F.col("vec_id").asc()
    )
    for r in range(2, k + 1):
        pen = (
            sims.join(
                sel.select("qid", F.col("vec_id").alias("b")),
                ["qid", "b"],
            )
            .groupBy(F.col("qid").alias("pqid"), F.col("a"))
            .agg(F.max("s").alias("pen"))
        )
        cand = (
            short.join(
                sel.select("qid", "vec_id"),
                ["qid", "vec_id"],
                "left_anti",
            )
            .join(
                pen,
                (F.col("qid") == F.col("pqid"))
                & (F.col("vec_id") == F.col("a")),
            )
            .select(
                "qid",
                "vec_id",
                "rel",
                F.expr(f"{lam} * rel - (1.0D - {lam}) * pen").alias(
                    "mmr"
                ),
            )
        )
        pick = (
            cand.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select("qid", "vec_id", "rel", F.lit(r).alias("rank"), "mmr")
        )
        sel = sel.unionByName(pick)
    return sel.select(
        "qid", "rank", "vec_id", "rel", F.round("mmr", 6).alias("mmr")
    )


@memo.dataset
def _mmr_batch_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The per-qid shortlists and within-qid pairwise sims of
    :func:`mmr_rerank_batch`, pinned and memoized like
    :func:`_mmr_artifacts`."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(
        (F.col("vec_id") % 2 == 1) & (F.col("vec_id") < QBATCH_MAX)
    ).select(
        F.col("vec_id").alias("qid"),
        as_double(F.col("embedding")).alias("qv"),
    )
    scored = e.crossJoin(broadcast(q)).select(
        "qid",
        "vec_id",
        F.round(
            cosine(as_double(F.col("embedding")), F.col("qv")), 4
        ).alias("rel"),
    )
    ws = Window.partitionBy("qid").orderBy(
        F.col("rel").desc(), F.col("vec_id").asc()
    )
    short = materialize_small(
        scored.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= MMR_SHORTLIST)
        .select("qid", "vec_id", "rel")
    )
    sv = short.select("qid", "vec_id").join(
        e.select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        ),
        "vec_id",
    )
    a = sv.select(
        "qid", F.col("vec_id").alias("a"), F.col("v").alias("va")
    )
    b = sv.select(
        "qid", F.col("vec_id").alias("b"), F.col("v").alias("vb")
    )
    sims = materialize_small(
        a.join(broadcast(b), "qid")
        .filter(F.col("a") != F.col("b"))
        .select(
            "qid",
            "a",
            "b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("s"),
        )
    )
    return short, sims


@memo.dataset
def mmr_rerank_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification for a BATCH of queries — production
    reranking happens per served query batch, not for one fixed
    vector (:func:`mmr_rerank`). Query set: the knn_batch family's
    odd vec_ids < QBATCH_MAX, answered in ONE stacked plan.

    Scale shape (the batch twin of mmr_rerank's): per-qid exact-top-R
    shortlists come from one broadcast-queries × corpus scored scan +
    a per-qid window top-R (WindowGroupLimit pushes the bound into
    the shuffle); the pairwise-sim table is a within-qid self-join of
    the R-row shortlists (|Q|·R² bounded rows); both are pinned small
    artifacts, and the MMR_K selection rounds run driver-side over
    that model-sized serving state (:func:`_mmr_greedy_batch`, plan
    twin parity-pinned). Restricting the batch to one query
    reproduces mmr_rerank's picks exactly (pytest-pinned)."""
    return _mmr_greedy_batch(*_mmr_batch_artifacts(spark, sf_dir))


def dedup_cross_source_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup pairs cut by SOURCE: per (source, source) cell the pair
    count, whether it crosses feeds, mean Jaccard, and each cell's
    share — the table that distinguishes within-feed re-posts (fix the
    crawler) from cross-feed syndication (fix the dedup policy), which
    a flat pair count cannot.

    Shape: the shared memoized LSH pair table joined twice to the
    documents' (doc_id, source) projection (pair table is bounded and
    broadcast); sources are ordered least/greatest per pair so the
    grouping is symmetric. Exactness: jaccard is already 4dp, so
    j4 = round(j·10⁴) is an exact BIGINT — sums stay integer and the
    mean is ONE division at output."""
    pairs = _minhash_candidates_with_jaccard(spark, sf_dir).filter(
        F.col("jaccard") >= 0.5
    )
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    joined = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("sb"),
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.round(F.col("jaccard") * 10000)
            .cast("long")
            .alias("j4"),
        )
    )
    cells = joined.groupBy("source_a", "source_b").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("j4").cast("bigint").alias("sj4"),
    )
    # share denominator as a scalar subquery (round 14): replaces the
    # partitionBy(lit(1)) window — no SinglePartition exchange; the
    # total's agg reuses the cell exchange only at runtime
    # (MergeScalarSubqueries or the AQE stage cache; the static plan
    # shows no ReusedExchange)
    tot = cells.agg(F.sum("n_pairs").alias("t"))
    return cells.select(
        "source_a",
        "source_b",
        (F.col("source_a") != F.col("source_b")).alias(
            "cross_source"
        ),
        "n_pairs",
        F.round(
            F.col("sj4").cast("double")
            / (F.col("n_pairs") * 10000.0),
            4,
        ).alias("mean_jaccard"),
        F.round(
            F.col("n_pairs").cast("double") / tot.scalar(),
            6,
        ).alias("pair_share"),
    )


def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the near-dup clusters: per cluster size,
    how many clusters, how many documents they hold, and how many
    would be dropped (size − 1 each) — the histogram that tells a
    dedup review whether duplication is a long tail of pairs or a few
    giant families (the two need different deletion policies).

    Pure aggregation over the memoized connected-components labels —
    no new graph work; the histogram is ≤|max cluster size| rows. The
    oracle replays the CC recursion over the brute-force pair graph
    and histograms identically."""
    cc = dedup_cluster_cc(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("size")
    )
    hist = sizes.groupBy("size").agg(
        F.count("*").cast("bigint").alias("n_clusters")
    )
    # share denominator as a scalar subquery (round 14): replaces the
    # partitionBy(lit(1)) window — no SinglePartition exchange; the
    # total's agg reuses the histogram exchange only at runtime
    # (MergeScalarSubqueries or the AQE stage cache; the static plan
    # shows no ReusedExchange)
    tot = hist.agg(
        F.sum(F.col("size") * F.col("n_clusters")).alias("t")
    )
    return hist.select(
        "size",
        "n_clusters",
        (F.col("size") * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_docs"),
        ((F.col("size") - 1) * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_dropped"),
        F.round(
            (F.col("size") * F.col("n_clusters")).cast("double")
            / tot.scalar(),
            6,
        ).alias("doc_share"),
    )


def knn_graph_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health report of the k-NN graph the dedup/clustering family
    consumes (``knn_ivf_join``'s neighbor lists): directed edge count,
    mutual (i→j AND j→i) edge count, the symmetry rate, and how many
    nodes have at least one mutual neighbor — the standard diagnostic
    before trusting a kNN graph for clustering (mutual-kNN graphs are
    what robust clustering actually uses; a low symmetry rate means
    the cell quantization is splitting true neighborhoods).

    Shape: the neighbor lists are a bounded |V|·k artifact (shared,
    memoized); mutuality is ONE self-equi-join on the reversed key;
    the report is a 1-row aggregate. No new corpus work at all."""
    knn = knn_ivf_join(spark, sf_dir).select("vec_id", "neighbor_id")
    rev = knn.select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("vec_id").alias("neighbor_id"),
    )
    mutual = knn.join(rev, ["vec_id", "neighbor_id"], "left_semi")
    stats = knn.agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.count_distinct("vec_id").cast("bigint").alias("n_nodes"),
    )
    mstats = mutual.agg(
        F.count("*").cast("bigint").alias("n_mutual"),
        F.count_distinct("vec_id")
        .cast("bigint")
        .alias("n_nodes_with_mutual"),
    )
    return stats.crossJoin(mstats).select(
        "n_nodes",
        "n_edges",
        "n_mutual",
        "n_nodes_with_mutual",
        # empty graph → NULL rate, not an ANSI DIVIDE_BY_ZERO abort
        F.when(
            F.col("n_edges") > 0,
            F.round(
                F.col("n_mutual").cast("double") / F.col("n_edges"), 6
            ),
        ).alias("symmetry_rate"),
    )


def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profile of the embedding L2 norms: count, exact
    mean (quantized-integer arithmetic), min/max, and nearest-rank
    quartiles — the first sanity table an embedding pipeline prints
    (an unnormalized or collapsed encoder shows up here before any
    recall metric moves).

    Exactness: each norm is the position-ordered fold both engines
    share (sqrt of the self-dot), floor-quantized to 1e-6 BIGINT;
    mean = (Σ div n) at the same grain; the quartiles are nearest-rank
    picks over the quantized-norm HISTOGRAM (the engine's rank-stat
    discipline — no global sort of vectors, and the key space is the
    norm's value domain)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    norms = e.select(
        F.expr(
            "cast(floor(sqrt(aggregate(transform(embedding,"
            " x -> cast(x as double)), 0D,"
            " (acc, x) -> acc + x * x)) * 1000000.0D) as bigint)"
        ).alias("nrm6")
    )
    hist = norms.groupBy("nrm6").agg(F.count("*").alias("c"))
    wt = Window.orderBy("nrm6").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(F.lit(1))
    cum = hist.select(
        F.col("nrm6").alias("v"),
        F.sum("c").over(wt).alias("cum"),
        F.sum("c").over(wall).alias("n"),
        F.sum(F.col("nrm6") * F.col("c")).over(wall).alias("s"),
    )
    pick = lambda q: F.min(  # noqa: E731 — nearest-rank pick
        F.when(
            F.col("cum")
            >= F.expr(f"cast(ceil({q} * n / 4.0) as bigint)"),
            F.col("v"),
        )
    )
    return cum.agg(
        F.max("n").cast("bigint").alias("n_vectors"),
        F.round(
            F.expr("max(s div n)").cast("double") / 1e6, 6
        ).alias("mean_norm"),
        F.round(F.min("v").cast("double") / 1e6, 6).alias("min_norm"),
        F.round(pick(1).cast("double") / 1e6, 6).alias("p25_norm"),
        F.round(pick(2).cast("double") / 1e6, 6).alias("median_norm"),
        F.round(pick(3).cast("double") / 1e6, 6).alias("p75_norm"),
        F.round(F.max("v").cast("double") / 1e6, 6).alias("max_norm"),
    )


def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension health profile of the embedding matrix: mean,
    standard deviation, min/max and dead-component fraction for every
    coordinate — the table that catches a collapsed or always-zero
    dimension (a classic encoder bug) before it poisons every cosine
    downstream. Complements embedding_norm_profile (per-VECTOR norms)
    with the per-COLUMN view.

    Shape: ONE posexplode → (dim) hash agg — output is exactly
    |dims| rows no matter the corpus size, and the partial aggregate
    combines map-side. Exactness: components floor-quantize to
    1e-6-grid BIGINTs (the norm-profile discipline), Σv and Σv² widen
    to DECIMAL(38,0) BEFORE the multiply so the sums are exact in any
    merge order at any scale; mean/std are doubles over those exact
    integers at the end, rounded at 6."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        F.posexplode(as_double(F.col("embedding"))).alias("dim", "v")
    ).select(
        "dim",
        F.expr(
            "cast(floor(v * 1000000.0D) as bigint)"
        ).alias("q"),
    )
    agg = comp.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("s2"),
        F.min("q").alias("mn"),
        F.max("q").alias("mx"),
        F.sum(F.when(F.col("q") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
    mean = "cast(s as double) / cast(n as double)"
    return agg.select(
        "dim",
        "n",
        F.round(F.expr(mean), 6).alias("mean_q6"),
        F.round(
            F.expr(
                f"sqrt(cast(s2 as double) / cast(n as double)"
                f" - pow({mean}, 2.0D))"
            ),
            6,
        ).alias("std_q6"),
        F.round(F.col("mn").cast("double") / 1e6, 6).alias("min_v"),
        F.round(F.col("mx").cast("double") / 1e6, 6).alias("max_v"),
        F.round(
            F.col("n_zero").cast("double") / F.col("n").cast("double"), 6
        ).alias("frac_zero"),
    )


ORACLES_DIM_PROFILE = """
    WITH comp AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(FLOOR(unnest(CAST(embedding AS DOUBLE[]))
                          * 1000000.0) AS BIGINT) AS q
        FROM embeddings
    ),
    agg AS (
        SELECT dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(q AS HUGEINT)) AS s,
               SUM(CAST(q AS HUGEINT) * q) AS s2,
               MIN(q) AS mn,
               MAX(q) AS mx,
               CAST(SUM(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero
        FROM comp GROUP BY dim
    )
    SELECT dim, n,
           ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_q6,
           ROUND(SQRT(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                      - POW(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 2.0)),
                 6) AS std_q6,
           ROUND(CAST(mn AS DOUBLE) / 1e6, 6) AS min_v,
           ROUND(CAST(mx AS DOUBLE) / 1e6, 6) AS max_v,
           ROUND(CAST(n_zero AS DOUBLE) / CAST(n AS DOUBLE), 6)
               AS frac_zero
    FROM agg
"""


# the pinned near-dup edge list (the LSH ≥0.5-Jaccard pairs) the two
# graph-structure queries share
@memo.dataset
def _near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_fuzzy_minhash(spark, sf_dir).select("doc_a", "doc_b")
    return materialize_small(pairs)


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph (the LSH ≥0.5-Jaccard
    pairs): node/edge counts, triangle count, and global transitivity
    (3·triangles / wedges) — the one-row report that tells a dedup
    operator whether families are CLIQUES (true duplicate clusters,
    transitivity → 1) or CHAINS (drifting near-dup paths where
    transitive deletion would over-delete).

    Scale shape — the standard distributed triangle recipe: edges are
    oriented low→high id, so each triangle is counted exactly once as
    (a<b<c); wedges come from ONE self equi-join on the middle node and
    close via a left-semi probe against the oriented edge set. Work is
    Σ_v deg²(v), the irreducible wedge count — and the near-dup edge
    set is already hygiene-bounded upstream (MAX_BUCKET), so no hot
    node degenerates the join. Wedge totals for the denominator come
    from a degree aggregate, never a pair materialization."""
    e = _near_dup_edges(spark, sf_dir)
    e1 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = e.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    closed = (
        e1.join(e2, "b")
        .join(
            e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c")),
            ["a", "c"],
            "left_semi",
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        e1.select(F.col("a").alias("v"))
        .unionAll(e1.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2)).cast("long").alias(
            "n_wedges"
        ),
    )
    edges_n = e.agg(F.count("*").alias("n_edges"))
    return (
        stats.crossJoin(broadcast(edges_n))
        .crossJoin(broadcast(closed))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
                ),
            ).alias("transitivity"),
        )
    )


# ------------------------------------------------ hyperplane-LSH ANN

LSH_N_PLANES = 16
LSH_N_BANDS = 4  # 4 bands × 4 bits — OR-construction over AND-bands
LSH_BITS_PER_BAND = LSH_N_PLANES // LSH_N_BANDS


@functools.lru_cache(maxsize=1)
def _lsh_planes() -> tuple[tuple[float, ...], ...]:
    """16 deterministic random hyperplanes in R^64: component (h, j)
    derives from md5('hp{h}:{j}') scaled to [-1, 1] — the engine's
    portable-hash idiom, so the planes are a pure data-independent
    constant both engines inline as identical literals (no RNG, no
    model file). Charikar's sign-random-projection family."""
    import hashlib

    return tuple(
        tuple(
            (
                int(hashlib.md5(f"hp{h}:{j}".encode()).hexdigest()[:8], 16)
                % 2001
                - 1000
            )
            / 1000.0
            for j in range(64)
        )
        for h in range(LSH_N_PLANES)
    )


def _lsh_band_expr(prefix: str) -> list[str]:
    """SQL for the 4-bit band values from the dot_h{h} sign columns —
    identical text in both engines (CASE sums, no bit intrinsics)."""
    out = []
    for b in range(LSH_N_BANDS):
        terms = " + ".join(
            f"(CASE WHEN {prefix}{b * LSH_BITS_PER_BAND + i} >= 0"
            f" THEN {1 << (LSH_BITS_PER_BAND - 1 - i)} ELSE 0 END)"
            for i in range(LSH_BITS_PER_BAND)
        )
        out.append(terms)
    return out


def _lsh_query_bands(qvec: list[float] = QUERY_VEC) -> list[int]:
    """Query-side band values, pure driver arithmetic: _fold_dot
    reproduces both engines' left-associative dot fold, so the sign
    bits match what SQL would compute for the same vector."""
    bits = [
        1 if _fold_dot(list(plane), qvec) >= 0 else 0
        for plane in _lsh_planes()
    ]
    return [
        sum(
            bits[b * LSH_BITS_PER_BAND + i]
            << (LSH_BITS_PER_BAND - 1 - i)
            for i in range(LSH_BITS_PER_BAND)
        )
        for b in range(LSH_N_BANDS)
    ]


def knn_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via sign-random-projection LSH (Charikar): each
    vector's 16-bit signature = signs of its dots with 16 deterministic
    hyperplanes; candidates share at least one of 4 four-bit bands with
    the query; exact cosine re-ranks only the candidates. Completes the
    ANN family matrix: brute force, IVF, PQ/ADC — and now hyperplane
    LSH, the variant that needs NO trained model (no centroids, no
    codebook), the right tool when the corpus distribution shifts
    faster than you can re-train a quantizer.

    Plan shape (same skeleton as _ivf_search): posexplode once, ALL 16
    plane dots + self-dot + query dot as codegen'd SUMs in ONE hash
    aggregate → signature/band projection → map-side band filter
    against the query's literal band values (the query is a constant —
    no join at all) → TakeOrderedAndProject. Work after the aggregate
    is proportional to the ~23% of the corpus sharing a band, and at
    100 TB the signature projection is the persisted index: band-
    partitioned signatures make the filter a partition-pruned read."""
    import math

    planes = _lsh_planes()
    qnorm = math.sqrt(_fold_dot(QUERY_VEC, QUERY_VEC))
    qbands = _lsh_query_bands()
    e = load_table(spark, sf_dir, "embeddings")
    x = "cast(x as double)"
    agg = (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("vec_id")
        .agg(
            *[
                F.expr(
                    f"sum({x} * element_at("
                    f"{_sql_double_array(list(p))}, pos + 1))"
                ).alias(f"dh{h}")
                for h, p in enumerate(planes)
            ],
            F.expr(f"sum({x} * {x})").alias("selfdot"),
            F.expr(
                f"sum({x} * element_at("
                f"{_sql_double_array(QUERY_VEC)}, pos + 1))"
            ).alias("dot_q"),
        )
    )
    bands = _lsh_band_expr("dh")
    staged = agg.select(
        "vec_id",
        F.expr(
            f"round(dot_q / (sqrt(selfdot) * {_sql_double(qnorm)}), 4)"
        ).alias("cos_sim"),
        *[F.expr(b).alias(f"band_{i}") for i, b in enumerate(bands)],
    )
    shared = " + ".join(
        f"(CASE WHEN band_{i} = {qbands[i]} THEN 1 ELSE 0 END)"
        for i in range(LSH_N_BANDS)
    )
    return (
        staged.filter(
            F.expr(
                " OR ".join(
                    f"band_{i} = {qbands[i]}" for i in range(LSH_N_BANDS)
                )
            )
        )
        .select(
            "vec_id",
            "cos_sim",
            F.expr(f"cast(({shared}) as int)").alias("n_shared_bands"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# ------------------------------------------------------- corpus budgeting

# Per-source token budget for the quality-ordered fill (a constant, not
# sf-scaled: the op's contract is "best docs until the budget is hit",
# whatever the corpus size — exactly how a per-domain training-mix quota
# behaves as the crawl grows).
TOKEN_BUDGET_PER_SOURCE = 800


def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered token-budget fill per source: rank each source's
    docs by the composite quality score and keep rows while the running
    token total stays within the per-source budget — the quota step
    that turns 'scored corpus' into 'training mix with N tokens per
    domain' (the greedy knapsack every data-mix recipe actually ships).

    Determinism: ordering is (rounded quality DESC, doc_id ASC) — the
    tiebroken rounded key, never a raw float. Shape: ONE window
    exchange on source (running sum + rank share the frame), map-side
    filter; no joins. At 100 TB this is a sort within each source
    partition — the same shape as pack_token_sequences' shard sort —
    and the budget makes the output size a constant per source."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        text.token_count("text").cast("bigint").alias("n_tokens"),
        F.round(text.quality_score("text"), 4).alias("quality"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("bigint")
        )
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE)
        .select("doc_id", "source", "n_tokens", "quality", "cum_tokens")
    )


def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing: within each language,
    tertile the documents by their unigram-LM perplexity proxy
    (doc_unigram_logprob's score) — head = most fluent third. The
    language-conditioned quality split CCNet/RedPajama use to keep
    'head' and sample 'middle'.

    Determinism: the tertile ORDER key is an exact BIGINT —
    (−Σ quantized-logp)·1000 div n_tokens — never a float average, so
    NTILE assignment is engine-independent even for near-tied docs.
    Shape: the unigram-LM recipe (explode → vocab agg → broadcast logp
    join → per-doc agg) + ONE window exchange on lang + a tiny final
    agg. The vocab table is the model artifact at scale; the ntile
    runs on doc-level rows (corpus-count, not token-count).

    The logp join goes through the same size gate as
    :func:`doc_unigram_logprob` (:func:`_gate_vocab_broadcast`): a
    capped tokenizer vocabulary (the production shape — CCNet's
    unigram LM is 64k SentencePiece) broadcasts; an open-vocabulary
    explode past the budget drops the hint and shuffles on tok (same
    answer, no driver-side materialization — pytest-pinned on both
    paths)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(text.tokens("text")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("n_tok"))
    total = vocab.agg(F.sum("n_tok").alias("n_corpus_tokens"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.expr(
            "cast(floor(ln(cast(n_tok as double) / n_corpus_tokens)"
            " * 1000000.0D) as bigint)"
        ).alias("logp_q"),
    )
    per_doc = (
        toks.join(_gate_vocab_broadcast(spark, sf_dir, lp), "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            (-F.sum("logp_q")).alias("neg_sum_q"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr("(neg_sum_q * 1000L) div n_tokens").alias("rank_key"),
            F.round(
                F.col("neg_sum_q")
                / F.col("n_tokens")
                / F.lit(1_000_000.0),
                4,
            ).alias("avg_neg_logp"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("rank_key").asc(), F.col("doc_id").asc()
    )
    bucketed = per_doc.withColumn("_nt", F.ntile(3).over(w)).withColumn(
        "bucket",
        F.expr(
            "case when _nt = 1 then 'head'"
            " when _nt = 2 then 'middle' else 'tail' end"
        ),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        # exact BIGINT sum of the 1e-4-lattice per-doc scores before ONE
        # division — a double AVG is merge-order-dependent in its last
        # ulp (the round-13 skew-audit class); min/max are exact picks
        F.round(
            F.sum(F.expr("cast(round(avg_neg_logp * 10000.0D) as bigint)"))
            / F.count("*")
            / F.lit(10000.0),
            4,
        ).alias("mean_neg_logp"),
        F.round(F.min("avg_neg_logp"), 4).alias("best_neg_logp"),
        F.round(F.max("avg_neg_logp"), 4).alias("worst_neg_logp"),
    )


def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level Shannon entropy per document — the information-
    density quality signal (low entropy = repetitive boilerplate, the
    tail the repetition filters miss when duplicates aren't adjacent).

    H = ln(n) − (Σ c·ln c)/n over token multiplicities c. Exactness:
    each ln is floor-quantized at 1e-6 and SCALED TO BIGINT, so the
    Σ c·ln_q(c) accumulator is exact integer arithmetic in any
    iteration order — one float division at the end. Shape: the
    multiplicities come from an equal-run fold over the SORTED token
    array (the text_repetition_ratio idiom): map-side, ZERO shuffles,
    O(n log n) per row inside codegen; a doc is its own unit of work
    at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    # acc accumulates Σ run·⌊ln(run)·1e6⌋ for each completed equal-run;
    # the finish lambda folds in the final run.
    run_term = (
        "if(acc.run > 0, acc.run * cast(floor(ln(cast(acc.run as double))"
        " * 1000000.0D) as bigint), 0L)"
    )
    ent_fold = (
        "aggregate(array_sort(toks),"
        " named_struct('prev', cast(null as string), 'run', 0L, 'acc', 0L),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', if(x <=> acc.prev, acc.run + 1L, 1L),"
        f"  'acc', if(x <=> acc.prev, acc.acc, acc.acc + {run_term})),"
        f" acc -> acc.acc + {run_term})"
    )
    # degenerate docs excluded — the same contract (and reason) as
    # text_repetition_ratio: entropy over zero tokens is undefined
    return (
        d.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct("toks")).cast("bigint").alias(
                "n_distinct"
            ),
            F.expr(ent_fold).alias("_acc"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.round(
                (
                    F.col("n_tokens")
                    * F.expr(
                        "cast(floor(ln(cast(n_tokens as double))"
                        " * 1000000.0D) as bigint)"
                    )
                    - F.col("_acc")
                )
                / (F.col("n_tokens") * F.lit(1_000_000.0)),
                4,
            ).alias("token_entropy"),
        )
    )


BPE_PAIR_TOPK = 20


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step of tokenizer training (Sennrich et al.
    2016): corpus word frequencies → adjacent-character-pair counts
    weighted by word frequency → the top merge candidates. Run
    iteratively with a merge applied per round this IS tokenizer
    induction; one round is the representative (and by far the most
    expensive) step.

    Shape: explode tokens → word-frequency agg (vocabulary-sized — the
    classic word-count shuffle, map-side combined), then pairs are
    generated per DISTINCT word (work ∝ vocabulary·word-length, never
    corpus size), one more vocabulary-sized agg, global top-k via
    TakeOrderedAndProject. At 100 TB the corpus-sized cost is exactly
    one word count; everything after runs on the vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.expr(
                "case when length(w) > 1 then"
                " transform(sequence(1, length(w) - 1),"
                " i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))"
                " else array() end"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("weighted_count"))
        .orderBy(F.col("weighted_count").desc(), F.col("pair").asc())
        .limit(BPE_PAIR_TOPK)
    )


# ---- BPE tokenizer training (round 11 — VERDICT r10 task 5) --------
#
# bpe_pair_counts is merge step 1; bpe_train_merges runs the full
# bounded induction: BPE_TRAIN_MERGES sequential rounds, each a
# VOCABULARY-sized aggregate (the k-means/PageRank memoized-iteration
# pattern — the corpus is scanned exactly once, for the word count).
#
# Representation: each distinct word is a delimiter-joined symbol
# string "␁␁s1␁␁s2␁␁…␁␁" (␁ = \\x01, double between symbols, double at
# both ends). Applying merge (a, b) → ab is then ONE builtin string
# replace of "␁a␁␁b␁" with "␁ab␁": left-to-right, non-overlapping —
# exactly greedy BPE merge application — and, critically, a function
# DuckDB evaluates with identical semantics, so the oracle replays the
# identical unrolled merges instead of trusting the engine
# (re-deriving each round's argmax itself, LIMIT 1 per round). The
# double delimiter is what keeps consecutive occurrences mergeable:
# replacing "␁a␁␁b␁" re-emits a full "␁…␁" so the neighbouring pair
# keeps its boundary (a single-delimiter form would consume it).
# Words containing the delimiter are excluded on both sides (none
# exist in real text; the guard keeps the trick airtight).

BPE_TRAIN_MERGES = 8
_BPE_D = "\x01"
_BPE_DD = _BPE_D * 2

def _bpe_syms(col: Column) -> Column:
    """Symbol array of a delimited word-string (drop the empty edges
    the leading/trailing delimiters produce)."""
    return F.filter(F.split(col, _BPE_DD), lambda x: x != F.lit(""))


def _bpe_words_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, freq, s): the distinct-word table with each word as its
    initial character-level delimited symbol string. One corpus-sized
    word count; everything downstream is vocabulary-sized."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
        )
        .filter((F.col("w") != "") & ~F.col("w").contains(_BPE_D))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    return words.select(
        "w",
        "freq",
        F.concat(
            F.lit(_BPE_DD),
            F.regexp_replace(F.col("w"), "(.)", "$1" + _BPE_DD),
        ).alias("s"),
    )


def _bpe_apply_merge(s: Column, a: str, b: str) -> Column:
    return F.replace(
        s,
        F.lit(_BPE_D + a + _BPE_DD + b + _BPE_D),
        F.lit(_BPE_D + a + b + _BPE_D),
    )


def _bpe_pair_count_top1(cur: DataFrame) -> list:
    pairs = cur.select(
        "freq",
        F.explode(
            # guard: Spark's sequence(1, 0) DESCENDS instead of being
            # empty, so single-symbol words need the explicit branch
            F.expr(
                "if(size(__syms) > 1,"
                " transform(sequence(1, size(__syms) - 1),"
                " i -> concat(element_at(__syms, i), ' ',"
                " element_at(__syms, i + 1))),"
                " array())"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("wc"))
        .orderBy(F.col("wc").desc(), F.col("pair").asc())
        .limit(1)
        .collect()
    )


@memo.dataset
def _bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_TRAIN_MERGES
) -> list[tuple[str, str, int]]:
    """The learned merge list [(left, right, weighted_count)], memoized
    per (session, dataset) like every model artifact: the first build
    runs ``n_merges`` bounded vocabulary-sized jobs over the pinned
    word table (each round's plan is the base plus the ≤r learned
    replaces — all constants by then); re-use costs zero jobs."""
    base = materialize_small(
        _bpe_words_delim(spark, sf_dir).select("freq", "s")
    )
    merges: list[tuple[str, str, int]] = []
    cur = base
    for _ in range(n_merges):
        top = _bpe_pair_count_top1(
            cur.withColumn("__syms", _bpe_syms(F.col("s")))
        )
        if not top:
            break
        a, b = top[0]["pair"].split(" ", 1)
        merges.append((a, b, int(top[0]["wc"])))
        cur = cur.withColumn("s", _bpe_apply_merge(F.col("s"), a, b))
    return merges


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full bounded BPE tokenizer induction (Sennrich et al. 2016):
    the first BPE_TRAIN_MERGES merges learned from the corpus — per
    merge its rank, the two symbols joined, the merged token, and the
    weighted pair count at the moment it won. The model artifact a
    tokenizer-training pipeline persists; ``bpe_pair_counts`` is this
    query's round 1 in isolation.

    Scale shape: ONE corpus scan (the word count, pinned), then
    n_merges sequential vocabulary-sized aggregates — work ∝ vocab ·
    n_merges, never corpus · n_merges (the 10× scale smoke pins this).
    The oracle replays the identical unrolled rounds, re-deriving each
    argmax itself."""
    merges = _bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        [
            (i + 1, a, b, a + b, wc)
            for i, (a, b, wc) in enumerate(merges)
        ],
        "merge_rank int, pair_left string, pair_right string,"
        " merged string, weighted_count bigint",
    )


def bpe_word_symbols(
    words: DataFrame, merges: list[tuple]
) -> DataFrame:
    """(w, syms array<string>): each distinct word's BPE symbol
    sequence under a trained merge list — the learned replaces are
    constants by now, so this is one map-side expression chain over
    the vocabulary (never the corpus). Shared by the compression
    scorer, the BM25-over-BPE query, and the lexical index's BPE
    analyzer (:func:`~..sinks.write_lexical_index`)."""
    base = words.select(
        "w",
        F.concat(
            F.lit(_BPE_DD),
            F.regexp_replace(F.col("w"), "(.)", "$1" + _BPE_DD),
        ).alias("s"),
    )
    s = F.col("s")
    for m in merges:
        a, b = m[0], m[1]
        s = _bpe_apply_merge(s, a, b)
    return base.select("w", _bpe_syms(s).alias("syms"))


def bpe_token_stream(
    d: DataFrame, merges: list[tuple]
) -> DataFrame:
    """(doc_id, term): the BPE token stream of any (doc_id, text)
    frame under a trained merge list — the trainer's own word
    conventions (lowercase, whitespace split, empty and
    delimiter-containing words dropped), tokenized via ONE
    vocabulary-sized symbol table joined back to the corpus word
    stream: work is corpus-linear for the word explode plus
    vocab-sized for the merge application, never corpus × merges."""
    words = fan_out_small_scan(d).select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    ).filter((F.col("w") != "") & ~F.col("w").contains(_BPE_D))
    wsyms = bpe_word_symbols(words.select("w").distinct(), merges)
    return words.join(wsyms, "w").select(
        "doc_id", F.explode("syms").alias("term")
    )


def bm25_bpe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the BPE-tokenized corpus — the learned
    tokenizer COMPOSED into the lexical leg (round 12, VERDICT r11
    task 6): the same fixed query as ``bm25_topk``, but both the
    documents and the query words are tokenized with the trained
    merge list, so subword matches score (the reason BPE analyzers
    exist: 'windowing' shares symbols with 'window').

    Scale shape: one corpus word explode + a vocabulary-sized symbol
    join (``bpe_token_stream``), the postings filter pushed to the
    broadcast BPE'd query-term set BEFORE the per-(doc, term)
    aggregate, vocabulary-sized df + 1-row stats broadcast, and a
    TakeOrdered top-k. Determinism for the data-dependent query-symbol
    set: per-(doc, term) scores fold in array_sort order (the
    bm25_search_from_index idiom) — float summation order never
    depends on shuffle placement. The oracle replays merge training,
    both tokenizations, and the ordered fold."""
    merges = _bpe_merges(spark, sf_dir)
    # the fixed query, tokenized by the SAME learned merges (driver
    # arithmetic over 3 literal words — the merge list is a constant)
    qsyms: set[str] = set()
    for qw in BM25_QUERY_TERMS:
        s = _BPE_DD + "".join(c + _BPE_DD for c in qw.lower())
        for m in merges:
            a, b = m[0], m[1]
            s = s.replace(
                _BPE_D + a + _BPE_DD + b + _BPE_D,
                _BPE_D + a + b + _BPE_D,
            )
        qsyms.update(x for x in s.split(_BPE_DD) if x)
    qterms = sorted(qsyms)

    d = load_table(spark, sf_dir, "documents")
    toks = bpe_token_stream(d.select("doc_id", "text"), merges)
    dl = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("dl")
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    matched = toks.filter(F.col("term").isin(*qterms))
    tf = matched.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf")
    )
    df_ = matched.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    k1, b = BM25_K1, BM25_B
    scored = (
        tf.join(broadcast(df_), "term")
        .crossJoin(broadcast(stats))
        .join(dl, "doc_id")
        .select(
            "doc_id",
            "term",
            F.expr(
                "floor(ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))"
                " * 1000000.0D) / 1000000.0D"
                f" * (tf * {k1 + 1.0}D)"
                f" / (tf + {k1}D * ({1.0 - b}D + {b}D"
                " * (dl / (sum_dl / n_docs))))"
            ).alias("s"),
        )
    )
    folded = scored.groupBy("doc_id").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(term, s)))"
            ", 0.0D, (acc, x) -> acc + x.s)"
        ).alias("_bm25")
    )
    return (
        folded.orderBy(F.col("_bm25").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_K)
        .select("doc_id", F.round(F.col("_bm25"), 4).alias("bm25"))
    )


def bpe_tokenize_compression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The learned merges APPLIED — tokenize-with-merges as a scorer:
    per language, the corpus token count under the trained BPE
    vocabulary next to the character count it started from, and the
    resulting chars-per-token compression — the number a tokenizer
    review reads to judge whether n_merges bought anything.

    Scale shape: the per-word merged symbol count is computed once on
    the DISTINCT-word table (the n_merges learned replaces are
    constants by now — one map-side expression chain), then joined to
    per-language word frequencies (vocabulary-sized join, unhinted —
    AQE broadcasts it while it fits, the tfidf_top_terms policy) and
    aggregated: Σfreq, Σfreq·len, Σfreq·n_syms are all exact BIGINT."""
    merges = _bpe_merges(spark, sf_dir)
    vocab = _bpe_words_delim(spark, sf_dir)
    s = F.col("s")
    for a, b, _ in merges:
        s = _bpe_apply_merge(s, a, b)
    word_syms = vocab.select(
        "w",
        F.size(_bpe_syms(s)).cast("bigint").alias("n_syms"),
        F.length("w").cast("bigint").alias("n_chars"),
    )
    d = load_table(spark, sf_dir, "documents")
    lang_words = (
        d.select(
            "lang",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
        )
        .filter((F.col("w") != "") & ~F.col("w").contains(_BPE_D))
        .groupBy("lang", "w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    return (
        lang_words.join(word_syms, "w")
        .groupBy("lang")
        .agg(
            F.sum("freq").cast("bigint").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_chars"))
            .cast("bigint")
            .alias("n_chars"),
            F.sum(F.col("freq") * F.col("n_syms"))
            .cast("bigint")
            .alias("n_bpe_tokens"),
            F.round(
                F.sum(F.col("freq") * F.col("n_chars"))
                / F.sum(F.col("freq") * F.col("n_syms")),
                4,
            ).alias("chars_per_token"),
        )
    )


DEDUP_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup aggressiveness sweep: for each candidate Jaccard
    threshold, how many near-dup pairs fire and how many documents are
    touched — the table an operator reads BEFORE picking the ladder's
    cutoff (every threshold is a different deletion budget; this makes
    the trade visible without re-running the pipeline per setting).

    Shape: the shared memoized LSH candidate table (bounded — work was
    paid once for the whole dedup family) cross-joined with the ≤5-row
    broadcast threshold dim, then two tiny aggregates; thresholds that
    fire nothing still report zeros (left join + coalesce). Exact
    integer counts over the 4-dp-rounded exact Jaccard both engines
    compute identically."""
    pairs = _minhash_candidates_with_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    thr = spark.createDataFrame(
        [(t,) for t in DEDUP_SWEEP_THRESHOLDS], "threshold double"
    )
    flagged = pairs.crossJoin(F.broadcast(thr)).filter(
        F.col("jaccard") >= F.col("threshold")
    )
    n_pairs = flagged.groupBy("threshold").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    n_docs = (
        flagged.select(
            "threshold",
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
        )
        .groupBy("threshold")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs_affected"))
    )
    return (
        thr.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0))
            .cast("bigint")
            .alias("n_docs_affected"),
        )
    )


LINKPRED_TOP_K = 20


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the near-dup graph: the
    top-K wedge-connected doc pairs ranked by shared neighbors, each
    flagged is_edge — the non-edge rows are the "these two are
    probably dups the LSH bands missed" review queue a dedup operator
    works through (two docs near-dup to the same three docs but not
    to each other are a banding miss or a chain break); the edge rows
    calibrate what a confirmed dup's score looks like. On a clean
    clique-structured corpus every wedge pair IS an edge — a non-edge
    appearing at the top of this table is itself the signal.

    Scale shape — wedge enumeration, the triangle-census recipe run
    one step short of closure: symmetrize edges, self-join on the
    middle node (work Σ_v deg²(v), degree-bounded upstream by the LSH
    MAX_BUCKET hygiene), flag direct edges with a left join, count
    per pair, attach degrees, and take the top-K via
    TakeOrderedAndProject — never a global sort of the wedge set.
    Neighborhood Jaccard = common / (deg_a + deg_b − common) breaks
    ties; (doc_a, doc_b) breaks the rest deterministically."""
    e = _near_dup_edges(spark, sf_dir)
    nbr = e.select(
        F.col("doc_a").alias("v"), F.col("doc_b").alias("w")
    ).unionAll(e.select(F.col("doc_b").alias("v"), F.col("doc_a").alias("w")))
    deg = nbr.groupBy("v").agg(F.count("*").alias("d"))
    n1 = nbr.select(F.col("w").alias("m"), F.col("v").alias("x"))
    n2 = nbr.select(F.col("w").alias("m"), F.col("v").alias("y"))
    edge_flag = e.select(
        F.col("doc_a").alias("x"),
        F.col("doc_b").alias("y"),
        F.lit(True).alias("is_edge"),
    )
    wedges = (
        n1.join(n2, "m")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("n_common"))
        .join(broadcast(edge_flag), ["x", "y"], "left")
        .withColumn("is_edge", F.coalesce("is_edge", F.lit(False)))
    )
    da = deg.select(F.col("v").alias("x"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("v").alias("y"), F.col("d").alias("deg_b"))
    scored = (
        wedges.join(broadcast(da), "x")
        .join(broadcast(db), "y")
        .select(
            F.col("x").alias("doc_a"),
            F.col("y").alias("doc_b"),
            "is_edge",
            "n_common",
            "deg_a",
            "deg_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("nbr_jaccard"),
        )
    )
    return scored.orderBy(
        F.col("n_common").desc(),
        F.col("nbr_jaccard").desc(),
        F.col("doc_a").asc(),
        F.col("doc_b").asc(),
    ).limit(LINKPRED_TOP_K)


# per-component quantization for the centroid similarity matrix:
# floats scaled to exact 1e6-grid BIGINTs so per-dim sums (and the
# cosine built from them) are merge-order-free integers
CENTROID_Q = 1_000_000


# the (labels × dims) integer sum table is a bounded model artifact —
# memoized per (session, dataset) like _cc_labels so a rebuild of
# sim_centroid_pairs runs zero jobs (build-guard rule)
@memo.dataset
def _centroid_label_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sums = (
        e.select(
            "label",
            F.posexplode(as_double(F.col("embedding"))).alias("dim", "v"),
        )
        .groupBy("label", "dim")
        .agg(
            F.sum(
                F.round(F.col("v") * CENTROID_Q).cast("long")
            ).alias("s")
        )
    )
    return materialize_small(sums)


def sim_centroid_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the class-confusability matrix: which label pairs sit
    close in embedding space (candidates for merging, or for hard-
    negative mining in a training-data pipeline).

    Exactness: each float component is quantized to an exact 1e6-grid
    BIGINT, per-(label, dim) sums stay integer (merge-order-free, the
    events_type_entropy discipline), and because cosine is scale-
    invariant the mean never needs to be taken — cos(ā, b̄) computed
    directly from the SUM vectors (counts cancel), cross products in
    DECIMAL(38,0), ONE sqrt/division at output. Shape: posexplode →
    hash agg to (labels × dims) rows — constant-size regardless of
    corpus — then a dim-equi self-join over that tiny table. At
    100 TB only the first aggregate touches data; the pair stage is
    labels²·dims rows."""
    sums = _centroid_label_sums(spark, sf_dir)
    norms = sums.groupBy("label").agg(
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias("n2")
    )
    a = sums.select(
        F.col("label").alias("label_a"), "dim", F.col("s").alias("sa")
    )
    b = sums.select(
        F.col("label").alias("label_b"), "dim", F.col("s").alias("sb")
    )
    dots = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.col("sa").cast("decimal(38,0)") * F.col("sb")
            ).alias("dot")
        )
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n2").alias("nb2"))
    return (
        dots.join(broadcast(na), "label_a")
        .join(broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("na2").cast("double") * F.col("nb2").cast("double")
                ),
                6,
            ).alias("centroid_cosine"),
        )
    )


def eval_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table of the trained quality classifier: score bins
    from the top down, each reporting cumulative docs, cumulative
    positives, gain (share of all positives captured) and lift
    (precision so far ÷ base rate) — the table a "score the corpus,
    keep the top X%" curation decision reads.

    Same histogram discipline as the PR curve and calibration bins:
    equal-WIDTH integer bins over broadcast [lo, hi] bounds (never
    ntile — that's a global sort at corpus scale), one corpus-scan
    hash aggregate to a ≤CALIB_BINS-row histogram, the cumulative
    sweep a window over that tiny table. Exact integer counts; the
    two ratios divide once at output."""
    _labels, _w, scored, _theta = _qc_fit(spark, sf_dir)
    bounds = scored.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    step = f"greatest(1L, (hi - lo) div {CALIB_BINS})"
    binned = scored.crossJoin(broadcast(bounds)).select(
        F.expr(f"least((s - lo) div {step}, {CALIB_BINS}L - 1)").alias(
            "bin"
        ),
        "y",
    )
    hist = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("y") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
    )
    totals = hist.agg(
        F.sum("n_docs").alias("t_docs"), F.sum("n_pos").alias("t_pos")
    )
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the window runs over the ≤CALIB_BINS-row histogram, not the corpus
    cum = hist.select(
        "bin",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
        F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"),
    )
    return cum.crossJoin(broadcast(totals)).select(
        "bin",
        "n_docs",
        "n_pos",
        "cum_docs",
        "cum_pos",
        F.round(
            F.col("cum_pos").cast("double") / F.col("t_pos").cast("double"),
            6,
        ).alias("gain"),
        F.round(
            (F.col("cum_pos").cast("double") / F.col("cum_docs"))
            / (F.col("t_pos").cast("double") / F.col("t_docs")),
            6,
        ).alias("lift"),
    )


QUERIES = {
    "graph_link_prediction": graph_link_prediction,
    "sim_centroid_pairs": sim_centroid_pairs,
    "eval_lift_gains": eval_lift_gains,
    "dedup_exact_docs": dedup_exact_docs,
    "dedup_threshold_sweep": dedup_threshold_sweep,
    "dedup_containment": dedup_containment,
    "dedup_paragraph_exact": dedup_paragraph_exact,
    "dedup_fuzzy_minhash": dedup_fuzzy_minhash,
    "dedup_incremental": dedup_incremental,
    "dedup_incremental_indexed": dedup_incremental_indexed,
    "corpus_split_assign": corpus_split_assign,
    "dedup_cluster_cc": dedup_cluster_cc,
    "dedup_graph_pagerank": dedup_graph_pagerank,
    "dedup_survivors_by_centrality": dedup_survivors_by_centrality,
    "dedup_family_report": dedup_family_report,
    "corpus_apply_dedup": corpus_apply_dedup,
    "dedup_survivors": dedup_survivors,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_jaccard_estimate": dedup_minhash_jaccard_estimate,
    "dedup_graph_degree_hist": dedup_graph_degree_hist,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_semantic_clusters": dedup_semantic_clusters,
    "contamination_semantic": contamination_semantic,
    "contamination_family_report": contamination_family_report,
    "sim_cosine_scores": sim_cosine_scores,
    "sim_topk_cosine": sim_topk_cosine,
    "sim_topk_ivf": sim_topk_ivf,
    "ivf_cell_histogram": ivf_cell_histogram,
    "sim_topk_ivf_kmeans": sim_topk_ivf_kmeans,
    "knn_ivf_join": knn_ivf_join,
    "knn_graph_symmetry": knn_graph_symmetry,
    "embedding_norm_profile": embedding_norm_profile,
    "embedding_dim_profile": embedding_dim_profile,
    "dedup_cluster_size_hist": dedup_cluster_size_hist,
    "dedup_cross_source_pairs": dedup_cross_source_pairs,
    "knn_ivf_multiprobe": knn_ivf_multiprobe,
    "knn_label_vote": knn_label_vote,
    "knn_recall_eval": knn_recall_eval,
    "knn_recall_family": knn_recall_family,
    "knn_probe_recall_curve": knn_probe_recall_curve,
    "knn_batch_adc": knn_batch_adc,
    "knn_batch_recall": knn_batch_recall,
    "knn_lsh_hyperplane": knn_lsh_hyperplane,
    "graph_triangle_count": graph_triangle_count,
    "mmr_rerank": mmr_rerank,
    "mmr_rerank_batch": mmr_rerank_batch,
    "knn_batch_lsh": knn_batch_lsh,
    "eval_confusion_matrix": eval_confusion_matrix,
    "eval_pr_curve": eval_pr_curve,
    "eval_roc_auc": eval_roc_auc,
    "eval_calibration_bins": eval_calibration_bins,
    "eval_ndcg_bm25": eval_ndcg_bm25,
    "embedding_quantize_int8": embedding_quantize_int8,
    "embedding_pq_encode": embedding_pq_encode,
    "knn_pq_adc": knn_pq_adc,
    "knn_ivf_pq": knn_ivf_pq,
    "knn_ivf_pq_refined": knn_ivf_pq_refined,
    "text_stats": text_stats,
    "lang_breakdown": lang_breakdown,
    "text_quality": text_quality,
    "quality_gopher_rules": quality_gopher_rules,
    "corpus_token_budget": corpus_token_budget,
    "quality_perplexity_buckets": quality_perplexity_buckets,
    "text_entropy": text_entropy,
    "bpe_pair_counts": bpe_pair_counts,
    "doc_bigram_logprob": doc_bigram_logprob,
    "eval_precision_at_k": eval_precision_at_k,
    "bpe_train_merges": bpe_train_merges,
    "bpe_tokenize_compression": bpe_tokenize_compression,
    "bm25_topk": bm25_topk,
    "bm25_bpe_topk": bm25_bpe_topk,
    "hybrid_search_rrf": hybrid_search_rrf,
    "dedup_substring_spans": dedup_substring_spans,
    "scrub_duplicate_spans": scrub_duplicate_spans,
    "quality_classifier_score": quality_classifier_score,
    "quality_classifier_train": quality_classifier_train,
    "text_repetition_ratio": text_repetition_ratio,
    "doc_unigram_logprob": doc_unigram_logprob,
    "lang_id_ngram": lang_id_ngram,
    "token_count_bpe": token_count_bpe,
    "doc_fingerprint": doc_fingerprint,
    "embedding_centroids": embedding_centroids,
    "corpus_shard_assign": corpus_shard_assign,
    "text_normalize": text_normalize,
    "sample_per_group_hash": sample_per_group_hash,
    "sample_stratified": sample_stratified,
    "multimodal_meta": multimodal_meta,
    "multimodal_phash_dedup": multimodal_phash_dedup,
    "text_keyword_rake": text_keyword_rake,
    "corpus_curriculum_buckets": corpus_curriculum_buckets,
    "embedding_outlier_zscore": embedding_outlier_zscore,
    "multimodal_image_meta": multimodal_image_meta,
    "multimodal_audio_meta": multimodal_audio_meta,
    "multimodal_frame_sample": multimodal_frame_sample,
}

_STOPLIST = ", ".join(f"'{w}'" for w in text.STOPWORDS)

_QV = f"{QUERY_VEC!r}::DOUBLE[]"


# DuckDB twins of _qc_bucket/_qc_weight: same md5 bucket (one
# definition, composed by both the weight scramble and the trainer's
# feature CTE) + the same multiplicative scramble
_DUCK_QC_BUCKET = f"(('0x' || substr(md5(g), 1, 8))::BIGINT % {QC_BUCKETS})"
_DUCK_QC_WEIGHT = (
    f"((({_DUCK_QC_BUCKET} * {QC_MULT}) % {QC_WEIGHT_MOD}) - 1000)"
)


def _duck_cos(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


def _duck_asg(src: str, cents: str) -> str:
    """Nearest-centroid assignment CTE body: same (dist ASC, cid ASC)
    ordering as the Spark least()+CASE argmin."""
    return f"""(
        SELECT vec_id, vec, cid FROM (
            SELECT s.vec_id, s.vec, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id
                       ORDER BY (1 - {_duck_cos('s.vec', 'c.cvec')}) ASC, c.cid ASC
                   ) AS rn
            FROM {src} s CROSS JOIN {cents} c)
        WHERE rn = 1
    )"""


def _duck_multiprobe_chain(pre: str = "") -> str:
    """The multiprobe candidate CTE chain ({pre}ranked / {pre}probes /
    {pre}prim / {pre}pairs) over existing ``v``/``c`` CTEs — ONE
    definition composed by the standalone knn_ivf_multiprobe oracle AND
    the recall-family replay, so the twins cannot drift (the module's
    one-definition rule for SQL fragments)."""
    return f"""
        {pre}ranked AS (
            SELECT s.vec_id, s.vec, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id
                       ORDER BY (1 - {_duck_cos('s.vec', 'c.cvec')}) ASC,
                                c.cid ASC
                   ) AS rn
            FROM v s CROSS JOIN c
        ),
        {pre}probes AS (
            SELECT vec_id, vec, cid FROM {pre}ranked WHERE rn <= {KNN_N_PROBE}
        ),
        {pre}prim AS (
            SELECT vec_id, vec, cid FROM {pre}ranked WHERE rn = 1
        ),
        {pre}pairs AS (
            SELECT q.vec_id AS qid, p.vec_id AS nid,
                   ROUND({_duck_cos('q.vec', 'p.vec')}, 4) AS cos_sim
            FROM {pre}probes q JOIN {pre}prim p USING (cid)
            WHERE q.vec_id <> p.vec_id
        )"""


def _duck_lloyd_update(asg: str) -> str:
    """One centroid update: per-(cluster, dim) mean, floor-quantized to
    6 decimals — the identical quantization the Spark iteration applies,
    which is what lets both engines iterate on bit-equal models."""
    return f"""(
        SELECT cid, list(cv ORDER BY i) AS cvec FROM (
            SELECT a.cid, t.i,
                   FLOOR(AVG(a.vec[t.i]) * 1000000.0) / 1000000.0 AS cv
            FROM {asg} a CROSS JOIN range(1, 65) t(i)
            GROUP BY a.cid, t.i)
        GROUP BY cid
    )"""


# Replays the Spark k-means IVF end-to-end: quantized seeds, two Lloyd
# iterations with the same floor-quantized update, probe selection, and
# the probe-pruned top-10 — all in SQL.
_KMEANS_ORACLE = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
    c0 AS (SELECT vec_id AS cid,
                  list_transform(vec, x -> FLOOR(x * 1000000.0) / 1000000.0) AS cvec
           FROM v WHERE vec_id < 16),
    asg1 AS {_duck_asg('v', 'c0')},
    c1 AS {_duck_lloyd_update('asg1')},
    asg2 AS {_duck_asg('v', 'c1')},
    c2 AS {_duck_lloyd_update('asg2')},
    probe AS (
        SELECT cid FROM c2
        ORDER BY (1 - {_duck_cos('cvec', _QV)}) ASC, cid ASC
        LIMIT 4
    ),
    asgf AS {_duck_asg('v', 'c2')}
    SELECT a.vec_id, ROUND({_duck_cos('a.vec', _QV)}, 4) AS cos_sim
    FROM asgf a JOIN probe p USING (cid)
    ORDER BY cos_sim DESC, a.vec_id ASC
    LIMIT 10
"""


# Shared CTE chain for the knn family: IVF cell assignment → in-cell
# pairs → per-query top-k (same tie-breaks as the Spark window).
_KNN_ORACLE_CORE = f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        c AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < 16),
        asg AS {_duck_asg('v', 'c')},
        pairs AS (
            SELECT a.vec_id AS qid, b.vec_id AS nid,
                   ROUND({_duck_cos('a.vec', 'b.vec')}, 4) AS cos_sim
            FROM asg a JOIN asg b USING (cid)
            WHERE a.vec_id <> b.vec_id
        ),
        topk AS (
            SELECT qid, nid, cos_sim, rn
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) AS rn
                FROM pairs)
            WHERE rn <= {KNN_K}
        )
"""

# one oracle, two physical plans: dedup_incremental and its persisted-
# index twin are the same computation, so they must verify against the
# SAME SQL (a fix applied to one but not the other would silently let
# the supposedly identical queries drift)
_DEDUP_INCREMENTAL_ORACLE = r"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
            FROM t
        )
        SELECT n.doc_id AS new_id, o.doc_id AS old_id,
               ROUND(CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(n.sh, o.sh))), 4) AS jaccard
        FROM s n JOIN s o ON n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
        WHERE ROUND(CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(n.sh, o.sh))), 4) >= 0.5
    """


# Shared PQ oracle fragments: ONE definition of the learned codebook,
# the code table, and the query LUT, composed by all the PQ oracles
# (encode, ADC, IVF-PQ, refined) so the SQL twins cannot drift from
# each other. The codebook replay mirrors _pq_codebook exactly:
# quantized seed (subvectors of vec_id < PQ_K), PQ_LLOYD_ROUNDS
# assignment/update pairs with the same floor-to-6-decimals update and
# the same (d2 ASC, cid ASC) argmin tie-break.


def _duck_subd2(a: str, b: str) -> str:
    """Subspace squared-L2 between two SUBDIM-length lists: the same
    left-assoc position-ordered fold as the Spark _PQ_SUBD2 aggregate
    (list_reduce seeds from the first element; (0 + t1) == t1 in IEEE,
    so the engines' sums are bit-identical)."""
    return (
        f"list_reduce(list_transform(generate_series(1, {PQ_SUBDIM}),"
        f" j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])),"
        f" (acc, x) -> acc + x)"
    )


def _duck_pq_asg(sv: str, cb: str) -> str:
    """Per-(vec, subspace) nearest codebook entry — the oracle twin of
    _pq_assign, tie-broken (d2 ASC, cid ASC)."""
    return f"""(
        SELECT vec_id, m, s, cid, d2 FROM (
            SELECT t.vec_id, t.m, t.s, c.cid,
                   {_duck_subd2('t.s', 'c.c')} AS d2,
                   ROW_NUMBER() OVER (
                       PARTITION BY t.vec_id, t.m
                       ORDER BY {_duck_subd2('t.s', 'c.c')} ASC,
                                c.cid ASC) AS rn
            FROM {sv} t JOIN {cb} c USING (m))
        WHERE rn = 1
    )"""


def _duck_pq_update(asg: str) -> str:
    """One per-subspace Lloyd update: per-(m, cid, dim) mean,
    floor-quantized to 6 decimals like the Spark iteration."""
    return f"""(
        SELECT m, cid, list(cv ORDER BY j) AS c FROM (
            SELECT a.m, a.cid, t.j,
                   FLOOR(AVG(a.s[t.j]) * 1000000.0) / 1000000.0 AS cv
            FROM {asg} a CROSS JOIN range(1, {PQ_SUBDIM + 1}) t(j)
            GROUP BY a.m, a.cid, t.j)
        GROUP BY m, cid
    )"""


# the PQ chain WITHOUT the leading `v` CTE, so oracles that already
# define v (e.g. the knn core) can append it without a name collision
_PQ_ORACLE_CHAIN = f"""
        ms AS (SELECT UNNEST(generate_series(0, {PQ_M - 1})) AS m),
        sv AS (
            SELECT vec_id, t.m,
                   vec[t.m * {PQ_SUBDIM} + 1 : t.m * {PQ_SUBDIM} + {PQ_SUBDIM}]
                       AS s
            FROM v CROSS JOIN ms t
        ),
        cb0 AS (
            SELECT m, vec_id AS cid,
                   list_transform(s, x -> FLOOR(x * 1000000.0) / 1000000.0)
                       AS c
            FROM sv WHERE vec_id < {PQ_K}
        ),
        pqasg1 AS {_duck_pq_asg('sv', 'cb0')},
        cb1 AS {_duck_pq_update('pqasg1')},
        pqasg2 AS {_duck_pq_asg('sv', 'cb1')},
        cb2 AS {_duck_pq_update('pqasg2')},
        codes AS (
            SELECT vec_id, m, cid, d2 FROM {_duck_pq_asg('sv', 'cb2')}
        ),
        qsub AS (
            SELECT m,
                   ({_QV})[m * {PQ_SUBDIM} + 1 : m * {PQ_SUBDIM} + {PQ_SUBDIM}]
                       AS s
            FROM ms
        ),
        lut AS (
            SELECT c.m, c.cid, {_duck_subd2('q.s', 'c.c')} AS qd2
            FROM cb2 c JOIN qsub q USING (m)
        )
"""

_PQ_ORACLE_BASE = f"""
        v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        {_PQ_ORACLE_CHAIN}
"""

_PQ_ADC_SELECT = """
        SELECT codes.vec_id,
               ROUND(SUM(lut.qd2), 4) AS adc_dist
        FROM codes
        JOIN lut USING (m, cid)
        {extra_join}
        GROUP BY codes.vec_id
        ORDER BY adc_dist ASC, codes.vec_id ASC
        LIMIT {limit}
"""

def _duck_probe_curve() -> str:
    """The n_probe recall ladder replayed in SQL: one probe/topk/hit
    CTE triple per ladder rung, identical (dist ASC, cid ASC) probe
    prefixes and (cos DESC, vec_id ASC) rankings as the Spark side."""
    blocks = []
    selects = []
    for np_ in PROBE_LADDER:
        blocks.append(f"""
        probe{np_} AS (
            SELECT centroid_id FROM c
            ORDER BY (1 - {_duck_cos('cvec', _QV)}) ASC, centroid_id ASC
            LIMIT {np_}
        ),
        ivf{np_} AS (
            SELECT a.vec_id FROM asg a
            JOIN probe{np_} p USING (centroid_id)
            WHERE a.rn = 1
            ORDER BY ROUND({_duck_cos('a.vec', _QV)}, 4) DESC, a.vec_id ASC
            LIMIT 10
        ),
        h{np_} AS (SELECT COUNT(*) AS n
                   FROM qtruth q JOIN ivf{np_} i USING (vec_id))""")
        selects.append(
            f"SELECT {np_} AS n_probe, CAST(h{np_}.n AS BIGINT) AS n_hits,"
            f" CAST(qn.n AS BIGINT) AS n_truth,"
            f" CASE WHEN qn.n > 0 THEN"
            f" ROUND(CAST(h{np_}.n AS DOUBLE) / qn.n, 4) END AS recall"
            f" FROM h{np_}, qn"
        )
    return f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
                   FROM embeddings),
        c AS (SELECT vec_id AS centroid_id, vec AS cvec FROM v
              WHERE vec_id < {IVF_N_CENTROIDS}),
        asg AS (
            SELECT v.vec_id, v.vec, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY (1 - {_duck_cos('v.vec', 'c.cvec')}) ASC,
                                c.centroid_id ASC) AS rn
            FROM v CROSS JOIN c
        ),
        qtruth AS (
            SELECT vec_id FROM v
            ORDER BY ROUND({_duck_cos('vec', _QV)}, 4) DESC, vec_id ASC
            LIMIT 10
        ),
        qn AS (SELECT COUNT(*) AS n FROM qtruth),""" + ",".join(
        blocks
    ) + "\n        " + " UNION ALL ".join(selects)


# DuckDB replay of the full simhash pipeline: portable md5-half token
# hashes (bit-identical to similarity._md5_half), 64 per-bit majority
# votes, sign-bit assembly (bit 63 spelled as arithmetic — the literal
# -2^63 parses as unary minus of an overflow in both engines), 4×16-bit
# band blocking with the same MAX_BUCKET hygiene, hamming ≤ 8 verify.
_SIMHASH_VOTE_COLS = ", ".join(
    (
        f"SUM((hl >> {j}) & 1) AS b{j}"
        if j < 32
        else f"SUM((hh >> {j - 32}) & 1) AS b{j}"
    )
    for j in range(64)
)
_SIMHASH_SIM_EXPR = " + ".join(
    "CASE WHEN 2 * b{j} > n THEN {bit} ELSE 0 END".format(
        j=j, bit=(1 << j) if j < 63 else "(-9223372036854775807 - 1)"
    )
    for j in range(64)
)
_SIMHASH_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 8))::BIGINT AS hl,
               ('0x' || substr(md5(t), 9, 8))::BIGINT AS hh
        FROM tok
    ),
    votes AS (
        SELECT doc_id, COUNT(*) AS n, {_SIMHASH_VOTE_COLS}
        FROM h GROUP BY doc_id
    ),
    sims AS (
        SELECT doc_id, CAST({_SIMHASH_SIM_EXPR} AS BIGINT) AS sim
        FROM votes
    ),
    bands AS (
        SELECT doc_id, sim, g.b AS b, ((sim >> (g.b * 16)) & 65535) AS bv
        FROM sims CROSS JOIN generate_series(0, 3) g(b)
    ),
    ok AS (
        SELECT b, bv FROM bands GROUP BY b, bv
        HAVING COUNT(*) BETWEEN 2 AND 200
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                        x.sim AS sa, y.sim AS sb
        FROM bands x
        JOIN ok k ON k.b = x.b AND k.bv = x.bv
        JOIN bands y ON y.b = x.b AND y.bv = x.bv AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 8
"""


# DuckDB replay of the full minhash-LSH candidate pipeline (round 9 —
# possible since shingle hashes moved to the portable md5-32 idiom):
# distinct 3-gram shingles, md5-head hashes mod the Mersenne prime, 16
# affine-permutation mins, 8×2 band keys with MAX_BUCKET hygiene, then
# exact Jaccard on the surviving candidate pairs — bit-exact vs the
# Spark banding, giving the UNthresholded pair set a real oracle.
_PHASH_DEDUP_ORACLE = f"""
    WITH sh AS (
        -- degenerate assets carry no shingles (see multimodal.phash64)
        SELECT doc_id,
               unnest(CASE WHEN text IS NULL OR text = '' THEN []
                           ELSE list_distinct(
                   [substr(text, i, 8)
                    for i in generate_series(1, greatest(len(text) - 7, 1))])
                      END) AS t
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 8))::BIGINT AS hl,
               ('0x' || substr(md5(t), 9, 8))::BIGINT AS hh
        FROM sh
    ),
    votes AS (
        SELECT doc_id, COUNT(*) AS n, {_SIMHASH_VOTE_COLS}
        FROM h GROUP BY doc_id
    ),
    sims AS (
        SELECT doc_id, CAST({_SIMHASH_SIM_EXPR} AS BIGINT) AS sim
        FROM votes
    ),
    bands AS (
        SELECT doc_id, sim, g.b AS b, ((sim >> (g.b * 16)) & 65535) AS bv
        FROM sims CROSS JOIN generate_series(0, 3) g(b)
    ),
    ok AS (
        SELECT b, bv FROM bands GROUP BY b, bv
        HAVING COUNT(*) BETWEEN 2 AND 200
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                        x.sim AS sa, y.sim AS sb
        FROM bands x
        JOIN ok k ON k.b = x.b AND k.bv = x.bv
        JOIN bands y ON y.b = x.b AND y.bv = x.bv AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 8
"""


_NGRAM_SIG_COLS = ", ".join(
    f"list_min(list_transform(h, x -> (x * {a} + {b}) % {_MINHASH_P}))"
    f" AS s{i}"
    for i, (a, b) in enumerate(_MINHASH_PARAMS)
)
_NGRAM_BAND_SELECTS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS b, s{2 * b} AS r1, s{2 * b + 1} AS r2 FROM sig"
    for b in range(8)
)
_NGRAM_JACCARD_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
        FROM t
    ),
    hs AS (
        SELECT doc_id,
               list_transform(sh, g ->
                   ('0x' || substr(md5(g), 1, 8))::BIGINT % {_MINHASH_P})
                   AS h
        FROM s
    ),
    sig AS (SELECT doc_id, {_NGRAM_SIG_COLS} FROM hs),
    bands AS ({_NGRAM_BAND_SELECTS}),
    ok AS (
        SELECT b, r1, r2 FROM bands GROUP BY b, r1, r2
        HAVING COUNT(*) BETWEEN 2 AND 200
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        FROM bands x
        JOIN ok k ON k.b = x.b AND k.r1 = x.r1 AND k.r2 = x.r2
        JOIN bands y ON y.b = x.b AND y.r1 = x.r1 AND y.r2 = x.r2
                    AND x.doc_id < y.doc_id
    )
    SELECT cand.da AS doc_a, cand.db AS doc_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
    FROM cand
    JOIN s a ON a.doc_id = cand.da
    JOIN s b ON b.doc_id = cand.db
"""


# the BM25 oracle is a module-level constant because hybrid_search_rrf
# nests it verbatim as its lexical-leg CTE
_BM25_ORACLE = f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        dl AS (SELECT doc_id, len(toks) AS dl FROM t),
        stats AS (
            SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl
        ),
        posting AS (
            SELECT doc_id, tok AS term
            FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
            WHERE tok IN ({", ".join(f"'{w}'" for w in BM25_QUERY_TERMS)})
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM posting GROUP BY doc_id, term
        ),
        dfq AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df
            FROM posting GROUP BY term
        ),
        s AS (
            SELECT tf.doc_id, tf.term,
                   FLOOR(ln(1.0::DOUBLE + (n_docs - df + 0.5::DOUBLE)
                            / (df + 0.5::DOUBLE)) * 1000000.0::DOUBLE)
                       / 1000000.0::DOUBLE
                   * (tf * {BM25_K1 + 1.0}::DOUBLE)
                   / (tf + {BM25_K1}::DOUBLE * ({1.0 - BM25_B}::DOUBLE
                      + {BM25_B}::DOUBLE * (dl.dl / (sum_dl / n_docs)))) AS sc
            FROM tf
            JOIN dfq USING (term)
            CROSS JOIN stats
            JOIN dl ON dl.doc_id = tf.doc_id
        ),
        w AS (
            SELECT doc_id,
                   {", ".join(
                       f"COALESCE(MAX(CASE WHEN term = '{term}' THEN sc END),"
                       f" 0.0::DOUBLE) AS s{i}"
                       for i, term in enumerate(BM25_QUERY_TERMS))}
            FROM s GROUP BY doc_id
        )
        SELECT doc_id, ROUND(s0 + s1 + s2, 4) AS bm25
        FROM w
        ORDER BY s0 + s1 + s2 DESC, doc_id ASC
        LIMIT {BM25_TOP_K}
"""


ORACLES = {
    "dedup_simhash": _SIMHASH_ORACLE,
    "multimodal_phash_dedup": _PHASH_DEDUP_ORACLE,
    "text_keyword_rake": _rake_oracle(),
    "embedding_outlier_zscore": _embedding_outlier_oracle(),
    "dedup_ngram_jaccard": _NGRAM_JACCARD_ORACLE,
    "knn_ivf_join": f"""
        {_KNN_ORACLE_CORE}
        SELECT qid AS vec_id, nid AS neighbor_id, cos_sim,
               CAST(rn AS INT) AS rank
        FROM topk
    """,
    "knn_ivf_multiprobe": f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        c AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < 16),
        {_duck_multiprobe_chain()}
        SELECT qid AS vec_id, nid AS neighbor_id, cos_sim,
               CAST(rn AS INT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) AS rn
            FROM pairs)
        WHERE rn <= {KNN_K}
    """,
    "knn_recall_eval": f"""
        {_KNN_ORACLE_CORE},
        truth AS (
            SELECT qid, nid FROM (
                SELECT a.vec_id AS qid, b.vec_id AS nid,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY ROUND({_duck_cos('a.vec', 'b.vec')}, 4) DESC,
                                    b.vec_id ASC) AS rn
                FROM v a JOIN v b ON a.vec_id <> b.vec_id
                WHERE a.vec_id < {KNN_EVAL_SAMPLE})
            WHERE rn <= {KNN_K}
        ),
        ivf AS (SELECT qid, nid FROM topk WHERE qid < {KNN_EVAL_SAMPLE})
        SELECT t.qid AS vec_id,
               CAST(COUNT(i.nid) AS BIGINT) AS n_hits,
               ROUND(CAST(COUNT(i.nid) AS DOUBLE) / COUNT(*), 4) AS recall_at_k
        FROM truth t
        LEFT JOIN ivf i ON t.qid = i.qid AND t.nid = i.nid
        GROUP BY t.qid
    """,
    # the whole-family recall report: one WITH clause composing the knn
    # core (v/c/asg/topk), the exact truth, a renamed multiprobe replay,
    # the learned-PQ chain, and the three single-query top-10 paths —
    # every fragment shared verbatim with its single-path oracle twin
    "knn_recall_family": f"""
        {_KNN_ORACLE_CORE},
        truth AS (
            SELECT qid, nid FROM (
                SELECT a.vec_id AS qid, b.vec_id AS nid,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY ROUND({_duck_cos('a.vec', 'b.vec')}, 4) DESC,
                                    b.vec_id ASC) AS rn
                FROM v a JOIN v b ON a.vec_id <> b.vec_id
                WHERE a.vec_id < {KNN_EVAL_SAMPLE})
            WHERE rn <= {KNN_K}
        ),
        stopk AS (SELECT qid, nid FROM topk WHERE qid < {KNN_EVAL_SAMPLE}),
        {_duck_multiprobe_chain("m")},
        mtopk AS (
            SELECT qid, nid FROM (
                SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY qid
                           ORDER BY cos_sim DESC, nid ASC) AS rn
                FROM mpairs)
            WHERE rn <= {KNN_K} AND qid < {KNN_EVAL_SAMPLE}
        ),
        {_PQ_ORACLE_CHAIN},
        pqprobe AS (
            SELECT cid FROM c
            ORDER BY (1 - {_duck_cos('cvec', _QV)}) ASC, cid ASC
            LIMIT {IVF_N_PROBE}
        ),
        members AS (SELECT a.vec_id FROM asg a JOIN pqprobe p USING (cid)),
        qtruth AS (
            SELECT vec_id FROM v
            ORDER BY ROUND({_duck_cos('vec', _QV)}, 4) DESC, vec_id ASC
            LIMIT 10
        ),
        adc10 AS ({_PQ_ADC_SELECT.format(extra_join="", limit=10)}),
        ivfpq10 AS ({_PQ_ADC_SELECT.format(
            extra_join="JOIN members USING (vec_id)", limit=10)}),
        shortlist AS ({_PQ_ADC_SELECT.format(
            extra_join="JOIN members USING (vec_id)",
            limit=PQ_REFINE_SHORTLIST)}),
        refined10 AS (
            SELECT s.vec_id FROM shortlist s JOIN v vv USING (vec_id)
            ORDER BY ROUND({_duck_cos('vv.vec', _QV)}, 4) DESC, s.vec_id ASC
            LIMIT 10
        ),
        nt AS (SELECT COUNT(*) AS n FROM truth),
        qn AS (SELECT COUNT(*) AS n FROM qtruth),
        h1 AS (SELECT COUNT(*) AS n FROM truth t
               JOIN stopk s ON t.qid = s.qid AND t.nid = s.nid),
        h2 AS (SELECT COUNT(*) AS n FROM truth t
               JOIN mtopk s ON t.qid = s.qid AND t.nid = s.nid),
        h3 AS (SELECT COUNT(*) AS n FROM qtruth q JOIN adc10 a USING (vec_id)),
        h4 AS (SELECT COUNT(*) AS n FROM qtruth q JOIN ivfpq10 a USING (vec_id)),
        h5 AS (SELECT COUNT(*) AS n FROM qtruth q JOIN refined10 a USING (vec_id))
        SELECT 'ivf_single' AS path, CAST(h1.n AS BIGINT) AS n_hits,
               CAST(nt.n AS BIGINT) AS n_truth,
               CASE WHEN nt.n > 0 THEN ROUND(CAST(h1.n AS DOUBLE) / nt.n, 4) END AS recall FROM h1, nt
        UNION ALL
        SELECT 'ivf_multiprobe', CAST(h2.n AS BIGINT), CAST(nt.n AS BIGINT),
               CASE WHEN nt.n > 0 THEN ROUND(CAST(h2.n AS DOUBLE) / nt.n, 4) END FROM h2, nt
        UNION ALL
        SELECT 'pq_adc', CAST(h3.n AS BIGINT), CAST(qn.n AS BIGINT),
               CASE WHEN qn.n > 0 THEN ROUND(CAST(h3.n AS DOUBLE) / qn.n, 4) END FROM h3, qn
        UNION ALL
        SELECT 'ivf_pq', CAST(h4.n AS BIGINT), CAST(qn.n AS BIGINT),
               CASE WHEN qn.n > 0 THEN ROUND(CAST(h4.n AS DOUBLE) / qn.n, 4) END FROM h4, qn
        UNION ALL
        SELECT 'ivf_pq_refined', CAST(h5.n AS BIGINT), CAST(qn.n AS BIGINT),
               CASE WHEN qn.n > 0 THEN ROUND(CAST(h5.n AS DOUBLE) / qn.n, 4) END FROM h5, qn
    """,
    "knn_batch_adc": f"""
        WITH {_PQ_ORACLE_BASE},
        blut AS (
            SELECT sv.vec_id AS qid, c.m, c.cid,
                   {_duck_subd2('sv.s', 'c.c')} AS qd2
            FROM sv JOIN cb2 c USING (m)
            WHERE sv.vec_id % 2 = 1 AND sv.vec_id < {QBATCH_MAX}
        ),
        bscored AS (
            SELECT b.qid, codes.vec_id, ROUND(SUM(b.qd2), 4) AS adc_dist
            FROM codes JOIN blut b USING (m, cid)
            WHERE codes.vec_id % 2 = 0
            GROUP BY b.qid, codes.vec_id
        )
        SELECT qid, vec_id, adc_dist, CAST(rn AS INT) AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY qid
                ORDER BY adc_dist ASC, vec_id ASC) AS rn
            FROM bscored)
        WHERE rn <= {BATCH_TOPK}
    """,
    "knn_probe_recall_curve": _duck_probe_curve(),
    # the coarse quantizer (IVF centroids/probes) and the PQ codebook are
    # separate models with separate size knobs — the oracle derives each
    # from its own constant so tuning one cannot silently desync the twin
    "knn_ivf_pq": f"""
        WITH {_PQ_ORACLE_BASE},
        ivfc AS (
            SELECT vec_id AS centroid_id, vec AS cvec FROM v
            WHERE vec_id < {IVF_N_CENTROIDS}
        ),
        asg AS (
            SELECT vec_id, centroid_id FROM (
                SELECT v.vec_id, c.centroid_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY (1 - {_duck_cos('v.vec', 'c.cvec')}) ASC,
                                    c.centroid_id ASC) AS rn
                FROM v CROSS JOIN ivfc c)
            WHERE rn = 1
        ),
        probe AS (
            SELECT centroid_id FROM ivfc
            ORDER BY (1 - {_duck_cos('cvec', _QV)}) ASC, centroid_id ASC
            LIMIT {IVF_N_PROBE}
        ),
        members AS (
            SELECT a.vec_id FROM asg a JOIN probe p USING (centroid_id)
        )
        {_PQ_ADC_SELECT.format(extra_join="JOIN members USING (vec_id)", limit=10)}
    """,
    "knn_ivf_pq_refined": f"""
        WITH {_PQ_ORACLE_BASE},
        ivfc AS (
            SELECT vec_id AS centroid_id, vec AS cvec FROM v
            WHERE vec_id < {IVF_N_CENTROIDS}
        ),
        asg AS (
            SELECT vec_id, centroid_id FROM (
                SELECT v.vec_id, c.centroid_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY (1 - {_duck_cos('v.vec', 'c.cvec')}) ASC,
                                    c.centroid_id ASC) AS rn
                FROM v CROSS JOIN ivfc c)
            WHERE rn = 1
        ),
        probe AS (
            SELECT centroid_id FROM ivfc
            ORDER BY (1 - {_duck_cos('cvec', _QV)}) ASC, centroid_id ASC
            LIMIT {IVF_N_PROBE}
        ),
        members AS (
            SELECT a.vec_id FROM asg a JOIN probe p USING (centroid_id)
        ),
        shortlist AS (
            {_PQ_ADC_SELECT.format(extra_join="JOIN members USING (vec_id)",
                                   limit=PQ_REFINE_SHORTLIST)}
        )
        SELECT s.vec_id,
               s.adc_dist,
               ROUND({_duck_cos('vv.vec', _QV)}, 4) AS cos_sim
        FROM shortlist s JOIN v vv USING (vec_id)
        ORDER BY cos_sim DESC, s.vec_id ASC
        LIMIT 10
    """,
    "knn_pq_adc": f"""
        WITH {_PQ_ORACLE_BASE}
        {_PQ_ADC_SELECT.format(extra_join="", limit=10)}
    """,
    "embedding_pq_encode": f"""
        WITH {_PQ_ORACLE_BASE}
        SELECT vec_id,
               array_to_string(list(cid ORDER BY m), ',') AS codes_csv,
               ROUND(SUM(d2), 4) AS pq_err
        FROM codes
        GROUP BY vec_id
    """,
    "embedding_quantize_int8": """
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        m AS (
            SELECT vec_id, vec,
                   greatest(list_max(list_transform(vec, x -> abs(x))), 1e-12)
                       AS mx
            FROM v
        ),
        q AS (
            SELECT vec_id, mx,
                   list_transform(vec,
                       x -> CAST(FLOOR(x * 127.0 / mx + 0.5) AS INT)) AS qq
            FROM m
        )
        SELECT vec_id,
               ROUND(mx / 127.0, 6) AS scale,
               array_to_string(qq, ',') AS q_csv,
               CAST(list_sum(list_transform(qq, x -> abs(x))) AS BIGINT) AS q_l1
        FROM q
    """,
    "knn_label_vote": f"""
        {_KNN_ORACLE_CORE}
        SELECT vec_id, pred_label, votes FROM (
            SELECT t.qid AS vec_id, e.label AS pred_label,
                   COUNT(*) AS votes,
                   ROW_NUMBER() OVER (
                       PARTITION BY t.qid
                       ORDER BY COUNT(*) DESC, e.label ASC) AS vrn
            FROM topk t JOIN embeddings e ON e.vec_id = t.nid
            WHERE e.label IS NOT NULL  -- unlabeled neighbors abstain
            GROUP BY t.qid, e.label)
        WHERE vrn = 1
    """,
    "sample_per_group_hash": """
        SELECT lang, doc_id, sample_key, CAST(rn AS INT) AS rank FROM (
            SELECT lang, doc_id,
                   md5(CAST(doc_id AS VARCHAR) || '|corpus-v1') AS sample_key,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || '|corpus-v1') ASC,
                                doc_id ASC
                   ) AS rn
            FROM documents)
        WHERE rn <= 3
    """,
    "dedup_survivors": r"""
        WITH RECURSIVE t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
            FROM t
        ),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
        ),
        e AS (SELECT doc_a AS a, doc_b AS b FROM p
              UNION SELECT doc_b, doc_a FROM p),
        n AS (SELECT DISTINCT a AS node FROM e),
        reach(node, r) AS (
            SELECT node, node FROM n
            UNION
            SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.node
        ),
        cc AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
        SELECT cluster_id,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_members,
               CAST(SUM(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        FROM cc
        GROUP BY cluster_id
    """,
    "dedup_graph_pagerank": _duck_pagerank(),
    "dedup_survivors_by_centrality": _duck_centrality_survivors(),
    "dedup_cluster_cc": r"""
        WITH RECURSIVE t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
            FROM t
        ),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
        ),
        e AS (SELECT doc_a AS a, doc_b AS b FROM p
              UNION SELECT doc_b, doc_a FROM p),
        n AS (SELECT DISTINCT a AS node FROM e),
        reach(node, r) AS (
            SELECT node, node FROM n
            UNION
            SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.node
        )
        SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
    """,
    # replays cell assignment → in-cell thresholded pairs → recursive
    # reachability closure → min-label clusters + survivor decision
    "dedup_semantic_clusters": f"""
        WITH RECURSIVE v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        c AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < 16),
        asg AS {_duck_asg('v', 'c')},
        p AS (
            SELECT a.vec_id AS da, b.vec_id AS db
            FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE ROUND({_duck_cos('a.vec', 'b.vec')}, 4) >= {SEMDEDUP_TAU}
        ),
        e AS (SELECT da AS a, db AS b FROM p
              UNION SELECT db, da FROM p),
        n AS (SELECT DISTINCT a AS node FROM e),
        reach(node, r) AS (
            SELECT node, node FROM n
            UNION
            SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.node
        ),
        lab AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
        SELECT emb.vec_id,
               CAST(COALESCE(lab.cluster_id, emb.vec_id) AS BIGINT)
                   AS cluster_id,
               emb.vec_id = COALESCE(lab.cluster_id, emb.vec_id) AS keep
        FROM embeddings emb LEFT JOIN lab ON lab.node = emb.vec_id
    """,
    # assignment replay + brute-force bipartite in-cell pairs
    "contamination_semantic": f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        c AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < 16),
        asg AS {_duck_asg('v', 'c')}
        SELECT CASE WHEN a.vec_id % 2 = 0 THEN a.vec_id ELSE b.vec_id END
                   AS train_id,
               CASE WHEN a.vec_id % 2 = 1 THEN a.vec_id ELSE b.vec_id END
                   AS benchmark_id,
               ROUND({_duck_cos('a.vec', 'b.vec')}, 4) AS cos_sim
        FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE (a.vec_id % 2) <> (b.vec_id % 2)
          AND ROUND({_duck_cos('a.vec', 'b.vec')}, 4) >= {SEMDEDUP_TAU}
    """,
    "sim_topk_ivf_kmeans": _KMEANS_ORACLE,
    "sim_topk_cosine": f"""
        SELECT vec_id,
               ROUND({_duck_cos('CAST(embedding AS DOUBLE[])', _QV)}, 4) AS cos_sim
        FROM embeddings
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT 10
    """,
    "ivf_cell_histogram": f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        c AS (SELECT vec_id AS cid, vec AS cvec FROM v
              WHERE vec_id < {IVF_N_CENTROIDS}),
        asg AS (
            SELECT v.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY (1 - {_duck_cos('v.vec', 'c.cvec')}) ASC,
                                c.cid ASC
                   ) AS rn
            FROM v CROSS JOIN c
        )
        SELECT cid, COUNT(*) AS n FROM asg WHERE rn = 1 GROUP BY cid
    """,
    "sim_topk_ivf": f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        c AS (SELECT vec_id AS centroid_id, vec AS cvec FROM v WHERE vec_id < 16),
        asg AS (
            SELECT v.vec_id, v.vec, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY (1 - {_duck_cos('v.vec', 'c.cvec')}) ASC, c.centroid_id ASC
                   ) AS rn
            FROM v CROSS JOIN c
        ),
        probe AS (
            SELECT centroid_id FROM c
            ORDER BY (1 - {_duck_cos('cvec', _QV)}) ASC, centroid_id ASC
            LIMIT 4
        )
        SELECT a.vec_id, ROUND({_duck_cos('a.vec', _QV)}, 4) AS cos_sim
        FROM asg a JOIN probe p USING (centroid_id)
        WHERE a.rn = 1
        ORDER BY cos_sim DESC, a.vec_id ASC
        LIMIT 10
    """,
    # Brute-force all-pairs oracles for the LSH dedup paths: a match
    # proves the bucketed plan loses nothing vs the quadratic baseline.
    "dedup_embedding_cosine": f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND({_duck_cos('a.vec', 'b.vec')}, 4) AS cos_sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE ROUND({_duck_cos('a.vec', 'b.vec')}, 4) >= 0.9
    """,
    "dedup_fuzzy_minhash": r"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
            FROM t
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
    """,
    "dedup_incremental": _DEDUP_INCREMENTAL_ORACLE,
    "dedup_incremental_indexed": _DEDUP_INCREMENTAL_ORACLE,
    # the oracle replays the identical integer arithmetic: md5 bucket,
    # multiplicative scramble, integer sum (order-free), one division +
    # floor-quantize — hash-exact by construction
    "quality_classifier_score": f"""
        WITH tt AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        f AS (
            SELECT doc_id, t,
                   CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                        ELSE [t[i] || ' ' || t[i+1]
                              for i in generate_series(1, len(t) - 1)]
                   END AS b
            FROM tt
        ),
        s AS (
            SELECT doc_id,
                   CAST(coalesce(list_sum(list_transform(t,
                            g -> {_DUCK_QC_WEIGHT})), 0)
                        + coalesce(list_sum(list_transform(b,
                            g -> {_DUCK_QC_WEIGHT})), 0) AS BIGINT) AS sum_iw,
                   CAST(len(t) + len(b) AS BIGINT) AS n_features
            FROM f
        )
        SELECT doc_id, n_features,
               FLOOR(CAST(sum_iw AS DOUBLE) / (n_features * 1000.0)
                     * 10000.0) / 10000.0 AS logit,
               sum_iw > 0 AS keep
        FROM s
    """,
    # replays the identical integer fit: per-mille frequency features,
    # class-centroid-difference weights (truncating div, verified equal
    # in both engines), midpoint threshold — order-free integer sums
    "quality_classifier_train": f"""
        WITH tt AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        fx AS (
            SELECT doc_id,
                   CASE WHEN len(t) < 2 THEN t
                        ELSE list_concat(t,
                            [t[i] || ' ' || t[i+1]
                             for i in generate_series(1, len(t) - 1)])
                   END AS feats
            FROM tt
        ),
        feat AS (
            SELECT doc_id,
                   {_DUCK_QC_BUCKET} AS bucket,
                   (COUNT(*) * 1000) // MAX(tot) AS f
            FROM (SELECT doc_id, len(feats) AS tot, UNNEST(feats) AS g
                  FROM fx)
            GROUP BY doc_id, bucket
        ),
        lab AS (
            SELECT doc_id,
                   CASE WHEN list_contains(string_split(text, ' '),
                                           '{QC_LABEL_TOKEN}')
                        THEN 1 ELSE -1 END AS y
            FROM documents
        ),
        n AS (
            SELECT SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS n_pos,
                   SUM(CASE WHEN y > 0 THEN 0 ELSE 1 END) AS n_neg
            FROM lab
        ),
        w AS (
            SELECT f.bucket,
                   (SUM(CASE WHEN l.y > 0 THEN f.f ELSE 0 END) * 1000000)
                       // MAX(n.n_pos)
                   - (SUM(CASE WHEN l.y < 0 THEN f.f ELSE 0 END) * 1000000)
                       // MAX(n.n_neg) AS w
            FROM feat f JOIN lab l USING (doc_id) CROSS JOIN n
            GROUP BY f.bucket
        ),
        scored AS (
            SELECT l.doc_id, l.y, s.s
            FROM lab l JOIN (
                SELECT f.doc_id, SUM(f.f * w.w) AS s
                FROM feat f JOIN w USING (bucket)
                GROUP BY f.doc_id
            ) s USING (doc_id)
        ),
        th AS (
            SELECT ((SUM(CASE WHEN y > 0 THEN s ELSE 0 END) // MAX(n.n_pos))
                    + (SUM(CASE WHEN y < 0 THEN s ELSE 0 END) // MAX(n.n_neg)))
                   // 2 AS theta
            FROM scored CROSS JOIN n
        )
        SELECT sc.doc_id, CAST(sc.y AS BIGINT) AS label,
               CAST(sc.s AS BIGINT) AS score,
               CAST(th.theta AS BIGINT) AS theta,
               sc.s > th.theta AS pred_pos,
               (sc.s > th.theta) = (sc.y > 0) AS correct
        FROM scored sc CROSS JOIN th
    """,
    "corpus_split_assign": """
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % 100 AS INT) AS bucket,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 100 < 98 THEN 'train'
                    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 100 = 98 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
    "embedding_centroids": """
        SELECT u.cluster_id,
               u.dim,
               ROUND(CAST(SUM(CAST(FLOOR(u.v * 1000000.0) AS BIGINT))
                          AS DOUBLE) / COUNT(*) / 1000000.0, 4) AS centroid_v,
               COUNT(*) AS n_vecs
        FROM (
            SELECT vec_id % 8 AS cluster_id,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(UNNEST(embedding) AS DOUBLE) AS v
            FROM embeddings
        ) u
        GROUP BY u.cluster_id, u.dim
    """,
    "corpus_shard_assign": """
        SELECT ('0x' || substr(md5(text), 1, 4))::BIGINT % 16 AS shard,
               COUNT(*) AS n_docs,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1
    """,
    "text_normalize": r"""
        WITH norm AS (
            SELECT doc_id,
                   TRIM(regexp_replace(
                       regexp_replace(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
                       '\s+', ' ', 'g')) AS n
            FROM documents
        )
        SELECT doc_id,
               SUBSTRING(n, 1, 80) AS norm_prefix,
               CAST(LENGTH(n) AS INTEGER) AS norm_len,
               md5(n) AS norm_hash
        FROM norm
    """,
    "dedup_exact_docs": """
        SELECT md5(text) AS content_hash,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*)    AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    "dedup_paragraph_exact": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        paras AS (
            SELECT doc_id,
                   array_to_string(
                       t[g * {PARA_TOKENS} + 1 : g * {PARA_TOKENS} + {PARA_TOKENS}],
                       ' ') AS para_text
            FROM toks,
                 UNNEST(range(GREATEST(
                     CAST(ceil(len(t) / {PARA_TOKENS}.0) AS BIGINT), 1))) AS r(g)
        ),
        occ AS (
            SELECT doc_id, md5(para_text) AS para_hash
            FROM paras
            WHERE len(string_split(para_text, ' ')) >= {PARA_MIN_TOKENS}
        ),
        stats AS (
            SELECT para_hash, COUNT(*) AS n_occ, MIN(doc_id) AS first_doc_id
            FROM occ GROUP BY para_hash
        )
        SELECT o.doc_id,
               COUNT(*) AS n_paras,
               CAST(SUM(CASE WHEN s.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_paras,
               CAST(SUM(CASE WHEN s.n_occ > 1 AND s.first_doc_id = o.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_owned_dups,
               ROUND(CAST(SUM(CASE WHEN s.n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 4) AS dup_para_frac,
               (2 * CAST(SUM(CASE WHEN s.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT))
                   <= COUNT(*) AS keep
        FROM occ o JOIN stats s USING (para_hash)
        GROUP BY o.doc_id
    """,
    "sim_cosine_scores": f"""
        SELECT vec_id,
               ROUND(
                 list_dot_product(CAST(embedding AS DOUBLE[]), {QUERY_VEC!r}::DOUBLE[])
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product({QUERY_VEC!r}::DOUBLE[], {QUERY_VEC!r}::DOUBLE[]))),
                 4) AS cos_sim
        FROM embeddings
    """,
    "text_stats": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(length(text) AS INTEGER)                 AS text_len,
               ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                     / len(string_split(text, ' ')), 4)      AS avg_token_len
        FROM documents
    """,
    "lang_breakdown": """
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               ROUND(AVG(n_chars), 4)       AS avg_chars
        FROM documents
        GROUP BY lang
    """,
    "doc_unigram_logprob": """
        WITH toks AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
            FROM documents
        ),
        vocab AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok),
        total AS (SELECT SUM(n_tok) AS n_corpus_tokens FROM vocab),
        lp AS (
            SELECT tok,
                   CAST(FLOOR(LN(CAST(n_tok AS DOUBLE) / n_corpus_tokens)
                              * 1000000.0) AS BIGINT) AS logp_q
            FROM vocab, total
        )
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               ROUND(-CAST(SUM(lp.logp_q) AS DOUBLE) / COUNT(*) / 1000000.0,
                     4) AS avg_neg_logp
        FROM toks t JOIN lp USING (tok)
        GROUP BY t.doc_id
    """,
    "text_repetition_ratio": r"""
        -- degenerate docs excluded (see the Spark twin's filter)
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE text IS NOT NULL AND text <> ''
        ),
        g AS (
            SELECT doc_id,
                   [array_to_string(toks[i:i+2], ' ')
                    for i in generate_series(1, greatest(len(toks) - 2, 1))] AS sh,
                   len(toks) AS n_tokens
            FROM t
        ),
        cnt AS (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
            GROUP BY doc_id, tok
        ),
        mx AS (SELECT doc_id, MAX(c) AS max_c FROM cnt GROUP BY doc_id)
        SELECT g.doc_id,
               ROUND(1.0 - CAST(len(list_distinct(g.sh)) AS DOUBLE) / len(g.sh),
                     4) AS dup_3gram_ratio,
               ROUND(CAST(mx.max_c AS DOUBLE) / g.n_tokens, 4) AS top_token_ratio
        FROM g JOIN mx USING (doc_id)
    """,
    "text_quality": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        )
        SELECT doc_id,
               ROUND(CAST(len(list_filter(toks, x -> list_contains([{_STOPLIST}], x))) AS DOUBLE)
                     / len(toks), 4) AS stopword_ratio,
               ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS distinct_ratio,
               ROUND(0.5 * (CAST(len(list_filter(toks, x -> list_contains([{_STOPLIST}], x))) AS DOUBLE)
                            / len(toks))
                   + 0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 4) AS quality
        FROM t
    """,
    "quality_gopher_rules": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        m AS (
            SELECT doc_id,
                   len(toks) AS n_words,
                   list_sum(list_transform(toks, w -> length(w)))
                       AS n_word_chars,
                   len(list_filter(toks,
                       w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha_words,
                   len(list_filter(toks,
                       w -> list_contains([{_STOPLIST}], w))) AS n_stopwords
            FROM t
        )
        SELECT doc_id,
               n_words,
               ROUND(CAST(n_word_chars AS DOUBLE) / n_words, 4)
                   AS mean_word_len,
               ROUND(CAST(n_alpha_words AS DOUBLE) / n_words, 4)
                   AS alpha_word_ratio,
               n_stopwords,
               (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
                   AS rule_word_count,
               (CAST(n_word_chars AS DOUBLE) / n_words
                    BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
                        AND {GOPHER_MAX_MEAN_WORD_LEN}) AS rule_mean_word_len,
               (CAST(n_alpha_words AS DOUBLE) / n_words
                    >= {GOPHER_MIN_ALPHA_WORD_RATIO}) AS rule_alpha_words,
               (n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS rule_stopwords,
               ((n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
                AND (CAST(n_word_chars AS DOUBLE) / n_words
                     BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
                         AND {GOPHER_MAX_MEAN_WORD_LEN})
                AND (CAST(n_alpha_words AS DOUBLE) / n_words
                     >= {GOPHER_MIN_ALPHA_WORD_RATIO})
                AND (n_stopwords >= {GOPHER_MIN_STOPWORDS})) AS keep
        FROM m
    """,
    "bm25_topk": _BM25_ORACLE,
    "hybrid_search_rrf": f"""
        WITH lex AS ({_BM25_ORACLE}),
        vec AS (
            SELECT vec_id,
                   ROUND({_duck_cos('CAST(embedding AS DOUBLE[])', _QV)}, 4)
                       AS cos_sim
            FROM embeddings
            ORDER BY cos_sim DESC, vec_id ASC
            LIMIT 10
        ),
        lr AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC)
                       AS lex_rank
            FROM lex
        ),
        vr AS (
            SELECT vec_id AS doc_id,
                   ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id ASC)
                       AS vec_rank
            FROM vec
        ),
        fused AS (
            SELECT COALESCE(lr.doc_id, vr.doc_id) AS doc_id,
                   lex_rank, vec_rank,
                   COALESCE(1.0::DOUBLE / ({RRF_K} + lex_rank), 0.0::DOUBLE)
                   + COALESCE(1.0::DOUBLE / ({RRF_K} + vec_rank),
                              0.0::DOUBLE) AS rrf
            FROM lr FULL OUTER JOIN vr ON lr.doc_id = vr.doc_id
        )
        SELECT doc_id, lex_rank, vec_rank, ROUND(rrf, 6) AS rrf_score
        FROM fused
        ORDER BY rrf DESC, doc_id ASC
        LIMIT {HYBRID_TOP_K}
    """,
    "dedup_substring_spans": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        sp0 AS (
            SELECT doc_id,
                   [md5(array_to_string(toks[i:i+{SPAN_TOKENS - 1}], ' '))
                    for i in generate_series(1, len(toks) - {SPAN_TOKENS} + 1)]
                       AS hs
            FROM t
        ),
        sp AS (SELECT doc_id, unnest(hs) AS h FROM sp0),
        hot AS (
            SELECT h, COUNT(DISTINCT doc_id) AS n_docs
            FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id),
        dup AS (
            SELECT sp.doc_id, COUNT(*) AS n_dup_spans,
                   MAX(n_docs) AS max_span_docs
            FROM sp JOIN hot USING (h) GROUP BY sp.doc_id
        )
        SELECT doc_id, n_spans, n_dup_spans,
               ROUND(CAST(n_dup_spans AS DOUBLE) / n_spans, 4)
                   AS dup_span_ratio,
               max_span_docs
        FROM tot JOIN dup USING (doc_id)
    """,
    "scrub_duplicate_spans": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        sp AS (
            SELECT doc_id, i - 1 AS pos,
                   md5(array_to_string(toks[i:i+{SPAN_TOKENS - 1}], ' '))
                       AS h
            FROM (
                SELECT doc_id, toks,
                       unnest(generate_series(
                           1, len(toks) - {SPAN_TOKENS} + 1)) AS i
                FROM t
            )
        ),
        owners AS (
            SELECT h, MIN(doc_id) AS owner,
                   COUNT(DISTINCT doc_id) AS n_docs
            FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        st AS (
            SELECT sp.doc_id,
                   list_sort(list_distinct(list(pos))) AS starts
            FROM sp JOIN owners USING (h)
            WHERE sp.doc_id != owner
            GROUP BY sp.doc_id
        ),
        cov AS (
            SELECT t.doc_id, toks,
                   list_distinct(flatten(list_transform(
                       COALESCE(starts, []),
                       s -> generate_series(
                           s, least(s + {SPAN_TOKENS} - 1,
                                    len(toks) - 1))))) AS covered
            FROM t LEFT JOIN st USING (doc_id)
        )
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(covered) AS n_removed,
               ROUND(CAST(len(covered) AS DOUBLE) / len(toks), 4)
                   AS removed_ratio,
               COALESCE(array_to_string(list_transform(
                   list_filter(generate_series(0, len(toks) - 1),
                               i -> NOT list_contains(covered, i)),
                   i -> toks[i + 1]), ' '), '') AS text_scrubbed
        FROM cov
    """,
    "lang_id_ngram": (lambda profiles=text.LANG_PROFILES: (
        "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),\n"
        "s AS (SELECT doc_id, lang, "
        + ", ".join(
            "len(list_filter(toks, x -> list_contains(["
            + ", ".join(f"'{w}'" for w in prof)
            + f"], x))) AS s_{lg}"
            for lg, prof in profiles
        )
        + " FROM t)\nSELECT doc_id, lang, CASE "
        + " ".join(
            "WHEN "
            + " AND ".join(f"s_{lg} >= s_{other}" for other, _ in profiles)
            + f" THEN '{lg}'"
            for lg, _ in profiles[:-1]
        )
        + f" ELSE '{profiles[-1][0]}' END AS predicted_lang FROM s"
    ))(),
    "token_count_bpe": f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '{text.BPE_PATTERN}')) AS INTEGER) AS n_bpe_tokens
        FROM documents
    """,
    "doc_fingerprint": """
        -- degenerate docs: no k-grams, NULL fingerprint (Spark twin in
        -- functions/text.py rolling_fingerprint/distinct_kgram_count)
        SELECT doc_id,
               CASE WHEN text IS NULL OR text = '' THEN NULL
                    ELSE list_min([md5(text[i:i+4]) for i in generate_series(1, greatest(length(text) - 4, 1))])
               END AS fp_min,
               CAST(CASE WHEN text IS NULL OR text = '' THEN 0
                         ELSE len(list_distinct([text[i:i+4] for i in generate_series(1, greatest(length(text) - 4, 1))]))
                    END AS INTEGER) AS n_kgrams
        FROM documents
    """,
    "multimodal_meta": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
               lower(substring(hex(encode(text)), 1, 8))   AS header_hex
        FROM documents
    """,
    # The fake codec is deterministic byte arithmetic over sha256/md5, and
    # documents.text is pure ASCII (char ops == byte ops), so DuckDB can
    # replay it exactly — the oracle checks the whole mapInPandas path.
    "multimodal_audio_meta": """
        -- octet_length, not LENGTH: the payload is the text's UTF-8
        -- BYTES, and char counts diverge on non-ASCII text (sha256
        -- already hashes the UTF-8 bytes, so sr needs no change)
        WITH a AS (
            SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                   8000 * (1 + ('0x' || substr(sha256(text), 1, 2))::BIGINT % 6)
                       AS sr
            FROM documents
        )
        SELECT doc_id,
               CAST(sr AS INTEGER) AS sample_rate,
               CAST(n_bytes // 2 AS INTEGER) AS n_samples,
               (n_bytes // 2) * 1000 // sr AS duration_ms,
               CAST((n_bytes // 2) // 1024 AS INTEGER) AS n_windows
        FROM a
    """,
    "multimodal_image_meta": """
        WITH h AS (SELECT doc_id, sha256(text) AS hx FROM documents)
        SELECT doc_id,
               CAST(16 + ('0x' || substr(hx, 1, 2))::INT % 240 AS INTEGER) AS width,
               CAST(16 + ('0x' || substr(hx, 3, 2))::INT % 240 AS INTEGER) AS height,
               -- the NULL arm is explicit: a NULL digest would fall to
               -- ELSE 3 instead of NULL channels (missing asset)
               CAST(CASE WHEN hx IS NULL THEN NULL
                         WHEN ('0x' || substr(hx, 5, 2))::INT % 4 = 0
                         THEN 1 ELSE 3 END AS INTEGER) AS channels,
               'fake' AS format
        FROM h
    """,
    "multimodal_frame_sample": """
        -- NULL assets sample zero frames; without the filter DuckDB's
        -- NULL-skipping least(4, NULL) = 4 manufactures 4 NULL frames.
        -- Frames are BYTE slices (the payload is binary), replayed in
        -- the hex domain: hx[2i+1 : 2i+2k] is exactly bytes [i, i+k)
        -- regardless of multi-byte chars, and the product hashes the
        -- lowercase hex for exactly this replayability.
        WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
                          octet_length(encode(text)) AS n
                   FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, hx, greatest(n // 4, 1) AS step,
                     UNNEST(generate_series(0, least(4, n) - 1)) AS fi
              FROM b)
        SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
               md5(substring(hx, CAST(fi * step * 2 + 1 AS INTEGER),
                             CAST(step * 2 AS INTEGER))) AS frame_hash
        FROM f
    """,
}

# the dedup-dashboard oracle nests each family member's full oracle —
# a match re-verifies the whole ladder end-to-end
ORACLES["dedup_family_report"] = f"""
    SELECT 'exact' AS method,
           CAST(SUM(n_copies - 1) AS BIGINT) AS n_flagged
    FROM ({ORACLES['dedup_exact_docs']})
    UNION ALL
    SELECT 'paragraph', CAST(COUNT(*) AS BIGINT)
    FROM ({ORACLES['dedup_paragraph_exact']}) WHERE NOT keep
    UNION ALL
    SELECT 'minhash_cc', CAST(SUM(n_dropped) AS BIGINT)
    FROM ({ORACLES['dedup_survivors']})
    UNION ALL
    SELECT 'semantic', CAST(COUNT(*) AS BIGINT)
    FROM ({ORACLES['dedup_semantic_clusters']}) WHERE NOT keep
"""

# decontamination dashboard: nests each screen's full oracle (the
# substring screen replays the span-hash recipe against the benchmark
# split) — one green row re-verifies the whole contamination family
from .corpus import ORACLES as _CORPUS_ORACLES  # noqa: E402

ORACLES["contamination_family_report"] = f"""
    SELECT 'ngram' AS method, CAST(COUNT(*) AS BIGINT) AS n_flagged
    FROM ({_CORPUS_ORACLES['contamination_ngram']})
    UNION ALL
    SELECT 'substring', CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM (
        WITH t AS (
            SELECT doc_id, doc_id % 100 AS m,
                   string_split(text, ' ') AS toks
            FROM documents
        ),
        sp0 AS (
            SELECT doc_id, m,
                   [md5(array_to_string(toks[i:i+{SPAN_TOKENS - 1}], ' '))
                    for i in generate_series(1, len(toks) - {SPAN_TOKENS} + 1)]
                       AS hs
            FROM t
        ),
        sp AS (SELECT doc_id, m, unnest(hs) AS h FROM sp0),
        ev AS (SELECT DISTINCT h FROM sp WHERE m = 0)
        SELECT sp.doc_id FROM sp JOIN ev USING (h) WHERE m <> 0
    )
    UNION ALL
    SELECT 'semantic', CAST(COUNT(DISTINCT train_id) AS BIGINT)
    FROM ({ORACLES['contamination_semantic']})
"""

# the executed ladder: per-doc keep decision for each rung + the
# conjunction, nesting each rung's full oracle (exact rung inlined as
# a window — same min-doc_id-per-content-hash rule as dedup_exact_docs)
ORACLES["corpus_apply_dedup"] = f"""
    WITH ex AS (
        SELECT doc_id,
               doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                   AS keep_exact
        FROM documents
    ),
    para AS (SELECT doc_id, keep FROM ({ORACLES['dedup_paragraph_exact']})),
    ccx AS (SELECT doc_id, cluster_id FROM ({ORACLES['dedup_cluster_cc']})),
    cen AS (SELECT cluster_id, keep_doc_id
            FROM ({ORACLES['dedup_survivors_by_centrality']})),
    sem AS (SELECT vec_id, keep FROM ({ORACLES['dedup_semantic_clusters']}))
    SELECT ex.doc_id,
           ex.keep_exact,
           COALESCE(para.keep, TRUE) AS keep_paragraph,
           (ccx.doc_id IS NULL OR cen.keep_doc_id = ex.doc_id)
               AS keep_minhash,
           COALESCE(sem.keep, TRUE) AS keep_semantic,
           (ex.keep_exact AND COALESCE(para.keep, TRUE)
            AND (ccx.doc_id IS NULL OR cen.keep_doc_id = ex.doc_id)
            AND COALESCE(sem.keep, TRUE)) AS keep
    FROM ex
    LEFT JOIN para ON para.doc_id = ex.doc_id
    LEFT JOIN ccx ON ccx.doc_id = ex.doc_id
    LEFT JOIN cen ON cen.cluster_id = ccx.cluster_id
    LEFT JOIN sem ON sem.vec_id = ex.doc_id
"""

# batch-serving recall: exact truth per batch query + the nested batch
# ADC oracle, per-qid semi-join counts
ORACLES["knn_batch_recall"] = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
               FROM embeddings),
    q AS (SELECT vec_id AS qid, vec AS qv FROM v
          WHERE vec_id % 2 = 1 AND vec_id < {QBATCH_MAX}),
    c AS (SELECT vec_id, vec AS cv FROM v WHERE vec_id % 2 = 0),
    truth AS (
        SELECT qid, vec_id FROM (
            SELECT q.qid, c.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY ROUND({_duck_cos('c.cv', 'q.qv')}, 4) DESC,
                                c.vec_id ASC) AS rn
            FROM c CROSS JOIN q)
        WHERE rn <= {BATCH_TOPK}
    ),
    adc AS (SELECT qid, vec_id FROM ({ORACLES['knn_batch_adc']})),
    h AS (
        SELECT t.qid, COUNT(*) AS n_hits
        FROM truth t JOIN adc a ON a.qid = t.qid AND a.vec_id = t.vec_id
        GROUP BY t.qid
    )
    SELECT qq.qid,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST({BATCH_TOPK} AS BIGINT) AS n_truth,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {BATCH_TOPK}, 4)
               AS recall
    FROM (SELECT DISTINCT qid FROM truth) qq
    LEFT JOIN h ON h.qid = qq.qid
"""


def _lsh_oracle_sql() -> str:
    """DuckDB twin of knn_lsh_hyperplane: the same plane/query literals
    (repr round-trips doubles exactly), list_dot_product for the same
    left-associative fold, identical CASE band arithmetic."""
    import math

    planes = _lsh_planes()
    qnorm = math.sqrt(_fold_dot(QUERY_VEC, QUERY_VEC))
    qbands = _lsh_query_bands()
    dots = ",\n               ".join(
        f"list_dot_product(e, {list(p)!r}::DOUBLE[]) AS dh{h}"
        for h, p in enumerate(planes)
    )
    bands = ",\n               ".join(
        f"({b}) AS band_{i}" for i, b in enumerate(_lsh_band_expr("dh"))
    )
    shared = " + ".join(
        f"(CASE WHEN band_{i} = {qbands[i]} THEN 1 ELSE 0 END)"
        for i in range(LSH_N_BANDS)
    )
    any_band = " OR ".join(
        f"band_{i} = {qbands[i]}" for i in range(LSH_N_BANDS)
    )
    return f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        d AS (
            SELECT vec_id,
               {dots},
               list_dot_product(e, e) AS selfdot,
               list_dot_product(e, {QUERY_VEC!r}::DOUBLE[]) AS dot_q
            FROM v
        ),
        s AS (
            SELECT vec_id, dot_q, selfdot,
               {bands}
            FROM d
        )
        SELECT vec_id,
               ROUND(dot_q / (sqrt(selfdot)
                              * CAST('{qnorm!r}' AS DOUBLE)), 4) AS cos_sim,
               CAST({shared} AS INTEGER) AS n_shared_bands
        FROM s
        WHERE {any_band}
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT 10
    """


ORACLES["knn_lsh_hyperplane"] = _lsh_oracle_sql()


# the triangle oracle nests the full brute-force fuzzy-pair SQL as its
# edge CTE — one green row re-verifies the LSH pair recall AND the
# triangle/wedge arithmetic
ORACLES["graph_triangle_count"] = """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
        FROM t
    ),
    e AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.b = e2.a
                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    deg AS (
        SELECT v, COUNT(*) AS d
        FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY v
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           CAST((SELECT SUM(d * (d - 1)) / 2 FROM deg) AS BIGINT) AS n_wedges,
           (SELECT n_triangles FROM tri) AS n_triangles,
           CASE WHEN (SELECT SUM(d * (d - 1)) / 2 FROM deg) > 0
                THEN ROUND(3.0::DOUBLE * (SELECT n_triangles FROM tri)
                           / CAST((SELECT SUM(d * (d - 1)) / 2 FROM deg)
                                  AS BIGINT), 6)
           END AS transitivity
"""


ORACLES["graph_link_prediction"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
        FROM t
    ),
    e AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
    ),
    nbr AS (
        SELECT a AS v, b AS w FROM e
        UNION ALL SELECT b AS v, a AS w FROM e
    ),
    deg AS (SELECT v, COUNT(*) AS d FROM nbr GROUP BY v),
    wedges AS (
        SELECT n1.v AS x, n2.v AS y, COUNT(*) AS n_common,
               EXISTS (SELECT 1 FROM e
                       WHERE e.a = n1.v AND e.b = n2.v) AS is_edge
        FROM nbr n1 JOIN nbr n2 ON n1.w = n2.w
        WHERE n1.v < n2.v
        GROUP BY 1, 2
    )
    SELECT x AS doc_a, y AS doc_b, is_edge, n_common,
           da.d AS deg_a, db.d AS deg_b,
           ROUND(CAST(n_common AS DOUBLE)
                 / CAST(da.d + db.d - n_common AS DOUBLE), 6)
               AS nbr_jaccard
    FROM wedges
    JOIN deg da ON da.v = wedges.x
    JOIN deg db ON db.v = wedges.y
    ORDER BY n_common DESC, nbr_jaccard DESC, doc_a ASC, doc_b ASC
    LIMIT {LINKPRED_TOP_K}
"""

ORACLES["sim_centroid_pairs"] = f"""
    WITH comp AS (
        SELECT label,
               CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER)
                   AS dim,
               CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE)
                          * {CENTROID_Q}, 0) AS BIGINT) AS q
        FROM embeddings
    ),
    sums AS (
        SELECT label, dim, SUM(q) AS s FROM comp GROUP BY 1, 2
    ),
    norms AS (
        SELECT label, SUM(CAST(s AS HUGEINT) * s) AS n2
        FROM sums GROUP BY label
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               SUM(CAST(a.s AS HUGEINT) * b.s) AS dot
        FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT label_a, label_b,
           ROUND(CAST(dot AS DOUBLE)
                 / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
               AS centroid_cosine
    FROM dots
    JOIN norms na ON na.label = dots.label_a
    JOIN norms nb ON nb.label = dots.label_b
"""

def _mmr_oracle_sql() -> str:
    """DuckDB twin of mmr_rerank: identical shortlist/sims rounding,
    then the greedy unrolled as one CTE pair (candidates + pick) per
    selection round — same λ arithmetic over the same rounded inputs,
    so every argmax comparison is bit-identical."""
    lam = "0.7::DOUBLE"
    steps = []
    for r in range(2, MMR_K + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT vec_id FROM p{i}" for i in range(1, r)
        )
        steps.append(f"""
    sel{r - 1} AS ({prev_sel}),
    c{r} AS (
        SELECT sh.vec_id, sh.rel,
               {lam} * sh.rel - (1.0::DOUBLE - {lam}) * MAX(s.s) AS mmr
        FROM short sh
        JOIN sims s ON s.a = sh.vec_id
        JOIN sel{r - 1} q ON s.b = q.vec_id
        WHERE sh.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
        GROUP BY sh.vec_id, sh.rel
    ),
    p{r} AS (
        SELECT vec_id, rel, {r} AS rank, mmr
        FROM c{r} ORDER BY mmr DESC, vec_id ASC LIMIT 1
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM p{i}" for i in range(1, MMR_K + 1)
    )
    return f"""
    WITH scored AS (
        SELECT vec_id,
               ROUND({_duck_cos("CAST(embedding AS DOUBLE[])",
                                repr(QUERY_VEC) + "::DOUBLE[]")}, 4) AS rel
        FROM embeddings
    ),
    short AS (
        SELECT vec_id, rel FROM scored
        ORDER BY rel DESC, vec_id ASC LIMIT {MMR_SHORTLIST}
    ),
    v AS (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec
        FROM embeddings e JOIN short USING (vec_id)
    ),
    sims AS (
        SELECT x.vec_id AS a, y.vec_id AS b,
               ROUND({_duck_cos("x.vec", "y.vec")}, 4) AS s
        FROM v x JOIN v y ON x.vec_id <> y.vec_id
    ),
    p1 AS (
        SELECT vec_id, rel, 1 AS rank, {lam} * rel AS mmr
        FROM short ORDER BY rel DESC, vec_id ASC LIMIT 1
    ),{",".join(steps)}
    SELECT rank, vec_id, rel, ROUND(mmr, 6) AS mmr FROM ({union})
    """


ORACLES["mmr_rerank"] = _mmr_oracle_sql()


def _mmr_batch_oracle_sql() -> str:
    """DuckDB twin of mmr_rerank_batch: identical per-qid
    shortlist/sims rounding, then the greedy unrolled per round with
    the per-qid argmax as a QUALIFY ROW_NUMBER — the mmr_rerank oracle
    pattern stacked over qids."""
    lam = "0.7::DOUBLE"
    steps = []
    for r in range(2, MMR_K + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT qid, vec_id FROM p{i}" for i in range(1, r)
        )
        steps.append(f"""
    sel{r - 1} AS ({prev_sel}),
    c{r} AS (
        SELECT sh.qid, sh.vec_id, sh.rel,
               {lam} * sh.rel - (1.0::DOUBLE - {lam}) * MAX(s.s) AS mmr
        FROM short sh
        JOIN sims s ON s.qid = sh.qid AND s.a = sh.vec_id
        JOIN sel{r - 1} q ON q.qid = s.qid AND s.b = q.vec_id
        WHERE NOT EXISTS (
            SELECT 1 FROM sel{r - 1} x
            WHERE x.qid = sh.qid AND x.vec_id = sh.vec_id
        )
        GROUP BY sh.qid, sh.vec_id, sh.rel
    ),
    p{r} AS (
        SELECT qid, vec_id, rel, {r} AS rank, mmr
        FROM c{r}
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY mmr DESC, vec_id ASC
        ) = 1
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM p{i}" for i in range(1, MMR_K + 1)
    )
    return f"""
    WITH q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings
        WHERE vec_id % 2 = 1 AND vec_id < {QBATCH_MAX}
    ),
    scored AS (
        SELECT q.qid, e.vec_id,
               ROUND({_duck_cos("CAST(e.embedding AS DOUBLE[])", "q.qv")},
                     4) AS rel
        FROM embeddings e CROSS JOIN q
    ),
    short AS (
        SELECT qid, vec_id, rel FROM scored
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY rel DESC, vec_id ASC
        ) <= {MMR_SHORTLIST}
    ),
    v AS (
        SELECT DISTINCT s.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec
        FROM short s JOIN embeddings e USING (vec_id)
    ),
    sims AS (
        SELECT s1.qid, s1.vec_id AS a, s2.vec_id AS b,
               ROUND({_duck_cos("x.vec", "y.vec")}, 4) AS s
        FROM short s1
        JOIN short s2 ON s1.qid = s2.qid AND s1.vec_id <> s2.vec_id
        JOIN v x ON x.vec_id = s1.vec_id
        JOIN v y ON y.vec_id = s2.vec_id
    ),
    p1 AS (
        SELECT qid, vec_id, rel, 1 AS rank, {lam} * rel AS mmr
        FROM short
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY rel DESC, vec_id ASC
        ) = 1
    ),{",".join(steps)}
    SELECT qid, rank, vec_id, rel, ROUND(mmr, 6) AS mmr FROM ({union})
    """


ORACLES["mmr_rerank_batch"] = _mmr_batch_oracle_sql()


def _knn_graph_symmetry_oracle() -> str:
    """Reuses the driver-green knn_ivf_join oracle verbatim as the
    neighbor-list CTE — the symmetry report replays the ALGORITHM's
    edge list, then one reversed-key semi-join + a 1-row aggregate."""
    return f"""
    WITH knn AS ({ORACLES["knn_ivf_join"]}),
    edges AS (SELECT vec_id, neighbor_id FROM knn),
    mutual AS (
        SELECT e.vec_id, e.neighbor_id
        FROM edges e
        WHERE EXISTS (
            SELECT 1 FROM edges r
            WHERE r.vec_id = e.neighbor_id
              AND r.neighbor_id = e.vec_id
        )
    )
    SELECT (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM edges)
               AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mutual) AS n_mutual,
           (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM mutual)
               AS n_nodes_with_mutual,
           ROUND((SELECT CAST(COUNT(*) AS DOUBLE) FROM mutual)
                 / (SELECT COUNT(*) FROM edges), 6) AS symmetry_rate
    """


ORACLES["knn_graph_symmetry"] = _knn_graph_symmetry_oracle()


def _cluster_size_hist_oracle() -> str:
    """Reuses the driver-green dedup_cluster_cc oracle (the recursive
    CTE over the brute-force pair graph) verbatim, then histograms."""
    return f"""
    WITH cc AS MATERIALIZED ({ORACLES["dedup_cluster_cc"]}),
    sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size
        FROM cc GROUP BY cluster_id
    )
    SELECT size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((size - 1) * COUNT(*) AS BIGINT) AS n_dropped,
           ROUND(CAST(size * COUNT(*) AS DOUBLE)
                 / SUM(size * COUNT(*)) OVER (), 6) AS doc_share
    FROM sizes
    GROUP BY size
    """


ORACLES["dedup_cluster_size_hist"] = _cluster_size_hist_oracle()


def _cross_source_pairs_oracle() -> str:
    """Reuses the brute-force all-pairs Jaccard oracle verbatim (the
    dedup_fuzzy_minhash contract: LSH recall AND precision re-verified
    at test scale), then the same symmetric source cut."""
    return f"""
    WITH pairs AS MATERIALIZED ({ORACLES["dedup_fuzzy_minhash"]}),
    joined AS (
        SELECT LEAST(da.source, db.source) AS source_a,
               GREATEST(da.source, db.source) AS source_b,
               CAST(ROUND(p.jaccard * 10000, 0) AS BIGINT) AS j4
        FROM pairs p
        JOIN documents da ON da.doc_id = p.doc_a
        JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT source_a, source_b,
           (source_a <> source_b) AS cross_source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(j4) AS DOUBLE) / (COUNT(*) * 10000.0), 4)
               AS mean_jaccard,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6)
               AS pair_share
    FROM joined
    GROUP BY source_a, source_b
    """


ORACLES["dedup_cross_source_pairs"] = _cross_source_pairs_oracle()

ORACLES["embedding_dim_profile"] = ORACLES_DIM_PROFILE

ORACLES["embedding_norm_profile"] = """
    WITH norms AS (
        SELECT CAST(floor(sqrt(list_dot_product(
                   CAST(embedding AS DOUBLE[]),
                   CAST(embedding AS DOUBLE[]))) * 1000000.0)
               AS BIGINT) AS nrm6
        FROM embeddings
    ),
    cum AS (
        SELECT v, SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               SUM(c) OVER () AS n,
               SUM(v * c) OVER () AS s
        FROM (SELECT nrm6 AS v, COUNT(*) AS c FROM norms GROUP BY nrm6)
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
           ROUND(CAST(MAX(s // n) AS DOUBLE) / 1e6, 6) AS mean_norm,
           ROUND(CAST(MIN(v) AS DOUBLE) / 1e6, 6) AS min_norm,
           ROUND(CAST(MIN(CASE WHEN cum >=
                 CAST(CEIL(1 * n / 4.0) AS BIGINT) THEN v END)
                 AS DOUBLE) / 1e6, 6) AS p25_norm,
           ROUND(CAST(MIN(CASE WHEN cum >=
                 CAST(CEIL(2 * n / 4.0) AS BIGINT) THEN v END)
                 AS DOUBLE) / 1e6, 6) AS median_norm,
           ROUND(CAST(MIN(CASE WHEN cum >=
                 CAST(CEIL(3 * n / 4.0) AS BIGINT) THEN v END)
                 AS DOUBLE) / 1e6, 6) AS p75_norm,
           ROUND(CAST(MAX(v) AS DOUBLE) / 1e6, 6) AS max_norm
    FROM cum
"""


def _batch_lsh_oracle_sql() -> str:
    """DuckDB twin of knn_batch_lsh: plane-literal dots, band values
    unpivoted via UNION ALL, the same distinct candidate join, cosine
    re-rank and per-qid ROW_NUMBER tie-break."""
    planes = _lsh_planes()
    dots = ",\n               ".join(
        f"list_dot_product(vec, {list(p)!r}::DOUBLE[]) AS dh{h}"
        for h, p in enumerate(planes)
    )
    bands = ",\n               ".join(
        f"CAST(({b}) AS INTEGER) AS band_{i}"
        for i, b in enumerate(_lsh_band_expr("dh"))
    )

    def unpivot(src: str, idcol: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {idcol}, {i} AS bi, band_{i} AS bv FROM {src}"
            for i in range(LSH_N_BANDS)
        )

    return f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    cd AS (
        SELECT vec_id,
               {dots}
        FROM v WHERE vec_id % 2 = 0
    ),
    cs AS (
        SELECT vec_id,
               {bands}
        FROM cd
    ),
    qd AS (
        SELECT vec_id AS qid,
               {dots}
        FROM v WHERE vec_id % 2 = 1 AND vec_id < {QBATCH_MAX}
    ),
    qs AS (
        SELECT qid,
               {bands}
        FROM qd
    ),
    cbands AS ({unpivot("cs", "vec_id")}),
    qbands AS ({unpivot("qs", "qid")}),
    cand AS (
        SELECT DISTINCT q.qid, c.vec_id
        FROM qbands q JOIN cbands c ON q.bi = c.bi AND q.bv = c.bv
    ),
    scored AS (
        SELECT cand.qid, cand.vec_id,
               ROUND({_duck_cos("cv.vec", "qv.vec")}, 4) AS cos_sim
        FROM cand
        JOIN v qv ON qv.vec_id = cand.qid
        JOIN v cv ON cv.vec_id = cand.vec_id
    )
    SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, cos_sim FROM (
        SELECT qid, vec_id, cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY qid
                   ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {BATCH_TOPK}
    """


ORACLES["knn_batch_lsh"] = _batch_lsh_oracle_sql()

ORACLES["eval_confusion_matrix"] = f"""
    WITH pred AS ({ORACLES["lang_id_ngram"]}),
    cells AS (
        SELECT predicted_lang, lang AS actual_lang, COUNT(*) AS n
        FROM pred GROUP BY predicted_lang, lang
    ),
    totals AS (
        SELECT actual_lang, SUM(n) AS n_actual FROM cells
        GROUP BY actual_lang
    )
    SELECT c.predicted_lang, c.actual_lang, c.n,
           ROUND(CAST(c.n AS DOUBLE) / t.n_actual, 6) AS share_of_actual
    FROM cells c JOIN totals t USING (actual_lang)
"""


# the PR-curve oracle nests the full classifier fit (the same CTE
# chain as quality_classifier_train's oracle through `scored`), then
# replays the histogram-edge threshold sweep in identical integer
# arithmetic
# the classifier fit as a reusable DuckDB CTE chain ending in
# scored(doc_id, y, s) — the SQL twin of _qc_fit's scored frame, shared
# by every eval-harness oracle (pr curve, AUC, calibration)
_DUCK_QC_SCORED_CTES = f"""tt AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    fx AS (
        SELECT doc_id,
               CASE WHEN len(t) < 2 THEN t
                    ELSE list_concat(t,
                        [t[i] || ' ' || t[i+1]
                         for i in generate_series(1, len(t) - 1)])
               END AS feats
        FROM tt
    ),
    feat AS (
        SELECT doc_id,
               {_DUCK_QC_BUCKET} AS bucket,
               (COUNT(*) * 1000) // MAX(tot) AS f
        FROM (SELECT doc_id, len(feats) AS tot, UNNEST(feats) AS g
              FROM fx)
        GROUP BY doc_id, bucket
    ),
    lab AS (
        SELECT doc_id,
               CASE WHEN list_contains(string_split(text, ' '),
                                       '{QC_LABEL_TOKEN}')
                    THEN 1 ELSE -1 END AS y
        FROM documents
    ),
    n AS (
        SELECT SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS n_pos,
               SUM(CASE WHEN y > 0 THEN 0 ELSE 1 END) AS n_neg
        FROM lab
    ),
    w AS (
        SELECT f.bucket,
               (SUM(CASE WHEN l.y > 0 THEN f.f ELSE 0 END) * 1000000)
                   // MAX(n.n_pos)
               - (SUM(CASE WHEN l.y < 0 THEN f.f ELSE 0 END) * 1000000)
                   // MAX(n.n_neg) AS w
        FROM feat f JOIN lab l USING (doc_id) CROSS JOIN n
        GROUP BY f.bucket
    ),
    scored AS (
        SELECT l.doc_id, l.y, s.s
        FROM lab l JOIN (
            SELECT f.doc_id, SUM(f.f * w.w) AS s
            FROM feat f JOIN w USING (bucket)
            GROUP BY f.doc_id
        ) s USING (doc_id)
    )"""

ORACLES["eval_pr_curve"] = f"""
    WITH {_DUCK_QC_SCORED_CTES},
    bounds AS (
        SELECT MIN(s) AS lo, MAX(s) AS hi,
               CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos
        FROM scored
    ),
    binned AS (
        SELECT LEAST((s - lo) // GREATEST(1, (hi - lo) // {PR_CURVE_STEPS}),
                     {PR_CURVE_STEPS}) AS b,
               y
        FROM scored CROSS JOIN bounds
    ),
    hist AS (
        SELECT b,
               CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
               CAST(SUM(CASE WHEN y > 0 THEN 0 ELSE 1 END) AS BIGINT) AS neg
        FROM binned GROUP BY b
    ),
    ks AS (SELECT k FROM range(0, {PR_CURVE_STEPS + 1}) t(k)),
    agg AS (
        SELECT k,
               CAST(SUM(COALESCE(pos, 0)) AS BIGINT) AS tp,
               CAST(SUM(COALESCE(neg, 0)) AS BIGINT) AS fp
        FROM ks LEFT JOIN hist ON hist.b >= ks.k
        GROUP BY k
    )
    SELECT k,
           CAST(lo + k * GREATEST(1, (hi - lo) // {PR_CURVE_STEPS})
                AS BIGINT) AS threshold,
           tp, fp,
           tp + fp AS n_pred,
           CASE WHEN tp + fp > 0
                THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END
               AS precision,
           ROUND(CAST(tp AS DOUBLE) / n_pos, 6) AS recall,
           CASE WHEN tp > 0
                THEN ROUND(2 * (CAST(tp AS DOUBLE) / (tp + fp))
                           * (CAST(tp AS DOUBLE) / n_pos)
                           / ((CAST(tp AS DOUBLE) / (tp + fp))
                              + (CAST(tp AS DOUBLE) / n_pos)), 6) END
               AS f1
    FROM agg CROSS JOIN bounds
"""

ORACLES["eval_roc_auc"] = f"""
    WITH {_DUCK_QC_SCORED_CTES},
    hist AS (
        SELECT s,
               CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS pos,
               CAST(SUM(CASE WHEN y > 0 THEN 0 ELSE 1 END) AS BIGINT)
                   AS neg
        FROM scored GROUP BY s
    ),
    cum AS (
        SELECT s, pos, neg,
               CAST(SUM(neg) OVER (
                   ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - neg AS BIGINT) AS neg_below
        FROM hist
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           CAST(SUM(CAST(pos AS HUGEINT) * neg_below) AS BIGINT)
               AS n_concordant,
           CAST(SUM(CAST(pos AS HUGEINT) * neg) AS BIGINT) AS n_tied,
           ROUND((CAST(SUM(CAST(pos AS HUGEINT) * neg_below) AS DOUBLE)
                  + CAST(SUM(CAST(pos AS HUGEINT) * neg) AS DOUBLE) / 2.0)
                 / CAST(SUM(pos) * SUM(neg) AS DOUBLE), 6) AS auc
    FROM cum
"""

ORACLES["eval_calibration_bins"] = f"""
    WITH {_DUCK_QC_SCORED_CTES},
    bounds AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM scored),
    binned AS (
        SELECT LEAST((s - lo) // GREATEST(1, (hi - lo) // {CALIB_BINS}),
                     {CALIB_BINS} - 1) AS bin,
               y, s,
               lo + LEAST((s - lo) // GREATEST(1, (hi - lo) // {CALIB_BINS}),
                          {CALIB_BINS} - 1)
                  * GREATEST(1, (hi - lo) // {CALIB_BINS}) AS _edge
        FROM scored CROSS JOIN bounds
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(MIN(_edge) AS BIGINT) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
           ROUND(CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS pos_rate,
           ROUND(CAST(SUM(CAST(s AS HUGEINT)) AS DOUBLE) / COUNT(*), 4)
               AS mean_score
    FROM binned GROUP BY bin
"""

ORACLES["eval_lift_gains"] = f"""
    WITH {_DUCK_QC_SCORED_CTES},
    bounds AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM scored),
    binned AS (
        SELECT LEAST((s - lo) // GREATEST(1, (hi - lo) // {CALIB_BINS}),
                     {CALIB_BINS} - 1) AS bin,
               y
        FROM scored CROSS JOIN bounds
    ),
    hist AS (
        SELECT CAST(bin AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos
        FROM binned GROUP BY bin
    ),
    totals AS (
        SELECT SUM(n_docs) AS t_docs, SUM(n_pos) AS t_pos FROM hist
    ),
    cum AS (
        SELECT bin, n_docs, n_pos,
               CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
               CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos
        FROM hist
        WINDOW w AS (ORDER BY bin DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT bin, n_docs, n_pos, cum_docs, cum_pos,
           ROUND(CAST(cum_pos AS DOUBLE) / CAST(t_pos AS DOUBLE), 6)
               AS gain,
           ROUND((CAST(cum_pos AS DOUBLE) / cum_docs)
                 / (CAST(t_pos AS DOUBLE) / t_docs), 6) AS lift
    FROM cum CROSS JOIN totals
"""

ORACLES["corpus_curriculum_buckets"] = f"""
    WITH {_DUCK_QC_SCORED_CTES},
    bounds AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM scored),
    cells AS (
        SELECT LEAST((s - lo) // GREATEST(1, (hi - lo) // {CALIB_BINS}),
                     {CALIB_BINS} - 1) AS score_bin,
               CASE WHEN d.n_chars < 200 THEN 'short'
                    WHEN d.n_chars < 400 THEN 'medium'
                    ELSE 'long' END AS len_bucket,
               d.n_chars
        FROM scored
        JOIN documents d USING (doc_id)
        CROSS JOIN bounds
    ),
    agg AS (
        SELECT CAST(score_bin AS BIGINT) AS score_bin, len_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM cells GROUP BY 1, 2
    )
    SELECT score_bin, len_bucket, n_docs, total_chars,
           ROUND(CAST(n_docs AS DOUBLE)
                 / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS doc_share
    FROM agg
"""

ORACLES["eval_ndcg_bm25"] = f"""
    WITH base AS ({_BM25_ORACLE}),
    rel AS (
        SELECT doc_id, CAST(LEAST(COUNT(*), 3) AS INTEGER) AS rel
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t IN ({", ".join(f"'{w}'" for w in BM25_QUERY_TERMS)})
        GROUP BY doc_id
    ),
    ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY b.bm25 DESC, b.doc_id ASC) AS INTEGER)
                   AS rank,
               b.doc_id,
               CAST(COALESCE(rel.rel, 0) AS INTEGER) AS rel
        FROM (SELECT * FROM base
              ORDER BY bm25 DESC, doc_id ASC LIMIT {NDCG_K}) b
        LEFT JOIN rel USING (doc_id)
    ),
    ideal AS (
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY rel DESC, doc_id ASC) AS INTEGER) AS irank,
               rel AS irel
        FROM (SELECT * FROM rel
              ORDER BY rel DESC, doc_id ASC LIMIT {NDCG_K})
    ),
    gains AS (
        SELECT r.rank, r.doc_id, r.rel,
               (CAST(POW(2, r.rel) AS BIGINT) - 1)
                   * (FLOOR(1000000.0 / log2(r.rank + 1)) / 1000000.0)
                   AS _g,
               (CAST(POW(2, i.irel) AS BIGINT) - 1)
                   * (FLOOR(1000000.0 / log2(i.irank + 1)) / 1000000.0)
                   AS _ig
        FROM ranked r JOIN ideal i ON r.rank = i.irank
    )
    SELECT rank, doc_id, rel,
           ROUND(SUM(_g) OVER w, 6) AS dcg_cum,
           ROUND(SUM(_ig) OVER w, 6) AS idcg_cum,
           ROUND(SUM(_g) OVER w / SUM(_ig) OVER w, 6) AS ndcg_cum
    FROM gains
    WINDOW w AS (ORDER BY rank
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

ORACLES["eval_precision_at_k"] = f"""
    WITH base AS ({{bm25}}),
    rel AS (
        SELECT doc_id, CAST(LEAST(COUNT(*), 3) AS INTEGER) AS rel
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t IN ({", ".join(f"'{w}'" for w in BM25_QUERY_TERMS)})
        GROUP BY doc_id
    ),
    nrel AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_relevant
        FROM rel WHERE rel >= 1
    ),
    ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY b.bm25 DESC, b.doc_id ASC) AS INTEGER)
                   AS rank,
               b.doc_id,
               CAST(CASE WHEN COALESCE(rel.rel, 0) >= 1
                         THEN 1 ELSE 0 END AS INTEGER) AS is_rel
        FROM (SELECT * FROM base
              ORDER BY bm25 DESC, doc_id ASC LIMIT {NDCG_K}) b
        LEFT JOIN rel USING (doc_id)
    )
    SELECT rank, doc_id, is_rel,
           CAST(SUM(is_rel) OVER w AS BIGINT) AS n_rel_cum,
           ROUND(SUM(is_rel) OVER w / CAST(rank AS DOUBLE), 6)
               AS precision_at_k,
           ROUND(SUM(is_rel) OVER w
                 / CAST((SELECT n_relevant FROM nrel) AS DOUBLE), 6)
               AS recall_at_k,
           ROUND(COALESCE(
               1.0 / MIN(CASE WHEN is_rel = 1 THEN rank END) OVER w,
               0.0), 6) AS reciprocal_rank
    FROM ranked
    WINDOW w AS (ORDER BY rank
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""".format(bm25=_BM25_ORACLE)

ORACLES["doc_bigram_logprob"] = """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    pairs AS (
        SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
        FROM (SELECT doc_id, toks,
                     UNNEST(range(1, len(toks))) AS i
              FROM t)
    ),
    bigrams AS (
        SELECT a, b, COUNT(*) AS c_ab FROM pairs GROUP BY a, b
    ),
    unigrams AS (
        SELECT a, COUNT(*) AS c_a
        FROM (SELECT UNNEST(toks) AS a FROM t)
        GROUP BY a
    ),
    v AS (SELECT COUNT(*) AS v FROM unigrams),
    model AS (
        SELECT a, b,
               CAST(FLOOR(LN((c_ab + 1.0) / (c_a + CAST(v AS DOUBLE)))
                          * 1000000.0) AS BIGINT) AS logp_q
        FROM bigrams JOIN unigrams USING (a) CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           ROUND(-CAST(SUM(logp_q) AS DOUBLE) / COUNT(*) / 1000000.0, 4)
               AS avg_neg_logp
    FROM pairs JOIN model USING (a, b)
    GROUP BY doc_id
"""

_MINHASH_MATCH_TERMS = " + ".join(
    f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END"
    for i in range(len(_MINHASH_PARAMS))
)

ORACLES["dedup_minhash_jaccard_estimate"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
        FROM t
    ),
    hs AS (
        SELECT doc_id,
               list_transform(sh, g ->
                   ('0x' || substr(md5(g), 1, 8))::BIGINT % {_MINHASH_P})
                   AS h
        FROM s
    ),
    sig AS (SELECT doc_id, {_NGRAM_SIG_COLS} FROM hs),
    bands AS ({_NGRAM_BAND_SELECTS}),
    ok AS (
        SELECT b, r1, r2 FROM bands GROUP BY b, r1, r2
        HAVING COUNT(*) BETWEEN 2 AND 200
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        FROM bands x
        JOIN ok k ON k.b = x.b AND k.r1 = x.r1 AND k.r2 = x.r2
        JOIN bands y ON y.b = x.b AND y.r1 = x.r1 AND y.r2 = x.r2
                    AND x.doc_id < y.doc_id
    )
    SELECT cand.da AS doc_a, cand.db AS doc_b,
           CAST({_MINHASH_MATCH_TERMS} AS INTEGER) AS n_slot_matches,
           ROUND(({_MINHASH_MATCH_TERMS})
                 / {len(_MINHASH_PARAMS)}.0, 4) AS jaccard_est,
           ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.sh, sb.sh))), 4)
               AS jaccard_exact,
           ROUND(({_MINHASH_MATCH_TERMS}) / {len(_MINHASH_PARAMS)}.0
                 - ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(sa.sh, sb.sh))),
                         4), 4) AS est_error
    FROM cand
    JOIN sig a ON a.doc_id = cand.da
    JOIN sig b ON b.doc_id = cand.db
    JOIN s sa ON sa.doc_id = cand.da
    JOIN s sb ON sb.doc_id = cand.db
"""

ORACLES["dedup_graph_degree_hist"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
        FROM t
    ),
    hs AS (
        SELECT doc_id,
               list_transform(sh, g ->
                   ('0x' || substr(md5(g), 1, 8))::BIGINT % {_MINHASH_P})
                   AS h
        FROM s
    ),
    sig AS (SELECT doc_id, {_NGRAM_SIG_COLS} FROM hs),
    bands AS ({_NGRAM_BAND_SELECTS}),
    ok AS (
        SELECT b, r1, r2 FROM bands GROUP BY b, r1, r2
        HAVING COUNT(*) BETWEEN 2 AND 200
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        FROM bands x
        JOIN ok k ON k.b = x.b AND k.r1 = x.r1 AND k.r2 = x.r2
        JOIN bands y ON y.b = x.b AND y.r1 = x.r1 AND y.r2 = x.r2
                    AND x.doc_id < y.doc_id
    ),
    kept AS (
        SELECT cand.da, cand.db
        FROM cand
        JOIN s sa ON sa.doc_id = cand.da
        JOIN s sb ON sb.doc_id = cand.db
        WHERE ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(sa.sh, sb.sh))), 4)
              >= 0.5
    ),
    deg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT da AS doc_id FROM kept
              UNION ALL SELECT db FROM kept)
        GROUP BY doc_id
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
"""

ORACLES["dedup_threshold_sweep"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
        FROM t
    ),
    hs AS (
        SELECT doc_id,
               list_transform(sh, g ->
                   ('0x' || substr(md5(g), 1, 8))::BIGINT % {_MINHASH_P})
                   AS h
        FROM s
    ),
    sig AS (SELECT doc_id, {_NGRAM_SIG_COLS} FROM hs),
    bands AS ({_NGRAM_BAND_SELECTS}),
    ok AS (
        SELECT b, r1, r2 FROM bands GROUP BY b, r1, r2
        HAVING COUNT(*) BETWEEN 2 AND 200
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        FROM bands x
        JOIN ok k ON k.b = x.b AND k.r1 = x.r1 AND k.r2 = x.r2
        JOIN bands y ON y.b = x.b AND y.r1 = x.r1 AND y.r2 = x.r2
                    AND x.doc_id < y.doc_id
    ),
    kept AS (
        SELECT cand.da, cand.db,
               ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(sa.sh, sb.sh))), 4)
                   AS j
        FROM cand
        JOIN s sa ON sa.doc_id = cand.da
        JOIN s sb ON sb.doc_id = cand.db
    ),
    thr AS (
        SELECT UNNEST([{", ".join(str(t) for t in DEDUP_SWEEP_THRESHOLDS)}])
            AS threshold
    ),
    flagged AS (
        SELECT threshold, da, db
        FROM kept CROSS JOIN thr WHERE j >= threshold
    ),
    np AS (
        SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM flagged GROUP BY threshold
    ),
    nd AS (
        SELECT threshold,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_affected
        FROM (SELECT threshold, da AS doc_id FROM flagged
              UNION ALL SELECT threshold, db FROM flagged)
        GROUP BY threshold
    )
    SELECT threshold,
           CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(n_docs_affected, 0) AS BIGINT)
               AS n_docs_affected
    FROM thr LEFT JOIN np USING (threshold)
             LEFT JOIN nd USING (threshold)
"""

ORACLES["dedup_containment"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN toks IS NULL OR len(toks) = 0 OR toks = [''] THEN []
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(toks) - 2, 1))]) END AS sh
        FROM t
    ),
    hs AS (
        SELECT doc_id,
               list_transform(sh, g ->
                   ('0x' || substr(md5(g), 1, 8))::BIGINT % {_MINHASH_P})
                   AS h
        FROM s
    ),
    sig AS (SELECT doc_id, {_NGRAM_SIG_COLS} FROM hs),
    bands AS ({_NGRAM_BAND_SELECTS}),
    ok AS (
        SELECT b, r1, r2 FROM bands GROUP BY b, r1, r2
        HAVING COUNT(*) BETWEEN 2 AND 200
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        FROM bands x
        JOIN ok k ON k.b = x.b AND k.r1 = x.r1 AND k.r2 = x.r2
        JOIN bands y ON y.b = x.b AND y.r1 = x.r1 AND y.r2 = x.r2
                    AND x.doc_id < y.doc_id
    ),
    scored AS (
        SELECT cand.da AS doc_a, cand.db AS doc_b,
               ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(sa.sh, sb.sh))), 4)
                   AS jaccard,
               ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                     / len(sa.sh), 4) AS containment_a,
               ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                     / len(sb.sh), 4) AS containment_b
        FROM cand
        JOIN s sa ON sa.doc_id = cand.da
        JOIN s sb ON sb.doc_id = cand.db
    )
    SELECT doc_a, doc_b, jaccard, containment_a, containment_b,
           GREATEST(containment_a, containment_b) AS max_containment
    FROM scored
    WHERE GREATEST(containment_a, containment_b) >= {CONTAINMENT_MIN}
"""

ORACLES["corpus_token_budget"] = f"""
    WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id, source,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               ROUND(0.5 * (CAST(len(list_filter(toks,
                       x -> list_contains([{_STOPLIST}], x))) AS DOUBLE)
                     / len(toks))
                   + 0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
                     / len(toks)), 4) AS quality
        FROM t
    ),
    c AS (
        SELECT doc_id, source, n_tokens, quality,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY quality DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM s
    )
    SELECT doc_id, source, n_tokens, quality, cum_tokens
    FROM c WHERE cum_tokens <= {TOKEN_BUDGET_PER_SOURCE}
"""

ORACLES["quality_perplexity_buckets"] = """
    WITH toks AS (
        SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
        FROM documents
    ),
    vocab AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok),
    total AS (SELECT SUM(n_tok) AS n_corpus_tokens FROM vocab),
    lp AS (
        SELECT tok,
               CAST(FLOOR(LN(CAST(n_tok AS DOUBLE) / n_corpus_tokens)
                          * 1000000.0) AS BIGINT) AS logp_q
        FROM vocab, total
    ),
    per_doc AS (
        SELECT t.doc_id, t.lang,
               COUNT(*) AS n_tokens,
               -SUM(lp.logp_q) AS neg_sum_q
        FROM toks t JOIN lp USING (tok)
        GROUP BY t.doc_id, t.lang
    ),
    keyed AS (
        SELECT doc_id, lang, n_tokens,
               (neg_sum_q * 1000) // n_tokens AS rank_key,
               ROUND(CAST(neg_sum_q AS DOUBLE) / n_tokens / 1000000.0, 4)
                   AS avg_neg_logp
        FROM per_doc
    ),
    bucketed AS (
        SELECT lang, n_tokens, avg_neg_logp,
               CASE NTILE(3) OVER (PARTITION BY lang
                                   ORDER BY rank_key ASC, doc_id ASC)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM keyed
    )
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(ROUND(avg_neg_logp * 10000.0) AS BIGINT))
                      AS DOUBLE) / COUNT(*) / 10000.0, 4) AS mean_neg_logp,
           ROUND(MIN(avg_neg_logp), 4) AS best_neg_logp,
           ROUND(MAX(avg_neg_logp), 4) AS worst_neg_logp
    FROM bucketed GROUP BY lang, bucket
"""

ORACLES["text_entropy"] = """
    -- degenerate docs excluded (see the Spark twin's filter)
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE text IS NOT NULL AND text <> ''
    ),
    cnt AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(toks) AS tok FROM t)
        GROUP BY doc_id, tok
    ),
    s AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(c * CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1000000.0)
                                 AS BIGINT)) AS BIGINT) AS acc
        FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           ROUND((n_tokens * CAST(FLOOR(LN(CAST(n_tokens AS DOUBLE))
                                        * 1000000.0) AS BIGINT) - acc)
                 / (n_tokens * 1000000.0), 4) AS token_entropy
    FROM s
"""

ORACLES["bpe_pair_counts"] = f"""
    WITH words AS (
        SELECT w, COUNT(*) AS freq
        FROM (SELECT UNNEST(string_split(LOWER(text), ' ')) AS w
              FROM documents)
        GROUP BY w
    ),
    pairs AS (
        SELECT freq,
               UNNEST(CASE WHEN LENGTH(w) > 1 THEN
                   [SUBSTRING(w, i, 1) || ' ' || SUBSTRING(w, i + 1, 1)
                    for i in generate_series(1, LENGTH(w) - 1)]
                   ELSE [] END) AS pair
        FROM words
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS weighted_count
    FROM pairs GROUP BY pair
    ORDER BY weighted_count DESC, pair ASC
    LIMIT {BPE_PAIR_TOPK}
"""


def _bpe_oracle_rounds(n: int) -> str:
    """The shared unrolled-merge CTE chain for the BPE oracles: words →
    r0 (delimited char symbols) → [p_k (round-k argmax pair, LIMIT 1) →
    r_k (merge applied via the same left-to-right string replace the
    engine uses)] × n. The oracle re-derives every argmax itself — it
    replays the ALGORITHM, not the engine's answers."""
    d = "chr(1)"
    dd = "chr(1) || chr(1)"
    parts = [
        f"""
    words AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(string_split(LOWER(text), ' ')) AS w
              FROM documents)
        WHERE w <> '' AND POSITION(chr(1) IN w) = 0
        GROUP BY w
    ),
    r0 AS (
        SELECT w, freq,
               {dd} || regexp_replace(w, '(.)', '\\1' || {dd}, 'g') AS s
        FROM words
    )"""
    ]
    for k in range(1, n + 1):
        parts.append(
            f"""
    p{k} AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS wc
        FROM (
            SELECT freq,
                   UNNEST(list_transform(range(1, len(syms)),
                          i -> syms[i] || ' ' || syms[i + 1])) AS pair
            FROM (SELECT freq,
                         list_filter(string_split(s, {dd}),
                                     x -> x <> '') AS syms
                  FROM r{k - 1})
        )
        GROUP BY pair ORDER BY wc DESC, pair ASC LIMIT 1
    ),
    r{k} AS (
        SELECT w, freq,
               replace(s,
                   {d} || split_part(pair, ' ', 1) || {dd}
                       || split_part(pair, ' ', 2) || {d},
                   {d} || replace(pair, ' ', '') || {d}) AS s
        FROM r{k - 1} CROSS JOIN p{k}
    )"""
        )
    return ",".join(parts)


ORACLES["bpe_train_merges"] = (
    "WITH "
    + _bpe_oracle_rounds(BPE_TRAIN_MERGES)
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank,"
        f" split_part(pair, ' ', 1) AS pair_left,"
        f" split_part(pair, ' ', 2) AS pair_right,"
        f" replace(pair, ' ', '') AS merged,"
        f" wc AS weighted_count FROM p{k}"
        for k in range(1, BPE_TRAIN_MERGES + 1)
    )
)

ORACLES["bpe_tokenize_compression"] = (
    "WITH "
    + _bpe_oracle_rounds(BPE_TRAIN_MERGES)
    + f""",
    word_syms AS (
        SELECT w,
               CAST(len(list_filter(string_split(s, chr(1) || chr(1)),
                                    x -> x <> '')) AS BIGINT) AS n_syms,
               CAST(LENGTH(w) AS BIGINT) AS wlen
        FROM r{BPE_TRAIN_MERGES}
    ),
    lang_words AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT lang, UNNEST(string_split(LOWER(text), ' ')) AS w
              FROM documents)
        WHERE w <> '' AND POSITION(chr(1) IN w) = 0
        GROUP BY lang, w
    )
    SELECT lang,
           CAST(SUM(freq) AS BIGINT) AS n_words,
           CAST(SUM(freq * wlen) AS BIGINT) AS n_chars,
           CAST(SUM(freq * n_syms) AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(SUM(freq * wlen) AS DOUBLE)
                 / SUM(freq * n_syms), 4) AS chars_per_token
    FROM lang_words JOIN word_syms USING (w)
    GROUP BY lang
"""
)


def _bm25_bpe_oracle_sql() -> str:
    """DuckDB twin of bm25_bpe_topk: the shared unrolled merge rounds,
    both tokenizations via the r{N} symbol table, then BM25 with the
    floor-quantized idf and the term-ordered float fold.

    The query-word symbols come from the corpus vocab's symbol table
    (the fixed BM25_QUERY_TERMS are corpus words, so their r{N} row IS
    the engine's independent query tokenization) — pushing the literal
    words through their own per-round replace CTEs would reference
    every p{k} a second time and re-evaluate the whole unrolled merge
    chain per round (measured: 76 s vs ~4 s at sf0.01)."""
    dd = "chr(1) || chr(1)"
    n = BPE_TRAIN_MERGES
    qlist = ", ".join(f"'{w}'" for w in BM25_QUERY_TERMS)
    k1, b = BM25_K1, BM25_B
    return (
        "WITH "
        + _bpe_oracle_rounds(n)
        + f""",
    wsyms AS MATERIALIZED (
        SELECT w, list_filter(string_split(s, {dd}), x -> x <> '') AS syms
        FROM r{n}
    ),
    qterms AS (
        SELECT DISTINCT UNNEST(syms) AS term
        FROM wsyms WHERE w IN ({qlist})
    ),
    docwords AS (
        SELECT doc_id, UNNEST(string_split(LOWER(text), ' ')) AS w
        FROM documents
    ),
    toks AS MATERIALIZED (
        SELECT dw.doc_id, UNNEST(ws.syms) AS term
        FROM (SELECT doc_id, w FROM docwords
              WHERE w <> '' AND POSITION(chr(1) IN w) = 0) dw
        JOIN wsyms ws USING (w)
    ),
    dl AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
        FROM toks GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS sum_dl
        FROM dl
    ),
    matched AS MATERIALIZED (
        SELECT doc_id, term FROM toks
        WHERE term IN (SELECT term FROM qterms)
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM matched GROUP BY doc_id, term
    ),
    dfq AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df
        FROM matched GROUP BY term
    ),
    scored AS (
        SELECT tf.doc_id, tf.term,
               floor(ln(1.0::DOUBLE
                        + (s.n_docs - dfq.df + 0.5::DOUBLE)
                          / (dfq.df + 0.5::DOUBLE))
                     * 1000000.0::DOUBLE) / 1000000.0::DOUBLE
               * (tf.tf * {k1 + 1.0}::DOUBLE)
               / (tf.tf + {k1}::DOUBLE * ({1.0 - b}::DOUBLE
                  + {b}::DOUBLE
                    * (dl.dl / (s.sum_dl / s.n_docs)))) AS sc
        FROM tf JOIN dfq USING (term)
        CROSS JOIN stats s
        JOIN dl ON dl.doc_id = tf.doc_id
    ),
    folded AS (
        SELECT doc_id,
               list_reduce(list(sc ORDER BY term),
                           (acc, x) -> acc + x) AS _bm25
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, ROUND(_bm25, 4) AS bm25
    FROM folded
    ORDER BY _bm25 DESC, doc_id ASC
    LIMIT {BM25_TOP_K}
    """
    )


ORACLES["bm25_bpe_topk"] = _bm25_bpe_oracle_sql()
