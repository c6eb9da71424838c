"""Streaming ingestion near-dedup against a persisted minhash index.

The production shape of incremental dedup: documents arrive as a
stream, and every micro-batch is checked against the corpus' on-disk
LSH index artifact (``sinks.write_minhash_index`` — band table +
band-key statistics) before admission. This is the streaming face of
``dedup_incremental_indexed``: identical candidate generation and
verification (the same ``_bipartite_candidates`` / ``_bipartite_verify``
helpers), driven by ``foreachBatch`` so each micro-batch runs the exact
batch plan — zero aggregation over the index side, hot-band hygiene via
the persisted stats, candidates verified with exact Jaccard.

``foreachBatch`` (not a stream-static join) is deliberate: the verify
phase pins small intermediates (checkpoint + broadcast), which only a
batch plan may do; and the near-dup PAIRS output is an append-only
side table, the natural foreachBatch sink. Exactly-once here comes from
the streaming checkpoint + idempotent overwrite of each batch's
directory partition (the same recipe as the sharded corpus sink).

One deliberate batching dependence: the NEW side's MAX_BUCKET hygiene
is counted per micro-batch (a streaming job cannot know a band key's
whole-corpus arrival count in advance), so a band key that is hot in
aggregate but cool per batch keeps its pairs here while the one-shot
batch run would drop them. That makes the streaming output a superset
of the batch result whenever such keys exist — equality holds exactly
when no new-side key straddles the cap across batch boundaries (true
of the test fixture, asserted there). The INDEX side has no such
dependence: its hygiene reads the persisted stats, identical every
batch.

At scale: per batch the index contributes one equi-join probe (band_key)
and one pushed-filter stats read; batch-side work is linear in batch
size. The index can grow two ways: OFFLINE (re-run write_minhash_index)
or INLINE via ``extend_index=True``, which admits each batch into the
index through ``sinks.append_minhash_batch`` (delta band partition +
stats merge + atomic pointer swap; the admitted-batch cursor in the
index meta makes replays no-ops and keeps delta numbering valid across
index compactions) and appends the batch's text to a corpus store so
later batches can verify candidates against earlier admissions. Either
way, a batch's pair output never depends on uncommitted index state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks import read_minhash_index
from ..functions.similarity import MAX_BUCKET, banded_minhash


def dedup_batch_against_index(
    spark: SparkSession,
    batch_df: DataFrame,
    index_dir: str,
    text_lookup: DataFrame,
    max_delta_id: int | None = None,
) -> DataFrame:
    """One batch's near-dup pairs (new_id, old_id, jaccard ≥ 0.5)
    against the persisted index. ``text_lookup`` resolves doc_id → text
    for candidate verification (the corpus store plus the batch).
    ``max_delta_id`` pins the index read to a pre-batch snapshot —
    see :func:`read_minhash_index` for the replay scenario it closes."""
    from ..functions.pipeline_queries import (
        _bipartite_candidates,
        _bipartite_verify,
    )

    bands_old, stats_old = read_minhash_index(
        spark, index_dir, max_delta_id=max_delta_id
    )
    b_old = bands_old.select(F.col("doc_id").alias("old_id"), "band_key")
    ok_old = stats_old.filter(F.col("n") <= MAX_BUCKET).select("band_key")
    b_new = banded_minhash(batch_df, "doc_id", "text").select(
        F.col("doc_id").alias("new_id"), "band_key"
    )
    return _bipartite_verify(
        text_lookup, _bipartite_candidates(b_new, b_old, ok_old)
    )


def start_streaming_dedup_against_index(
    spark: SparkSession,
    source_df: DataFrame,
    index_dir: str,
    index_corpus_df: DataFrame,
    out_dir: str,
    checkpoint_location: str,
    available_now: bool = True,
    extend_index: bool = False,
    corpus_store_dir: str | None = None,
):
    """Stream (doc_id, text) rows; per micro-batch, append the batch's
    near-dup pairs vs the index to ``out_dir`` (partitioned by batch id
    with dynamic overwrite, so a replayed batch rewrites its own
    partition instead of duplicating pairs).

    ``extend_index=True`` additionally ADMITS each batch into the index
    after its pairs are emitted: ``sinks.append_minhash_batch`` appends
    a fresh delta numbered ``last_delta_id + 1`` from the index meta and
    advances the meta's ``last_batch_id`` cursor atomically with the
    pointer swap (replays of the cursor batch no-op; a batch below the
    cursor raises), plus an idempotent batch-partitioned text append to
    ``corpus_store_dir`` (required in this mode) so later batches can
    Jaccard-verify candidates against earlier admissions. Pairs for
    batch N are always computed against the index as of batch N-1: the
    read is PINNED to the pre-batch snapshot resolved from the meta
    cursor (``max_delta_id = last_delta_id``, or one delta back when the
    cursor shows batch N itself already admitted), so even a replay that
    runs after batch N's own delta committed (crash between the delta
    commit and the checkpoint commit) reproduces the original pairs
    instead of band-joining the batch with itself."""
    if extend_index and corpus_store_dir is None:
        raise ValueError("extend_index=True requires corpus_store_dir")

    def _store_texts(spark: SparkSession) -> DataFrame | None:
        import glob
        import os

        # guard on COMMITTED part files, not mere directory existence: a
        # crash can leave the store dir created but empty, and an
        # unguarded spark.read.parquet would then fail schema inference
        # on every replay, permanently wedging the stream.
        if corpus_store_dir is None or not glob.glob(
            os.path.join(corpus_store_dir, "**", "*.parquet"), recursive=True
        ):
            return None
        return spark.read.parquet(corpus_store_dir).select("doc_id", "text")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from ..sinks import admit_index_batch, append_minhash_batch

        # run the admission cursor check FIRST, before any pair output
        # is computed or written: a deep cursor mismatch (fresh
        # checkpoint against an extended index) must fail before the
        # pairs partition batch_id=K is dynamic-overwritten with pairs
        # computed against the wrong one-back snapshot — the late raise
        # in append_minhash_batch would leave corrupted pair output for
        # the batch with the stream wedged.
        if extend_index:
            replaying, _, meta = admit_index_batch(
                "minhash", index_dir, batch_id
            )

        # doc_id-dedup the lookup union: a streamed doc_id that already
        # exists in the index corpus (re-ingest / replay of an indexed
        # doc) would otherwise contribute duplicate (doc_id, text) rows
        # and fan out the verify joins into duplicated pairs. Batch rows
        # win arbitrarily — text is identical by doc_id contract.
        lookup = batch_df.select("doc_id", "text").union(
            index_corpus_df.select("doc_id", "text")
        )
        stored = _store_texts(spark)
        if stored is not None:
            lookup = lookup.union(stored)
        lookup = lookup.dropDuplicates(["doc_id"])
        # pin the index read to the PRE-batch snapshot, resolved from
        # the meta's batch cursor (round 8 — delta ids are no longer
        # batch_id arithmetic, so compaction can renumber partitions):
        # a fresh batch reads the current committed state; a REPLAY of
        # the cursor batch (crash between its delta commit and the
        # checkpoint commit) reads one delta back, so it cannot
        # band-join the batch against itself and overwrite its pairs
        # partition with self-pairs the original run never emitted.
        # (Compaction discards that one-back snapshot — compact only
        # cleanly-stopped streams; a replay across a compaction fails
        # loudly in read_minhash_index, never silently.)
        pin = None
        if extend_index:
            pin = (
                meta["last_delta_id"] - 1
                if replaying
                else meta["last_delta_id"]
            )
        pairs = dedup_batch_against_index(
            spark, batch_df, index_dir, lookup, max_delta_id=pin
        )
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            # pair output is usually tiny, but a hot near-dup storm must
            # not serialize through one task: coalesce caps file count
            # without forcing a single-partition shuffle.
            .coalesce(8)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
        if extend_index:
            # admit the batch: text first (so any index-visible doc can
            # be verified), then the band delta. append_minhash_batch
            # no-ops on a replay of the cursor batch and raises on a
            # deeper cursor mismatch (fresh checkpoint against an
            # extended index) — silently skipped batches would be lost
            # for good.
            (
                batch_df.select("doc_id", "text")
                .withColumn("batch_id", F.lit(batch_id))
                .coalesce(8)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(corpus_store_dir)
            )
            append_minhash_batch(batch_df, index_dir, batch_id)

    writer = (
        source_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_location)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
