"""Streaming HYBRID query serving from the two persisted indexes —
the fused serve stage (round 9): query rows carrying BOTH legs
(qid, terms array<string>, embedding) arrive as a stream, and every
micro-batch is answered in one ``sinks.hybrid_search_from_indexes``
plan — BM25 leg from the lexical index, exact-re-ranked ANN leg from
the vector index, reciprocal-rank fusion per query — with results
appended as batch-keyed partitions.

Exactly-once on the RESULT side is the family recipe: streaming
checkpoint + dynamic overwrite of each batch's own ``batch_id=K``
partition, so replays rewrite rather than duplicate. Both indexes are
read at their pointer-committed state per batch (each takes appends
as committed deltas: ``append_lexical_batch`` and
``append_vector_batch``), and the lexical fold + rounded-rank legs
are deterministic, so a replayed batch over an unchanged index writes
byte-identical answers.

At scale: per batch, work = matched postings rows (lexical) + probed
fraction of codes (+ shortlist point-fetches) (vector) + RRF over the
two ≤k-row lists per query — never a corpus scan on either leg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def start_streaming_hybrid_search(
    spark: SparkSession,
    source_df: DataFrame,
    lex_dir: str,
    vec_dir: str,
    exact_df: DataFrame,
    out_dir: str,
    checkpoint_location: str,
    k: int | None = None,
    lex_k: int = 20,
    vec_k: int = 10,
    n_probe: int | None = None,
    shortlist: int | None = None,
    available_now: bool = True,
):
    """Stream (qid, terms, embedding) query rows; per micro-batch,
    write each query's fused top-``k`` (qid, doc_id, lex_rank,
    vec_rank, rrf_score, rank) answers to ``out_dir`` partitioned by
    batch id (replays overwrite their own partition). ``exact_df`` is
    the (vec_id, embedding) exact-vector table the re-rank stage
    point-fetches from."""
    from ..sinks import hybrid_search_from_indexes

    def process(batch_df: DataFrame, batch_id: int) -> None:
        answers = hybrid_search_from_indexes(
            spark,
            batch_df.select("qid", "terms", "embedding"),
            lex_dir,
            vec_dir,
            exact_df,
            k=k,
            lex_k=lex_k,
            vec_k=vec_k,
            n_probe=n_probe,
            shortlist=shortlist,
        )
        (
            answers.withColumn("batch_id", F.lit(batch_id))
            .coalesce(8)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    writer = source_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_location
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
