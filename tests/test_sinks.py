"""Sharded corpus sink: stability, file layout, and partition pruning."""

from __future__ import annotations

import glob
import os

import pytest

from flink_kafka_replicator_spark import memo
from flink_kafka_replicator_spark.io import load_table
from flink_kafka_replicator_spark.plans import formatted_plan
from flink_kafka_replicator_spark.sinks import (
    read_corpus_shard,
    with_shard,
    write_sharded_corpus,
)


def test_sharded_write_roundtrip_and_stability(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "corpus")
    write_sharded_corpus(d, out)

    back = spark.read.parquet(out)
    assert back.count() == d.count()
    # shard assignment is content-derived → identical across runs
    a = {r.doc_id: r.shard for r in with_shard(d).select("doc_id", "shard").collect()}
    b = {r.doc_id: r.shard for r in back.select("doc_id", "shard").collect()}
    assert a == b

    # repartition-before-write: one file per populated shard dir, not
    # (tasks × shards) small files
    for shard_dir in glob.glob(os.path.join(out, "shard=*")):
        files = [f for f in os.listdir(shard_dir) if f.endswith(".parquet")]
        assert len(files) == 1, f"{shard_dir} has {len(files)} files"


def test_shard_read_is_partition_pruned(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "corpus")
    write_sharded_corpus(d, out)

    one = read_corpus_shard(spark, out, 3)
    plan = formatted_plan(one)
    assert "PartitionFilters: [isnotnull(shard" in plan or "shard#" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], f"no partition pruning:\n{plan}"
    got = {r.shard for r in one.select("shard").distinct().collect()}
    assert got <= {3}


def test_format_roundtrips(spark, sf_dir, tmp_path):
    from flink_kafka_replicator_spark.sources.files import (
        read_table_fmt,
        write_table_fmt,
    )

    o = load_table(spark, sf_dir, "orders")
    want = sorted(map(tuple, o.collect()))
    for fmt in ("parquet", "orc", "csv", "json"):
        path = str(tmp_path / fmt)
        write_table_fmt(o, path, fmt)
        back = read_table_fmt(spark, path, fmt, schema=o.schema)
        assert sorted(map(tuple, back.collect())) == want, f"{fmt} roundtrip"


def test_csv_json_require_schema(spark, tmp_path):
    import pytest
    from flink_kafka_replicator_spark.sources.files import read_table_fmt

    with pytest.raises(ValueError, match="explicit schema"):
        read_table_fmt(spark, str(tmp_path), "csv")


def test_parquet_schema_evolution_merge_schema(spark, tmp_path):
    """Storage-level schema evolution: two parquet batches with
    different schemas read back as one table with mergeSchema — old
    files null-pad the new column, and a filter on the new column still
    prunes correctly."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "evolving")
    spark.range(5).select(F.col("id").alias("doc_id")).write.parquet(f"{out}/b1")
    spark.range(5, 10).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    ).write.parquet(f"{out}/b2")
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(out)
    )
    assert set(merged.columns) == {"doc_id", "lang"}
    assert merged.count() == 10
    assert merged.filter(F.col("lang").isNull()).count() == 5
    assert merged.filter(F.col("lang") == "en").count() == 5


def test_format_helpers_round_trip_all_formats(spark, tmp_path, sf_dir):
    """write_table_fmt/read_table_fmt round-trip the orders table through
    every supported format; csv/json require the explicit schema (no
    silent inference pass over 100 TB)."""
    import pytest as _pytest

    from flink_kafka_replicator_spark.io import load_table
    from flink_kafka_replicator_spark.sources.files import (
        SUPPORTED_FORMATS,
        read_table_fmt,
        write_table_fmt,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    want = {(r[0], r[1], round(r[2], 4)) for r in o.collect()}
    for fmt in SUPPORTED_FORMATS:
        path = str(tmp_path / fmt)
        write_table_fmt(o, path, fmt)
        back = read_table_fmt(
            spark,
            path,
            fmt,
            schema=None if fmt in ("parquet", "orc") else o.schema,
        )
        got = {(r[0], r[1], round(r[2], 4)) for r in back.collect()}
        assert got == want, f"{fmt} round trip lost rows"
    with _pytest.raises(ValueError):
        read_table_fmt(spark, str(tmp_path / "csv"), "csv")  # schema required
    with _pytest.raises(ValueError):
        write_table_fmt(o, str(tmp_path / "x"), "avro")  # unsupported


def test_minhash_index_delta_append_equals_rebuild(spark, tmp_path, sf_dir):
    """Index MAINTENANCE: appending a document batch via
    append_minhash_delta must leave the index equivalent to a
    from-scratch rebuild over base+batch — same band rows, same merged
    stats — and a later batch's dedup against the delta-extended index
    must equal its dedup against the rebuilt index, INCLUDING pairs
    whose old side was admitted by the delta (batch-2 near-dups of
    batch-1 docs). Replayed deltas are no-ops."""
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark.sinks import (
        append_minhash_delta,
        read_minhash_index,
        write_minhash_index,
    )
    from flink_kafka_replicator_spark.streaming.dedup_ingest import (
        dedup_batch_against_index,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 3 == 0)
    batch1 = d.filter(F.col("doc_id") % 3 == 1)
    batch2 = d.filter(F.col("doc_id") % 3 == 2)

    inc_dir = str(tmp_path / "inc")
    write_minhash_index(base, inc_dir)
    assert append_minhash_delta(batch1, inc_dir, delta_id=1) is True

    rebuild_dir = str(tmp_path / "rebuild")
    write_minhash_index(base.unionByName(batch1), rebuild_dir)

    def snapshot(ix):
        bands, stats = read_minhash_index(spark, ix)
        return (
            {(r.doc_id, r.band_key) for r in bands.collect()},
            {(r.band_key, r.n) for r in stats.collect()},
        )

    b_inc, s_inc = snapshot(inc_dir)
    b_re, s_re = snapshot(rebuild_dir)
    assert b_inc == b_re, "delta-extended band rows != rebuild"
    assert s_inc == s_re, "merged stats != rebuild stats"

    # replay of an applied delta is a no-op
    assert append_minhash_delta(batch1, inc_dir, delta_id=1) is False
    assert snapshot(inc_dir) == (b_inc, s_inc)

    # batch 2 detects near-dups of batch-1 docs through the delta path
    lookup = d
    pairs_inc = {
        (r.new_id, r.old_id, r.jaccard)
        for r in dedup_batch_against_index(
            spark, batch2, inc_dir, lookup
        ).collect()
    }
    pairs_re = {
        (r.new_id, r.old_id, r.jaccard)
        for r in dedup_batch_against_index(
            spark, batch2, rebuild_dir, lookup
        ).collect()
    }
    assert pairs_inc == pairs_re
    cross = {p for p in pairs_inc if p[1] % 3 == 1}
    assert cross, "fixture must hold a batch2-vs-batch1 near-dup pair"


def test_minhash_index_contiguity_and_snapshot_pinning(
    spark, tmp_path, sf_dir
):
    """Crash-safety contracts of the delta layout: (1) delta ids must be
    contiguous — a skipped id would let an orphaned (written-but-never-
    committed) band partition become visible once a higher delta commits,
    with no matching stats counts; (2) ``max_delta_id`` pins a read to a
    committed pre-batch snapshot (the replaying-batch view), and asking
    for a snapshot whose stats version was pruned raises descriptively."""
    import pytest
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark.sinks import (
        append_minhash_delta,
        read_minhash_index,
        write_minhash_index,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 3 == 0)
    batch1 = d.filter(F.col("doc_id") % 3 == 1)
    batch2 = d.filter(F.col("doc_id") % 3 == 2)

    ix = str(tmp_path / "ix")
    write_minhash_index(base, ix)
    with pytest.raises(ValueError, match="contiguous"):
        append_minhash_delta(batch1, ix, delta_id=2)
    assert append_minhash_delta(batch1, ix, delta_id=1) is True

    # pinned read at delta 0 == the pristine base-only index (stats v0
    # survives one append cycle by the retention contract)
    base_ix = str(tmp_path / "base_only")
    write_minhash_index(base, base_ix)

    def snap(bands, stats):
        return (
            {(r.doc_id, r.band_key) for r in bands.collect()},
            {(r.band_key, r.n) for r in stats.collect()},
        )

    assert snap(*read_minhash_index(spark, ix, max_delta_id=0)) == snap(
        *read_minhash_index(spark, base_ix)
    )

    # after delta 2 commits, stats v0 is pruned → pinned read raises
    assert append_minhash_delta(batch2, ix, delta_id=2) is True
    with pytest.raises(FileNotFoundError, match="no longer retained"):
        read_minhash_index(spark, ix, max_delta_id=0)
    # ...but the one-step-back snapshot (delta 1) still resolves
    bands1, _ = read_minhash_index(spark, ix, max_delta_id=1)
    got_ids = {r.doc_id for r in bands1.select("doc_id").distinct().collect()}
    want_ids = {
        r.doc_id
        for r in base.unionByName(batch1).select("doc_id").distinct().collect()
    }
    assert got_ids == want_ids


def test_minhash_index_legacy_layout_fallback(spark, tmp_path, sf_dir):
    """An index written by the pre-meta layout (band_stats/ subdir, no
    INDEX_META.json) still reads via the fallback; a directory that is
    not an index at all raises a descriptive error, not a bare
    FileNotFoundError from the meta open."""
    import pytest
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark.functions.similarity import (
        banded_minhash,
    )
    from flink_kafka_replicator_spark.sinks import read_minhash_index

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(50)
    )
    legacy = str(tmp_path / "legacy")
    b = banded_minhash(d, "doc_id", "text").select("doc_id", "band_key")
    b.write.parquet(f"{legacy}/bands")
    b.groupBy("band_key").agg(F.count("*").alias("n")).write.parquet(
        f"{legacy}/band_stats"
    )
    bands, stats = read_minhash_index(spark, legacy)
    assert bands.count() == b.count()
    assert set(stats.columns) == {"band_key", "n"}

    (tmp_path / "notanindex").mkdir()
    with pytest.raises(FileNotFoundError, match="not a minhash index"):
        read_minhash_index(spark, str(tmp_path / "notanindex"))

    # a legacy index has no delta partitions: a caller pinning a replay
    # snapshot must get a loud refusal, never the full unpinned view
    with pytest.raises(ValueError, match="legacy"):
        read_minhash_index(spark, legacy, max_delta_id=0)


def test_minhash_base_rebuild_wipes_ghost_deltas(spark, tmp_path, sf_dir):
    """Rebuilding an index over a delta-extended one must not leave
    ghost delta partitions: the base build statically overwrites the
    whole bands dir, so a reader sees exactly the rebuilt corpus."""
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark.sinks import (
        append_minhash_delta,
        read_minhash_index,
        write_minhash_index,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 3 == 0)
    batch1 = d.filter(F.col("doc_id") % 3 == 1)

    ix = str(tmp_path / "ix")
    write_minhash_index(base, ix)
    append_minhash_delta(batch1, ix, delta_id=1)
    # rebuild from scratch over the SMALLER corpus: no delta-1 ghosts
    write_minhash_index(base, ix)
    bands, stats = read_minhash_index(spark, ix)
    got = {r.doc_id for r in bands.select("doc_id").distinct().collect()}
    want = {r.doc_id for r in base.select("doc_id").distinct().collect()}
    assert got == want
    n_band_rows = bands.count()
    assert stats.agg(F.sum("n")).collect()[0][0] == n_band_rows


def test_vector_index_roundtrip_and_geometry_guard(spark, sf_dir, tmp_path):
    """The persisted vector index must serve the IVF-PQ search
    byte-equal to the in-session path, and must refuse to search with
    a mismatched quantizer geometry."""
    import json

    import pytest

    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        knn_ivf_pq,
    )
    from flink_kafka_replicator_spark.sinks import (
        VINDEX_META_FILE,
        knn_ivf_pq_from_index,
        read_vector_index,
        write_vector_index,
    )

    ix = str(tmp_path / "vindex")
    write_vector_index(spark, sf_dir, ix)

    got = [
        (r.vec_id, r.adc_dist)
        for r in knn_ivf_pq_from_index(spark, ix).collect()
    ]
    want = [
        (r.vec_id, r.adc_dist) for r in knn_ivf_pq(spark, sf_dir).collect()
    ]
    assert got == want, "from-index search != in-session search"

    # not-an-index → descriptive error
    (tmp_path / "novindex").mkdir()
    with pytest.raises(FileNotFoundError, match="not a vector index"):
        read_vector_index(spark, str(tmp_path / "novindex"))

    # geometry mismatch → loud refusal
    meta_path = tmp_path / "vindex" / VINDEX_META_FILE
    meta = json.loads(meta_path.read_text())
    meta["pq_m"] = 4
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="geometry mismatch"):
        knn_ivf_pq_from_index(spark, ix)


def test_vector_index_search_never_scans_embeddings(spark, sf_dir, tmp_path):
    """The defining economy of the persisted index: the search plan
    reads ONLY index artifacts (postings, codes, codebook) — the raw
    embeddings table must not appear in any scan."""
    from flink_kafka_replicator_spark.sinks import (
        knn_ivf_pq_from_index,
        write_vector_index,
    )

    ix = str(tmp_path / "vindex")
    write_vector_index(spark, sf_dir, ix)
    plan = formatted_plan(knn_ivf_pq_from_index(spark, ix))
    assert "embeddings" not in plan, plan


def test_vector_index_delta_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Vector-index MAINTENANCE: appending new vectors via
    append_vector_delta (encoded with the FROZEN on-disk quantizer)
    must leave the index byte-equal to a full build — same postings,
    same codes — and the from-index search must equal the in-session
    knn_ivf_pq. Replays no-op; skipped delta ids raise."""
    import pytest
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        knn_ivf_pq,
    )
    from flink_kafka_replicator_spark.sinks import (
        append_vector_delta,
        knn_ivf_pq_from_index,
        read_vector_index,
        write_vector_index,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 == 1)

    full_ix = str(tmp_path / "full")
    inc_ix = str(tmp_path / "inc")
    write_vector_index(spark, sf_dir, full_ix)
    write_vector_index(spark, sf_dir, inc_ix, df=even)
    with pytest.raises(ValueError, match="contiguous"):
        append_vector_delta(spark, odd, inc_ix, delta_id=2)
    assert append_vector_delta(spark, odd, inc_ix, delta_id=1) is True

    def snap(ix):
        _, postings, _, codes = read_vector_index(spark, ix)
        return (
            {tuple(r) for r in postings.collect()},
            {tuple(r) for r in codes.collect()},
        )

    assert snap(inc_ix) == snap(full_ix), "delta-extended index != rebuild"

    got = [
        (r.vec_id, r.adc_dist)
        for r in knn_ivf_pq_from_index(spark, inc_ix).collect()
    ]
    want = [
        (r.vec_id, r.adc_dist) for r in knn_ivf_pq(spark, sf_dir).collect()
    ]
    assert got == want

    # replay is a no-op
    assert append_vector_delta(spark, odd, inc_ix, delta_id=1) is False
    assert snap(inc_ix) == snap(full_ix)


def test_vector_index_probe_dial_degenerates_to_full_adc(
    spark, sf_dir, tmp_path
):
    """n_probe is the search-time recall/cost dial: probing EVERY cell
    must equal the unpruned full-ADC scan (knn_pq_adc) exactly."""
    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        IVF_N_CENTROIDS,
        knn_pq_adc,
    )
    from flink_kafka_replicator_spark.sinks import (
        knn_ivf_pq_from_index,
        write_vector_index,
    )

    ix = str(tmp_path / "vindex")
    write_vector_index(spark, sf_dir, ix)
    got = [
        (r.vec_id, r.adc_dist)
        for r in knn_ivf_pq_from_index(
            spark, ix, n_probe=IVF_N_CENTROIDS
        ).collect()
    ]
    want = [
        (r.vec_id, r.adc_dist) for r in knn_pq_adc(spark, sf_dir).collect()
    ]
    assert got == want


def test_compact_corpus_shards_shrinks_files_preserves_rows(
    spark, sf_dir, tmp_path
):
    """Small-file compaction: after several appends fragment the shard
    dirs, compaction must cut the file count to ~files_per_shard per
    shard while preserving EXACTLY the same rows in the same shards
    (content-hash sharding is stable — compaction is a pure physical
    rewrite)."""
    from flink_kafka_replicator_spark.sinks import compact_corpus_shards

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(200)
    )
    out = str(tmp_path / "corpus")
    # fragment: four appends, several files each
    from flink_kafka_replicator_spark.sinks import with_shard

    for i in range(4):
        part = d.filter((d.doc_id % 4) == i)
        with_shard(part).repartition(6).write.mode("append").partitionBy(
            "shard"
        ).parquet(out)

    before_rows = {
        (r.doc_id, r.shard) for r in spark.read.parquet(out).collect()
    }
    stats = compact_corpus_shards(spark, out, files_per_shard=1)
    after_rows = {
        (r.doc_id, r.shard) for r in spark.read.parquet(out).collect()
    }
    assert after_rows == before_rows, "compaction must not change data"
    assert stats["files_after"] < stats["files_before"], stats
    n_shards = spark.read.parquet(out).select("shard").distinct().count()
    assert stats["files_after"] <= n_shards * 2, stats

    # files_per_shard > 1 must actually SPLIT shards across files (the
    # salt column in the repartition keys; hashing shard alone would
    # collapse each shard to one task and make the knob a no-op)
    stats4 = compact_corpus_shards(spark, out, files_per_shard=4)
    assert stats4["files_after"] > stats["files_after"], stats4
    assert {
        (r.doc_id, r.shard) for r in spark.read.parquet(out).collect()
    } == before_rows

    # files_per_shard=0 would pmod-salt every row to null — refuse
    import pytest

    with pytest.raises(ValueError, match="files_per_shard"):
        compact_corpus_shards(spark, out, files_per_shard=0)

    # crash between the swap renames (out_dir renamed away, new dir not
    # yet in place): the next compaction restores the authoritative copy
    # from .compact_old and completes normally
    import os

    os.rename(out, out + ".compact_old")
    stats5 = compact_corpus_shards(spark, out, files_per_shard=1)
    assert {
        (r.doc_id, r.shard) for r in spark.read.parquet(out).collect()
    } == before_rows
    assert stats5["files_after"] <= stats4["files_after"]


def test_classifier_model_roundtrip_reproduces_trainer(
    spark, sf_dir, tmp_path
):
    """The persisted classifier model applied to the training corpus
    must reproduce the trainer's own predictions exactly, and a
    bucket-geometry mismatch must refuse loudly."""
    import json

    import pytest

    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        qc_score_with_model,
        quality_classifier_train,
    )
    from flink_kafka_replicator_spark.io import load_table as _lt
    from flink_kafka_replicator_spark.sinks import (
        CLASSIFIER_META_FILE,
        read_classifier_model,
        write_classifier_model,
    )

    model_dir = str(tmp_path / "model")
    write_classifier_model(spark, sf_dir, model_dir)
    weights, theta = read_classifier_model(spark, model_dir)

    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text")
    applied = {
        (r.doc_id, r.score, r.keep)
        for r in qc_score_with_model(docs, weights, theta).collect()
    }
    trained = {
        (r.doc_id, r.score, r.pred_pos)
        for r in quality_classifier_train(spark, sf_dir).collect()
    }
    assert applied == trained, "model inference != trainer predictions"

    meta_path = tmp_path / "model" / CLASSIFIER_META_FILE
    meta = json.loads(meta_path.read_text())
    meta["qc_buckets"] = 64
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        read_classifier_model(spark, model_dir)


def test_compact_minhash_index_preserves_reads_and_appends(
    spark, sf_dir, tmp_path
):
    """Index delta compaction (round 8): rewriting committed deltas into
    one partition must leave reads byte-equal (bands AND stats), shrink
    the file count, refuse pre-compaction snapshot pins loudly, and
    keep the append contract alive — append-after-compaction equals a
    full rebuild."""
    import pytest
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark.sinks import (
        append_minhash_delta,
        compact_minhash_index,
        read_minhash_index,
        write_minhash_index,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ix = str(tmp_path / "ix")
    write_minhash_index(d.filter(F.col("doc_id") % 3 == 0), ix)
    append_minhash_delta(d.filter(F.col("doc_id") % 3 == 1), ix, delta_id=1)

    def snap(path):
        bands, stats = read_minhash_index(spark, path)
        return (
            {tuple(r) for r in bands.collect()},
            {tuple(r) for r in stats.collect()},
        )

    before = snap(ix)
    res = compact_minhash_index(spark, ix)
    assert res["compacted"] is True
    assert res["files_after"] < res["files_before"], res
    assert snap(ix) == before, "compaction changed the committed view"

    # pre-compaction snapshot pins are gone — loud refusal, not empty
    with pytest.raises(ValueError, match="compaction floor"):
        read_minhash_index(spark, ix, max_delta_id=1)

    # append contract survives: next delta is last + 1 (= 3), replays
    # below it no-op, and the extended index equals a full rebuild
    batch2 = d.filter(F.col("doc_id") % 3 == 2)
    assert append_minhash_delta(batch2, ix, delta_id=2) is False
    with pytest.raises(ValueError, match="contiguous"):
        append_minhash_delta(batch2, ix, delta_id=4)
    assert append_minhash_delta(batch2, ix, delta_id=3) is True

    full = str(tmp_path / "full")
    write_minhash_index(d, full)
    assert snap(ix) == snap(full), "append-after-compaction != rebuild"

    # a second compaction over the appended state is equally sound
    res2 = compact_minhash_index(spark, ix)
    assert res2["compacted"] is True
    assert snap(ix) == snap(full)
    # compacting an already-compact index is a no-op
    assert compact_minhash_index(spark, ix)["compacted"] is False

    # an orphan partition (crash between a partition write and its
    # pointer swap) is swept at the next compaction — even a no-op one
    import os as _os

    orphan = _os.path.join(ix, "bands", "delta_id=99")
    _os.makedirs(orphan)
    with open(_os.path.join(orphan, "junk.parquet"), "wb") as fh:
        fh.write(b"x")
    compact_minhash_index(spark, ix)
    assert not _os.path.isdir(orphan), "orphan partition must be swept"
    assert snap(ix) == snap(full)


def test_compact_vector_index_search_unchanged_and_appendable(
    spark, sf_dir, tmp_path
):
    """Vector-index compaction: search results byte-equal before/after,
    file count shrinks, and a post-compaction append still equals the
    full rebuild (frozen-quantizer contract untouched)."""
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark.functions.pipeline_queries import (
        knn_ivf_pq,
    )
    from flink_kafka_replicator_spark.sinks import (
        append_vector_delta,
        compact_vector_index,
        knn_ivf_pq_from_index,
        read_vector_index,
        write_vector_index,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ix = str(tmp_path / "vindex")
    write_vector_index(spark, sf_dir, ix, df=e.filter(F.col("vec_id") % 3 == 0))
    append_vector_delta(
        spark, e.filter(F.col("vec_id") % 3 == 1), ix, delta_id=1
    )

    def search(path):
        return [
            (r.vec_id, r.adc_dist)
            for r in knn_ivf_pq_from_index(spark, path).collect()
        ]

    def snap(path):
        _, postings, _, codes = read_vector_index(spark, path)
        return (
            {tuple(r) for r in postings.collect()},
            {tuple(r) for r in codes.collect()},
        )

    before_search, before_snap = search(ix), snap(ix)
    res = compact_vector_index(spark, ix)
    assert res["compacted"] is True
    assert res["files_after"] < res["files_before"], res
    assert search(ix) == before_search
    assert snap(ix) == before_snap

    # append after compaction (last is now 2) completes the corpus and
    # must equal both the full rebuild and the in-session search
    assert (
        append_vector_delta(
            spark, e.filter(F.col("vec_id") % 3 == 2), ix, delta_id=3
        )
        is True
    )
    full = str(tmp_path / "full")
    write_vector_index(spark, sf_dir, full)
    assert snap(ix) == snap(full), "append-after-compaction != rebuild"
    want = [
        (r.vec_id, r.adc_dist) for r in knn_ivf_pq(spark, sf_dir).collect()
    ]
    assert search(ix) == want


def test_jsonl_text_and_binary_sources(spark, tmp_path):
    """Round 8: the three ingestion fronts a corpus/media pipeline
    needs — JSONL documents (corrupt lines quarantined, not fatal),
    raw text lines / whole-file documents, and binaryFile media blobs
    flowing straight into the REAL multimodal decode path."""
    import struct

    from flink_kafka_replicator_spark.functions import multimodal
    from flink_kafka_replicator_spark.sources.files import (
        read_binary_blobs,
        read_jsonl_corpus,
        read_text_lines,
    )
    from pyspark.sql import functions as F

    # JSONL with one corrupt line
    jl = tmp_path / "docs.jsonl"
    jl.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        'this is not json\n'
        '{"doc_id": 2, "text": "second doc"}\n'
    )
    # (Spark requires caching/materializing before querying the corrupt
    # column alone — collect once, inspect in the driver at test scale)
    rows = read_jsonl_corpus(spark, str(jl)).collect()
    assert {r.doc_id for r in rows if r._corrupt_record is None} == {1, 2}
    assert (
        sum(1 for r in rows if r._corrupt_record is not None) == 1
    ), "corrupt line must be quarantined, not fatal"

    # text: per-line and whole-file
    td = tmp_path / "texts"
    td.mkdir()
    (td / "a.txt").write_text("line one\nline two\n")
    (td / "b.txt").write_text("other file\n")
    lines = read_text_lines(spark, str(td))
    assert lines.count() == 3
    whole = read_text_lines(spark, str(td), whole_text=True)
    assert whole.count() == 2

    # binaryFile → real image decode end-to-end
    md = tmp_path / "media"
    md.mkdir()
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", 64, 32)
        + bytes([8, 2, 0, 0, 0])
    )
    (md / "img.png").write_bytes(png)
    (md / "notes.txt").write_text("not media")
    blobs = read_binary_blobs(spark, str(md), glob="*.png")
    assert blobs.count() == 1, "pathGlobFilter must prune at listing"
    staged = blobs.select(
        F.lit(0).cast("bigint").alias("doc_id"),
        F.col("content").alias("blob"),
    )
    meta = multimodal.decode_image_meta(staged, use_fake_codec=False).collect()
    assert (meta[0].width, meta[0].height, meta[0].format) == (64, 32, "png")


def test_write_lexical_index_rejects_analyzer_before_retracting(
    spark, sf_dir, tmp_path
):
    """A rebuild call with an unknown analyzer must fail BEFORE it
    retracts the pointer: the live index keeps serving the same rows
    instead of becoming "no lexical index"."""
    import pytest

    from flink_kafka_replicator_spark.sinks import (
        bm25_search_from_index,
        write_lexical_index,
    )

    ix = str(tmp_path / "lex")
    write_lexical_index(spark, sf_dir, ix)
    words = (
        load_table(spark, sf_dir, "documents").orderBy("doc_id").first().text
    ).split(" ")[:3]
    q = spark.createDataFrame([(1, words)], "qid int, terms array<string>")

    def served():
        return sorted(
            tuple(r) for r in bm25_search_from_index(spark, q, ix).collect()
        )

    before = served()
    assert before
    with pytest.raises(ValueError, match="unknown lexical analyzer"):
        write_lexical_index(spark, sf_dir, ix, analyzer="typo")
    assert served() == before


def _protocol_family(spark, sf_dir, kind):
    """(meta file, build, append, delete, compact, read) for one index
    family over a base (id % 3 == 0) and a batch (id % 3 == 1)."""
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark import sinks

    if kind == "vector":
        rows = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        id_col = "vec_id"
    else:
        rows = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        id_col = "doc_id"
    base = rows.filter(F.col(id_col) % 3 == 0)
    batch = rows.filter(F.col(id_col) % 3 == 1)

    def ids(values):
        return spark.createDataFrame(
            [(v,) for v in values], f"{id_col} bigint"
        )

    def snap(frames):
        return tuple(
            frozenset(tuple(r) for r in f.collect()) for f in frames
        )

    if kind == "minhash":
        return (
            sinks.INDEX_META_FILE,
            lambda ix: sinks.write_minhash_index(base, ix),
            lambda ix, d: sinks.append_minhash_delta(batch, ix, d),
            lambda ix, v: sinks.delete_minhash_docs(spark, ids(v), ix),
            lambda ix: sinks.compact_minhash_index(spark, ix),
            lambda ix: snap(sinks.read_minhash_index(spark, ix)),
        )
    if kind == "vector":
        return (
            sinks.VINDEX_META_FILE,
            lambda ix: sinks.write_vector_index(spark, sf_dir, ix, df=base),
            lambda ix, d: sinks.append_vector_delta(spark, batch, ix, d),
            lambda ix, v: sinks.delete_vector_docs(spark, ids(v), ix),
            lambda ix: sinks.compact_vector_index(spark, ix),
            lambda ix: snap(sinks.read_vector_index(spark, ix)[1::2]),
        )
    return (
        sinks.LEXINDEX_META_FILE,
        lambda ix: sinks.write_lexical_index(spark, sf_dir, ix, df=base),
        lambda ix, d: sinks.append_lexical_delta(batch, ix, d),
        lambda ix, v: sinks.delete_lexical_docs(spark, ids(v), ix),
        lambda ix: sinks.compact_lexical_index(spark, ix),
        lambda ix: snap(sinks.read_lexical_index(spark, ix)[:3]),
    )



@pytest.mark.parametrize("kind", ["minhash", "vector", "lexical"])
def test_delta_log_protocol(spark, sf_dir, tmp_path, monkeypatch, kind):
    """The one commit protocol every persisted index family shares:
    contiguous delta ids (skip raises, replay is a no-op), a crash at
    the pointer commit leaves served rows unchanged and the retry
    commits, a no-op delete claims no id, compaction folds a tombstone
    in without changing reads, and every pointer commit renames its
    own temp file from inside the index dir."""
    import json

    meta_file, build, append, delete, compact, read = _protocol_family(
        spark, sf_dir, kind
    )
    ix = str(tmp_path / kind)
    meta_path = os.path.join(ix, meta_file)
    real_replace = os.replace
    pointer_srcs = []

    def crash(src, dst):
        if str(dst) == meta_path:
            raise RuntimeError("injected crash at the pointer commit")
        return real_replace(src, dst)

    def record(src, dst):
        if str(dst) == meta_path:
            pointer_srcs.append(str(src))
        return real_replace(src, dst)

    def meta():
        with open(meta_path, encoding="utf-8") as fh:
            return json.load(fh)

    build(ix)
    with pytest.raises(ValueError, match="contiguous"):
        append(ix, 2)
    base_rows = read(ix)

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        append(ix, 1)
    monkeypatch.setattr(os, "replace", record)
    assert read(ix) == base_rows, "a crashed commit changed served rows"
    assert meta()["delta_ids"] == [0]
    assert append(ix, 1) is True
    assert append(ix, 1) is False
    appended = read(ix)
    assert appended != base_rows

    unchanged = meta()
    assert delete(ix, [-1]) == {"n_docs_deleted": 0, "delta_id": None}
    assert meta() == unchanged, "a no-op delete claimed a delta id"

    res = delete(ix, [1, 4, 7])
    assert res["delta_id"] == 2 and res["n_docs_deleted"] > 0
    deleted = read(ix)
    assert deleted != appended
    assert compact(ix)["compacted"] is True
    m = meta()
    assert (m["delta_ids"], m["tombstone_delta_ids"]) == ([3], [])
    assert not os.path.isdir(os.path.join(ix, "tombstones", "delta_id=2"))
    assert read(ix) == deleted, "compaction changed the committed view"

    # append, delete and compact each committed through its own temp
    # file inside the index dir
    assert len(pointer_srcs) == 3, pointer_srcs
    assert len(set(pointer_srcs)) == 3, pointer_srcs
    assert all(os.path.dirname(s) == ix for s in pointer_srcs)


def _hybrid_fixture(spark, sf_dir, tmp_path):
    """Both indexes' dirs, a build function over the base ids (id % 3 == 0)
    or, with ``full``, the base and batch ids, the batch (id % 3 == 1)
    to append, 6 queries carrying batch and base documents' own words
    and vectors, and a serve function answering them."""
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark import sinks

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    text = {
        r.doc_id: r.text for r in docs.filter(F.col("doc_id") < 9).collect()
    }
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in vecs.filter(F.col("vec_id") < 9).collect()
    }
    q = spark.createDataFrame(
        [(i, text[i].split(" ")[:4], emb[i]) for i in (0, 1, 3, 4, 6, 7)],
        "qid bigint, terms array<string>, embedding array<float>",
    )
    ix = {"lexical": str(tmp_path / "lex"), "vector": str(tmp_path / "vec")}
    base = {
        "lexical": docs.filter(F.col("doc_id") % 3 == 0),
        "vector": vecs.filter(F.col("vec_id") % 3 == 0),
    }
    batch = {
        "lexical": docs.filter(F.col("doc_id") % 3 == 1),
        "vector": vecs.filter(F.col("vec_id") % 3 == 1),
    }

    def build(kind, full=False):
        df = base[kind].unionByName(batch[kind]) if full else base[kind]
        if kind == "lexical":
            sinks.write_lexical_index(spark, sf_dir, ix[kind], df=df)
        else:
            sinks.write_vector_index(spark, sf_dir, ix[kind], df=df)

    def serve():
        return sorted(
            tuple(r)
            for r in sinks.hybrid_search_from_indexes(
                spark,
                q,
                ix["lexical"],
                ix["vector"],
                vecs,
                n_probe=16,
            ).collect()
        )

    return ix, batch, build, q, serve


@pytest.mark.parametrize("kind", ["vector", "lexical"])
def test_served_snapshot_follows_every_commit(spark, sf_dir, tmp_path, kind):
    """A warm serving request resolves each index from its memoized
    snapshot, and must still answer exactly as a fresh read of the
    committed state after every kind of commit: a base rebuild over
    identical inputs (same meta bytes, every file replaced), an
    in-process append, a delete, and a pointer swapped by another
    writer."""
    import json

    from flink_kafka_replicator_spark import sinks

    ix, batch, build, _, serve = _hybrid_fixture(spark, sf_dir, tmp_path)
    # the other index holds the batch too, so batch documents reach
    # the fused top-k once this kind's leg serves them
    build("vector", full=kind == "lexical")
    build("lexical", full=kind == "vector")
    log = sinks._index_log(kind)
    meta_path = log.path(ix[kind])
    pos = 3 if kind == "vector" else 2  # vec_rank / lex_rank

    def fresh():
        memo.clear("index_snapshot")
        return serve()

    def leg_ids(answers):  # the batch ids this kind's leg served
        return {
            r[1] for r in answers if r[pos] is not None and r[1] % 3 == 1
        }

    def meta_bytes():
        with open(meta_path, "rb") as fh:
            return fh.read()

    rows = fresh()
    assert not leg_ids(rows)
    base_meta = meta_bytes()
    build(kind)  # a content-keyed memo would list deleted files
    assert meta_bytes() == base_meta
    assert serve() == rows

    if kind == "lexical":
        sinks.append_lexical_delta(batch[kind], ix[kind], 1)
    else:
        sinks.append_vector_delta(spark, batch[kind], ix[kind], 1)
    appended = serve()
    assert appended == fresh()
    gone = leg_ids(appended)
    assert gone, "appended rows are not served"
    appended_meta = json.loads(meta_bytes())

    drop = spark.createDataFrame(
        [(i,) for i in sorted(gone)], f"{log.id_col} bigint"
    )
    if kind == "lexical":
        sinks.delete_lexical_docs(spark, drop, ix[kind])
    else:
        sinks.delete_vector_docs(spark, drop, ix[kind])
    deleted = serve()
    assert deleted == fresh()
    assert not leg_ids(deleted) & gone, "tombstoned ids are served"

    # another writer's commit: the pointer moves back to the appended
    # state, whose partitions and stats version are still on disk
    sinks._swap_pointer(meta_path, appended_meta)
    assert serve() == appended


def test_warm_hybrid_build_pins_queries_and_reads_no_schema(
    spark, sf_dir, tmp_path
):
    """Over an unchanged index, building a hybrid request runs one job
    (the query-batch pin): both index snapshots are resident. Running
    it lists no index table (no parquet schema job) and reads no
    centroid row to learn the vector width (no first job)."""
    from flink_kafka_replicator_spark import sinks

    ix, _, build, q, serve = _hybrid_fixture(spark, sf_dir, tmp_path)
    build("lexical")
    build("vector")
    serve()  # resolves both snapshots
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_in(gid, fn):
        sc.setJobGroup(gid, "warm hybrid job budget")
        try:
            out = fn()
        finally:
            sc.setJobGroup("hybrid-budget-idle", "between guarded calls")
        return out, tracker.getJobIdsForGroup(gid)

    answers, build_jobs = jobs_in(
        "hybrid-build",
        lambda: sinks.hybrid_search_from_indexes(
            spark, q, ix["lexical"], ix["vector"], e
        ),
    )
    assert len(build_jobs) == 1, build_jobs
    _, run_jobs = jobs_in("hybrid-run", answers.collect)
    names = [
        tracker.getStageInfo(s).name
        for j in run_jobs
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    ]
    assert names
    assert not [
        n for n in names if n.startswith(("parquet at", "first at"))
    ], names


def test_batch_probes_follow_the_index_width(spark, sf_dir, tmp_path):
    """Batch search probes on the index's own embedding width, so a
    query that is an indexed vector probes the cell it is posted in.
    Here the width is 96: the last 32 dims are a scaled copy of the
    first 32, so a probe over only the PQ width (64) picks other
    cells than the full-width assignment did."""
    from pyspark.sql import functions as F

    from flink_kafka_replicator_spark import sinks

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.concat(
            "embedding",
            F.transform(F.slice("embedding", 1, 32), lambda x: x * 10),
        )
        .cast("array<float>")
        .alias("embedding"),
    )
    ix = str(tmp_path / "vec")
    sinks.write_vector_index_from_df(spark, e, ix, kmeans_iters=2)
    postings = sinks.read_vector_index(spark, ix)[1].select("vec_id", "cid")
    q = e.filter(F.col("vec_id") % 7 == 0).withColumnRenamed("vec_id", "qid")
    got = sinks.knn_batch_search_from_index(spark, q, ix, k=5, n_probe=1)
    own = postings.select(
        F.col("vec_id").alias("qid"), F.col("cid").alias("qcid")
    )
    rows = got.join(own, "qid").join(postings, "vec_id").collect()
    assert rows
    assert all(r.cid == r.qcid for r in rows), "probed a foreign cell"
