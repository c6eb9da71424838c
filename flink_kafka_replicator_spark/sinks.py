"""Batch sinks: sharded training-corpus output.

The reference's only sink is Kafka (FlinkKafkaReplicator.java:120-124);
a training-data engine also needs durable, shard-addressable corpus
output. Sharding is content-hash-based (same arithmetic as the
``corpus_shard_assign`` query) so re-runs land every document in the
same shard regardless of input partitioning — idempotent overwrite at
100 TB.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.utils import AnalysisException

from . import memo

DEFAULT_SHARDS = 16


def with_shard(df: DataFrame, text_col: str = "text", n_shards: int = DEFAULT_SHARDS) -> DataFrame:
    """Stable content-hash shard id (md5 head mod n)."""
    return df.withColumn(
        "shard",
        F.conv(F.substring(F.md5(text_col), 1, 4), 16, 10).cast("long") % n_shards,
    )


def write_sharded_corpus(
    df: DataFrame,
    out_dir: str,
    text_col: str = "text",
    n_shards: int = DEFAULT_SHARDS,
) -> None:
    """Write the corpus hive-partitioned by shard.

    The ``repartition(n_shards, shard)`` before the write is the scale
    move: without it every write task opens a file in every shard
    directory (tasks × shards small files — the classic partitioned-
    write mistake); with it each shard is written by one task's worth
    of colocated rows. Dynamic overwrite replaces only the shards
    being rewritten.
    """
    sharded = with_shard(df, text_col, n_shards)
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard")
        .parquet(out_dir)
    )


def apply_dedup_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    rungs: tuple[str, ...] | None = None,
    scrub_spans: bool = False,
    n_shards: int = DEFAULT_SHARDS,
    minhash_dir: str | None = None,
    vector_dir: str | None = None,
    lexical_dir: str | None = None,
    writer_tokens: dict[str, str] | None = None,
) -> dict[str, int]:
    """EXECUTE the dedup ladder (round 9): materialize the surviving
    corpus — every document the decision matrix keeps, with all its
    columns — into the sharded corpus sink. The family queries DECIDE
    (``corpus_apply_dedup`` is the driver-green decision matrix); this
    is the deployable batch job that performs the deletion, the dedup
    counterpart of the reference's end-to-end replicator job
    (FlinkKafkaReplicator.java:126-134).

    ``rungs`` selects which ladder rungs gate survival (default: all
    four — exact, paragraph, minhash, semantic); a corpus without an
    embeddings table runs ``("exact", "paragraph", "minhash")``.

    ``scrub_spans=True`` (round 9) additionally EXECUTES the
    exact-substring removal over the survivor set before the write:
    every cross-doc 8-token span among SURVIVORS keeps only its
    canonical owner's copy (``span_scrub_frame`` — ownership decided
    after the ladder's deletions, so content is never scrubbed whose
    only duplicate was itself dropped). The returned counts gain
    ``n_tokens_scrubbed``; fully-scrubbed-empty documents are still
    written (their doc survived the ladder — dropping them is the
    ladder's job, not the scrubber's).

    Idempotent by construction: the decision matrix is deterministic,
    and the content-hash sharded overwrite lands every survivor in the
    same shard on every run — a re-run rewrites identical partitions.

    Returns {"n_in", "n_kept", "n_dropped", "n_written"}; n_written is
    read back from the committed output, so the caller holds a
    verified rows-out == Σ keeps invariant, not a promise.

    Scale shape: decisions are the family plans (all individually
    bounded — see each member's docstring), the survivor filter is a
    doc_id left-semi join (broadcastable when the drop rate is high;
    an equi-join otherwise), and the write is the standard one-task-
    per-shard repartitioned overwrite."""
    from .functions.pipeline_queries import DEDUP_RUNGS, dedup_decision_matrix
    from .io import load_table

    decisions = dedup_decision_matrix(
        spark, sf_dir, rungs=tuple(rungs) if rungs else DEDUP_RUNGS
    )
    keep_ids = decisions.filter(F.col("keep")).select("doc_id")
    d = load_table(spark, sf_dir, "documents")
    survivors = d.join(keep_ids, "doc_id", "left_semi")
    n_tokens_scrubbed = 0
    if scrub_spans:
        from .functions.pipeline_queries import span_scrub_frame

        scrubbed = span_scrub_frame(survivors.select("doc_id", "text"))
        n_tokens_scrubbed = int(
            scrubbed.agg(F.sum("n_removed")).collect()[0][0] or 0
        )
        repl = scrubbed.select(
            "doc_id", F.col("text_scrubbed").alias("text")
        )
        survivors = survivors.drop("text").join(repl, "doc_id")
        if "n_chars" in survivors.columns:
            survivors = survivors.withColumn("n_chars", F.length("text"))
    # STATIC overwrite (not the sharded sink's dynamic mode): this
    # job's output IS the whole surviving corpus, so a re-run with a
    # stricter rung set must truncate shards the new survivor set no
    # longer touches — dynamic overwrite would leave them stale.
    (
        with_shard(survivors, n_shards=n_shards)
        .repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    counts = decisions.agg(
        F.count("*").alias("n_in"),
        F.sum(F.col("keep").cast("int")).alias("n_kept"),
    ).collect()[0]
    n_written = spark.read.parquet(out_dir).count()
    result = {
        "n_in": int(counts["n_in"]),
        "n_kept": int(counts["n_kept"]),
        "n_dropped": int(counts["n_in"] - counts["n_kept"]),
        "n_written": n_written,
        "n_tokens_scrubbed": n_tokens_scrubbed,
    }
    # propagate the drops into the persisted indexes (tombstone
    # deltas) AFTER the corpus write commits, so an index never stops
    # serving a doc the corpus still carries; the reverse window
    # (corpus written, propagation crashed) is closed by re-running
    # this idempotent job
    if minhash_dir or vector_dir or lexical_dir:
        dropped = decisions.filter(~F.col("keep")).select("doc_id")
        prop = propagate_corpus_deletions(
            spark,
            dropped,
            minhash_dir=minhash_dir,
            vector_dir=vector_dir,
            lexical_dir=lexical_dir,
            writer_tokens=writer_tokens,
        )
        for kind, res in prop.items():
            result[f"n_{kind}_index_deleted"] = res["n_docs_deleted"]
    return result


def propagate_corpus_deletions(
    spark: SparkSession,
    drop_ids: DataFrame,
    minhash_dir: str | None = None,
    vector_dir: str | None = None,
    lexical_dir: str | None = None,
    writer_tokens: dict[str, str] | None = None,
) -> dict[str, dict]:
    """Propagate a corpus deletion into every persisted index serving
    it — the composition ``corpus-apply-dedup`` was silently getting
    wrong (VERDICT r10: a curation run that drops 30% of the corpus
    left all three indexes serving ghosts until a full rebuild).
    ``drop_ids`` is a one-column ``doc_id`` frame (doc_id == vec_id by
    the corpus fixture contract); each named index receives a
    tombstone delta via its ``delete_*_docs`` function. Per-index
    writer leases pass through ``writer_tokens`` keyed
    'minhash'/'vector'/'lexical'.

    Returns {index_kind: delete result} for the indexes given."""
    tokens = writer_tokens or {}
    out: dict[str, dict] = {}
    ids = drop_ids.select("doc_id").distinct()
    if minhash_dir is not None:
        out["minhash"] = delete_minhash_docs(
            spark, ids, minhash_dir, writer_token=tokens.get("minhash")
        )
    if vector_dir is not None:
        out["vector"] = delete_vector_docs(
            spark,
            ids.select(F.col("doc_id").alias("vec_id")),
            vector_dir,
            writer_token=tokens.get("vector"),
        )
    if lexical_dir is not None:
        out["lexical"] = delete_lexical_docs(
            spark, ids, lexical_dir, writer_token=tokens.get("lexical")
        )
    return out


def read_corpus_shard(spark: SparkSession, out_dir: str, shard: int) -> DataFrame:
    """Read one shard; the equality filter on the partition column prunes
    directory listing to that shard (PartitionFilters in the scan — a
    1/n_shards IO reduction that tests assert)."""
    return spark.read.parquet(out_dir).filter(F.col("shard") == shard)


def compact_corpus_shards(
    spark: SparkSession, out_dir: str, files_per_shard: int = 1
) -> dict[str, int]:
    """Small-file compaction for the sharded corpus sink — the
    maintenance job every streaming-appended table needs at scale:
    micro-batch appends accrete one-or-more files per shard per batch,
    and a year of 1-minute batches turns each shard directory into
    ~500k tiny files whose listing + open overhead dwarfs the data
    read. Rewrites every shard's rows into ~``files_per_shard`` files
    via a (shard, salt)-keyed repartition (rows never move BETWEEN shards —
    content-hash sharding is stable by construction, so compaction is
    a pure physical rewrite), then dynamically overwrites each shard
    partition in place: concurrent readers of the committed data see
    either the old files or the new, never a mix of shards half-done
    with rows lost.

    The rewrite lands in a SIBLING directory and is swapped in with two
    renames (old → .compact_old, new → out_dir): the source files are
    never overwritten while being read (no lineage truncation, no
    unreplicated-block exposure), and the only crash window between the
    renames leaves ``out_dir`` absent — a loud, recoverable state (the
    data is intact under .compact_old) instead of a silent partial mix.
    An object-store deployment swaps the renames for its own atomic
    manifest/pointer commit.

    Returns {"files_before": n, "files_after": m} so callers (and
    tests) can assert the rewrite actually shrank the layout."""
    import glob as _glob
    import os
    import shutil

    if files_per_shard < 1:
        raise ValueError(
            f"files_per_shard must be >= 1, got {files_per_shard} "
            "(pmod by 0 would salt every row to null)"
        )

    def _count_files(d: str) -> int:
        return len(
            _glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
        )

    norm = out_dir.rstrip("/")
    tmp_dir = norm + ".compact_tmp"
    old_dir = norm + ".compact_old"
    # leftovers of a previously crashed compaction are safe to discard:
    # .compact_old only exists transiently between the two renames of a
    # COMPLETED swap, and an orphaned one means the swap never finished
    # and out_dir (if present) is still the authoritative copy
    shutil.rmtree(tmp_dir, ignore_errors=True)
    if os.path.isdir(old_dir) and os.path.isdir(norm):
        shutil.rmtree(old_dir, ignore_errors=True)
    elif os.path.isdir(old_dir):
        # crashed between the renames: restore the authoritative copy
        os.rename(old_dir, norm)

    before = _count_files(norm)
    df = spark.read.parquet(norm)
    n_shards = df.select("shard").distinct().count()
    # A STREAMING corpus (corpus_build) is partitioned batch_id=*/
    # shard=* for replay idempotence. Compaction must PRESERVE the
    # batch level — flattening to shard=* would make the next streamed
    # batch's batch_id=K dir conflict with the compacted layout and
    # break partition discovery on read. All committed batches merge
    # into the sentinel partition batch_id = -1: a streaming batch id
    # is never negative, so neither a future batch nor a crash-replay
    # of any real batch can dynamic-overwrite the merged partition
    # (merging into max(batch_id) would hand the whole compacted
    # corpus to a replay of that one batch).
    part_cols = ["shard"]
    if "batch_id" in df.columns:
        df = df.withColumn("batch_id", F.lit(-1))
        part_cols = ["batch_id", "shard"]
    # repartition on (shard, salt): hashing shard ALONE would collapse
    # each shard into one task/file regardless of files_per_shard; the
    # salt splits a shard's rows across exactly files_per_shard tasks
    data_cols = [c for c in df.columns if c not in part_cols]
    first_col = data_cols[0]
    (
        df.withColumn(
            "_salt", F.pmod(F.hash(first_col), F.lit(files_per_shard))
        )
        .repartition(n_shards * files_per_shard, "shard", "_salt")
        .drop("_salt")
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(tmp_dir)
    )
    after = _count_files(tmp_dir)
    os.rename(norm, old_dir)
    os.rename(tmp_dir, norm)
    shutil.rmtree(old_dir, ignore_errors=True)
    return {"files_before": before, "files_after": after}


# -------------------------------------------------------- writer lease

WRITER_LEASE_FILE = "WRITER_LEASE.json"
DEFAULT_LEASE_TTL_SEC = 600


def _lease_path(out_dir: str) -> str:
    import os

    return os.path.join(out_dir, WRITER_LEASE_FILE)


def _read_lease(out_dir: str) -> dict | None:
    import json

    try:
        with open(_lease_path(out_dir), encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def acquire_writer_lease(
    out_dir: str,
    owner: str = "",
    ttl_sec: float = DEFAULT_LEASE_TTL_SEC,
) -> str:
    """Acquire the single-writer lease for an index/artifact directory
    (round 9 — VERDICT r8 task 3): append, compact, and streaming
    admission all assume ONE writer; two processes interleaving pointer
    swaps would corrupt the committed-delta contract silently. The
    lease makes the assumption enforced: a second acquirer is refused
    LOUDLY while the lease is live, and a crashed holder's lease is
    taken over only after its TTL expires — the takeover rotates the
    fencing token, so the zombie's next fenced mutation fails instead
    of corrupting state.

    Returns the fencing token to pass as ``writer_token`` to the
    mutators (or use the :func:`writer_lease` context manager).
    Single-process local-FS primitive: O_CREAT|O_EXCL + atomic rename;
    an object-store deployment swaps this file for a conditional-put
    lease object (same semantics, same call sites)."""
    import json
    import os
    import time
    import uuid

    os.makedirs(out_dir, exist_ok=True)
    token = uuid.uuid4().hex
    record = {
        "token": token,
        "owner": owner or f"pid-{os.getpid()}",
        "acquired_at": time.time(),
        "ttl_sec": ttl_sec,
    }
    path = _lease_path(out_dir)
    payload = json.dumps(record)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        cur = _read_lease(out_dir)
        if cur is not None and (
            time.time() < cur["acquired_at"] + cur["ttl_sec"]
        ):
            raise RuntimeError(
                f"writer lease for {out_dir} is held by "
                f"{cur.get('owner')} (expires in "
                f"{cur['acquired_at'] + cur['ttl_sec'] - time.time():.0f}s)"
                " — a second concurrent writer would corrupt the "
                "committed-delta contract; wait, or let the TTL expire "
                "for a takeover"
            )
        # expired (or vanished mid-read): STALE TAKEOVER — rotate the
        # token via atomic rename so the previous holder is fenced
        import tempfile

        tfd, tmp = tempfile.mkstemp(dir=out_dir, prefix=".lease_")
        with os.fdopen(tfd, "w", encoding="utf-8") as fh:
            fh.write(payload)
        os.replace(tmp, path)
        return token
    with os.fdopen(fd, "w", encoding="utf-8") as fh:
        fh.write(payload)
    return token


def release_writer_lease(out_dir: str, token: str) -> None:
    """Release a held lease. Raises if the lease was taken over (the
    holder is fenced — its work since the takeover is suspect) or
    already released."""
    import os

    cur = _read_lease(out_dir)
    if cur is None or cur.get("token") != token:
        raise RuntimeError(
            f"writer lease for {out_dir} is no longer held by this "
            "token (released, or taken over after TTL expiry) — this "
            "writer was fenced"
        )
    os.remove(_lease_path(out_dir))


class writer_lease:
    """``with writer_lease(dir) as token:`` acquire → mutate → release."""

    def __init__(
        self,
        out_dir: str,
        owner: str = "",
        ttl_sec: float = DEFAULT_LEASE_TTL_SEC,
    ):
        self._dir = out_dir
        self._owner = owner
        self._ttl = ttl_sec
        self.token: str | None = None

    def __enter__(self) -> str:
        self.token = acquire_writer_lease(
            self._dir, owner=self._owner, ttl_sec=self._ttl
        )
        return self.token

    def __exit__(self, exc_type, exc, tb) -> None:
        release_writer_lease(self._dir, self.token)


def _check_writer_fence(out_dir: str, token: str | None) -> None:
    """Mutator-side fence, run before any partition write AND again
    right before the pointer swap: with a live lease on the directory,
    only the holder's token may mutate; a token the lease no longer
    carries means THIS writer was fenced by a stale-lease takeover.
    Directories with no lease file keep the legacy single-writer-by-
    convention behavior (token-less mutation allowed) so existing
    flows are unchanged."""
    cur = _read_lease(out_dir)
    if cur is None:
        if token is not None:
            raise RuntimeError(
                f"writer token presented for {out_dir} but no lease is "
                "held — it was released or taken over and then "
                "released; this writer was fenced"
            )
        return
    if token is None:
        raise RuntimeError(
            f"{out_dir} has a live writer lease (held by "
            f"{cur.get('owner')}) — token-less mutation would "
            "interleave with the lease holder; acquire the lease or "
            "pass its writer_token"
        )
    if cur.get("token") != token:
        raise RuntimeError(
            f"writer token for {out_dir} was fenced: the lease was "
            "taken over (TTL expiry) by another writer — abandon this "
            "writer's work"
        )


# ------------------------------------------------- delta-log commit core
#
# The minhash, vector and lexical indexes share ONE on-disk protocol, a
# delta log, and this section is its only implementation:
#
# - row tables are hive-partitioned by ``delta_id``; partitions are
#   immutable once committed, and a replayed delta dynamically
#   overwrites only its own;
# - a JSON meta pointer lists the committed ids (``delta_ids``), the
#   last claimed id, the tombstone deltas and, for a family that keeps
#   merged stats, the current versioned stats dir (``<prefix>K``);
# - every mutation claims the next CONTIGUOUS id, writes its
#   partitions, derives what it commits from the read-back, re-checks
#   the writer fence and swaps the pointer LAST. Readers prune every
#   scan to the committed ids, so a crash leaves only invisible orphans
#   that the next compaction sweeps.
#
# A family is one ``_DeltaLog`` spec; its own code keeps only what
# really differs (stats merges, vector encoding, analyzers).


def _swap_pointer(path: str, meta: dict) -> None:
    """Atomic pointer update (write-then-rename) — the ONE place an
    index or model meta pointer is written. ``mkstemp`` gives every
    writer its own temp file, so a fenced writer racing the new lease
    holder can never rename a torn JSON into place (the ``.meta_*.tmp``
    name never matches ``*META*.json``). On a local/HDFS-like FS the
    rename is atomic; an object-store deployment swaps this for a
    conditional put of the pointer object — the immutable partitions
    and versioned stats dirs need no stronger primitive."""
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path), prefix=".meta_", suffix=".tmp"
    )
    with os.fdopen(fd, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    os.replace(tmp, path)


def _committed_only(raw: DataFrame, committed: list) -> DataFrame:
    """Partition-prune a delta-partitioned table to the committed ids."""
    return raw.filter(F.col("delta_id").isin(committed)).drop("delta_id")


def _merge_additive(
    old: DataFrame, counts: DataFrame, key: str, col: str, sign: int
) -> DataFrame:
    """``old (key, col)`` plus (append, ``sign=1``) or minus (delete,
    ``sign=-1``) ``counts (key, d)``: the exact inverse pair every
    additive index statistic obeys. Keys that reach zero leave the
    table, as a rebuild over the survivors would omit them."""
    a = F.coalesce(F.col(col), F.lit(0))
    b = F.coalesce(F.col("d"), F.lit(0))
    merged = old.join(counts, key, "full_outer").select(
        key, (a + b if sign > 0 else a - b).alias(col)
    )
    return merged if sign > 0 else merged.filter(F.col(col) > 0)


class _Snapshot:
    """One committed index version, resolved: its validated meta and
    its committed frames (lazy plans, not data)."""

    def __init__(self, meta: dict, frames: tuple):
        self.meta, self.frames = meta, frames


class _VectorSnapshot(_Snapshot):
    @cached_property
    def cents(self) -> list[tuple[int, list[float], float]]:
        """The driver-side centroid list, collected on first use and
        held with the version."""
        return _cents_of(self.frames[0])


def _pointer_id(path: str) -> tuple | None:
    """(inode, mtime, size, bytes) of the pointer file, taken from one
    open file so the bytes belong to the stat beside them; None when
    there is no pointer."""
    try:
        with open(path, "rb") as fh:
            st = os.fstat(fh.fileno())
            return st.st_ino, st.st_mtime_ns, st.st_size, fh.read()
    except FileNotFoundError:
        return None


@dataclass(frozen=True)
class _DeltaLog:
    """One index family's delta-log spec, and the protocol steps every
    family shares."""

    meta_file: str
    missing: str  # the "not an index" message, formatted with out_dir
    tables: dict  # row table -> compaction sort column (None: unsorted)
    id_col: str
    key_table: str  # the table whose ids a delete retracts
    check: Callable[[dict, str], None]
    stats_prefix: str | None = None
    stats_key: str | None = None
    count_dirs: tuple = ()  # compaction file-count roots (default: tables)

    def path(self, out_dir: str) -> str:
        return os.path.join(out_dir, self.meta_file)

    def read(self, out_dir: str) -> dict:
        path = self.path(out_dir)
        if not os.path.isfile(path):
            raise FileNotFoundError(self.missing.format(out_dir=out_dir))
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)

    def write(self, out_dir: str, meta: dict) -> None:
        _swap_pointer(self.path(out_dir), meta)

    def load(self, out_dir: str) -> dict:
        meta = self.read(out_dir)
        self.check(meta, out_dir)
        return meta

    def load_for_write(self, out_dir: str, writer_token: str | None) -> dict:
        """Fence, then load: the first step of every mutation."""
        _check_writer_fence(out_dir, writer_token)
        return self.load(out_dir)

    @staticmethod
    def committed(meta: dict) -> list:
        # a meta from before the explicit list committed 0..last
        return meta.get("delta_ids", list(range(meta["last_delta_id"] + 1)))

    def id_of(self, meta: dict) -> str:
        return meta.get("id_col", self.id_col)

    def stats_dir(self, out_dir: str, version: int) -> str:
        return f"{out_dir}/{self.stats_prefix}{version}"

    def retract(self, out_dir: str) -> None:
        """Drop the pointer before a base build's static overwrite
        wipes old delta partitions: a crash mid-rebuild must read as a
        loud "rebuild required", never as a truncated index under stale
        meta."""
        try:
            os.remove(self.path(out_dir))
        except FileNotFoundError:
            pass

    @staticmethod
    def write_delta(
        frame: DataFrame,
        out_dir: str,
        table: str,
        delta_id: int,
        static: bool = False,
    ) -> None:
        (
            frame.withColumn("delta_id", F.lit(delta_id))
            .write.mode("overwrite")
            # STATIC on a base build wipes the whole table, so a rebuild
            # over a delta-extended index leaves no ghost partitions;
            # DYNAMIC replaces only this delta's own partition
            .option(
                "partitionOverwriteMode", "static" if static else "dynamic"
            )
            .partitionBy("delta_id")
            .parquet(f"{out_dir}/{table}")
        )

    def rows(
        self,
        spark: SparkSession,
        out_dir: str,
        meta: dict,
        tables: tuple = (),
    ) -> list[DataFrame]:
        """The committed, tombstone-filtered view of ``tables`` (default:
        all): the one read every serving path and compaction shares."""
        id_col = self.id_of(meta)
        tombs = _committed_tombstones(spark, out_dir, meta, id_col)
        return [
            _minus_tombstones(
                _committed_only(
                    spark.read.parquet(f"{out_dir}/{t}"),
                    self.committed(meta),
                ),
                tombs,
                id_col,
            )
            for t in tables or self.tables
        ]

    def snapshot(
        self,
        spark: SparkSession,
        out_dir: str,
        resolve: Callable[[dict], _Snapshot],
    ) -> _Snapshot:
        """``resolve(meta)`` of the committed version, memoized per
        pointer file against the pointer's identity: inode, mtime,
        size and bytes. Every commit renames a fresh temp file into
        place, so any commit from any process changes it, for one
        small read per call. The bytes alone cannot be the key: a base
        rebuild over the same inputs writes byte-identical meta while
        replacing every file. The stat alone is not enough where
        timestamps are coarse and a freed inode is reused. A false hit
        needs both: identical bytes from a rebuild that lands in the
        same timestamp tick on the same reused inode. A pointer that
        moved while resolving is served but not memoized."""
        path = os.path.abspath(self.path(out_dir))
        return memo.get(
            spark,
            "index_snapshot",
            path,
            lambda: _pointer_id(path),
            lambda: resolve(self.load(out_dir)),
        )

    @staticmethod
    def claim(meta: dict, delta_id: int, verb: str) -> bool:
        """Contiguous delta ids: an id at or below the last commit is a
        replay (no-op, False); one that would skip ids raises — a gap
        would let an orphaned partition (written, never committed)
        become visible once a higher delta commits."""
        last = meta["last_delta_id"]
        if delta_id <= last:
            return False
        if delta_id != last + 1:
            raise ValueError(
                f"{verb}: delta_id {delta_id} would skip ids (last "
                f"committed is {last}); delta ids must be contiguous so "
                "uncommitted partitions stay invisible"
            )
        return True

    def commit(
        self,
        out_dir: str,
        meta: dict,
        new_id: int,
        writer_token: str | None,
        updates: dict,
        write: Callable[[str, dict], None] | None = None,
    ) -> None:
        """Swap the pointer to delta ``new_id``. Re-fence first: a lease
        takeover during the (slow) partition writes must abort BEFORE
        the swap — the uncommitted partitions stay invisible and the
        next compaction sweeps them. After the swap, prune stats
        versions older than the previous one (it survives one cycle so
        an in-flight reader holding the old pointer still resolves)."""
        new = {**meta, **updates, "last_delta_id": new_id}
        if self.stats_key:
            new[self.stats_key] = new_id
        _check_writer_fence(out_dir, writer_token)
        (write or self.write)(out_dir, new)
        if not self.stats_key:
            return
        for path in glob.glob(os.path.join(out_dir, f"{self.stats_prefix}*")):
            try:
                v = int(os.path.basename(path)[len(self.stats_prefix):])
            except ValueError:
                continue
            if v < meta[self.stats_key]:
                shutil.rmtree(path, ignore_errors=True)

    def append(
        self,
        out_dir: str,
        delta_id: int,
        writer_token: str | None,
        extra_meta: dict | None,
        verb: str,
        encode: Callable[[dict], dict],
        restat: Callable[[dict, int], dict] = lambda meta, delta_id: {},
    ) -> bool:
        """Delta append: claim → ``encode(meta)``'s table partitions →
        ``restat`` (merges the stats version from the read-back and
        returns counter updates) → commit. ``extra_meta`` (e.g. the
        streaming batch cursor) rides in the same atomic swap, so a
        crash can never admit a delta without advancing the cursor."""
        meta = self.load_for_write(out_dir, writer_token)
        if not self.claim(meta, delta_id, verb):
            return False
        for table, frame in encode(meta).items():
            self.write_delta(frame, out_dir, table, delta_id)
        updates = restat(meta, delta_id)
        updates["delta_ids"] = self.committed(meta) + [delta_id]
        updates.update(extra_meta or {})
        self.commit(out_dir, meta, delta_id, writer_token, updates)
        return True

    def delete(
        self,
        spark: SparkSession,
        drop_ids: DataFrame,
        out_dir: str,
        writer_token: str | None,
        id_col: str | None = None,
        restat: Callable[[dict, DataFrame, int], dict] = (
            lambda meta, persisted, new_id: {}
        ),
    ) -> dict:
        """Tombstone delta: the live (committed, not yet tombstoned)
        ids in ``drop_ids`` land as partition ``last + 1``; ``restat``
        decrements the stats from the PERSISTED partition (read-back);
        the pointer swap commits both. Already-tombstoned and unknown
        ids are ignored, and an all-no-op call claims no delta id."""
        meta = self.load_for_write(out_dir, writer_token)
        id_col = id_col or self.id_col
        committed = self.committed(meta)
        keys = _committed_only(
            spark.read.parquet(f"{out_dir}/{self.key_table}"), committed
        ).select(id_col).distinct()
        active = _minus_tombstones(
            keys, _committed_tombstones(spark, out_dir, meta, id_col), id_col
        ).join(drop_ids.select(id_col).distinct(), id_col, "left_semi")
        if active.limit(1).count() == 0:
            # nothing to do — write nothing (an empty partitioned write
            # would leave a schema-less tombstones dir)
            return {"n_docs_deleted": 0, "delta_id": None}
        new_id = meta["last_delta_id"] + 1
        self.write_delta(
            active.select(id_col).distinct().coalesce(1),
            out_dir,
            TOMBSTONES_SUBDIR,
            new_id,
        )
        persisted = (
            spark.read.parquet(f"{out_dir}/{TOMBSTONES_SUBDIR}")
            .filter(F.col("delta_id") == new_id)
            .select(id_col)
        )
        n_deleted = persisted.count()
        updates = restat(meta, persisted, new_id)
        updates["delta_ids"] = committed + [new_id]
        updates["tombstone_delta_ids"] = meta.get(
            "tombstone_delta_ids", []
        ) + [new_id]
        self.commit(out_dir, meta, new_id, writer_token, updates)
        return {"n_docs_deleted": int(n_deleted), "delta_id": new_id}

    def sweep(self, out_dir: str, meta: dict) -> None:
        for table in self.tables:
            _sweep_orphan_partitions(
                f"{out_dir}/{table}", self.committed(meta)
            )
        _sweep_orphan_partitions(
            f"{out_dir}/{TOMBSTONES_SUBDIR}",
            meta.get("tombstone_delta_ids", []),
        )

    def fold(
        self,
        out_dir: str,
        meta: dict,
        frames: dict,
        writer_token: str | None,
        updates: dict | None = None,
        write: Callable[[str, dict], None] | None = None,
    ) -> int:
        """Commit ``frames`` (every row table, tombstones already folded
        out) as ONE fresh delta ``last + 1`` that replaces all committed
        deltas: invisible until the pointer flips to ``delta_ids =
        [last + 1]``; old partitions and folded tombstones are pruned
        only after the swap. A crash before it leaves the old index
        intact plus orphans the next sweep removes. Returns the id."""
        new_id = meta["last_delta_id"] + 1
        for table, frame in frames.items():
            self.write_delta(frame, out_dir, table, new_id)
        if self.stats_key:
            # byte-copy: a fold moves rows but adds/removes none (stats
            # were decremented at delete time), so they stay exact
            new_stats = self.stats_dir(out_dir, new_id)
            shutil.rmtree(new_stats, ignore_errors=True)
            shutil.copytree(
                self.stats_dir(out_dir, meta[self.stats_key]), new_stats
            )
        self.commit(
            out_dir,
            meta,
            new_id,
            writer_token,
            {
                **(updates or {}),
                "delta_ids": [new_id],
                "tombstone_delta_ids": [],
            },
            write,
        )
        for table in self.tables:
            for d in self.committed(meta):
                shutil.rmtree(
                    os.path.join(out_dir, table, f"delta_id={d}"),
                    ignore_errors=True,
                )
        for t in meta.get("tombstone_delta_ids", []):
            shutil.rmtree(
                os.path.join(out_dir, TOMBSTONES_SUBDIR, f"delta_id={t}"),
                ignore_errors=True,
            )
        return new_id

    def compact(
        self,
        spark: SparkSession,
        out_dir: str,
        files: int,
        writer_token: str | None,
    ) -> dict:
        """Small-file compaction: orphan sweep, then (unless it is a
        no-op) every committed delta rewritten into ``files`` files of
        one fresh partition via :meth:`fold`, sorted by the table's
        sort column so row-group pruning recovers full selectivity.
        Returns {"files_before", "files_after", "compacted"}."""
        if files < 1:
            raise ValueError(f"files must be >= 1, got {files}")
        meta = self.load_for_write(out_dir, writer_token)
        committed = self.committed(meta)
        self.sweep(out_dir, meta)

        def count_files() -> int:
            return sum(
                len(
                    glob.glob(
                        os.path.join(out_dir, d, "**", "*.parquet"),
                        recursive=True,
                    )
                )
                for d in self.count_dirs or self.tables
            )

        before = count_files()
        if not committed or (
            not meta.get("tombstone_delta_ids")  # pending deletions fold
            and len(committed) == 1
            and not _single_delta_needs_compaction(
                os.path.join(out_dir, next(iter(self.tables))),
                committed[0],
                files,
            )
        ):
            return {
                "files_before": before,
                "files_after": before,
                "compacted": False,
            }
        frames = {}
        for (table, sort), rows in zip(
            self.tables.items(), self.rows(spark, out_dir, meta)
        ):
            frames[table] = (
                rows.repartition(files, sort).sortWithinPartitions(sort)
                if sort
                else rows.repartition(files)
            )
        self.fold(out_dir, meta, frames, writer_token)
        return {
            "files_before": before,
            "files_after": count_files(),
            "compacted": True,
        }

    def admit(
        self, out_dir: str, batch_id: int
    ) -> tuple[bool, int | None, dict]:
        """Streaming batch admission (see the note below):
        (replay, next delta id, meta). Raises on a cursor mismatch
        deeper than the one-step crash replay."""
        meta = self.load(out_dir)
        last_batch = meta.get("last_batch_id", -1)
        if batch_id < last_batch:
            raise ValueError(
                f"streaming ingest: batch {batch_id} is below the "
                f"index's admitted-batch cursor {last_batch} at "
                f"{out_dir} — the stream checkpoint does not match the "
                "index (fresh checkpoint against an extended index?); "
                "data would be silently dropped. Resume the original "
                "checkpoint or rebuild the index."
            )
        if batch_id == last_batch:
            return True, None, meta  # one-step crash replay: admitted
        return False, meta["last_delta_id"] + 1, meta


def _sweep_orphan_partitions(table_path: str, committed: list) -> None:
    """Remove delta partitions NOT in the committed list — invisible to
    every reader (the pointer prunes to committed ids) but costing
    listing time forever. Orphans arise from a crash between a
    partition write and its pointer swap (append or compaction); the
    sweep runs at compaction start, which the maintenance contract
    already requires to be free of concurrent writers. An orphan from
    a crashed APPEND is safe to drop too: its replay rewrites the
    partition from scratch (dynamic overwrite)."""
    keep = {str(d) for d in committed}
    for path in glob.glob(os.path.join(table_path, "delta_id=*")):
        if os.path.basename(path).split("=", 1)[1] not in keep:
            shutil.rmtree(path, ignore_errors=True)


def _single_delta_needs_compaction(
    table_dir: str, delta_id: int, files: int
) -> bool:
    """True when the ONE committed delta already spans more parquet
    files than the requested target — a fresh base build (postings
    written with repartition(8)) is still compactable via the CLI's
    ``--files`` even though there is nothing to merge across deltas;
    only a delta that already fits the target is a no-op."""
    return (
        len(
            glob.glob(
                os.path.join(table_dir, f"delta_id={delta_id}", "*.parquet")
            )
        )
        > files
    )


# --------------------------------------------------- index tombstones
#
# corpus-apply-dedup DELETES documents; a persisted index must stop
# serving them without a 100 TB rebuild (VERDICT r10 "What's missing"
# #1: GROW existed, SHRINK didn't). The LSM answer: a deletion is one
# more entry in the same delta log —
#
# - ``tombstones/delta_id=K/`` holds the dropped ids, hive-partitioned
#   by the deletion delta (the same crash-safety contract as every
#   other partition: written first, pointer-committed last, orphans
#   swept at compaction);
# - the deletion CLAIMS a delta id (last_delta_id + 1) so deletions
#   and appends share one total order — snapshot pinning, streaming
#   cursors and dfreq/stats versioning all keep working unchanged;
# - every ADDITIVE statistic is decremented eagerly at delete time
#   (band counts, df(term), n_docs, sum_dl — the exact negatives of
#   what an append adds), so serve-after-delete is EQUAL to
#   rebuild-on-survivors, scores included (pytest-pinned), while the
#   huge row tables are filtered lazily (reader anti-join) until the
#   next compaction folds the tombstones in physically.
#
# Caller contract (same as appends are appends-not-updates): a
# tombstoned id stays deleted until a compaction clears the tombstone;
# re-adding it earlier is undefined. The dedup flow never re-adds a
# dropped document.

TOMBSTONES_SUBDIR = "tombstones"


def _committed_tombstones(
    spark: SparkSession,
    out_dir: str,
    meta: dict,
    id_col: str,
    max_delta_id: int | None = None,
) -> DataFrame | None:
    """The committed tombstoned-id set (None when there is none), as a
    one-column DataFrame named ``id_col``; pinning a snapshot also pins
    the deletions visible at that delta."""
    t_ids = [
        t
        for t in meta.get("tombstone_delta_ids", [])
        if max_delta_id is None or t <= max_delta_id
    ]
    if not t_ids:
        return None
    return (
        spark.read.parquet(f"{out_dir}/{TOMBSTONES_SUBDIR}")
        .filter(F.col("delta_id").isin(t_ids))
        .selectExpr(f"{id_col} as __tomb_id")
        .distinct()
    )


def _minus_tombstones(
    df: DataFrame, tombs: DataFrame | None, id_col: str
) -> DataFrame:
    """Anti-join a row table against the tombstone set. At scale the
    tombstone side is usually the small one (a drop set), so AQE picks
    a broadcast anti-join from its actual size; a huge drop set
    degrades to a shuffled anti-join — still linear, never a rescan of
    anything but the rows being served."""
    if tombs is None:
        return df
    return df.join(
        tombs, df[id_col] == tombs["__tomb_id"], "left_anti"
    )


# ------------------------------------------- streaming batch admission
#
# Streaming ingest must NOT derive delta ids from the micro-batch id:
# compaction legitimately advances last_delta_id (the compacted rows
# land as a fresh pointer-committed partition), after which a
# batch-id-derived delta maps at-or-below the committed id and the
# batch is silently skipped — new data lost with no error. The durable
# cursor lives in the index meta instead: ``last_batch_id`` records the
# highest ADMITTED streaming batch, committed atomically with the
# delta pointer swap, and each batch appends as ``last_delta_id + 1``
# regardless of how compaction renumbered the partitions. Replay of
# the cursor batch is a no-op; a batch BELOW the cursor means the
# stream checkpoint does not match the index (fresh checkpoint against
# an extended index) and raises rather than silently dropping data.


def _index_log(kind: str) -> _DeltaLog:
    return {"minhash": _MINHASH, "vector": _VECTOR, "lexical": _LEXICAL}[kind]


def read_index_meta(kind: str, out_dir: str) -> dict:
    """The committed meta pointer of a persisted ``kind`` index
    (minhash, vector or lexical) exactly as stored — no validation, so
    stats tooling can inspect an index the engine would refuse."""
    return _index_log(kind).read(out_dir)


def admit_index_batch(
    kind: str, out_dir: str, batch_id: int
) -> tuple[bool, int | None, dict]:
    """The streaming admission check for a ``kind`` index:
    (replay of the cursor batch, next delta id, meta). Raises when
    ``batch_id`` is below the admitted-batch cursor."""
    return _index_log(kind).admit(out_dir, batch_id)


# ------------------------------------------------------------ near-dup index

BANDS_SUBDIR = "bands"
BAND_STATS_PREFIX = "band_stats_v"
INDEX_META_FILE = "INDEX_META.json"


def _check_band_hash(meta: dict, out_dir: str) -> None:
    from .functions.similarity import BAND_HASH_VERSION

    got = meta.get("band_hash", "xxhash64-v1")
    if got != BAND_HASH_VERSION:
        raise ValueError(
            f"minhash index at {out_dir} was banded with hash "
            f"'{got}' but the engine bands with "
            f"'{BAND_HASH_VERSION}' — joining them silently finds "
            "nothing; rebuild the index with write_minhash_index"
        )


_MINHASH = _DeltaLog(
    meta_file=INDEX_META_FILE,
    missing=(
        "{out_dir} is not a minhash index: no " + INDEX_META_FILE
        + " and no legacy band_stats/ layout — rebuild with "
        "write_minhash_index"
    ),
    tables={BANDS_SUBDIR: None},
    id_col="doc_id",
    key_table=BANDS_SUBDIR,
    check=_check_band_hash,
    stats_prefix=BAND_STATS_PREFIX,
    stats_key="stats_version",
)
_index_meta_path = _MINHASH.path


def _merge_band_stats(
    spark: SparkSession,
    out_dir: str,
    meta: dict,
    bands: DataFrame,
    new_id: int,
    sign: int,
) -> dict:
    """Band-stats version ``new_id`` = the current counts ± the
    per-band-key counts of ``bands`` (the delta's or the dropped docs'
    band rows)."""
    _merge_additive(
        spark.read.parquet(_MINHASH.stats_dir(out_dir, meta["stats_version"])),
        bands.groupBy("band_key").agg(F.count("*").alias("d")),
        "band_key",
        "n",
        sign,
    ).write.mode("overwrite").parquet(_MINHASH.stats_dir(out_dir, new_id))
    return {}


def write_minhash_index(
    df: DataFrame, out_dir: str, id_col: str = "doc_id", text_col: str = "text"
) -> None:
    """Persist the near-dup index artifact: the banded-minhash table
    ``(id, band_key)`` PLUS per-band-key occurrence counts.

    The statistics are the point. Incremental dedup joins each new batch
    against this index on ``band_key``, and LSH hygiene must drop
    degenerate hot keys on BOTH sides — but re-counting the index side's
    keys per ingested batch is an aggregate over the (huge, static)
    index. Writing the counts once at build time turns that into a
    pushed ``n <= MAX_BUCKET`` filter on a tiny stats parquet: per-batch
    work then touches the index only through the bipartite equi-join.

    Layout (append-able, see ``append_minhash_delta``):
    - ``bands/delta_id=K/`` — band rows, hive-partitioned by the delta
      that introduced them (the base build is delta 0); partitions are
      immutable once committed, a replayed delta dynamically overwrites
      only its own partition.
    - ``band_stats_vK/`` — full merged stats as of delta K (tiny).
    - ``INDEX_META.json`` — the atomically-swapped pointer: which stats
      version is current, the last applied delta id, AND the explicit
      list of committed delta ids. Readers prune the band scan to
      exactly the committed ids, so a crash between a delta's band
      write and its pointer swap leaves the uncommitted partition
      invisible — including to readers arriving after LATER deltas
      commit (contiguity is enforced at append time, so an orphaned
      partition can only ever be overwritten by its own replay, never
      skipped past).

    The stats are aggregated from the PERSISTED band files (read-back,
    not the in-memory plan) so they describe exactly what a later reader
    sees, even if the banding expression changes between versions.
    """
    from .functions.similarity import BAND_HASH_VERSION, banded_minhash

    spark = df.sparkSession
    _MINHASH.retract(out_dir)
    banded = banded_minhash(df, id_col, text_col).select(
        F.col(id_col), "band_key"
    )
    _MINHASH.write_delta(banded, out_dir, BANDS_SUBDIR, 0, static=True)
    (
        # explicit schema on the read-back: a base build over an EMPTY
        # (or all-degenerate) corpus writes zero partition directories,
        # and schema inference would fail where an empty index is a
        # legitimate state (it grows by append) — the schema is the
        # plan's own, known without running it
        spark.read.schema(banded.withColumn("delta_id", F.lit(0)).schema)
        .parquet(f"{out_dir}/{BANDS_SUBDIR}")
        .groupBy("band_key")
        .agg(F.count("*").alias("n"))
        .write.mode("overwrite")
        .parquet(_MINHASH.stats_dir(out_dir, 0))
    )
    _MINHASH.write(
        out_dir,
        {
            "stats_version": 0,
            "last_delta_id": 0,
            "delta_ids": [0],
            # banding-hash fingerprint: bands built with one hash never
            # equi-join bands built with another, so a mixed-hash index
            # would be SILENT recall loss — readers/appenders refuse a
            # mismatch loudly instead (round 9: xxhash64 → md5-32)
            "band_hash": BAND_HASH_VERSION,
            # lets readers reconstruct the band schema when the index
            # is empty (zero partition dirs → nothing to infer from)
            "id_col": id_col,
        },
    )


def append_minhash_delta(
    df: DataFrame,
    out_dir: str,
    delta_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_meta: dict | None = None,
    writer_token: str | None = None,
) -> bool:
    """Extend a persisted minhash index with a new document batch —
    WITHOUT rebuilding it. Work is proportional to the DELTA (band the
    batch, count its keys) plus one outer-merge against the tiny stats
    table; the huge band table is never re-aggregated or rewritten.

    Idempotent under replay: ``delta_id`` must be CONTIGUOUS (a
    streaming batch id): a delta at or below the last applied id is a
    no-op (returns False), and a delta that would skip an id raises —
    allowing a gap would let an orphaned band partition (written but
    never pointer-committed) become visible once a higher delta
    commits, with no matching counts in the merged stats. A replay
    after a crash between the band write and the pointer swap rewrites
    only its own band partition (dynamic overwrite) and re-derives the
    stats from the last COMMITTED version, so double-application
    cannot happen.

    Crash-safety order: (1) band partition write, (2) merged stats
    version write, (3) atomic pointer swap. Readers only ever see
    pointer-committed state. Stats versions older than the previous one
    are pruned after the swap (the previous survives one cycle so an
    in-flight reader holding the old pointer still resolves).
    """
    from .functions.similarity import banded_minhash

    spark = df.sparkSession
    return _MINHASH.append(
        out_dir,
        delta_id,
        writer_token,
        extra_meta,
        "append_minhash_delta",
        lambda meta: {
            BANDS_SUBDIR: banded_minhash(df, id_col, text_col).select(
                F.col(id_col), "band_key"
            )
        },
        # merge the counts of the PERSISTED delta partition (read-back,
        # like the base build) into the last committed stats version
        lambda meta, delta_id: _merge_band_stats(
            spark,
            out_dir,
            meta,
            spark.read.parquet(f"{out_dir}/{BANDS_SUBDIR}").filter(
                F.col("delta_id") == delta_id
            ),
            delta_id,
            1,
        ),
    )


def delete_minhash_docs(
    spark: SparkSession,
    drop_ids: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    writer_token: str | None = None,
) -> dict:
    """Retract documents from a persisted minhash index WITHOUT
    rebuilding it: the drop set lands as a tombstone delta, and the
    per-band-key statistics are decremented by exactly the dropped
    docs' band rows — the additive inverse of ``append_minhash_delta``
    — so incremental dedup against the index behaves as if the index
    had been rebuilt over the survivors (pytest-pinned: bands view and
    stats rows equal the rebuild's).

    Idempotent: already-tombstoned and index-unknown ids are ignored;
    an all-no-op call returns without claiming a delta id. Work ∝ the
    dropped docs' band rows + one band-stats-sized merge; the band
    table itself is untouched until compaction folds the tombstones
    in.

    Returns {"n_docs_deleted", "delta_id" (or None)}."""
    return _MINHASH.delete(
        spark,
        drop_ids,
        out_dir,
        writer_token,
        id_col,
        lambda meta, persisted, new_id: _merge_band_stats(
            spark,
            out_dir,
            meta,
            _committed_only(
                spark.read.parquet(f"{out_dir}/{BANDS_SUBDIR}"),
                _MINHASH.committed(meta),
            ).join(persisted, id_col, "left_semi"),
            new_id,
            -1,
        ),
    )


def compact_minhash_index(
    spark: SparkSession,
    out_dir: str,
    files: int = 1,
    writer_token: str | None = None,
) -> dict:
    """Rewrite all committed band deltas into ONE fresh partition — the
    index-side small-file compaction a streaming deployment needs:
    ``append_minhash_delta`` adds one parquet partition per micro-batch
    forever, and a year of 1-minute batches turns the band directory
    into ~500k tiny partitions whose listing + open overhead dwarfs the
    read (the same disease ``compact_corpus_shards`` cures for the
    corpus sink). Work is one read+write of the band table; the stats
    are byte-copied (compaction moves no rows, so the merged counts are
    already exact).

    Crash-safety reuses the append contract unchanged: the compacted
    rows land as partition ``delta_id = last + 1`` — INVISIBLE until the
    pointer swap, because readers prune to the committed id list — then
    the pointer flips to ``delta_ids = [last + 1]``, then the old
    partitions are pruned. A crash before the swap leaves the old index
    fully intact (plus one orphan partition the next compaction
    overwrites); a crash after the swap leaves invisible orphans. The
    post-compaction append contract is unchanged (next delta is
    ``last + 2``), pinned to pytest as append == rebuild.

    Snapshot pinning: compaction DISCARDS pre-compaction snapshots — a
    reader pinning ``max_delta_id`` below the new floor gets a loud
    error from :func:`read_minhash_index`, never a silently empty view.
    The pre-compaction stats version survives one cycle (same grace as
    appends) so an in-flight unpinned reader still resolves its stats.

    Returns {"files_before", "files_after", "compacted"}."""
    return _MINHASH.compact(spark, out_dir, files, writer_token)


def read_minhash_index(
    spark: SparkSession, out_dir: str, max_delta_id: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(bands, band_stats) from a persisted minhash index artifact, at
    its pointer-committed state: the band scan is pruned (partition
    filter) to exactly the COMMITTED delta ids from the meta pointer,
    and the stats are the matching merged version — a consistent
    snapshot even while appends are in flight.

    ``max_delta_id`` pins the read to an earlier committed snapshot
    (bands with ``delta_id <= max_delta_id`` + that delta's stats
    version). A replaying streaming batch needs this: if the driver
    crashed after the batch's own delta committed but before the
    streaming checkpoint did, an unpinned replay would see the batch's
    documents in the index and band-join them with themselves. Stats
    retention keeps the current AND previous version on disk, which is
    exactly the one-step-back window a replay can ask for; asking
    deeper raises with a descriptive error.

    Indexes written by the pre-meta layout (a ``band_stats/`` subdir,
    no ``INDEX_META.json``) are read via a legacy fallback; anything
    else without a meta file raises a descriptive error rather than a
    bare FileNotFoundError."""
    legacy_stats = os.path.join(out_dir, "band_stats")
    if not os.path.isfile(_index_meta_path(out_dir)) and os.path.isdir(
        legacy_stats
    ):
        if max_delta_id is not None:
            # a legacy index has no delta partitions to pin, and
            # silently returning the full view would break the
            # replay-snapshot contract a pinning caller relies on
            raise ValueError(
                f"{out_dir} uses the legacy (pre-delta) index layout "
                "and cannot serve a pinned snapshot "
                f"(max_delta_id={max_delta_id}) — rebuild with "
                "write_minhash_index or read unpinned"
            )
        bands = spark.read.parquet(f"{out_dir}/{BANDS_SUBDIR}")
        if "delta_id" in bands.columns:
            bands = bands.drop("delta_id")
        return bands, spark.read.parquet(legacy_stats)
    meta = _MINHASH.load(out_dir)
    effective = meta["last_delta_id"]
    if max_delta_id is not None:
        effective = min(effective, max_delta_id)
    all_committed = _MINHASH.committed(meta)
    committed = [d for d in all_committed if d <= effective]
    if not committed:
        # only reachable via pinning below the compaction floor: the
        # compacted partition carries a fresh (higher) delta id, so a
        # pre-compaction snapshot no longer exists — loud, not empty
        raise ValueError(
            f"minhash index snapshot delta_id={effective} predates the "
            f"compaction floor (earliest committed delta is "
            f"{min(all_committed)}) — pre-compaction snapshots are "
            "discarded; rebuild or read the current snapshot"
        )
    stats_path = _MINHASH.stats_dir(out_dir, effective)
    if effective != meta["stats_version"] and not os.path.isdir(stats_path):
        raise FileNotFoundError(
            f"minhash index snapshot delta_id={effective} is no longer "
            f"retained (current is {meta['stats_version']}; only the "
            "previous version survives one append cycle) — rebuild or "
            "read the current snapshot"
        )
    id_col = _MINHASH.id_of(meta)
    try:
        raw = spark.read.parquet(f"{out_dir}/{BANDS_SUBDIR}")
    except AnalysisException:
        # an EMPTY index (base build over zero docs, before any append)
        # has no partition directories to infer from — serve the empty
        # band table with the schema the meta pointer recorded
        raw = spark.createDataFrame(
            [], f"{id_col} bigint, band_key string, delta_id int"
        )
    # deletions visible at this snapshot: anti-join the committed
    # tombstone set (stats were decremented at delete time, so the
    # stats version already matches this filtered view)
    bands = _minus_tombstones(
        _committed_only(raw, committed),
        _committed_tombstones(spark, out_dir, meta, id_col, effective),
        id_col,
    )
    return bands, spark.read.parquet(stats_path)


# ------------------------------------------------------------ vector index

VINDEX_META_FILE = "VINDEX_META.json"


def _vindex_model_dirs(meta: dict) -> tuple[str, str]:
    """Resolve the coarse-quantizer and PQ-codebook subdirectories
    through the index meta — the RETRAIN lifecycle writes each
    re-learned model generation to a fresh sibling dir
    (``centroids_g<N>`` / ``pq_codebook_g<N>``) and flips these
    pointers in the same atomic meta swap that commits the re-encoded
    postings, so readers never see a new model paired with old codes
    (or vice versa). Pre-retrain indexes resolve to the original
    unsuffixed dirs."""
    return (
        meta.get("centroids_subdir", "centroids"),
        meta.get("pq_codebook_subdir", "pq_codebook"),
    )


def _sweep_orphan_model_dirs(out_dir: str, meta: dict | None) -> None:
    """Remove generation-suffixed model dirs not referenced by the
    committed meta — leftovers of a retrain that crashed before its
    pointer swap (the delta-partition orphan sweep's twin). Safe by
    the same argument: an unreferenced dir is invisible to every
    reader, so deleting it cannot change any committed result."""
    keep = set(_vindex_model_dirs(meta)) if meta else set()
    for pat in ("centroids_g*", "pq_codebook_g*"):
        for d in glob.glob(os.path.join(out_dir, pat)):
            if os.path.basename(d) not in keep:
                shutil.rmtree(d, ignore_errors=True)


def _check_vindex_geometry(meta: dict, out_dir: str) -> None:
    """Refuse any index whose quantizer geometry does not match the
    running engine — on the READ path (silently-wrong neighbors
    otherwise) AND on the APPEND path (an engine with different
    PQ_M/PQ_SUBDIM would slice delta subvectors against an
    incompatible on-disk codebook and pointer-commit corrupt code
    partitions)."""
    from .functions import pipeline_queries as pq

    if "last_delta_id" not in meta:
        raise ValueError(
            f"vector index at {out_dir} uses format_version "
            f"{meta.get('format_version')} (pre-delta layout) — rebuild "
            "with write_vector_index"
        )
    # PQ geometry must match the engine exactly (delta encodes and LUT
    # scoring slice subvectors against the on-disk codebook). The IVF
    # centroid COUNT is self-describing — centroids, assignments and
    # probe selection all derive from the persisted centroids/ table,
    # never the engine constant — so a k-scaled index (n_centroids dial)
    # stays readable and appendable; the meta key just has to exist.
    want = {
        "pq_m": pq.PQ_M,
        "pq_k": pq.PQ_K,
        "pq_subdim": pq.PQ_SUBDIM,
    }
    mismatched = {
        k: (meta.get(k), v) for k, v in want.items() if meta.get(k) != v
    }
    if "ivf_n_centroids" not in meta:
        mismatched["ivf_n_centroids"] = (None, "present")
    if mismatched:
        raise ValueError(
            f"vector index geometry mismatch (index vs engine): "
            f"{mismatched} — rebuild the index with the current engine"
        )


_VECTOR = _DeltaLog(
    meta_file=VINDEX_META_FILE,
    missing=(
        "{out_dir} is not a vector index: no " + VINDEX_META_FILE
        + " — build with write_vector_index"
    ),
    # postings sort by IVF cell: the serve paths filter cid to the
    # probe set, so cid-tight parquet row groups turn probe pruning
    # into IO pruning (the lexical index's term-sort precedent)
    tables={"postings": "cid", "pq_codes": None},
    id_col="vec_id",
    key_table="postings",
    check=_check_vindex_geometry,
)
_read_vindex_meta = _VECTOR.read
_write_vindex_meta = _VECTOR.write


def _cents_of(centroids: DataFrame) -> list[tuple[int, list[float], float]]:
    return [
        (int(r["cid"]), [float(x) for x in r["cvec"]], float(r["nrm"]))
        for r in sorted(centroids.collect(), key=lambda r: r["cid"])
    ]


def _write_vindex_base(
    spark: SparkSession,
    out_dir: str,
    cents: list[tuple[int, list[float], float]],
    codebook: DataFrame,
    postings: DataFrame,
    codes: DataFrame,
    **model_meta,
) -> None:
    """The base-build commit both vector builders share: pointer
    retracted, models + delta-0 tables written, pointer swapped last."""
    from .functions import pipeline_queries as pq

    _VECTOR.retract(out_dir)
    # a rebuild over a previously-RETRAINED index must also wipe its
    # generation-suffixed model dirs (the static partition overwrite
    # below only covers postings/pq_codes)
    _sweep_orphan_model_dirs(out_dir, None)
    (
        pq._cents_df(spark, cents)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/centroids")
    )
    codebook.coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/pq_codebook"
    )
    _VECTOR.write_delta(
        postings.sortWithinPartitions("cid"), out_dir, "postings", 0, True
    )
    _VECTOR.write_delta(codes, out_dir, "pq_codes", 0, static=True)
    _VECTOR.write(
        out_dir,
        {
            "format_version": 2,
            "pq_m": pq.PQ_M,
            "pq_k": pq.PQ_K,
            "pq_subdim": pq.PQ_SUBDIM,
            "pq_lloyd_rounds": pq.PQ_LLOYD_ROUNDS,
            **model_meta,
            "ivf_n_centroids": len(cents),
            "ivf_n_probe": pq.IVF_N_PROBE,
            "last_delta_id": 0,
            "delta_ids": [0],
        },
    )


def write_vector_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    df: DataFrame | None = None,
    n_centroids: int | None = None,
) -> None:
    """Persist the ANN index the session's knn/PQ queries build in
    memory as a durable on-disk artifact — the vector-store equivalent
    of ``write_minhash_index``:

    - ``centroids/`` — the IVF coarse model (cid, cvec, nrm); ≤16 rows
      here, O(k·dim) at any scale. FROZEN at base build: appends encode
      new vectors with this quantizer, exactly how real IVF-PQ indexes
      grow (retraining = rebuilding).
    - ``pq_codebook/`` — the LEARNED per-subspace Lloyd codebook
      (m, cid, c), ≤PQ_M·PQ_K rows. Also frozen at base build.
    - ``postings/delta_id=K/`` — the per-vector postings list (vec_id,
      nrm, cid, pcid), hive-partitioned by the delta that introduced
      each vector (base build is delta 0).
    - ``pq_codes/delta_id=K/`` — the per-vector PQ code table
      (vec_id, m, cid, d2), same delta partitioning.
    - ``VINDEX_META.json`` — geometry (PQ_M/PQ_K/PQ_SUBDIM, IVF
      centroid/probe counts) + the committed-delta pointer (same
      crash-safety contract as the minhash index: partitions first,
      pointer swap last; readers see only pointer-committed deltas).
      Readers refuse an index whose geometry does not match the
      running engine rather than silently searching with the wrong
      quantizer.

    ``df`` restricts the INDEXED vectors (vec_id subset) while the
    models still train on the full corpus — the base-index half of an
    append test, or a partial backfill. Default: index every vector.

    A search process then needs ONLY this directory — see
    :func:`knn_ivf_pq_from_index`, pytest-pinned byte-equal to the
    in-session ``knn_ivf_pq``. At 100 TB this write is the index-build
    job; searches never touch the raw embeddings again (the refined
    path point-fetches only its shortlist)."""
    from .functions import pipeline_queries as pq

    cents, _ = pq._ivf_model(spark, sf_dir, n_centroids=n_centroids)
    if n_centroids is None:
        # default quantizer: the shared materialized session artifact
        postings = pq._knn_assignment(spark, sf_dir).select(
            "vec_id", "nrm", "cid", "pcid"
        )
    else:
        # k-scaled quantizer (the scale dial): the any-k rowwise
        # postings builder — expression-unrolled assignment is O(k²)
        # analyzer nodes and caps out at a few dozen centroids
        postings = pq._assignment_top2_rowwise(
            pq.load_table(spark, sf_dir, "embeddings"),
            pq._cents_df(spark, cents),
            dim=len(cents[0][1]),
        ).select("vec_id", "nrm", "cid", "pcid")
    codes = pq._pq_codes(spark, sf_dir)
    if df is not None:
        ids = df.select("vec_id")
        postings = postings.join(ids, "vec_id", "left_semi")
        codes = codes.join(ids, "vec_id", "left_semi")
    _write_vindex_base(
        spark, out_dir, cents, pq._pq_codebook(spark, sf_dir), postings, codes
    )


def append_vector_delta(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    delta_id: int,
    extra_meta: dict | None = None,
    writer_token: str | None = None,
) -> bool:
    """Extend a persisted vector index with new (vec_id, embedding)
    rows — WITHOUT rebuilding: the delta is assigned to cells and
    PQ-encoded with the index's FROZEN coarse quantizer and codebook
    (loaded from disk), and lands as one postings partition + one code
    partition. Work ∝ |delta|; the existing index is never rewritten.

    Same idempotency/crash-safety contract as
    :func:`append_minhash_delta`: contiguous delta ids (a skipped id
    raises; at-or-below the last commit is a no-op returning False),
    partitions written before the atomic pointer swap, replays
    dynamically overwrite only their own partitions. Caller contract:
    delta vec_ids are new (an index is keyed by vec_id)."""

    def encode(meta: dict) -> dict:
        c_sub, cb_sub = _vindex_model_dirs(meta)
        postings, codes = _encode_vectors(
            spark,
            df.select("vec_id", "embedding"),
            _cents_of(spark.read.parquet(f"{out_dir}/{c_sub}")),
            spark.read.parquet(f"{out_dir}/{cb_sub}"),
        )
        return {
            "postings": postings.sortWithinPartitions("cid"),
            "pq_codes": codes,
        }

    return _VECTOR.append(
        out_dir,
        delta_id,
        writer_token,
        extra_meta,
        "append_vector_delta",
        encode,
    )


def delete_vector_docs(
    spark: SparkSession,
    drop_ids: DataFrame,
    out_dir: str,
    writer_token: str | None = None,
) -> dict:
    """Retract vectors from a persisted vector index WITHOUT
    rebuilding: the drop set (a ``vec_id`` column) lands as a
    tombstone delta and readers anti-join it out of postings and
    pq_codes. The coarse quantizer and codebook are FROZEN at base
    build (appends already encode with them, and a rebuild trains on
    the full corpus regardless of the indexed subset), so
    serve-after-delete is byte-equal to rebuild-on-survivors
    (pytest-pinned). No statistics to adjust — the vector index keeps
    none beyond its geometry.

    Idempotent: already-tombstoned and index-unknown vec_ids are
    ignored; an all-no-op call claims no delta id.

    Returns {"n_docs_deleted", "delta_id" (or None)}."""
    return _VECTOR.delete(spark, drop_ids, out_dir, writer_token)


def append_minhash_batch(
    df: DataFrame,
    out_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    writer_token: str | None = None,
) -> bool:
    """Admit one streaming micro-batch into a persisted minhash index,
    delta-numbered from the index meta (compaction-safe — see the
    batch-admission note above). Returns False for a replayed batch."""
    skip, delta_id, _ = _MINHASH.admit(out_dir, batch_id)
    if skip:
        return False
    return append_minhash_delta(
        df,
        out_dir,
        delta_id,
        id_col=id_col,
        text_col=text_col,
        extra_meta={"last_batch_id": batch_id},
        writer_token=writer_token,
    )


def append_vector_batch(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    batch_id: int,
    writer_token: str | None = None,
) -> bool:
    """Admit one streaming micro-batch of vectors, delta-numbered from
    the index meta (compaction-safe). Returns False for a replay."""
    skip, delta_id, _ = _VECTOR.admit(out_dir, batch_id)
    if skip:
        return False
    return append_vector_delta(
        spark, df, out_dir, delta_id,
        extra_meta={"last_batch_id": batch_id},
        writer_token=writer_token,
    )


def compact_vector_index(
    spark: SparkSession,
    out_dir: str,
    files: int = 1,
    writer_token: str | None = None,
) -> dict:
    """Small-file compaction for the persisted vector index — the
    twin of :func:`compact_minhash_index` for the postings/pq_codes
    tables, which likewise accrete one parquet partition per streamed
    batch forever (``append_vector_delta``). Both tables are rewritten
    into ONE fresh partition ``delta_id = last + 1`` (invisible until
    the pointer swap, since readers prune to committed ids), the
    pointer flips to ``delta_ids = [last + 1]``, old partitions are
    pruned. The postings are re-sorted by cell, recovering the
    selectivity the micro-deltas eroded. The centroids and codebook
    are untouched (frozen at base build); search results are
    byte-equal before/after (pytest-pinned) and the next append is
    ``last + 2`` — append == rebuild still holds.

    Returns {"files_before", "files_after", "compacted"}."""
    return _VECTOR.compact(spark, out_dir, files, writer_token)


def _vector_snapshot(spark: SparkSession, out_dir: str) -> _VectorSnapshot:
    """The committed vector index version: frames (centroids,
    postings, pq_codebook, pq_codes) and, on first use, the collected
    centroid list, resolved from ONE validated pointer read and held
    until the next commit — every vector serving path resolves its
    frames and its meta from the same committed version."""

    def resolve(meta: dict) -> _VectorSnapshot:
        postings, codes = _VECTOR.rows(spark, out_dir, meta)
        c_sub, cb_sub = _vindex_model_dirs(meta)
        return _VectorSnapshot(
            meta,
            (
                spark.read.parquet(f"{out_dir}/{c_sub}"),
                postings,
                spark.read.parquet(f"{out_dir}/{cb_sub}"),
                codes,
            ),
        )

    return _VECTOR.snapshot(spark, out_dir, resolve)


def read_vector_index(
    spark: SparkSession, out_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(centroids, postings, pq_codebook, pq_codes) from a persisted
    vector index at its pointer-committed state (postings/codes pruned
    to committed delta partitions), after validating its geometry
    against the running engine's constants — a quantizer-geometry
    mismatch must fail loudly, not return silently-wrong neighbors."""
    return _vector_snapshot(spark, out_dir).frames


def _encode_vectors(
    spark: SparkSession,
    e: DataFrame,
    cents: list[tuple[int, list[float], float]],
    codebook: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(postings, pq_codes) for ANY (vec_id, embedding) frame under a
    given model pair — the single encode recipe every index writer
    shares (base build, delta append, retrain re-encode), so
    retrain-then-serve can be pinned byte-equal to
    build-from-survivors-then-serve."""
    from .functions import pipeline_queries as pq

    if len(cents) <= 32:
        assignment = pq._assignment_from(e, cents).select(
            "vec_id", "nrm", "cid", "pcid"
        )
    else:
        # k-scaled index: the unrolled expression path caps out; the
        # rowwise builder is bit-identical (pytest-pinned) at any k
        assignment = pq._assignment_top2_rowwise(
            e, pq._cents_df(spark, cents), dim=len(cents[0][1])
        ).select("vec_id", "nrm", "cid", "pcid")
    codes = pq._pq_assign(pq._subvectors_of(e), codebook)
    return assignment, codes


def write_vector_index_from_df(
    spark: SparkSession,
    e_df: DataFrame,
    out_dir: str,
    n_centroids: int | None = None,
    kmeans_iters: int | None = None,
) -> None:
    """Base-build a persisted vector index from ANY (vec_id, embedding)
    frame, with both models LEARNED on that frame: bounded-Lloyd coarse
    centroids (seeded from the k smallest vec_ids, the engine's
    fixed-seed convention) and the per-subspace PQ codebook. This is
    the from-scratch-rebuild reference that
    :func:`recluster_vector_index` is pytest-pinned against — retrain
    on survivors must serve byte-equal to this builder run on the same
    survivors — and the builder to reach for when the corpus is not a
    session table (:func:`write_vector_index` trains from ``sf_dir``).

    Same crash-safety contract as :func:`write_vector_index`: the meta
    pointer is retracted first, partitions land, the pointer swap
    commits last."""
    from .functions import pipeline_queries as pq

    if kmeans_iters is None:
        kmeans_iters = pq.KMEANS_ITERS
    e = e_df.select("vec_id", "embedding")
    cents = pq._kmeans_centroids_from(
        e, iters=kmeans_iters, n_centroids=n_centroids
    )
    codebook = pq._pq_codebook_from(spark, e)
    postings, codes = _encode_vectors(spark, e, cents, codebook)
    _write_vindex_base(
        spark,
        out_dir,
        cents,
        codebook,
        postings,
        codes,
        kmeans_iters=kmeans_iters,
    )


def _vindex_survivor_embeddings(
    out_dir: str, exact_df: DataFrame, postings: DataFrame
) -> tuple[DataFrame, int]:
    """(survivor embeddings, count): the index's committed vec_ids
    (``postings``: the committed, tombstone-filtered postings view)
    joined to their full-width vectors in ``exact_df`` — the corpus'
    exact-vector table, the same contract as the refined search path
    (the index stores codes, not raw vectors). Refuses to proceed when
    the exact table is missing any survivor: a retrain that silently
    dropped indexed vectors because the corpus table lost rows would
    commit a shrunken index with no error."""
    survivors = postings.select("vec_id").distinct()
    e = exact_df.select("vec_id", "embedding").join(
        survivors, "vec_id", "left_semi"
    )
    n_surv = survivors.count()
    n_have = e.select("vec_id").distinct().count()
    if n_have != n_surv:
        raise ValueError(
            f"vector index at {out_dir} has {n_surv} committed "
            f"survivors but exact_df covers only {n_have} of them — "
            "the exact-vector table does not match the index; refusing "
            "to retrain/measure against a partial corpus"
        )
    return e, n_surv


def recluster_vector_index(
    spark: SparkSession,
    out_dir: str,
    exact_df: DataFrame,
    n_centroids: int | None = None,
    kmeans_iters: int | None = None,
    writer_token: str | None = None,
) -> dict:
    """RETRAIN — the last verb of the persisted vector index's
    lifecycle (BUILD/GROW/SERVE/COMPACT/SHRINK/**RETRAIN**): re-learn
    the coarse quantizer and PQ codebook on the index's committed
    survivors and re-encode them, WITHOUT a from-scratch rebuild job
    and without ever exposing a partial state to readers.

    Why it exists: :func:`append_vector_delta` encodes every delta
    with the models FROZEN at base build. A corpus whose embedding
    distribution drifts (new language, new modality, new embedding
    model) piles its new vectors into whichever old cells happen to be
    nearest — cell skew grows, PQ quantization error grows, and served
    recall decays (:func:`recall_drift_report` measures exactly this,
    and :func:`should_recluster` is the trigger). Reclustering
    re-learns both models on today's distribution with the engine's
    bounded-Lloyd machinery — only k×dim / PQ_M·PQ_K model rows ever
    reach the driver; the re-encode is the same linear scan a GROW
    performs, over survivors instead of a delta.

    Crash-safety (the index writers' pointer discipline, strictly
    stronger than a directory-rename swap — there is no window where
    the index is absent):

    1. new model generation lands in sibling dirs
       (``centroids_g<N>``/``pq_codebook_g<N>``) — invisible, meta
       still points at the old generation;
    2. re-encoded survivors land as delta ``last+1`` — invisible,
       not pointer-committed;
    3. ONE atomic meta swap flips model pointers + delta pointer +
       tombstone fold together;
    4. old partitions/model dirs are pruned only after the swap.

    A crash anywhere before (3) leaves the old index serving
    byte-identically (pytest-pinned); the orphan sweeps reclaim the
    debris on the next maintenance call. Tombstones are folded in
    physically (the compactor's discipline) and the streaming batch
    cursor (``last_batch_id``) rides through the meta update, so
    ingest resumes exactly where it left off.

    Returns {"n_vectors", "generation", "delta_id", "n_centroids"}."""
    from .functions import pipeline_queries as pq

    if kmeans_iters is None:
        kmeans_iters = pq.KMEANS_ITERS
    meta = _VECTOR.load_for_write(out_dir, writer_token)
    # reclaim debris of a previously crashed retrain/append
    _sweep_orphan_model_dirs(out_dir, meta)
    _VECTOR.sweep(out_dir, meta)

    e, n_surv = _vindex_survivor_embeddings(
        out_dir, exact_df, _VECTOR.rows(spark, out_dir, meta, ("postings",))[0]
    )
    if n_surv == 0:
        raise ValueError(
            f"vector index at {out_dir} has no committed survivors — "
            "nothing to retrain on"
        )
    cents = pq._kmeans_centroids_from(
        e, iters=kmeans_iters, n_centroids=n_centroids
    )
    codebook = pq._pq_codebook_from(spark, e)

    gen = int(meta.get("generation", 0)) + 1
    c_sub, cb_sub = f"centroids_g{gen}", f"pq_codebook_g{gen}"
    (
        pq._cents_df(spark, cents)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/{c_sub}")
    )
    codebook.coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/{cb_sub}"
    )
    postings, codes = _encode_vectors(spark, e, cents, codebook)
    # the single atomic pointer swap flips the model pointers, the
    # delta pointer and the tombstone fold together; it goes through
    # the module-level _write_vindex_meta binding
    new_id = _VECTOR.fold(
        out_dir,
        meta,
        {"postings": postings.sortWithinPartitions("cid"), "pq_codes": codes},
        writer_token,
        {
            "generation": gen,
            "centroids_subdir": c_sub,
            "pq_codebook_subdir": cb_sub,
            "ivf_n_centroids": len(cents),
            "kmeans_iters": kmeans_iters,
        },
        write=_write_vindex_meta,
    )
    for d in _vindex_model_dirs(meta):
        if d not in (c_sub, cb_sub):
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    return {
        "n_vectors": int(n_surv),
        "generation": gen,
        "delta_id": new_id,
        "n_centroids": len(cents),
    }


def index_cell_histogram(spark: SparkSession, out_dir: str) -> DataFrame:
    """IVF cell-occupancy histogram of the PERSISTED index at its
    committed state — the skew dial ``ivf_cell_histogram`` provides
    for the in-session build, measured where it matters after frozen-
    quantizer GROWs: drifted appends pile into few cells, and this is
    the cheap leading indicator (`recall_drift_report` is the
    expensive confirming one; `should_recluster` acts on it).

    Returns (cid, n_vectors, share, skew_vs_mean) per committed cell —
    one postings aggregate, no codes/vectors touched."""
    postings = _vector_snapshot(spark, out_dir).frames[1]
    hist = postings.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_vectors")
    )
    # totals as scalar subqueries (round 14): replaces the
    # partitionBy(lit(1)) windows — no SinglePartition exchange; both
    # totals' aggs reuse the histogram exchange only at runtime
    # (MergeScalarSubqueries or the AQE stage cache; the static plan
    # shows no ReusedExchange)
    tot = hist.agg(F.sum("n_vectors").alias("t"))
    n_cells = hist.agg(F.count("*").alias("t"))
    return hist.select(
        "cid",
        "n_vectors",
        F.round(
            F.col("n_vectors").cast("double") / tot.scalar(),
            6,
        ).alias("share"),
        F.round(
            F.col("n_vectors")
            * n_cells.scalar()
            / tot.scalar().cast("double"),
            4,
        ).alias("skew_vs_mean"),
    )


RECALL_DRIFT_SAMPLE = 16


def recall_drift_report(
    spark: SparkSession,
    out_dir: str,
    exact_df: DataFrame,
    k: int = 10,
    n_probe: int | None = None,
    sample: int = RECALL_DRIFT_SAMPLE,
) -> DataFrame:
    """Served recall measured AGAINST THE PERSISTED INDEX — the drift
    monitor that closes the RETRAIN loop (``knn_recall_eval`` measures
    the in-session build; this measures what the serving path actually
    returns after any number of frozen-quantizer GROWs).

    Protocol (``tune_n_probe``'s bounded-sample discipline): the query
    set is the ``sample`` committed survivors with the smallest
    ``md5(vec_id)`` — deterministic yet distribution-blind, so a
    drifted append is sampled in proportion to its share of the index
    (smallest-vec_id sampling would only ever probe the oldest
    vectors and could not see drift at all). Ground truth is exact
    brute-force cosine top-k over all survivors from ``exact_df``
    (broadcast of the bounded sample over the corpus scan — map-side,
    linear, no index shuffle); the served side is
    :func:`knn_batch_search_from_index` at the index's own n_probe.
    Self-matches are excluded from both sides.

    Returns (qid, n_hits, n_truth, recall) per sampled query — feed to
    :func:`should_recluster` for the boolean trigger."""
    from pyspark.sql import Window

    from .functions.similarity import as_double, cosine

    snap = _vector_snapshot(spark, out_dir)
    e, _ = _vindex_survivor_embeddings(out_dir, exact_df, snap.frames[1])
    qs = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(sample)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    # exact truth: broadcast the bounded sample over the survivor scan
    pairs = e.select(
        "vec_id", as_double(F.col("embedding")).alias("__cv")
    ).join(
        broadcast(
            qs.select("qid", as_double(F.col("embedding")).alias("__qv"))
        ),
        F.col("vec_id") != F.col("qid"),
    )
    wt = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    truth = (
        pairs.select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("__cv"), F.col("__qv")), 4).alias(
                "cos_sim"
            ),
        )
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id")
    )
    # served: fetch k+1 so dropping the self-match still leaves k
    served = (
        _knn_batch_search(spark, qs, snap, k=k + 1, n_probe=n_probe)
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("rank").asc())
            ),
        )
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id")
    )
    hits = truth.join(served, ["qid", "vec_id"], "left_semi")
    return (
        truth.groupBy("qid")
        .agg(F.count("*").alias("n_truth"))
        .join(
            hits.groupBy("qid").agg(F.count("*").alias("n_hits")),
            "qid",
            "left",
        )
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.col("n_truth").cast("bigint").alias("n_truth"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_truth"),
                4,
            ).alias("recall"),
        )
    )


def should_recluster(
    spark: SparkSession,
    out_dir: str,
    exact_df: DataFrame,
    min_recall: float = 0.8,
    k: int = 10,
    n_probe: int | None = None,
    sample: int = RECALL_DRIFT_SAMPLE,
) -> dict:
    """The RETRAIN trigger: micro-averaged served recall over the
    bounded drift sample, compared against a floor. Driver arithmetic
    over ≤``sample`` report rows — never a corpus pass beyond what
    :func:`recall_drift_report` itself measures.

    Returns {"mean_recall", "n_queries", "min_recall", "recluster"}."""
    rows = recall_drift_report(
        spark, out_dir, exact_df, k=k, n_probe=n_probe, sample=sample
    ).collect()
    n_hits = sum(int(r["n_hits"]) for r in rows)
    n_truth = sum(int(r["n_truth"]) for r in rows)
    mean = (n_hits / n_truth) if n_truth else 1.0
    return {
        "mean_recall": round(mean, 4),
        "n_queries": len(rows),
        "min_recall": min_recall,
        "recluster": mean < min_recall,
    }


def knn_ivf_pq_from_index(
    spark: SparkSession,
    out_dir: str,
    k: int = 10,
    n_probe: int | None = None,
) -> DataFrame:
    """The full IVF-PQ search served purely from a persisted index —
    the production read path at rest: coarse probe selection is driver
    arithmetic on the loaded ≤16-row centroid model, membership is a
    left-semi prune of the postings list, scoring is ADC over the
    persisted code table with a LUT derived from the on-disk codebook.
    No raw embedding is touched (plan-pinned). Byte-equal to the
    in-session ``knn_ivf_pq`` (pytest-pinned), including after delta
    appends (append-then-search equals rebuild-then-search).

    ``n_probe`` is the search-time recall/cost dial (default: the
    index's build-time setting): work ∝ probed fraction of the corpus.
    Probing every cell degenerates to the unpruned full-ADC scan —
    pytest pins that identity against ``knn_pq_adc``."""
    from .functions import pipeline_queries as pq

    snap = _vector_snapshot(spark, out_dir)
    _, postings, codebook, codes = snap.frames
    cents = snap.cents
    if n_probe is None:
        n_probe = snap.meta["ivf_n_probe"]
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    probe_ids = pq._probe_nearest(cents, n_probe=n_probe)
    members = (
        postings.select("vec_id", "cid")
        .filter(F.col("cid").isin(*probe_ids))
        .select("vec_id")
    )
    pruned = codes.join(members, "vec_id", "left_semi")
    return pq._adc_topk(
        spark, out_dir, pruned, k=k, lut=pq._pq_lut_from(codebook)
    )


def knn_batch_search_from_index(
    spark: SparkSession,
    queries_df: DataFrame,
    out_dir: str,
    k: int = 5,
    n_probe: int | None = None,
) -> DataFrame:
    """Batch ANN serving purely from a persisted index — the complete
    production read path: a table of (qid, embedding) query vectors is
    answered in ONE plan against the on-disk artifacts (centroids,
    postings, codebook, codes); the raw embeddings are never touched.
    This composes the round-8 pieces end-to-end: per-query probe
    selection is a rank-<=n_probe over the rowwise centroid candidates
    (data-shaped, any k), candidate vectors are a probe ⋈ postings
    equi-join (work ∝ the probed fraction per query), and scoring is
    ADC with all per-query LUTs stacked into one broadcast
    (``knn_batch_adc``'s shape). Probing every cell degenerates to the
    unpruned batch ADC scan — pytest pins that identity against the
    in-session ``knn_batch_adc``.

    Returns (qid, vec_id, adc_dist, rank<=k) per query."""
    return _knn_batch_search(
        spark, queries_df, _vector_snapshot(spark, out_dir), k, n_probe
    )


def _knn_batch_search(
    spark: SparkSession,
    queries_df: DataFrame,
    snap: _VectorSnapshot,
    k: int,
    n_probe: int | None,
) -> DataFrame:
    """:func:`knn_batch_search_from_index` over an already-resolved
    :func:`_vector_snapshot`; ``queries_df`` is read twice, so a
    caller whose batch is costly to rescan pins it first."""
    from pyspark.sql import Window

    from .functions import pipeline_queries as pq

    meta, (centroids, postings, codebook, codes) = snap.meta, snap.frames
    if n_probe is None:
        n_probe = meta["ivf_n_probe"]
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    q = queries_df.select(
        F.col("qid").alias("vec_id"), "embedding"
    )
    # per-query probe sets: top-n_probe cells over the rowwise
    # candidates (same (dist ASC, cid ASC) order as every quantizer)
    wc = Window.partitionBy("vec_id").orderBy(
        F.col("d").asc(), F.col("cid").asc()
    )
    probes = (
        pq._rowwise_candidates(q, centroids, dim=len(snap.cents[0][1]))
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= n_probe)
        .select(F.col("vec_id").alias("qid"), "cid")
    )
    cand_vecs = probes.join(
        postings.select("vec_id", "cid"), "cid"
    ).select("qid", "vec_id")
    # stacked per-query LUTs from the ON-DISK codebook
    blut = (
        pq._subvectors_of(q)
        .select(F.col("vec_id").alias("qid"), "m", "s")
        .join(broadcast(codebook), "m")
        .select(
            "qid",
            "m",
            "cid",
            F.expr(pq._PQ_SUBD2.format(a="s", b="c")).alias("qd2"),
        )
    )
    scored = (
        cand_vecs.join(codes.select("vec_id", "m", "cid"), "vec_id")
        .join(broadcast(blut), ["qid", "m", "cid"])
        .groupBy("qid", "vec_id")
        .agg(F.round(F.sum("qd2"), 4).alias("adc_dist"))
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )


def knn_batch_search_refined_from_index(
    spark: SparkSession,
    queries_df: DataFrame,
    out_dir: str,
    exact_df: DataFrame,
    k: int = 5,
    n_probe: int | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """The served batch path WITH the exact re-rank stage (round 9 —
    the in-session family proves the recipe in ``knn_ivf_pq_refined``;
    this brings it to the persisted-index serving path): the ADC scan
    produces a ``shortlist``-deep candidate list per query from codes
    alone, and only those vectors' full-width embeddings are fetched
    from ``exact_df`` (the corpus' exact-vector table — the index
    stores codes, not raw vectors) for exact cosine re-ranking.
    Quantization error reorders near-ties; re-ranking a small multiple
    of k recovers it, so refined recall is provably >= plain ADC recall
    at equal probing (every true neighbor the ADC top-k catches is in
    the shortlist, and exact ordering cannot rank it below a
    non-neighbor — pytest-pinned per query).

    Returns (qid, vec_id, adc_dist, cos_sim, rank<=k), ranked by exact
    cosine (desc, vec_id asc tiebreak).

    At 100 TB: the shortlist is |queries|·shortlist rows (tiny,
    broadcast), so the full-width fetch is a broadcast semi-prune of
    the exact table — point lookups, never a rescan; the re-rank is a
    per-qid window over shortlist-sized groups."""
    from pyspark.sql import Window

    from .functions import pipeline_queries as pq
    from .functions.similarity import as_double, cosine

    R = shortlist if shortlist is not None else pq.PQ_REFINE_SHORTLIST
    if R < k:
        raise ValueError(f"shortlist {R} must be >= k {k}")
    sl = knn_batch_search_from_index(
        spark, queries_df, out_dir, k=R, n_probe=n_probe
    )
    q = queries_df.select(
        "qid", as_double(F.col("embedding")).alias("__qv")
    )
    exact = (
        exact_df.select("vec_id", as_double(F.col("embedding")).alias("__cv"))
        .join(broadcast(sl.select("qid", "vec_id", "adc_dist")), "vec_id")
        .join(broadcast(q), "qid")
        .select(
            "qid",
            "vec_id",
            "adc_dist",
            F.round(cosine(F.col("__cv"), F.col("__qv")), 4).alias(
                "cos_sim"
            ),
        )
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )


def mmr_rerank_from_index(
    spark: SparkSession,
    queries_df: DataFrame,
    out_dir: str,
    exact_df: DataFrame,
    k: int | None = None,
    mmr_shortlist: int | None = None,
    n_probe: int | None = None,
    adc_shortlist: int | None = None,
) -> DataFrame:
    """Diversified serving from the persisted index — MMR over each
    served query's refined shortlist (round 12, VERDICT r11 task 3):
    production reranking happens per query batch, not for one fixed
    vector. Per qid, the exact-cosine-ranked shortlist comes from
    :func:`knn_batch_search_refined_from_index` (``rel`` = its
    ``cos_sim``), pairwise sims are computed over just the shortlist
    members' exact vectors (|Q|·R² bounded rows, broadcast
    point-fetches — never a corpus rescan), and the greedy is the
    engine's stacked per-qid selection
    (``pipeline_queries._mmr_greedy_batch``): all queries advance
    together per round, no driver loop. With probe-all + an
    ADC shortlist covering the corpus, a single-query batch reproduces
    the in-session ``mmr_rerank`` picks exactly (pytest-pinned).

    Returns (qid, rank<=k, vec_id, rel, mmr)."""
    from .functions import pipeline_queries as pq
    from .functions.similarity import as_double, cosine
    from .io import materialize_small

    if k is None:
        k = pq.MMR_K
    if mmr_shortlist is None:
        mmr_shortlist = pq.MMR_SHORTLIST
    if mmr_shortlist < k:
        raise ValueError(
            f"mmr_shortlist {mmr_shortlist} must be >= k {k}"
        )
    sl = knn_batch_search_refined_from_index(
        spark,
        queries_df,
        out_dir,
        exact_df,
        k=mmr_shortlist,
        n_probe=n_probe,
        shortlist=(
            adc_shortlist
            if adc_shortlist is not None
            else max(pq.PQ_REFINE_SHORTLIST, 2 * mmr_shortlist)
        ),
    )
    short = materialize_small(
        sl.select("qid", "vec_id", F.col("cos_sim").alias("rel"))
    )
    sv = short.select("qid", "vec_id").join(
        exact_df.select(
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
    return pq._mmr_greedy_batch(short, sims, k=k)


# ------------------------------------------------------------ classifier model

CLASSIFIER_META_FILE = "MODEL_META.json"


def write_classifier_model(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """Persist the trained quality-classifier model as a deployable
    artifact (train once, apply everywhere — the same
    build-then-serve split as the minhash and vector indexes): the
    ≤QC_BUCKETS-row weight table as parquet plus the learned integer
    threshold and the feature geometry in MODEL_META.json. Readers
    refuse a geometry-mismatched model (a different bucket count would
    silently hash features onto the wrong weights)."""
    from .functions import pipeline_queries as pq

    # retract the meta pointer BEFORE overwriting weights/ (the index
    # writers' contract): an in-place retrain that crashes mid-rewrite
    # must read as a loud "not a classifier model", never as new/partial
    # weights silently paired with the previous run's stale theta.
    try:
        os.remove(os.path.join(out_dir, CLASSIFIER_META_FILE))
    except FileNotFoundError:
        pass
    _labels, weights, _scored, theta_df = pq._qc_fit(spark, sf_dir)
    weights.coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/weights"
    )
    theta = int(theta_df.collect()[0]["theta"])
    meta = {
        "format_version": 1,
        "theta": theta,
        "qc_buckets": pq.QC_BUCKETS,
        "label_token": pq.QC_LABEL_TOKEN,
    }
    _swap_pointer(os.path.join(out_dir, CLASSIFIER_META_FILE), meta)


def read_classifier_model(
    spark: SparkSession, out_dir: str
) -> tuple[DataFrame, int]:
    """(weights, theta) from a persisted classifier model, geometry
    validated against the running engine."""
    import json
    import os

    from .functions import pipeline_queries as pq

    path = os.path.join(out_dir, CLASSIFIER_META_FILE)
    if not os.path.isfile(path):
        raise FileNotFoundError(
            f"{out_dir} is not a classifier model: no "
            f"{CLASSIFIER_META_FILE} — build with write_classifier_model"
        )
    with open(path, encoding="utf-8") as fh:
        meta = json.load(fh)
    if meta.get("qc_buckets") != pq.QC_BUCKETS:
        raise ValueError(
            f"classifier model bucket-count mismatch: model "
            f"{meta.get('qc_buckets')} vs engine {pq.QC_BUCKETS} — "
            "retrain with the current engine"
        )
    return spark.read.parquet(f"{out_dir}/weights"), int(meta["theta"])


# ---------------------------------------------------------------------------
# Persisted LEXICAL (BM25) index — the lexical leg's build → serve
# lifecycle, the inverted-index counterpart of write_vector_index
# (round 9). The reference ships no search surface at all; a
# training-data/retrieval engine needs both legs durable.

LEXINDEX_META_FILE = "LEXINDEX_META.json"
LEX_K1 = 1.2
LEX_B = 0.75


def _lex_tables(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, doclen) over any (doc_id, text) frame — the shared
    tokenize/aggregate pass of the base build and every delta append.
    Tokenization is the engine's whitespace pass — the same token
    stream every text query uses."""
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    toks = t.select("doc_id", F.explode("toks").alias("term"))
    postings = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    dl = t.select("doc_id", F.size("toks").alias("dl"))
    return postings, dl


def _lex_bpe_tables(
    d: DataFrame, merges: list[tuple[str, str]]
) -> tuple[DataFrame, DataFrame]:
    """(postings, doclen) under a BPE merge list."""
    from .functions import pipeline_queries as pq

    toks = pq.bpe_token_stream(d, merges)
    postings = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    return postings, dl


# ----------------------------------------------- lexical analyzers
#
# The index's tokenizer is part of its on-disk identity: postings
# written by one analyzer are silently-wrong under another (a BPE
# index's 'win' symbol is not the whitespace token 'win'). The meta
# records {"name", and for bpe "n_merges" + "fingerprint"}; the
# trained merge list itself is persisted next to the postings
# (analyzer_merges/) so appends and query tokenization NEVER depend
# on the building session's model cache — the band_hash refusal
# pattern: a reader/writer refuses an analyzer it cannot reproduce.

LEX_MERGES_SUBDIR = "analyzer_merges"


def _merges_fingerprint(merges: list[tuple]) -> str:
    import hashlib

    return hashlib.md5(
        json.dumps([[m[0], m[1]] for m in merges]).encode()
    ).hexdigest()


def _lex_analyzer(meta: dict) -> str:
    name = meta.get("analyzer", {}).get("name", "whitespace")
    if name not in ("whitespace", "bpe"):
        raise ValueError(
            f"lexical index was built with analyzer {name!r}, which "
            "this engine cannot reproduce — searching or appending "
            "with a different tokenizer would be silently wrong; "
            "rebuild the index or upgrade the engine"
        )
    return name


def _lex_load_merges(
    spark: SparkSession, out_dir: str, meta: dict
) -> list[tuple[str, str]]:
    """Load + verify the persisted merge list: the meta fingerprint
    must match the on-disk rows (a torn write or hand-edited merges
    dir must fail loudly, not tokenize differently)."""
    rows = sorted(
        spark.read.parquet(f"{out_dir}/{LEX_MERGES_SUBDIR}").collect(),
        key=lambda r: r["merge_rank"],
    )
    merges = [(r["left"], r["right"]) for r in rows]
    want = meta["analyzer"]["fingerprint"]
    got = _merges_fingerprint(merges)
    if got != want:
        raise ValueError(
            f"lexical index at {out_dir}: persisted analyzer merges do "
            f"not match the committed fingerprint ({got} != {want}) — "
            "the analyzer artifact is torn or was modified; rebuild "
            "the index"
        )
    return merges


def _lex_analyzer_tables(
    spark: SparkSession, out_dir: str, meta: dict, d: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(postings, doclen) under the INDEX's analyzer — the build and
    every append must tokenize identically, resolved from the
    persisted artifact, never the session."""
    if _lex_analyzer(meta) == "whitespace":
        return _lex_tables(d)
    return _lex_bpe_tables(d, _lex_load_merges(spark, out_dir, meta))


def _check_lex_meta(meta: dict, out_dir: str) -> None:
    if meta.get("version", 1) < 2:
        raise ValueError(
            f"lexical index at {out_dir} uses the v1 flat layout; "
            "rebuild with write_lexical_index to gain the delta-append "
            "contract (v1 has no committed-delta pointer, so appends "
            "against it could not be crash-safe)"
        )
    _lex_analyzer(meta)


_LEXICAL = _DeltaLog(
    meta_file=LEXINDEX_META_FILE,
    missing=(
        "no lexical index at {out_dir} (missing " + LEXINDEX_META_FILE
        + "); build one with write_lexical_index"
    ),
    # each postings delta is sorted by term so every parquet row group
    # carries tight term min/max stats (term predicates prune IO)
    tables={"postings": "term", "doclen": None},
    id_col="doc_id",
    key_table="doclen",
    check=_check_lex_meta,
    stats_prefix="dfreq_v",
    stats_key="dfreq_version",
    count_dirs=("*",),
)
_lexindex_meta_path = _LEXICAL.path
_read_lexindex_meta = _LEXICAL.read


def _lex_restat(
    spark: SparkSession,
    out_dir: str,
    meta: dict,
    postings: DataFrame,
    doclen: DataFrame,
    new_id: int,
    sign: int,
) -> dict:
    """Every BM25 statistic is additive over disjoint documents: write
    dfreq version ``new_id`` = the current df(term) ± the distinct-doc
    counts of ``postings`` (the delta's, or the dropped docs'), and
    return the n_docs/sum_dl counters ± those of ``doclen``."""
    _merge_additive(
        spark.read.parquet(_LEXICAL.stats_dir(out_dir, meta["dfreq_version"])),
        postings.groupBy("term").agg(F.countDistinct("doc_id").alias("d")),
        "term",
        "df",
        sign,
    ).coalesce(1).write.mode("overwrite").parquet(
        _LEXICAL.stats_dir(out_dir, new_id)
    )
    s = doclen.agg(
        F.count("*").alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    return {
        "n_docs": int(meta["n_docs"]) + sign * int(s["n"]),
        "sum_dl": int(meta["sum_dl"]) + sign * int(s["s"] or 0),
    }


def write_lexical_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    df: DataFrame | None = None,
    analyzer: str = "whitespace",
    n_merges: int | None = None,
) -> None:
    """Persist the BM25 inverted index over the documents corpus:

    - ``postings/delta_id=K/`` — (term, doc_id, tf), hive-partitioned
      by the delta that introduced them (base build is delta 0). Each
      delta is repartitioned AND sorted by term so every parquet row
      group carries tight term min/max stats (a literal term predicate
      prunes row groups; the serving join map-side filters through the
      broadcast query-term set). Partitions are immutable once
      committed; a replayed delta dynamically overwrites only its own.
    - ``doclen/delta_id=K/`` — (doc_id, dl) document lengths for the
      BM25 length normalization, same delta partitioning.
    - ``dfreq_vK/`` — merged (term, df) vocabulary-sized document
      frequencies as of delta K.
    - ``LEXINDEX_META.json`` — the atomically-swapped pointer: merged
      corpus stats (n_docs, sum_dl), the scoring constants (k1, b)
      FROZEN at build time, the current dfreq version, and the explicit
      committed-delta-id list readers prune to. A crash between a
      delta's table writes and its pointer swap leaves the uncommitted
      partitions invisible.

    Growth path: :func:`append_lexical_delta`. All three global
    statistics BM25 needs are ADDITIVE over disjoint new documents —
    df(term) sums per-delta distinct-doc counts, n_docs and sum_dl sum
    per-delta counters — so an append merges the vocabulary-sized dfreq
    table and bumps two meta counters; the huge postings table is never
    re-aggregated or rewritten. (Per-segment idf patching is why real
    lexical engines merge segments rather than rebuild; this is the
    single-merged-segment version of that contract, mirroring
    ``append_minhash_delta``.)

    At 100 TB: postings is one explode (linear in total tokens) + one
    (term, doc_id) map-side-combined aggregate; everything else is
    vocabulary- or doc-count-sized."""
    from .io import load_table

    # validate BEFORE retracting: a rejected call must leave a live
    # index serving, not unreadable
    if analyzer not in ("whitespace", "bpe"):
        raise ValueError(
            f"unknown lexical analyzer {analyzer!r}; "
            "supported: whitespace, bpe"
        )
    d = (
        df
        if df is not None
        else load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    _LEXICAL.retract(out_dir)
    if analyzer == "bpe":
        # BPE analyzer (round 12, VERDICT r11 task 6): train the merge
        # list on the corpus, PERSIST it next to the postings so
        # appends and query tokenization resolve from the artifact
        # (never the session), and fingerprint it in the meta — the
        # band_hash refusal pattern
        from .functions import pipeline_queries as pq

        trained = pq._bpe_merges(
            spark, sf_dir, n_merges or pq.BPE_TRAIN_MERGES
        )
        merges = [(a, b) for a, b, _ in trained]
        (
            spark.createDataFrame(
                [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
                "merge_rank int, left string, right string",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/{LEX_MERGES_SUBDIR}")
        )
        analyzer_meta = {
            "name": "bpe",
            "n_merges": len(merges),
            "fingerprint": _merges_fingerprint(merges),
        }
        postings, dl = _lex_bpe_tables(d, merges)
    else:
        analyzer_meta = {"name": "whitespace"}
        postings, dl = _lex_tables(d)
    _LEXICAL.write_delta(
        postings.repartition(8, "term").sortWithinPartitions("term"),
        out_dir,
        "postings",
        0,
        static=True,
    )
    _LEXICAL.write_delta(dl, out_dir, "doclen", 0, static=True)
    # stats from the PERSISTED tables (read-back, like the minhash
    # build) so they describe exactly what a later reader sees
    (
        spark.read.parquet(f"{out_dir}/postings")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_LEXICAL.stats_dir(out_dir, 0))
    )
    stats = (
        spark.read.parquet(f"{out_dir}/doclen")
        .agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
        .collect()[0]
    )
    _LEXICAL.write(
        out_dir,
        {
            "version": 2,
            "n_docs": int(stats["n_docs"]),
            "sum_dl": int(stats["sum_dl"]),
            "k1": LEX_K1,
            "b": LEX_B,
            "analyzer": analyzer_meta,
            "dfreq_version": 0,
            "last_delta_id": 0,
            "delta_ids": [0],
        },
    )


def append_lexical_delta(
    df: DataFrame,
    out_dir: str,
    delta_id: int,
    extra_meta: dict | None = None,
    writer_token: str | None = None,
) -> bool:
    """Extend a persisted lexical index with a batch of NEW documents —
    WITHOUT rebuilding it. Work is proportional to the DELTA (tokenize
    + aggregate the batch) plus one outer-merge against the
    vocabulary-sized dfreq table; the huge postings table is never
    re-aggregated or rewritten. BM25's global stats stay exact because
    each is additive over disjoint documents: df(term) gains the
    delta's distinct-doc count per term, n_docs/sum_dl gain the
    delta's counters.

    The batch must contain only doc_ids NEW to the index (appends, not
    updates — the same contract as ``append_minhash_delta``): a re-sent
    doc_id would double its postings and inflate df. Streaming ingest
    guarantees this via the batch cursor (``append_lexical_batch``).

    Idempotent under replay and crash-safe with exactly the minhash
    contract: contiguous delta ids, (1) postings partition write,
    (2) doclen partition write, (3) merged dfreq version write,
    (4) atomic pointer swap carrying the updated corpus counters.
    Readers only ever see pointer-committed state; dfreq versions
    older than the previous are pruned after the swap (one-cycle
    grace for in-flight readers)."""
    spark = df.sparkSession

    def encode(meta: dict) -> dict:
        # the delta MUST tokenize with the index's analyzer (resolved
        # from the persisted artifact, never this session's model cache)
        postings, dl = _lex_analyzer_tables(
            spark, out_dir, meta, df.select("doc_id", "text")
        )
        return {
            "postings": postings.repartition(1, "term").sortWithinPartitions(
                "term"
            ),
            "doclen": dl,
        }

    def delta(table: str, delta_id: int) -> DataFrame:
        # read-back: the committed stats describe exactly the on-disk rows
        return spark.read.parquet(f"{out_dir}/{table}").filter(
            F.col("delta_id") == delta_id
        )

    return _LEXICAL.append(
        out_dir,
        delta_id,
        writer_token,
        extra_meta,
        "append_lexical_delta",
        encode,
        lambda meta, delta_id: _lex_restat(
            spark,
            out_dir,
            meta,
            delta("postings", delta_id),
            delta("doclen", delta_id),
            delta_id,
            1,
        ),
    )


def append_lexical_batch(
    df: DataFrame,
    out_dir: str,
    batch_id: int,
    writer_token: str | None = None,
) -> bool:
    """Admit one streaming micro-batch of documents into a persisted
    lexical index, delta-numbered from the index meta (compaction-safe
    — see the batch-admission note). Returns False for a replayed
    batch."""
    skip, delta_id, _ = _LEXICAL.admit(out_dir, batch_id)
    if skip:
        return False
    return append_lexical_delta(
        df,
        out_dir,
        delta_id,
        extra_meta={"last_batch_id": batch_id},
        writer_token=writer_token,
    )


def delete_lexical_docs(
    spark: SparkSession,
    drop_ids: DataFrame,
    out_dir: str,
    writer_token: str | None = None,
) -> dict:
    """Retract documents from a persisted lexical index WITHOUT
    rebuilding it — the additive inverse of ``append_lexical_delta``:
    the drop set (a ``doc_id`` column) lands as a tombstone delta,
    df(term) loses the dropped docs' distinct-doc counts (terms
    reaching df=0 leave the dfreq table, exactly as a rebuild would
    omit them), and n_docs/sum_dl lose the dropped doclen counters.
    Because every BM25 statistic is an exact integer and the reader
    anti-joins postings/doclen against the tombstones,
    serve-after-delete is byte-equal to rebuild-on-survivors — scores
    included (pytest-pinned).

    Crash-safety order (the append contract, inverted): (1) tombstone
    partition write, (2) merged dfreq version write, (3) atomic
    pointer swap carrying the decremented counters + the tombstone
    pointer. Idempotent: already-tombstoned and index-unknown doc_ids
    are ignored; an all-no-op call claims no delta id. Work ∝ the
    dropped docs' postings + one vocabulary-sized dfreq merge; the
    huge postings table is untouched until compaction folds the
    tombstones in physically.

    Returns {"n_docs_deleted", "delta_id" (or None)}."""

    def dropped(table: str, meta: dict, persisted: DataFrame) -> DataFrame:
        return _committed_only(
            spark.read.parquet(f"{out_dir}/{table}"), _LEXICAL.committed(meta)
        ).join(persisted, "doc_id", "left_semi")

    return _LEXICAL.delete(
        spark,
        drop_ids,
        out_dir,
        writer_token,
        restat=lambda meta, persisted, new_id: _lex_restat(
            spark,
            out_dir,
            meta,
            dropped("postings", meta, persisted),
            dropped("doclen", meta, persisted),
            new_id,
            -1,
        ),
    )


def compact_lexical_index(
    spark: SparkSession,
    out_dir: str,
    files: int = 1,
    writer_token: str | None = None,
) -> dict:
    """Rewrite all committed postings/doclen deltas into ONE fresh
    partition each — the small-file compaction a streaming deployment
    needs (same disease and cure as ``compact_minhash_index``; the
    compacted postings are re-sorted by term so row-group pruning
    recovers full selectivity after many unsorted micro-deltas). The
    dfreq table and corpus counters are byte-copied — compaction moves
    rows between partitions but adds/removes none. Crash-safety reuses
    the append contract: new rows land as ``delta_id = last + 1``,
    invisible until the pointer flips to ``delta_ids = [last + 1]``.

    Returns {"files_before", "files_after", "compacted"}."""
    return _LEXICAL.compact(spark, out_dir, files, writer_token)


def _lexical_snapshot(spark: SparkSession, out_dir: str) -> _Snapshot:
    """The committed lexical index version: frames (postings, doclen,
    dfreq), held until the next commit."""

    def resolve(meta: dict) -> _Snapshot:
        postings, doclen = _LEXICAL.rows(spark, out_dir, meta)
        # dfreq and the meta counters were decremented at delete time,
        # so this snapshot is exactly the rebuild-on-survivors view
        dfreq = spark.read.parquet(
            _LEXICAL.stats_dir(out_dir, meta["dfreq_version"])
        )
        return _Snapshot(meta, (postings, doclen, dfreq))

    return _LEXICAL.snapshot(spark, out_dir, resolve)


def read_lexical_index(spark: SparkSession, out_dir: str):
    """(postings, doclen, dfreq, meta) from a committed lexical index.
    The postings/doclen scans are pruned to exactly the
    pointer-committed delta ids, so partitions from a crashed append
    stay invisible (same reader contract as ``read_minhash_index``)."""
    snap = _lexical_snapshot(spark, out_dir)
    return (*snap.frames, dict(snap.meta))


def bm25_search_from_index(
    spark: SparkSession,
    queries_df: DataFrame,
    out_dir: str,
    k: int = 10,
) -> DataFrame:
    """Batch BM25 serving purely from a persisted lexical index: a
    table of (qid, terms array<string>) queries is answered in ONE
    plan against the on-disk postings — the raw corpus text is never
    touched. Returns (qid, doc_id, bm25, rank<=k), ranked by
    (score desc, doc_id asc).

    Determinism for ARBITRARY queries: per-(qid, doc) term scores are
    collected, array_sort'ed by term, and folded with aggregate() in
    that sorted order — float summation order never depends on shuffle
    placement, so a replayed batch writes byte-identical answers.
    Duplicate query terms are deduplicated (standard BM25 treats the
    query as a term set).

    At 100 TB: the postings scan is map-side filtered through the
    broadcast query-term set (with term-sorted row groups a static
    term set also prunes IO); per-query work is ∝ the matched postings,
    the per-doc fold is bounded by the query length, and the top-k is
    a per-qid WindowGroupLimit."""
    from pyspark.sql import Window

    postings, doclen, dfreq, meta = read_lexical_index(spark, out_dir)
    n_docs, sum_dl = int(meta["n_docs"]), int(meta["sum_dl"])
    k1, b = float(meta["k1"]), float(meta["b"])
    qwords = queries_df.select("qid", F.explode("terms").alias("term"))
    if _lex_analyzer(meta) == "bpe":
        # tokenize the query WORDS with the index's persisted merges —
        # a BPE index's postings are symbols, so the raw words would
        # silently match nothing (or the wrong thing)
        from .functions import pipeline_queries as pq

        merges = _lex_load_merges(spark, out_dir, meta)
        wsyms = pq.bpe_word_symbols(
            qwords.select(F.lower("term").alias("w")).distinct(), merges
        )
        qwords = qwords.join(
            wsyms, F.lower(F.col("term")) == F.col("w")
        ).select("qid", F.explode("syms").alias("term"))
    qterms = qwords.distinct()
    scored = (
        postings.join(broadcast(qterms), "term")
        .join(broadcast(dfreq), "term")
        .join(doclen, "doc_id")
        .select(
            "qid",
            "doc_id",
            "term",
            F.expr(
                f"floor(ln(1.0D + ({n_docs}L - df + 0.5D) / (df + 0.5D))"
                " * 1000000.0D) / 1000000.0D"
                f" * (tf * {k1 + 1.0}D)"
                f" / (tf + {k1}D * ({1.0 - b}D + {b}D"
                f" * (dl / ({sum_dl}L / {n_docs}L))))"
            ).alias("s"),
        )
    )
    folded = (
        scored.groupBy("qid", "doc_id")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(term, s)))"
                ", 0.0D, (acc, x) -> acc + x.s)"
            ).alias("_bm25")
        )
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("_bm25").desc(), F.col("doc_id").asc()
    )
    return (
        folded.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(
            "qid", "doc_id", F.round("_bm25", 4).alias("bm25"), "rank"
        )
    )


def hybrid_search_from_indexes(
    spark: SparkSession,
    queries_df: DataFrame,
    lex_dir: str,
    vec_dir: str,
    exact_df: DataFrame,
    k: int | None = None,
    lex_k: int = 20,
    vec_k: int = 10,
    n_probe: int | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """Hybrid retrieval SERVED from the two persisted indexes — the
    deployable form of the in-session ``hybrid_search_rrf``: a batch of
    (qid, terms, embedding) queries gets its lexical leg from the BM25
    index, its vector leg from the ANN index's refined path (ADC
    shortlist → exact cosine re-rank, so ranks are exact-similarity
    ranks like the in-session leg), and the two are fused per query
    with reciprocal-rank weighting ``1/(60+r)``, missing legs scoring
    0. With probe-all + a corpus-deep shortlist the vector leg is
    exact, and the whole answer is pytest-pinned identical to the
    in-session fusion for the engine's fixed query.

    Returns (qid, doc_id, lex_rank, vec_rank, rrf_score, rank<=k).

    At 100 TB both legs are index-pruned scans producing ≤lex_k/vec_k
    rows per query; the fusion join, RRF arithmetic, and per-qid top-k
    all run on those bounded lists."""
    from pyspark.sql import Window

    from .functions import pipeline_queries as pq
    from .io import materialize_small

    if k is None:
        k = pq.HYBRID_TOP_K
    # the two legs read the batch four times: pin it to scan it once
    q = materialize_small(queries_df.select("qid", "terms", "embedding"))
    lex = bm25_search_from_index(
        spark, q.select("qid", "terms"), lex_dir, k=lex_k
    ).select("qid", "doc_id", F.col("rank").alias("lex_rank"))
    vec = knn_batch_search_refined_from_index(
        spark,
        q.select("qid", "embedding"),
        vec_dir,
        exact_df,
        k=vec_k,
        n_probe=n_probe,
        shortlist=shortlist,
    ).select(
        "qid",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(pq.RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(pq.RRF_K) + F.col("vec_rank")), F.lit(0.0)
    )
    fused = lex.join(vec, ["qid", "doc_id"], "full_outer").select(
        "qid", "doc_id", "lex_rank", "vec_rank", rrf.alias("_rrf")
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("_rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round(F.col("_rrf"), 6).alias("rrf_score"),
            "rank",
        )
    )
