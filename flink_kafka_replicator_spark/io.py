"""Table loading for the driver's synthetic parquet tables.

Plain ``spark.read.parquet`` — declarative scans so Catalyst applies
column pruning and predicate pushdown (verified in tests via
plans.explain helpers). Never collect, never infer schemas by hand.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import memo
from .session import prepare

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; pins session confs needed for oracle parity.

    The event-time column ``ts`` is normalized to ``TimestampType`` here,
    in ONE place, for every physical layout the testdata writer has used,
    so no operator (and no streaming ``withWatermark``) ever sees the
    physical flavor:

    - TIMESTAMP(NANOS) footer → Spark reads a nanos long
      (legacy.parquet.nanosAsLong); integer-divide to micros — the same
      truncation DuckDB applies coercing TIMESTAMP_NS to TIMESTAMP.
    - micros with isAdjustedToUTC=false → Spark infers TIMESTAMP_NTZ;
      cast to TIMESTAMP under the UTC session timezone (session.py pins
      it), which reinterprets the naive value as UTC — exactly how the
      DuckDB oracle treats a naive parquet timestamp.
    - plain UTC-adjusted micros → already TimestampType, untouched.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    prepare(spark)
    return _read_table(spark, sf_dir, name)


# A DataFrame is an immutable plan holder, so reuse is safe; the win is
# skipping the per-call file listing + footer read (~0.1 s), which
# otherwise taxes every one of the 70+ registry queries.
@memo.dataset
def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(table_path(sf_dir, name))
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for field in df.schema.fields:
        if field.name != "ts":
            continue
        if isinstance(field.dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Repartition to defaultParallelism when a scan yields fewer
    partitions — the multimodal.phash64 guard generalized (round 13).

    Spark sizes scan splits by BYTES, but the token/shingle/n-gram
    pipelines' cost is per-token EXPRESSION work the planner cannot
    see: a small-file corpus (sf0.1's documents table is one 1.5 MB
    split) otherwise runs an entire explode+md5 map stage in a single
    task while 31 cores idle (measured 2× end-to-end on the span
    pipeline, 5× on Python-stage phash). At production scale the scan
    already has ≥cores splits and this is a no-op — the shuffle only
    ever moves a corpus small enough to have arrived in one split.
    Streaming frames pass through untouched (no static partition count
    to inspect)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def materialize_small(df: DataFrame) -> DataFrame:
    """Pin a small multi-use intermediate so its lineage runs exactly once.

    Identical broadcast subplans only get ReuseExchange when the build
    keys match, so a tiny table feeding differently-keyed broadcasts
    (the LSH candidate-pair pattern) recomputes its whole lineage per
    use unless pinned.

    If the session has a reliable checkpoint dir configured
    (``sparkContext.setCheckpointDir``), use ``checkpoint(eager=True)``:
    blocks live in the fault-tolerant store and survive executor loss —
    required at cluster scale with dynamic allocation or spot kills.
    Otherwise fall back to ``localCheckpoint(eager=True)``, whose blocks
    sit on executors: fine for local runs, fragile under executor churn
    — configure a checkpoint dir on real deployments.
    """
    sc = df.sparkSession.sparkContext
    ck = sc.getCheckpointDir() if hasattr(sc, "getCheckpointDir") else None
    if ck:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def trunc_ntz(unit: str, col):
    """Wall-clock timestamp truncation that STAYS ``timestamp_ntz``.

    ``F.date_trunc`` coerces a TIMESTAMP_NTZ input to session-zoned
    TIMESTAMP, which leaks the cluster's ``spark.sql.session.timeZone``
    into results: the same job submitted from another region renders
    (and, for sub-hour-offset zones like +05:30, BUCKETS) the column
    differently, and a memoized/persisted intermediate built under one
    zone replays shifted under another (caught by the round-13 tz
    invariance sweep on ``gap_fill_locf``). This helper truncates from
    the NTZ wall-clock fields directly — no zone conversion anywhere,
    so the result is identical on every cluster, including across DST
    transitions where the NTZ→LTZ hop is lossy.
    """
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("timestamp_ntz")
    u = unit.lower()
    zero = F.lit(0)
    if u == "hour":
        return F.make_timestamp_ntz(
            F.year(c), F.month(c), F.dayofmonth(c), F.hour(c), zero, zero
        )
    if u == "day":
        return c.cast("date").cast("timestamp_ntz")
    if u == "month":
        return F.make_timestamp_ntz(
            F.year(c), F.month(c), F.lit(1), zero, zero, zero
        )
    if u == "quarter":
        return F.make_timestamp_ntz(
            F.year(c), (F.quarter(c) - 1) * 3 + 1, F.lit(1), zero, zero, zero
        )
    raise ValueError(f"unsupported trunc unit: {unit}")
