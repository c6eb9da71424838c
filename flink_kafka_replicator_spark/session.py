"""SparkSession factory.

Single place where engine-wide performance knobs live so that tests,
perfbench and the driver entry point all run with the same plan-shaping
configuration. Designed for a multi-executor cluster (AQE, skew-join
handling, sane shuffle sizing) even though CI runs local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for cluster-scale behavior:
#  - AQE on: runtime re-plan (partition coalescing, skew-join splitting,
#    dynamic broadcast) is the single biggest win at 100 TB.
#  - shuffle.partitions is a *starting* number; AQE coalesces down.
#  - maxPartitionBytes 128m keeps scan tasks memory-bounded at scale.
#  - session timezone pinned to UTC so timestamp semantics match the
#    DuckDB oracle (naive/UTC parquet timestamps) everywhere.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas interchange (mapInPandas / pandas_udf paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # Testdata writers have shipped events.ts as TIMESTAMP(NANOS) (which
    # the Spark reader otherwise rejects — read as long) and as naive
    # micros (inferred TIMESTAMP_NTZ). io.load_table normalizes every
    # layout to TimestampType; this conf only keeps the nanos layout
    # readable at all.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_session(
    app_name: str = "flink-kafka-replicator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard confs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    else:
        # Respect a cluster master injected by spark-submit/env — calling
        # .master() unconditionally would silently downgrade a YARN/k8s
        # submission to single-node local mode. Default to local[N] only
        # when nothing set one.
        from pyspark.conf import SparkConf

        if not SparkConf().contains("spark.master"):
            builder = builder.master(f"local[{cpus}]")
    confs = dict(ENGINE_CONFS)
    # In local mode the driver JVM hosts every executor thread; the 1g
    # default heap GC-thrashes as soon as N-way parallel tasks explode
    # arrays. Only effective at JVM launch — a pre-existing session
    # keeps its heap (the driver's own session is its own business).
    confs.setdefault(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    )
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver process's cwd/sys.path (pickled closures may reference it)."""
    if getattr(spark, "_fkr_pkg_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(
        tempfile.gettempdir(), f"fkr_spark_pkg_{os.getpid()}"
    )
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)
    spark._fkr_pkg_shipped = True  # type: ignore[attr-defined]


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created session.

    The driver hands us its own SparkSession; timestamp parity with the
    DuckDB oracle requires the UTC session timezone, and AQE is runtime
    settable too.
    """
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        # runtime-settable: Arrow-accelerates the driver's toPandas()
        # in the correctness gate (mapInPandas uses Arrow regardless)
        "spark.sql.execution.arrow.pyspark.enabled",
    ):
        spark.conf.set(k, ENGINE_CONFS[k])
    _ship_package(spark)
    return spark
