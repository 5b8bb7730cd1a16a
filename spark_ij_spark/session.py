"""SparkSession factory + table loading for the engine.

Scale-minded defaults: AQE enabled (runtime re-planning, skew-join
handling, partition coalescing), Arrow execution for pandas UDFs, and
shuffle partitions sized for the local test harness (on a real cluster
AQE coalesces; set ``spark.sql.shuffle.partitions`` to ~2-3x total
cores there).

Python workers: sessions from ``get_spark`` start their Python worker
daemon from ``spark_ij_spark.worker_daemon`` (the static
``spark.python.daemon.module`` conf). pyspark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and on
CPython 3.11/3.12 that re-reads every zip archive on the worker's path:
``pyspark.zip``, the py4j zip and the 5,359-entry Spark core jar, about 16
directory reads costing 0.1-0.4 s of CPU per task on a 4-core box. The
daemon re-reads an archive only when it changed on disk; that cut the
``images`` benchmark's median pass from 5.35 to 3.73 s (CHANGES.md). The
module must stay importable wherever the engine's UDFs run, and a
session built outside ``get_spark`` (or created before it, since
``getOrCreate`` then returns that one) runs pyspark's stock daemon.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException, PySparkNotImplementedError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
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
]

def get_spark(app_name: str = "spark_ij_spark", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark's reader
        # rejects it unless read as long (converted back in load_tables)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast policy (the 100 TB rule): static auto-broadcast is
        # OFF because Catalyst's plan-time size estimates of derived
        # frames (aggregated signatures, cached postings) are fiction —
        # at sf~10 they underestimated corpus-sized band/postings
        # frames >10x and the "broadcast" OOMed the driver (measured,
        # SCALING.md round 8). Broadcasts now happen only when (a) the
        # code marks a PROVABLY bounded side with an explicit
        # F.broadcast() hint, or (b) AQE measures the side's TRUE
        # runtime size under the adaptive threshold — so toy-SF plans
        # keep their broadcast speed and scale plans keep their lives.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Static: skips the per-task zip re-reads (module docstring).
        .config("spark.python.daemon.module", "spark_ij_spark.worker_daemon")
    )
    return builder.getOrCreate()


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Restore map-side parallelism when the upstream scan under-splits.

    The driver testdata ships single-row-group parquet files, so every
    map stage over a base table plans as ONE task regardless of core
    count — tokenize/hash/dot-product passes serialize, and any frame
    CACHED off such a scan keeps the 1-partition layout, serializing
    every downstream consumer of the cache too. This helper hash-
    repartitions on the table's stable primary key ONLY when the
    planned partitioning is narrower than the session's default
    parallelism; at scale (row groups >> cores) it is a no-op — zero
    added shuffle, so it is a layout guard, not a local[32] tuning
    constant. Partition count comes from spark.sql.shuffle.partitions
    (conf-parameterized per deploy); the deterministic key avoids the
    round-robin retry hazard (guide §2.5, SPARK-38388)."""
    try:
        if df.rdd.getNumPartitions() >= df.sparkSession.sparkContext.defaultParallelism:
            return df
    except (AnalysisException, PySparkNotImplementedError):
        # A streaming frame has no RDD (AnalysisException), and Spark
        # Connect exposes neither df.rdd nor the SparkContext.
        return df
    return df.repartition(*[F.col(k) for k in keys])


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the driver-generated parquet tables under ``sf_dir``.

    Returns ``{name: DataFrame}`` for every table that exists. Reads are
    plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown and
    column pruning at the scan.
    """
    # The caller may hand us any session (the driver harness builds its
    # own without get_spark()'s builder confs). Timestamp columns hash
    # against naive DuckDB timestamps, so pin UTC at runtime too — a
    # no-op on a UTC host, a correctness guard anywhere else.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out: dict[str, DataFrame] = {}
    for name in names or TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            if name == "events":
                # The caller may hand us any SparkSession (the driver
                # harness builds its own, without get_spark()'s builder
                # confs). nanosAsLong is runtime-settable, so apply it
                # here too; Spark 4.1+ reads TIMESTAMP(NANOS) natively
                # (as timestamp_ntz, truncated to micros) and ignores it.
                try:
                    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                except AnalysisException:
                    # A session that locks the conf (or a Spark that
                    # removed it) keeps its reader; the ts branch below
                    # handles both the long and the timestamp_ntz form.
                    pass
            df = spark.read.parquet(path)
            if name == "events":
                ts_type = dict(df.dtypes)["ts"]
                if ts_type == "bigint":
                    # ts surfaced as nanos-long via nanosAsLong (Spark
                    # <4.1); truncate to micros exactly like DuckDB does.
                    # integer DIV, not FLOOR(ts/1000): bigint/1000 is
                    # double division in Spark SQL and its rounding can
                    # bump the microsecond by 1 vs DuckDB's ns→µs cast.
                    df = df.withColumn(
                        "ts", F.expr("timestamp_micros(ts DIV 1000)")
                    )
                else:
                    # Spark 4.1+ surfaces TIMESTAMP(NANOS) as
                    # timestamp_ntz already truncated to micros (matches
                    # DuckDB's truncating cast). Cast to session-tz
                    # timestamp (UTC, pinned above) so the output schema
                    # is identical across Spark versions.
                    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            out[name] = df
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for SQL access."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
