"""Loaders for the driver-generated parquet tables (TESTDATA.md).

All queries go through ``load_table`` so filters/projections written
against the returned DataFrame reach the parquet scan (predicate
pushdown + column pruning are Catalyst's job once the plan is
declarative — verify with ``.explain('formatted')``: PushedFilters /
ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Pin the session timezone: date_format/date_trunc/extract over
    # TIMESTAMP(_LTZ) are session-tz-dependent, and the oracle engine
    # (DuckDB) treats naive timestamps as UTC.  Runtime-settable, so it
    # also holds under the driver's own session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts has shipped as either parquet TIMESTAMP(MICROS)
        # (reads as TIMESTAMP_NTZ) or TIMESTAMP(NANOS) (unreadable as a
        # timestamp in Spark 4 without nanosAsLong) depending on the
        # driver's generator version.  Normalize both to the session's
        # TIMESTAMP_LTZ at microsecond precision — with the session tz
        # pinned to UTC above, that is value-identical to the DuckDB
        # oracle's naive/UTC TIMESTAMP, so `unix_micros`/`date_format`
        # over ts agree across engines either way.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # nanos layout: truncate ns -> us exactly as DuckDB coerces
            # TIMESTAMP(NANOS) to its us-precision TIMESTAMP
            return df.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
            )
        # micros layout: NTZ -> LTZ is a value no-op under UTC
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, key: str | None = None, n: int | None = None) -> DataFrame:
    """Fan a narrow scan out across the session's cores before
    CPU-dense map-side work (optimization guide §2.5, "input skew":
    one huge unsplittable file leaves the whole map stage on one
    core — repartition immediately after the read).  The sf fixtures
    are single-row-group parquet files, so Spark cannot split them:
    without this, every md5/decode/explode pipeline that runs before
    the first exchange executes on ONE of the session's cores.

    Hash-partitions on ``key`` when given — deterministic, skips the
    sort round-robin repartition pays (SPARK-23207), and lets a
    downstream aggregation/join on the same key reuse the exchange —
    else round-robin.

    Production guard: fires only when the scan's planned partition
    count is below the target width.  A 100 TB input arrives as
    thousands of splits, so there this is a no-op and the payload is
    never shuffled; only the pathological few-big-files layout pays
    the (then tiny, then necessary) rebalance."""
    target = n or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, key) if key else df.repartition(target)


def load_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan.  Always pass an explicit schema in production paths —
    inferSchema is a full extra pass over the data (fatal at 100 TB).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def load_json(
    spark: SparkSession, path: str, schema: str | None = None, **options: str
) -> DataFrame:
    """JSON-lines scan; explicit schema skips the inference pass."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def load_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw line scan (one ``value`` column) — the entry point for the
    regex-parse ingestion pattern (creation logs, SURVEY §1.1/D3)."""
    return spark.read.text(path)


def load_orc(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """ORC scan (columnar alternative to parquet — some upstream lakes
    ship it).  Spark's native ORC reader gives the same predicate
    pushdown and column pruning as parquet; the round-trip + pushdown
    contract is pinned in tests/test_io_loaders.py."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop
    FileSystem resolved from the path's OWN scheme (local path,
    ``file://``, ``hdfs://``, ``s3a://``...), never ``os.path``, so
    driver-side existence checks and listings work wherever the
    executors' reads do.  JVM metadata calls only: no Spark job."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
