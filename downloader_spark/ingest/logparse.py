"""Creation-log parsing: text → typed work list.

The Spark shape of genRouteViewURLs
(/root/reference/download/routeviews.go:73-113): line scan →
``regexp_extract`` projection → watermark filter → URL projection.
Comment lines drop out because the regex demands leading digits
(routeviews.go:77); malformed seqnums are skipped and counted
(routeviews.go:103-105).

The log's lines become a one-column frame through Arrow (a pandas
frame with a declared schema): a row list would be pickled row by
row, and on a log of a few lines that fixed cost was the whole parse.

The collected work list is O(new files) — a handful of rows per cycle
by construction (the reference sees ~1/day/collector) — so driving
the per-item fetch loop from the driver is not a scale concern; the
DATA path (payload bytes, inventory, dedup) never funnels through the
driver.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from downloader_spark.ingest.config import CREATION_LOG_REGEX


def creation_log_df(spark: SparkSession, log_text: str) -> DataFrame:
    """Parse a creation log into (seqnum, ts, path)."""
    lines = spark.createDataFrame(
        pd.DataFrame({"value": log_text.splitlines()}, dtype=object), "value string"
    )
    parsed = lines.select(
        F.regexp_extract("value", CREATION_LOG_REGEX, 1).alias("seqnum_s"),
        F.regexp_extract("value", CREATION_LOG_REGEX, 2).alias("ts_s"),
        F.regexp_extract("value", CREATION_LOG_REGEX, 3).alias("path"),
    ).filter(F.col("seqnum_s") != "")
    return parsed.select(
        F.col("seqnum_s").cast("int").alias("seqnum"),
        F.timestamp_seconds(F.col("ts_s").cast("bigint")).alias("ts"),
        "path",
    )


def gen_work_items(
    spark: SparkSession, log_text: str, log_url: str, last_downloaded: int
) -> list[tuple[int, str]]:
    """(seqnum, url) for every log row past the watermark, in log
    order (the watermark advances item-by-item, so order matters —
    routeviews.go:45,60-62).  URL = log directory + path
    (routeviews.go:109)."""
    base = log_url[: log_url.rfind("/") + 1]
    rows = (
        creation_log_df(spark, log_text)
        .filter(F.col("seqnum") > last_downloaded)
        .select("seqnum", F.concat(F.lit(base), F.col("path")).alias("url"))
        .collect()
    )
    return [(r.seqnum, r.url) for r in rows]
