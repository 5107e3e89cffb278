"""Persisted archive inventory: the dedup/catalog state.

Replaces the reference's O(full-bucket) listing per dedup check
(/root/reference/file/api.go:52-65, called twice per file from
common.go:169-177) with an appended Parquet table — the fix demanded
by SURVEY §4.3.1.  Every append writes one ``part-*.parquet`` file.

Dedup probes do not scan that table.  Each ``InventoryTable`` keeps a
driver-side index: the set of ``(scope, md5)`` pairs, the highest
``ingest_seq`` and the names of the part files already folded in.  A
probe refreshes the index — one Hadoop directory listing, then a read
(with the declared schema, so no inference job) of only the part files
it has not seen — and answers from memory.  On a warm index a
duplicate verdict starts no Spark job and a publish starts one (the
append write).  The refresh keeps instances that share a path
(``batch_ingest``'s and each ``Downloader``'s) consistent: another
writer's part files are unseen, so they are read; a folded-in part
file that disappeared forces a rebuild.  The index is O(distinct
contents) on the driver; the executor-parallel backlog path
(batch.py) keeps the hash anti-join against the table itself.

``current`` is a DERIVED table (SURVEY §3.3: UpdateCurrent.sh rebuilds
pointers from the archive alone): latest row per dataset by ingest
sequence, tie-broken by name.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from downloader_spark.io import hadoop_fs

INVENTORY_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("md5", T.StringType(), False),
        T.StructField("scope", T.StringType(), False),
        T.StructField("dataset", T.StringType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("ingest_seq", T.LongType(), False),
    ]
)


class InventoryTable:
    def __init__(self, path: str) -> None:
        self.path = path
        # the driver-side index (module docstring)
        self._keys: set[tuple[str, str]] = set()
        self._max_seq = 0
        self._files: set[str] = set()

    def exists(self, spark: SparkSession) -> bool:
        fs, hpath = hadoop_fs(spark, self.path)
        return fs.exists(hpath)

    def load(self, spark: SparkSession) -> DataFrame:
        if not self.exists(spark):
            return spark.createDataFrame([], INVENTORY_SCHEMA)
        return spark.read.schema(INVENTORY_SCHEMA).parquet(self.path)

    def _part_files(self, spark: SparkSession) -> set[str]:
        fs, hpath = hadoop_fs(spark, self.path)
        if not fs.exists(hpath):
            return set()
        names = (st.getPath().getName() for st in fs.listStatus(hpath))
        return {n for n in names if n.startswith("part-") and n.endswith(".parquet")}

    def _fold(self, rows: Iterable[tuple[str, str, int]]) -> None:
        for scope, md5, seq in rows:
            self._keys.add((scope, md5))
            self._max_seq = max(self._max_seq, seq)

    def _refresh(self, spark: SparkSession) -> None:
        files = self._part_files(spark)
        if not self._files <= files:  # a folded-in part file is gone
            self._keys, self._max_seq, self._files = set(), 0, set()
        unseen = sorted(files - self._files)
        if unseen:
            base = self.path.rstrip("/")
            self._fold(
                spark.read.schema(INVENTORY_SCHEMA)
                .parquet(*(f"{base}/{n}" for n in unseen))
                .select("scope", "md5", "ingest_seq")
                .collect()
            )
            self._files.update(unseen)

    def append(self, spark: SparkSession, rows: list[tuple]) -> None:
        """Append ``rows`` (INVENTORY_SCHEMA order) as one part file,
        built through Arrow.  The rows are folded into the index only
        when it was current before the write and the write added
        exactly one part file; otherwise the next refresh reads
        whatever is unseen, this write included."""
        before = self._part_files(spark)
        pdf = pd.DataFrame(rows, columns=INVENTORY_SCHEMA.names)
        df = spark.createDataFrame(pdf, INVENTORY_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)
        added = self._part_files(spark) - before
        if rows and before == self._files and len(added) == 1:
            self._fold((r[2], r[1], r[5]) for r in rows)
            self._files.update(added)

    def next_seq(self, spark: SparkSession) -> int:
        self._refresh(spark)
        return self._max_seq + 1

    def is_duplicate(self, spark: SparkSession, scope: str, md5_hex: str) -> bool:
        """True iff the scope already holds this content hash.

        Reference parity with one deliberate strengthening:
        CheckIfHashIsUniqueInList (common.go:183-190) excludes the
        object's OWN name, so a re-download of the same name+content
        re-publishes (idempotent overwrite in an object store).  With
        an append-only inventory that would double-append the catalog
        row, so the same-name+same-content case is treated as a
        duplicate too — same observable archive, append-exactly-once
        catalog.  A same-name NEW content still publishes (new
        version).  The answer is a set lookup in the refreshed
        driver-side index: no scan, no listing of the archive."""
        self._refresh(spark)
        return (scope, md5_hex) in self._keys

    def current_table(self, spark: SparkSession) -> DataFrame:
        """Latest object per dataset — the derived 'current' pointers
        (window row_number=1; same plan as the latest_per_key
        operator, reference A7/A8)."""
        w = Window.partitionBy("dataset").orderBy(
            F.col("ingest_seq").desc(), F.col("name").desc()
        )
        return (
            self.load(spark)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("dataset", "name", "md5", "ingest_seq")
        )

    def stats(self, spark: SparkSession) -> DataFrame:
        """Per-dataset inventory rollup (object count, distinct
        contents, bytes) — the analytic form of the reference's
        metrics surface (A10/A15)."""
        return self.load(spark).groupBy("dataset").agg(
            F.count("*").alias("n_objects"),
            F.countDistinct("md5").alias("n_distinct"),
            F.sum("size").alias("total_bytes"),
        )
