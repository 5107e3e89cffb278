"""Genuine Structured Streaming form of the incremental-dedup family
(the daily-crawl loop behind the batch twins
``dedup_minhash_incremental`` and ``dedup_bloom_prefilter``,
operators/round10_ext.py).

A production 100 TB corpus is not re-deduped per day: the corpus-side
artifacts — the LSH band table (MinHash path) and the Bloom bit set +
exact content hashes (prefilter path) — are PERSISTED, and each
arriving delta is checked against them and then folded in.  This
module runs exactly that loop as a ``foreachBatch`` Structured
Streaming pipeline:

- the delta arrives as a file-source stream (micro-batched via
  ``maxFilesPerTrigger``, like the reference's periodic fetch loop —
  ``routeviews.go:60-62`` advances its pointer only after an
  error-free pass, which is the same publish-then-advance discipline
  the per-batch transactional writes below implement);
- corpus state lives in per-batch parquet subdirectories
  (``.../batch_id=N``): each micro-batch OVERWRITES only its own
  subdirectory, so a replayed batch (after a crash before the
  streaming checkpoint committed) is idempotent — rerunning batch N
  cannot duplicate state or matches;
- Spark's streaming checkpoint (offset log) decides which files each
  batch contains, so a restart resumes mid-backlog with no re-reads.

Correctness story (same as the rest of streaming/): the exact-checked
surface is the batch twins; these streaming forms are validated by
EQUIVALENCE in tests/test_streaming_equivalence.py — frozen-corpus
drains must reproduce the batch keys' output exactly, and a
growing-corpus drain must match a batch reconstruction that joins
each delta only against strictly-earlier deltas.

Scale notes: every per-batch join here is |delta|-sized on one side —
band-bipartite (delta bands x corpus bands within a band bucket,
never corpus x corpus), Bloom-probe (3 rows per delta doc against a
broadcastable <= 4096-row bit set), and exact-hash semi-join.  The
corpus artifacts grow additively; nothing ever rescans corpus text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from downloader_spark.io import hadoop_fs
from downloader_spark.operators.llm_dedup import (
    hashed_shingle_sets,
    minhash_band_rows,
    _verified_pairs,
)
from downloader_spark.operators.round10_ext import (
    _BLOOM_K,
    _bloom_pos,
)

DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def docs_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a documents parquet directory (schema
    mandatory — streaming reads never infer)."""
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _state_has_batches(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and contains at least one
    ``batch_id=`` partition subdirectory — probed through
    :func:`~downloader_spark.io.hadoop_fs`, so state discovery works
    wherever the executors' reads do."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath) or not fs.getFileStatus(hpath).isDirectory():
        return False
    return any(
        st.getPath().getName().startswith("batch_id=")
        for st in fs.listStatus(hpath)
    )


def _join_state(state_dir: str, sub: str) -> str:
    """Scheme-preserving child-path join (``os.path.join`` would
    mangle ``hdfs://`` / ``s3a://`` URIs on non-POSIX separators)."""
    return state_dir.rstrip("/") + "/" + sub


def _read_state(
    spark: SparkSession, path: str, schema: str, before_batch: int | None = None
) -> DataFrame:
    """Read a per-batch-partitioned state directory; schema-stable
    empty frame when no batch has been folded in yet.

    ``before_batch=N`` keeps only state folded in by batches strictly
    earlier than N (partition-pruned on the ``batch_id`` directory
    column).  Every ``process_batch`` below passes its own batch_id
    here, which is what makes foreachBatch REPLAYS exact: if a crash
    lands after batch N appended its own bands/shingles/bits but
    before the streaming checkpoint committed, the replayed batch N
    would otherwise read corpus state that already contains itself —
    self-pairs at jaccard 1.0, delta x delta candidates, and doubled
    postings skewing inter/union — and overwrite those spurious rows
    into its results partition permanently.

    State discovery goes through the Hadoop FileSystem API (resolved
    from the path's own scheme), so ``state_dir`` may be a local path,
    a ``file://`` URI, or any cluster filesystem Spark can read
    (``hdfs://``, ``s3a://``, ...) — the same resolution the read
    itself uses.
    """
    if _state_has_batches(spark, path):
        cols = [c.split()[0] for c in schema.split(",")]
        df = spark.read.option("basePath", path).parquet(path)
        if before_batch is not None:
            df = df.filter(F.col("batch_id") < F.lit(before_batch))
        return df.select(*cols)
    return spark.createDataFrame([], schema)


def _write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent per-batch publish: overwrite ONLY this batch's
    subdirectory, so foreachBatch replays (crash between sink write
    and checkpoint commit) converge instead of duplicating."""
    df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")


class IncrementalMinhashDedup:
    """foreachBatch MinHash near-dup dedup against a persisted corpus.

    State under ``state_dir``: ``bands/`` (doc_id, band — the LSH
    artifact the delta joins), ``shingles/`` (doc_id, h — hashed
    shingle postings for exact-Jaccard verification), ``matches/``
    (the emitted near-dup pairs).  ``append_corpus=False`` freezes the
    corpus (audit mode: every delta checked against the same state);
    ``True`` is the daily-crawl mode where batch N's docs join the
    corpus for batch N+1.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        append_corpus: bool = True,
        keep_ratio: int = 2,
    ) -> None:
        self.spark = spark
        self.bands_dir = _join_state(state_dir, "bands")
        self.shingles_dir = _join_state(state_dir, "shingles")
        self.matches_dir = _join_state(state_dir, "matches")
        self.append_corpus = append_corpus
        self.keep_ratio = keep_ratio

    def seed_corpus(self, docs: DataFrame) -> None:
        """Fold an initial corpus in as batch -1 (the bootstrap a
        production pipeline does once, from the existing archive)."""
        ss = hashed_shingle_sets(docs.select("doc_id", "text")).localCheckpoint()
        _write_batch(minhash_band_rows(ss), self.bands_dir, -1)
        _write_batch(ss, self.shingles_dir, -1)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = self.spark
        delta = batch_df.select("doc_id", "text")
        # one pass over the delta text: shingle+hash once, feed both
        # the band table and the verification postings
        ss_new = hashed_shingle_sets(delta).localCheckpoint()
        bands_new = minhash_band_rows(ss_new).localCheckpoint()
        # before_batch: a replayed batch N must see exactly the
        # pre-batch-N corpus, never its own earlier append
        corpus_bands = _read_state(
            spark, self.bands_dir, "doc_id long, band string", before_batch=batch_id
        )
        # bipartite candidates: delta x corpus within a band bucket —
        # never corpus x corpus, never delta x delta
        cand = (
            bands_new.alias("a")
            .join(corpus_bands.alias("b"), F.col("a.band") == F.col("b.band"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        ss_corpus = _read_state(
            spark, self.shingles_dir, "doc_id long, h long", before_batch=batch_id
        )
        # distinct: a doc_id re-crawled across deltas (or present in
        # both the delta and the corpus) would carry duplicate
        # (doc_id, h) postings, doubling set sizes and intersections
        # for every pair touching that doc
        verified = _verified_pairs(
            ss_new.unionByName(ss_corpus).distinct(),
            cand,
            keep_ratio=self.keep_ratio,
        )
        _write_batch(verified, self.matches_dir, batch_id)
        if self.append_corpus:
            _write_batch(bands_new, self.bands_dir, batch_id)
            _write_batch(ss_new, self.shingles_dir, batch_id)

    def matches(self) -> DataFrame:
        return _read_state(
            self.spark,
            self.matches_dir,
            "doc_a long, doc_b long, inter_size int, union_size int,"
            " jacc_ppm long",
        )

    def run(
        self,
        docs_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
    ) -> StreamingQuery:
        """Drain the backlog with AvailableNow (one micro-batch per
        ``max_files_per_trigger`` files), checkpointed so a restart
        resumes after the last committed batch."""
        stream = docs_stream(self.spark, docs_dir, max_files_per_trigger)
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class IncrementalBloomPrefilter:
    """foreachBatch Bloom-membership prefilter for incremental EXACT
    dedup — the streaming form of ``dedup_bloom_prefilter``.

    State under ``state_dir``: ``bits/`` (the <= _BLOOM_M distinct set
    bit positions — the broadcastable sketch), ``hashes/`` (distinct
    md5 content hashes — ground truth the false-positive audit checks
    against), ``results/`` (per-delta-doc verdicts).
    """

    def __init__(
        self, spark: SparkSession, state_dir: str, append_corpus: bool = True
    ) -> None:
        self.spark = spark
        self.bits_dir = _join_state(state_dir, "bits")
        self.hashes_dir = _join_state(state_dir, "hashes")
        self.results_dir = _join_state(state_dir, "results")
        self.append_corpus = append_corpus

    @staticmethod
    def _bit_rows(docs: DataFrame) -> DataFrame:
        pos_cols = F.array(
            *[F.expr(_bloom_pos("spark", j)) for j in range(_BLOOM_K)]
        )
        return docs.select(F.explode(pos_cols).alias("bit")).distinct()

    def seed_corpus(self, docs: DataFrame) -> None:
        d = docs.select("doc_id", "text")
        _write_batch(self._bit_rows(d), self.bits_dir, -1)
        _write_batch(
            d.select(F.md5("text").alias("h")).distinct(), self.hashes_dir, -1
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = self.spark
        delta = batch_df.select("doc_id", "text").localCheckpoint()
        # distinct at read: per-batch appends may set the same bit
        # twice, and a duplicated bit row would multiply the probe join;
        # before_batch keeps a replayed batch from probing its own
        # earlier append (which would mark the whole delta as
        # in_corpus/bloom_hit)
        bits = _read_state(
            spark, self.bits_dir, "bit bigint", before_batch=batch_id
        ).distinct()
        pos_cols = F.array(
            *[F.expr(_bloom_pos("spark", j)) for j in range(_BLOOM_K)]
        )
        probes = delta.select("doc_id", F.explode(pos_cols).alias("bit"))
        hits = (
            probes.join(
                F.broadcast(bits.withColumn("set_", F.lit(1))), "bit", "left"
            )
            .groupBy("doc_id")
            .agg(F.count("set_").cast("long").alias("n_hit"))
        )
        hashes = _read_state(
            spark, self.hashes_dir, "h string", before_batch=batch_id
        )
        exact = (
            delta.select("doc_id", F.md5("text").alias("h"))
            .join(hashes, "h", "left_semi")
            .select("doc_id")
            .withColumn("in_", F.lit(True))
        )
        verdicts = hits.join(exact, "doc_id", "left").select(
            "doc_id",
            (F.col("n_hit") == _BLOOM_K).alias("bloom_hit"),
            F.coalesce(F.col("in_"), F.lit(False)).alias("in_corpus"),
            ((F.col("n_hit") == _BLOOM_K) & F.col("in_").isNull()).alias(
                "is_false_positive"
            ),
        )
        _write_batch(verdicts, self.results_dir, batch_id)
        if self.append_corpus:
            _write_batch(self._bit_rows(delta), self.bits_dir, batch_id)
            _write_batch(
                delta.select(F.md5("text").alias("h")).distinct(),
                self.hashes_dir,
                batch_id,
            )

    def results(self) -> DataFrame:
        return _read_state(
            self.spark,
            self.results_dir,
            "doc_id long, bloom_hit boolean, in_corpus boolean,"
            " is_false_positive boolean",
        )

    def run(
        self,
        docs_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
    ) -> StreamingQuery:
        stream = docs_stream(self.spark, docs_dir, max_files_per_trigger)
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class IncrementalHll:
    """foreachBatch incremental HyperLogLog: each micro-batch of
    events folds into per-batch REGISTER tables (the mergeable
    artifact of ``agg_hll_distinct`` — merge = max per register, so
    per-batch tables simply union and re-aggregate), published with
    the same idempotent per-batch-subdirectory discipline as the
    dedup pipelines above.  ``fold()`` reads the whole register
    history and returns the identical sketch the one-shot batch key
    computes over the union of all batches — the 100 TB rollup
    posture (union registers and re-fold, never re-scan events)
    proven across micro-batches."""

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        self.spark = spark
        self.regs_dir = _join_state(state_dir, "registers")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from downloader_spark.operators.round11_ext import hll_registers

        regs = hll_registers(batch_df.select("event_type", "user_id"))
        _write_batch(regs, self.regs_dir, batch_id)

    def fold(self) -> DataFrame:
        from downloader_spark.operators.round11_ext import hll_fold

        regs = _read_state(
            self.spark, self.regs_dir, "event_type string, bucket long, m int"
        )
        return hll_fold(regs)

    def run(
        self,
        events_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
    ) -> StreamingQuery:
        stream = (
            self.spark.readStream.schema(
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(events_dir)
        )
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
