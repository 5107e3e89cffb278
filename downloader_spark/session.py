"""SparkSession factory.

Defaults are tuned for the driver harness (local[$SPARK_GRAFT_CPUS],
single JVM) but every setting is the one we'd also want on a real
cluster reading 100 TB:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy);
- Arrow on (all pandas UDF / toPandas traffic is Arrow-batched);
- session timezone pinned to UTC so timestamp semantics are engine-
  independent (the DuckDB oracle treats TIMESTAMP as naive/UTC);
- shuffle partitions sized to the local core count — on a cluster this
  would be ~2-3x total executor cores, and AQE coalesces down anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app: str = "downloader-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the core count: at local scale a
    200-partition shuffle (Spark default) is pure overhead, and AQE's
    coalescePartitions keeps us safe if a stage is bigger than expected.
    """
    n = cpus or default_parallelism()
    sp = shuffle_partitions or n
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{n}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite a sort-merge join to a shuffled hash join at
        # runtime when EVERY post-shuffle partition of the build side
        # is under this threshold (default 0 = never) — the
        # optimization-guide §3.1 knob.  Size-gated per partition, so
        # it is scale-adaptive by construction: on a 100 TB cluster a
        # partition over the threshold keeps the sort-merge plan;
        # locally it removes both sort passes from qualifying joins
        # (r16 A/B/A basket: ~6-8% on join-heavy keys, no per-key
        # regression — unlike preferSortMergeJoin=false, which forced
        # regressions on join_range/dedup_ngram_jaccard and was
        # measured-and-rejected).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "67108864"),
        )
        # Spark's default bypass-merge threshold (200).  Round 17 shipped
        # 0 (always the sort writer) on an 8-key warm-session A/B; the
        # full-registry bench.py run with a cold JVM at local[32] then
        # regressed 153/317 keys (sql_q6 5.3x, keys faster at 8 cores
        # than at 32) and the round's geomean fell to 0.91 — VERDICT.md
        # and PERF_r17.json.  The knob stays for A/B runs; a new value
        # needs that full-registry run.
        .config(
            "spark.shuffle.sort.bypassMergeThreshold",
            os.environ.get("SPARK_GRAFT_BYPASS_MERGE_THRESHOLD", "200"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # The UI is off, but the app-status listener still feeds an
        # in-memory store sized for it (1000 retained jobs/stages,
        # 100k tasks, 1000 SQL executions).  A bench session runs
        # hundreds of thousands of tiny jobs, so the store's constant
        # eviction churn progressively drags the driver: measured r16,
        # a 160-job filler session inflates graph_pagerank 2.9 -> 6.0 s
        # and text_readability 0.47 -> 0.68 s at defaults, while with
        # the small retention bounds below both stay flat (3.0 / 0.45 s).
        # Pure observability-store sizing — no query semantics touched.
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
