"""Executor-parallel batch ingest — the cluster-scale path.

The per-item loop in ``pipeline.Downloader`` is reference-parity mode
(a handful of files per cycle, watermark advanced item-by-item —
routeviews.go:45-62).  When a backlog is large (first run, recovery,
a new source with years of history) the work list should fan out
across executors instead.  This module is that path:

1. FETCH (executors): the work list becomes a DataFrame, partitioned
   across the cluster; ``mapInPandas`` fetches each URL and writes
   the payload to a STAGING prefix of the store — payload bytes never
   visit the driver; only metadata rows (name, md5, size) come back.
2. DEDUP (one shuffle): batch-internal dedup (keep lowest seqnum per
   (scope, md5) — a struct-min aggregation) then an anti-join against
   the persisted inventory on (scope, md5).  Hash keys, no skew.
3. COMMIT (executors): promote the survivors staging→final with a
   ``mapInPandas`` pass partitioned by final name and ordered by
   seqnum within it (same-name survivors — fixed-filename snapshots
   with changed content — land in one partition and the newest copy
   deterministically wins, matching the sequential reference's
   overwrite outcome), then drop all staging objects with a
   ``foreachPartition`` sweep.  Only the tiny survivor-metadata
   collect, the inventory append, the current-pointer copy, and the
   watermark fold stay on the driver, so a 100k-file backlog commits
   with cluster parallelism instead of a serial driver loop.
   Mirrors Spark's own job-commit protocol (stage, then
   atomically-ish promote) and keeps the §4.3.4 dedup-before-publish
   property: a duplicate never becomes visible at its final name.

Staging objects are keyed by ``{seqnum}-{name}`` — unique per work
item — so two items that map to the same object name with different
content (guaranteed for fixed-filename specs) can never overwrite
each other's staged bytes; the published payload always matches the
md5/size its inventory row records.

The store is reconstructed inside executors from a picklable factory
(process-separated Python workers share no driver state), so only
configuration crosses the boundary.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from downloader_spark.ingest.config import SourceSpec
from downloader_spark.ingest.inventory import InventoryTable
from downloader_spark.ingest.notify import NewFileEvent, Notifier
from downloader_spark.ingest.store import Store, md5_hex

STAGING_PREFIX = "_staging/"

FETCH_SCHEMA = (
    "seqnum long, url string, name string, scope string, "
    "md5 string, size long, ok boolean, err string"
)

PROMOTE_SCHEMA = (
    "seqnum long, name string, scope string, md5 string, size long, err string"
)


def staging_key(seqnum: int, name: str) -> str:
    """Per-work-item staging object key: unique even when two items
    share a final object name (fixed-filename specs)."""
    return f"{STAGING_PREFIX}{seqnum}-{name}"


def _fetch_partition(
    spec: SourceSpec, store_factory: Callable[[], Store]
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import urllib.request

        store = store_factory()
        for pdf in batches:
            out = {k: [] for k in
                   ("seqnum", "url", "name", "scope", "md5", "size", "ok", "err")}
            for seqnum, url in zip(pdf["seqnum"], pdf["url"]):
                row = dict(seqnum=int(seqnum), url=url, name="", scope="",
                           md5="", size=0, ok=False, err="")
                try:
                    with urllib.request.urlopen(url) as resp:  # noqa: S310
                        data = resp.read()
                    name = spec.object_name(url)
                    row.update(
                        name=name,
                        scope=spec.dedup_scope(name),
                        md5=md5_hex(data),
                        size=len(data),
                        ok=True,
                    )
                    store.put(staging_key(int(seqnum), name), data)
                except Exception as e:  # noqa: BLE001 - recorded per item
                    row["err"] = str(e)[:200]
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return run


def batch_ingest(
    spark: SparkSession,
    spec: SourceSpec,
    items: list[tuple[int, str]],
    store: Store,
    store_factory: Callable[[], Store],
    inventory: InventoryTable,
    parallelism: int | None = None,
    notifier: Notifier | None = None,
) -> dict:
    """Fan the work list across executors, dedup once, commit.

    Returns a summary dict: published / duplicates / failures counts
    and the safe watermark (highest seqnum with no failure at or
    below it — the batch equivalent of the reference's advance-while-
    error-free rule, routeviews.go:60-62)."""
    if not items:
        return {"published": 0, "duplicates": 0, "failed": 0, "watermark": None}
    n = parallelism or spark.sparkContext.defaultParallelism
    work = spark.createDataFrame(
        pd.DataFrame(items, columns=["seqnum", "url"]), "seqnum long, url string"
    ).repartition(n)
    fetched = work.mapInPandas(
        _fetch_partition(spec, store_factory), schema=FETCH_SCHEMA
    ).cache()
    try:
        rows = fetched.collect()  # metadata only: O(work list), never payloads
        failures = [r for r in rows if not r.ok]

        ok_df = fetched.filter("ok")
        # batch-internal dedup: keep the lowest-seqnum copy per content
        first_per_content = (
            ok_df.groupBy("scope", "md5")
            .agg(F.min(F.struct("seqnum", "name", "url", "size")).alias("m"))
            .select("scope", "md5", "m.seqnum", "m.name", "m.size")
        )
        # anti-join against the persisted inventory (declared-schema
        # scan, scope+md5 columns only)
        inv = inventory.load(spark).select("scope", "md5")
        new_df = first_per_content.join(inv, ["scope", "md5"], "left_anti")

        # executor-side promote: partition by final name, copy in seqnum
        # order within it — same-name survivors resolve newest-wins,
        # deterministically, with no cross-partition write race
        def _promote(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            exec_store = store_factory()
            for pdf in batches:
                errs = []
                for sq, nm in zip(pdf["seqnum"], pdf["name"]):
                    try:
                        exec_store.copy(staging_key(int(sq), nm), nm)
                        errs.append("")
                    except Exception as e:  # noqa: BLE001 - surfaced below
                        errs.append(str(e)[:200])
                yield pdf.assign(err=errs)[
                    ["seqnum", "name", "scope", "md5", "size", "err"]
                ]

        new_rows = (
            new_df.repartition(F.col("name"))
            .sortWithinPartitions("name", "seqnum")
            .select("seqnum", "name", "scope", "md5", "size")
            .mapInPandas(_promote, schema=PROMOTE_SCHEMA)
            .collect()  # survivor metadata only — O(new objects)
        )
        bad = [r for r in new_rows if r.err]
        if bad:
            raise OSError(
                f"{len(bad)} promotion(s) failed; inventory not appended "
                f"(first: {bad[0].name}: {bad[0].err})"
            )

        # driver keeps only the catalog append + current pointer + watermark
        seq0 = inventory.next_seq(spark)
        appended = [
            (r.name, r.md5, r.scope, spec.name, r.size, seq0 + i)
            for i, r in enumerate(sorted(new_rows, key=lambda r: r.seqnum))
        ]
        if appended:
            inventory.append(spark, appended)
            # A16 post-commit notification: one event per newly published
            # object (survivors only — duplicates and failures never fire)
            if notifier is not None:
                for name, md5, _scope, _src, size, _seq in appended:
                    notifier.publish(NewFileEvent(name, md5, spec.name, size))
        if spec.current_name and appended:
            store.copy(appended[-1][0], spec.current_name)

        # executor-side staging sweep over every fetched item (also
        # removes legacy un-seqnum'd '_staging/{name}' objects left by
        # earlier interrupted runs, so they can't accumulate forever)
        def _cleanup(part: Iterator) -> None:
            exec_store = store_factory()
            for r in part:
                for key in (staging_key(int(r.seqnum), r.name),
                            STAGING_PREFIX + r.name):
                    if exec_store.exists(key):
                        exec_store.delete(key)

        ok_df.select("seqnum", "name").foreachPartition(_cleanup)

        ok_seqs = sorted(r.seqnum for r in rows if r.ok)
        failed_seqs = {r.seqnum for r in failures}
        wm = None
        for s in sorted(r.seqnum for r in rows):
            if s in failed_seqs:
                break
            wm = s
        return {
            "published": len(appended),
            "duplicates": len(ok_seqs) - len(appended),
            "failed": len(failures),
            "watermark": wm,
        }
    finally:
        fetched.unpersist()
