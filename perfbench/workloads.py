"""The three workloads: archive_ingest, archive_sql and llm_pipeline.

Each workload has the same life cycle, driven by ``run.py``:

- ``prepare(spark, work_dir, seed)``: generate the seeded inputs (part
  of set-up);
- ``check(spark)``: before the timed passes, run every operation once
  (checking its output where it stands alone); returns ``{check name:
  passed}``.  The first run of a plan in a session compiles it, so
  this is also the warm-up;
- ``run_pass(spark, rng, probe)``: one timed pass, returning one
  record per operation (``name``, ``kind``, ``wall_s``, ``ok``);
  ``min_passes`` is how many a run times at least;
- ``verify(spark)``: after the timed passes, check the state they
  left; returns ``{check name: passed}``.

A pass is a fixed amount of work, so passes of two commits compare.
``probe`` is ``None`` on untraced passes; traced passes get a
``layers.Probe`` that tags each operation's jobs and reads its Catalyst
phases and storage.  Failures are named on stderr.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import functools
import os
import sys
import time
import urllib.request

import pyarrow.parquet as pq

import datagen

# Keys timed per pass.  A whole family does not fit the run length, so
# each workload times a fixed subset spanning its families and their
# cost range (README.md); the seed orders the keys in every pass and
# generates the tables they read.
ARCHIVE_SQL_KEYS = (
    # the reference's own dataflow (operators/reference_core.py)
    "scan_project", "latest_per_key", "dedup_exact_hash", "parse_regex_log",
    # relational families
    "sql_q6_selective", "agg_distinct", "join_inner", "window_rank", "dq_schema_drift",
)
LLM_PIPELINE_KEYS = (
    "embed_kmeans", "graph_degree", "multimodal_png_stats", "dedup_semantic", "text_quality",
)
# the output check runs at the scale the oracle parity tests use
CHECK_SF, TIMED_SF = 0.01, 0.1
CHECK_THREADS = 4


def force(df) -> None:
    """Run the whole plan, keeping result transfer out (as bench.py)."""
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    """Registry keys, timed at sf0.1 and checked at sf0.01 against their
    DuckDB oracles.  The first run of a key in a session compiles its
    plans, so the check pass is also the keys' warm-up."""

    state: dict[str, str] = {}  # no archive state
    min_passes = 2

    def __init__(self, keys: tuple[str, ...]) -> None:
        from downloader_spark.plans.registry import registry

        specs = registry()
        self.specs = {k: specs[k] for k in keys}
        self.sf_dir = self.check_dir = ""

    def prepare(self, spark, work_dir: str, seed: int) -> None:
        self.sf_dir = datagen.write_tables(os.path.join(work_dir, "timed"), TIMED_SF, seed)
        self.check_dir = datagen.write_tables(os.path.join(work_dir, "check"), CHECK_SF, seed)

    def check(self, spark) -> dict[str, bool]:
        """Row count, schema and order-insensitive values against the
        key's DuckDB oracle over the same tables at sf0.01, then one
        untimed run at sf0.1 so the timed pass starts at steady state.
        Untimed, so the keys run from a few driver threads, as the test
        suite's sweeps do."""
        from concurrent.futures import ThreadPoolExecutor

        from tests.oracle import duck_connection, normalize

        con = duck_connection(self.check_dir)

        def one(name: str) -> bool:
            spec = self.specs[name]
            try:
                got = normalize(spec.fn(spark, self.check_dir).toPandas())
                ok = got == normalize(con.cursor().execute(spec.oracle).df())
                force(spec.fn(spark, self.sf_dir))
            except Exception as e:  # noqa: BLE001 - a failed check is reported by name
                print(f"check {name}: {type(e).__name__}: {e}", file=sys.stderr)
                return False
            if not ok:
                print(f"check {name}: output differs from the DuckDB oracle", file=sys.stderr)
            return ok

        with ThreadPoolExecutor(max_workers=CHECK_THREADS) as pool:
            out = dict(zip(self.specs, pool.map(one, self.specs)))
        con.close()
        return out

    def verify(self, spark) -> dict[str, bool]:
        return {}  # each key's output was checked before timing

    def run_pass(self, spark, rng, probe=None) -> list[dict]:
        recs = []
        for name in rng.permutation(list(self.specs)):
            rec = {"name": str(name), "kind": "query", "ok": True}
            fn = self.specs[name].fn
            if probe:
                probe.begin(rec)
            t0 = time.perf_counter()
            try:
                df = fn(spark, self.sf_dir)
                t1 = time.perf_counter()
                if probe:
                    probe.planned(rec, df)
                force(df)
            except Exception as e:  # noqa: BLE001 - a failed op is named, never dropped
                print(f"op {name}: {type(e).__name__}: {e}", file=sys.stderr)
                rec["ok"] = False
                t1 = time.perf_counter()
            t2 = time.perf_counter()
            rec.update(construct_s=t1 - t0, execute_s=t2 - t1, wall_s=t2 - t0)
            if probe:
                probe.end(rec)
            recs.append(rec)
        return recs


# ------------------------------------------------------------------ ingest


class FileFetcher:
    """The ingest loop's HTTP boundary served from ``file://`` URLs."""

    def fetch(self, url: str, auth=None) -> bytes:
        with urllib.request.urlopen(url) as resp:  # noqa: S310 - local file URLs only
            return resp.read()


def _timed_downloader(records: list[dict], probe):
    """A ``Downloader`` whose per-item unit (fetch → dedup verdict →
    publish → current copy) appends one record per call."""
    from downloader_spark.ingest.pipeline import Downloader

    class TimedDownloader(Downloader):
        def _download_one(self, spec, url):
            rec = {"name": url.rsplit("/", 1)[-1], "kind": "item", "url": url,
                   "source": spec.name, "ok": False}
            if probe:
                probe.begin(rec)
            t0 = time.perf_counter()
            try:
                rec["outcome"] = super()._download_one(spec, url)
                rec["ok"] = True
                return rec["outcome"]
            finally:
                rec["wall_s"] = time.perf_counter() - t0
                if probe:
                    probe.end(rec)
                records.append(rec)

    return TimedDownloader


class IngestWorkload:
    """The reference's archive loop: a backfill, then daily cycles with
    one restart, and one incremental-dedup delta per day.

    Every timed episode does the same work (``TIMED``) on fresh state:
    RouteViews v4 history files through ``batch_ingest`` (v6's log
    starts on the first day); ``DAYS`` daily cycles, each with one new
    file per RouteViews family and a Maxmind snapshot that is new on
    the first day and unchanged after (the month-scope duplicate path).
    Before day ``RESTART_DAY`` the watermark file is deleted and the
    downloader rebuilt, so the whole creation-log tail replays as
    duplicates.  Each day's document delta holds sampled documents plus
    near-copies of earlier deltas' documents.

    The warm-up before the timed passes runs the first day of a small
    episode, which starts the Python workers of ``batch_ingest`` and
    compiles the loop's and the streaming dedup's plans; the state the
    first timed episode leaves is checked after the timed passes.  In a
    day the delta drains before the cycle runs; the two share no
    state."""

    DAYS = 2
    RESTART_DAY = 1
    min_passes = 1
    # (backfill files, documents per delta, planted near-copies per delta, days)
    TIMED = (4, 150, 8, DAYS)
    WARM_UP = (1, 30, 0, 1)

    def __init__(self) -> None:
        import downloader_spark.ingest  # noqa: F401
        import downloader_spark.streaming.incremental_dedup  # noqa: F401

        self.work_dir = ""
        self.seed = 0
        self.passes = 0
        self.first: Episode | None = None
        self.state: dict[str, str] = {}  # the last episode's state directories

    def prepare(self, spark, work_dir: str, seed: int) -> None:
        self.work_dir, self.seed = work_dir, seed
        datagen.write_tables(os.path.join(work_dir, "docs"), TIMED_SF, seed,
                             names=("documents",))

    def check(self, spark) -> dict[str, bool]:
        """Warm-up: the backfill, the first day's cycle and its delta of
        a small episode, each on its own state and driver thread."""
        from concurrent.futures import ThreadPoolExecutor

        def warm(part: str) -> list[dict]:
            recs: list[dict] = []
            Episode(self, spark, os.path.join(self.work_dir, f"warm-up-{part}"), self.seed,
                    self.WARM_UP).run(recs, parts=(part,))
            return recs

        with ThreadPoolExecutor(max_workers=3) as pool:
            recs = [r for rs in pool.map(warm, ("backfill", "cycle", "delta")) for r in rs]
        return {f"warm-up {r['name']}": r["ok"] for r in recs}

    def verify(self, spark) -> dict[str, bool]:
        return self.first.check()

    def run_pass(self, spark, rng, probe=None) -> list[dict]:
        self.passes += 1
        recs: list[dict] = []
        ep = Episode(self, spark, os.path.join(self.work_dir, f"pass{self.passes}"),
                     int(rng.integers(1 << 30)), self.TIMED)
        ep.run(recs, probe)
        self.first = self.first or ep
        self.state = {"inventory": ep.inventory.path, "dedup": ep.dedup_dir}
        return recs


def timed_op(recs: list[dict], probe, rec: dict, fn) -> None:
    """Run ``fn`` as one operation: wall time, probe hooks, and a
    failure named and kept (``fn`` returning False also fails it)."""
    if probe:
        probe.begin(rec)
    t0 = time.perf_counter()
    try:
        rec["ok"] = fn() is not False
    except Exception as e:  # noqa: BLE001 - a failed op is named, never dropped
        print(f"op {rec['name']}: {type(e).__name__}: {e}", file=sys.stderr)
        rec["ok"] = False
    rec["wall_s"] = time.perf_counter() - t0
    if probe:
        probe.end(rec)
    recs.append(rec)


class Episode:
    """One archive episode on fresh state under ``root``, and what its
    inputs planted: the unique ``(scope, md5)`` pairs and each
    dataset's newest object."""

    def __init__(self, wl: IngestWorkload, spark, root: str, seed: int, sizes) -> None:
        from downloader_spark.ingest.config import routeviews_source
        from downloader_spark.ingest.inventory import InventoryTable
        from downloader_spark.ingest.store import LocalFSStore

        self.wl, self.spark, self.root, self.seed = wl, spark, root, seed
        self.backfill, self.delta_docs, self.planted, self.days = sizes
        self.up = datagen.IngestInputs(os.path.join(root, "upstream"), seed)
        self.store_root = os.path.join(root, "archive")
        self.store = LocalFSStore(self.store_root)
        self.state_dir = os.path.join(root, "state")
        os.makedirs(self.state_dir, exist_ok=True)
        self.inventory = InventoryTable(os.path.join(self.state_dir, "inventory"))
        self.wm_path = os.path.join(self.state_dir, "watermarks.json")
        self.dedup_dir = os.path.join(root, "dedup")
        self.specs = [
            routeviews_source(f"routeviews-{fam}", self.up.log_url(fam),
                              f"RouteView{fam.replace('v', 'IPv')}/",
                              f"RouteView{fam.replace('v', 'IPv')}/current/routeview.pfx2as.gz")
            for fam in ("v4", "v6")
        ]
        self.expected: set[tuple[str, str]] = set()
        self.last_put: dict[str, str] = {}
        self.planted_pairs: list[tuple[int, int]] = []

    def plant(self, spec, items) -> None:
        from downloader_spark.ingest.store import md5_hex

        for _seq, url in items:
            key = (spec.dedup_scope(spec.object_name(url)), md5_hex(FileFetcher().fetch(url)))
            if key not in self.expected:
                self.expected.add(key)
                self.last_put[spec.name] = key[1]

    def run(self, recs: list[dict], probe=None, parts=("backfill", "cycle", "delta")) -> None:
        """Run the episode, or only some of its ``parts``."""
        from downloader_spark.ingest import batch
        from downloader_spark.ingest.config import maxmind_sources
        from downloader_spark.ingest.store import LocalFSStore
        from downloader_spark.ingest.watermark import WatermarkStore
        from downloader_spark.streaming.incremental_dedup import IncrementalMinhashDedup

        wl, up, spark = self.wl, self.up, self.spark
        v4 = self.specs[0]
        history = [item for b in range(self.backfill)
                   for item in up.add_routeviews("v4", up.day0 - dt.timedelta(self.backfill - b), 1)]
        self.plant(v4, history)

        def backfill():
            res = batch.batch_ingest(spark, v4, history, self.store,
                                     functools.partial(LocalFSStore, self.store_root),
                                     self.inventory)
            WatermarkStore(self.wm_path).set(v4.name, res["watermark"])
            return res["published"] == len(history) and res["failed"] == 0

        if "backfill" in parts:
            timed_op(recs, probe, {"name": "backfill-v4", "kind": "backfill",
                                   "files": len(history)}, backfill)

        docs = os.path.join(wl.work_dir, "docs", "documents.parquet")
        deltas, self.planted_pairs = datagen.doc_deltas(docs, self.seed, self.days,
                                                        self.delta_docs, self.planted)
        dedup = IncrementalMinhashDedup(spark, self.dedup_dir, append_corpus=True)
        delta_dir = os.path.join(self.root, "deltas")
        os.makedirs(delta_dir, exist_ok=True)
        items: list[dict] = []
        downloader_cls = _timed_downloader(items, probe)

        def drain():
            dedup.run(delta_dir, os.path.join(self.root, "dedup-ckpt")).awaitTermination()

        replayed: set[str] = set()
        for d in range(self.days):
            day = up.day0 + dt.timedelta(days=d)
            if "delta" in parts:
                pq.write_table(deltas[d], os.path.join(delta_dir, f"day{d:03d}.parquet"))
                timed_op(recs, probe, {"name": f"delta-{d}", "kind": "delta"}, drain)
            if "cycle" not in parts:
                continue
            if d in (0, wl.RESTART_DAY):
                if d:
                    # a restart that lost the watermark: the whole log
                    # tail replays and must come back as duplicates
                    os.remove(self.wm_path)
                    replayed = {url for fam in up.items for _s, url in up.items[fam]}
                dl = downloader_cls(spark, self.store, FileFetcher(), self.state_dir,
                                    retry_min_s=1.0, retry_max_s=0.5, sleep=lambda _s: None)
            for fam, spec in zip(("v4", "v6"), self.specs):
                self.plant(spec, up.add_routeviews(fam, day, 1))
            up.set_maxmind(change=d == 0)
            self.mm = dataclasses.replace(
                maxmind_sources(f"{day:%Y/%m/%d}/", f"{day:%Y%m%d}T000000Z-")[0],
                url=up.maxmind_url())
            self.plant(self.mm, [(0, self.mm.url)])
            n_items = len(items)
            if not dl.run_cycle([*self.specs, self.mm]):
                recs.append({"name": f"cycle-{d}", "kind": "cycle", "ok": False, "wall_s": 0.0})
            for it in items[n_items:]:
                if it["url"] in replayed and it.get("outcome") != "duplicate":
                    print(f"op {it['name']}: replayed item was {it.get('outcome')}", file=sys.stderr)
                    it["ok"] = False
        recs.extend(items)

    def check(self) -> dict[str, bool]:
        """The archive's end state against what the inputs planted."""
        from downloader_spark.ingest.store import md5_hex
        from downloader_spark.ingest.watermark import WatermarkStore
        from downloader_spark.streaming.incremental_dedup import IncrementalMinhashDedup

        spark, store = self.spark, self.store
        sources = [*self.specs, self.mm]
        inv = self.inventory.load(spark).select("name", "md5", "scope").collect()
        currents = {s.current_name for s in sources}
        listed = {n for n in store.list() if n not in currents}
        current_md5 = {r.dataset: r.md5 for r in self.inventory.current_table(spark).collect()}
        wm = WatermarkStore(self.wm_path)
        pairs = {(r.doc_a, r.doc_b) for r in
                 IncrementalMinhashDedup(spark, self.dedup_dir).matches().collect()}
        checks = {
            "inventory_rows": len(inv) == len(self.expected)
            and {(r.scope, r.md5) for r in inv} == self.expected,
            "store_listing": listed == {r.name for r in inv},
            "current_pointers": all(
                current_md5.get(s.name) == self.last_put[s.name]
                and md5_hex(store.get(s.current_name)) == self.last_put[s.name]
                for s in sources),
            "watermarks": all(wm.get(s.name) == self.up.seq[fam]
                              for fam, s in zip(("v4", "v6"), self.specs)),
            "dedup_planted_pairs": all((a, b) in pairs or (b, a) in pairs
                                       for a, b in self.planted_pairs),
        }
        for name, ok in checks.items():
            if not ok:
                print(f"check {name}: failed", file=sys.stderr)
        return checks


WORKLOADS = {
    "archive_ingest": IngestWorkload,
    "archive_sql": lambda: QueryWorkload(ARCHIVE_SQL_KEYS),
    "llm_pipeline": lambda: QueryWorkload(LLM_PIPELINE_KEYS),
}
