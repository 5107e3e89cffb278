"""Ingest framework tests, mirroring the reference's test strategy
(SURVEY §5): table-driven retry-path goldens
(download/common_test.go:211-256), failure-injecting store fake
(common_test.go:23-81), a golden creation-log fixture
(routeviews_test.go:54-69 format), and end-to-end pipeline runs
asserting watermark advancement (routeviews_test.go:98-100) — plus
the Spark-side additions: persisted inventory, derived current table,
restart durability.
"""

from __future__ import annotations

import functools
import hashlib
import random
import uuid

import pyarrow.parquet as pq
import pytest

from downloader_spark.ingest import (
    Downloader,
    InMemoryStore,
    PermanentError,
    SourceSpec,
    gen_uniform_sleep_time,
    maxmind_sources,
    routeviews_source,
    run_with_retry,
)
from downloader_spark.ingest.batch import batch_ingest
from downloader_spark.ingest.fetcher import FakeFetcher, FetchError
from downloader_spark.ingest.inventory import InventoryTable
from downloader_spark.ingest.logparse import creation_log_df, gen_work_items
from downloader_spark.ingest.store import LocalFSStore

# A creation log in the reference's format (routeviews.go:25-31):
# comment lines, then "<seqnum> <unix-ts> <relative-path>" rows.
LOG_FIXTURE = """\
# RouteViews generation log
# seqnum\ttimestamp\tpath
1100\t1700000000\t2023/11/routeviews-rv2-20231114-1200.pfx2as.gz
1101\t1700086400\t2023/11/routeviews-rv2-20231115-1200.pfx2as.gz
1102\t1700172800\t2023/11/routeviews-rv2-20231116-1200.pfx2as.gz
"""

LOG_URL = "http://fake.test/logs/pfx2as-creation.log"


def _url(path: str) -> str:
    return "http://fake.test/logs/" + path


# ------------------------------------------------------------- retry

class _Flaky:
    def __init__(self, failures: int, exc: Exception | None = None):
        self.failures = failures
        self.exc = exc or FetchError("transient")
        self.calls = 0

    def __call__(self):
        self.calls += 1
        if self.calls <= self.failures:
            raise self.exc
        return "ok"


def test_retry_success_first_try():
    f = _Flaky(0)
    assert run_with_retry(f, 1, 8, sleep=lambda s: None) == "ok"
    assert f.calls == 1


def test_retry_recoverable_then_success_with_doubling_ladder():
    slept: list[float] = []
    f = _Flaky(3)
    assert run_with_retry(f, 1, 8, sleep=slept.append) == "ok"
    assert f.calls == 4
    assert slept == [1, 2, 4]  # exponential ladder, common.go:157-158


def test_retry_permanent_stops_immediately():
    f = _Flaky(5, exc=PermanentError("fatal"))
    with pytest.raises(PermanentError):
        run_with_retry(f, 1, 8, sleep=lambda s: None)
    assert f.calls == 1


def test_retry_gives_up_past_max():
    slept: list[float] = []
    f = _Flaky(99)
    with pytest.raises(FetchError):
        run_with_retry(f, 1, 8, sleep=slept.append)
    # ladder: 1,2,4,8 then retry_time=16 > 8 -> next failure is final
    assert slept == [1, 2, 4, 8]
    assert f.calls == 5


def test_gen_uniform_sleep_time_bounds_and_determinism():
    rng = random.Random(0)
    vals = [gen_uniform_sleep_time(24 * 3600, 4 * 3600, rng) for _ in range(100)]
    assert all(22 * 3600 <= v <= 26 * 3600 for v in vals)
    assert vals == [
        gen_uniform_sleep_time(24 * 3600, 4 * 3600, random.Random(0))
        for _ in range(1)
    ] + vals[1:]  # seeded determinism (reference: rand.Seed(0) golden)


# ------------------------------------------------------- store fake

def test_inmemory_store_failure_injection():
    st = InMemoryStore()
    st.put("a/b", b"x")
    st.copy("a/b", "a/current")
    assert st.get("a/current") == b"x"
    with pytest.raises(OSError):
        st.copy("a/b", "a/copyFail-current")
    with pytest.raises(OSError):
        st.put("a/putFail", b"x")
    st.delete("a/current")
    assert not st.exists("a/current")


# ------------------------------------------------------- log parsing

def test_creation_log_parse_skips_comments(spark):
    df = creation_log_df(spark, LOG_FIXTURE)
    rows = df.orderBy("seqnum").collect()
    assert [r.seqnum for r in rows] == [1100, 1101, 1102]
    assert rows[0].path.endswith("20231114-1200.pfx2as.gz")
    assert rows[0].ts.year == 2023


def test_gen_work_items_watermark_and_url_projection(spark):
    work = gen_work_items(spark, LOG_FIXTURE, LOG_URL, last_downloaded=1100)
    assert [w[0] for w in work] == [1101, 1102]
    assert work[0][1] == _url("2023/11/routeviews-rv2-20231115-1200.pfx2as.gz")
    assert gen_work_items(spark, LOG_FIXTURE, LOG_URL, 1102) == []  # caught up


# -------------------------------------------------------- end-to-end

@pytest.fixture()
def rv_spec() -> SourceSpec:
    return routeviews_source(
        "routeviews-ipv4",
        LOG_URL,
        "RouteViewIPv4/",
        "RouteViewIPv4/current/routeview.pfx2as.gz",
    )


def _responses() -> dict[str, bytes]:
    return {
        LOG_URL: LOG_FIXTURE.encode(),
        _url("2023/11/routeviews-rv2-20231114-1200.pfx2as.gz"): b"payload-1100",
        _url("2023/11/routeviews-rv2-20231115-1200.pfx2as.gz"): b"payload-1101",
        _url("2023/11/routeviews-rv2-20231116-1200.pfx2as.gz"): b"payload-1102",
    }


def _mk_downloader(spark, tmp_path, fetcher, store=None) -> Downloader:
    return Downloader(
        spark,
        store or InMemoryStore(),
        fetcher,
        str(tmp_path / "state"),
        retry_min_s=1,
        retry_max_s=4,
        sleep=lambda s: None,
    )


def test_incremental_ingest_end_to_end(spark, tmp_path, rv_spec):
    store = InMemoryStore()
    dl = _mk_downloader(spark, tmp_path, FakeFetcher(_responses()), store)
    assert dl.run_cycle([rv_spec])

    # objects land under the YYYY/MM/ partition lifted from the URL
    assert store.exists(
        "RouteViewIPv4/2023/11/routeviews-rv2-20231116-1200.pfx2as.gz"
    )
    # current pointer = last published object's bytes
    assert store.get(rv_spec.current_name) == b"payload-1102"
    # watermark checkpointed at the last seqnum
    assert dl.watermarks.get(rv_spec.name) == 1102
    # inventory has one row per object
    assert dl.inventory.load(spark).count() == 3

    # second cycle: nothing past the watermark -> no new work
    calls_before = len(dl.fetcher.calls)
    assert dl.run_cycle([rv_spec])
    assert len(dl.fetcher.calls) == calls_before + 1  # only the log fetch


def test_watermark_persists_across_restart(spark, tmp_path, rv_spec):
    dl = _mk_downloader(spark, tmp_path, FakeFetcher(_responses()))
    assert dl.run_cycle([rv_spec])
    # "restart": new Downloader over the same state dir
    dl2 = _mk_downloader(spark, tmp_path, FakeFetcher(_responses()))
    assert dl2.watermarks.get(rv_spec.name) == 1102
    assert dl2.run_cycle([rv_spec])
    assert dl2.inventory.load(spark).count() == 3  # nothing re-ingested


def test_duplicate_content_is_not_republished(spark, tmp_path):
    # Directory dedup scope (the documented Maxmind-style semantics,
    # maxmind.go:13): same content under a different name in the same
    # month directory is a duplicate.  (The reference's RouteViews
    # whole-name scope makes cross-name content dedup vacuous by
    # design — SURVEY §2.A/A6.)
    spec = SourceSpec(
        name="routeviews-dirscope",
        kind="incremental",
        url=LOG_URL,
        path_prefix="RouteViewIPv4/",
        current_name="RouteViewIPv4/current/routeview.pfx2as.gz",
        url_regexp=r".*?(\d{4}/\d{2}/)(.*)",
        dedup_regexp=r"(.*/).*",
    )
    responses = _responses()
    # 1102's payload duplicates 1101's -> same md5, same month dir
    responses[_url("2023/11/routeviews-rv2-20231116-1200.pfx2as.gz")] = b"payload-1101"
    store = InMemoryStore()
    dl = _mk_downloader(spark, tmp_path, FakeFetcher(responses), store)
    assert dl.run_cycle([spec])
    # duplicate was never written (dedup-before-write), watermark still advanced
    assert not store.exists(
        "RouteViewIPv4/2023/11/routeviews-rv2-20231116-1200.pfx2as.gz"
    )
    assert dl.watermarks.get(spec.name) == 1102
    assert dl.inventory.load(spark).count() == 2
    # current points at the last NEW content
    assert store.get(spec.current_name) == b"payload-1101"


def test_failed_item_halts_watermark_but_not_downloads(spark, tmp_path, rv_spec):
    responses = _responses()
    del responses[_url("2023/11/routeviews-rv2-20231115-1200.pfx2as.gz")]  # 1101 404s
    store = InMemoryStore()
    dl = _mk_downloader(spark, tmp_path, FakeFetcher(responses), store)
    assert not dl.run_cycle([rv_spec])
    # 1100 succeeded and advanced the watermark; 1101 failed; 1102 still
    # downloaded but the watermark must NOT advance past the failure
    # (routeviews.go:60-62)
    assert store.exists("RouteViewIPv4/2023/11/routeviews-rv2-20231116-1200.pfx2as.gz")
    assert dl.watermarks.get(rv_spec.name) == 1100
    assert dl.failed_downloads["routeviews-ipv4"] == 1
    # next cycle with the fixed source refetches 1101 AND re-sees 1102
    # (dedup absorbs the re-download of 1102)
    dl2 = _mk_downloader(spark, tmp_path, FakeFetcher(_responses()), store)
    assert dl2.run_cycle([rv_spec])
    assert dl2.watermarks.get(rv_spec.name) == 1102
    assert dl2.inventory.load(spark).count() == 3  # 1102 deduped on refetch


def test_transient_fetch_failures_are_retried(spark, tmp_path, rv_spec):
    fetcher = FakeFetcher(
        _responses(),
        fail_first={_url("2023/11/routeviews-rv2-20231115-1200.pfx2as.gz"): 2},
    )
    dl = _mk_downloader(spark, tmp_path, fetcher)
    assert dl.run_cycle([rv_spec])
    assert dl.watermarks.get(rv_spec.name) == 1102


def test_snapshot_source_and_current_copy_failure_is_permanent(spark, tmp_path):
    specs = maxmind_sources("2023/11/16/", "20231116T120000Z-")
    spec = specs[0]
    fetcher = FakeFetcher({spec.url: b"geolite-bytes"})
    store = InMemoryStore()
    dl = _mk_downloader(spark, tmp_path, fetcher, store)
    assert dl.ingest_snapshot(spec) == "published"
    assert store.get("Maxmind/current/GeoLite2-City.tar.gz") == b"geolite-bytes"
    # month-directory dedup scope (maxmind.go:13): re-ingest same
    # content under the same month -> duplicate
    assert dl.ingest_snapshot(spec) == "duplicate"

    # copy-to-current failure must be permanent (common.go:118): no retry
    bad = SourceSpec(
        name="maxmind-bad",
        kind="snapshot",
        url=spec.url,
        path_prefix="Maxmind/2023/11/17/",
        current_name="Maxmind/current/copyFail.tar.gz",
        fixed_filename="GeoLite2-City.tar.gz",
        dedup_regexp=r"(.*/).*/.*",
    )
    fetcher2 = FakeFetcher({spec.url: b"new-geolite-bytes"})
    dl2 = Downloader(
        spark, store, fetcher2, str(tmp_path / "state"),
        retry_min_s=1, retry_max_s=4, sleep=lambda s: None,
    )
    with pytest.raises(PermanentError):
        dl2.ingest_snapshot(bad)
    assert len(fetcher2.calls) == 1  # permanent -> exactly one attempt
    assert dl2.error_count["Copy to Current Error"] == 1


def test_current_table_is_derived_from_inventory(spark, tmp_path, rv_spec):
    dl = _mk_downloader(spark, tmp_path, FakeFetcher(_responses()))
    assert dl.run_cycle([rv_spec])
    cur = {r.dataset: r for r in dl.current_table().collect()}
    assert cur["routeviews-ipv4"].name.endswith("20231116-1200.pfx2as.gz")
    stats = dl.inventory.stats(spark).collect()[0]
    assert stats.n_objects == 3 and stats.n_distinct == 3
    m = {(r.metric, r.label): r.value for r in dl.metrics_df().collect()}
    assert ("downloader_last_success_time_seconds", "") in m


def test_full_cycle_all_three_sources(spark, tmp_path, rv_spec):
    """The downloader.go:59-103 shape: one cycle over Maxmind + both
    RouteViews sources; last-success gauge advances only on an
    all-green cycle."""
    rv6 = routeviews_source(
        "routeviews-ipv6",
        LOG_URL,
        "RouteViewIPv6/",
        "RouteViewIPv6/current/routeview.pfx2as.gz",
    )
    mm = maxmind_sources("2023/11/16/", "20231116T120000Z-")[0]
    responses = _responses()
    responses[mm.url] = b"geolite-bytes"
    store = InMemoryStore()
    dl = _mk_downloader(spark, tmp_path, FakeFetcher(responses), store)
    assert dl.run_cycle([mm, rv_spec, rv6])
    assert dl.last_success_time is not None
    # all three current pointers exist
    assert store.get("Maxmind/current/GeoLite2-City.tar.gz") == b"geolite-bytes"
    assert store.exists("RouteViewIPv4/current/routeview.pfx2as.gz")
    assert store.exists("RouteViewIPv6/current/routeview.pfx2as.gz")
    # both incremental watermarks advanced independently
    assert dl.watermarks.get("routeviews-ipv4") == 1102
    assert dl.watermarks.get("routeviews-ipv6") == 1102
    # inventory: 1 maxmind + 3 v4 + 3 v6
    assert dl.inventory.load(spark).count() == 7
    cur = {r.dataset for r in dl.current_table().collect()}
    assert cur == {"maxmind-geolite2-city", "routeviews-ipv4", "routeviews-ipv6"}

    # a failing source makes the cycle not-ok and freezes the gauge
    bad = SourceSpec(name="broken", kind="snapshot", url="http://fake.test/404")
    t0 = dl.last_success_time
    assert not dl.run_cycle([mm, bad])
    assert dl.last_success_time == t0
    assert dl.failed_downloads["broken"] == 1


def test_run_forever_cycles_with_jittered_sleep(spark, tmp_path, rv_spec):
    slept: list[float] = []
    dl = Downloader(
        spark,
        InMemoryStore(),
        FakeFetcher(_responses()),
        str(tmp_path / "state"),
        retry_min_s=1,
        retry_max_s=4,
        sleep=slept.append,
    )
    ok = dl.run_forever(
        [rv_spec],
        interval_s=3600,
        deviation_s=600,
        max_cycles=3,
        rng=random.Random(0),
    )
    assert ok == 3
    # slept between cycles (not after the last), inside the jitter band
    inter_cycle = [s for s in slept if s > 100]
    assert len(inter_cycle) == 2
    assert all(3300 <= s <= 3900 for s in inter_cycle)
    # watermark done after cycle 1; later cycles fetch only the log
    assert dl.watermarks.get(rv_spec.name) == 1102


# ------------------------------------------- driver-side inventory index

def _inv_row(name: str, md5: str, scope: str, seq: int) -> tuple:
    return (name, md5, scope, "ds", 1, seq)


def test_inventory_index_sees_another_instances_appends(spark, tmp_path):
    path = str(tmp_path / "inventory")
    a, b = InventoryTable(path), InventoryTable(path)
    a.append(spark, [_inv_row("s/n1", "m1", "s/", 1)])
    assert a.is_duplicate(spark, "s/", "m1")
    assert not a.is_duplicate(spark, "s/", "m2")
    assert b.next_seq(spark) == 2
    b.append(spark, [_inv_row("s/n2", "m2", "s/", 2)])
    # a's index was warm; b's part file is unseen, so a's refresh reads it
    assert a.is_duplicate(spark, "s/", "m2")
    assert a.next_seq(spark) == 3


def test_inventory_index_rebuilds_when_part_file_removed(spark, tmp_path):
    inv = InventoryTable(str(tmp_path / "inventory"))
    inv.append(spark, [_inv_row("s/n1", "m1", "s/", 1)])
    inv.append(spark, [_inv_row("s/n2", "m2", "s/", 2)])
    assert inv.is_duplicate(spark, "s/", "m2") and inv.next_seq(spark) == 3
    [second] = [
        f for f in (tmp_path / "inventory").glob("part-*.parquet")
        if pq.read_table(f).column("md5").to_pylist() == ["m2"]
    ]
    second.unlink()
    assert not inv.is_duplicate(spark, "s/", "m2")
    assert inv.is_duplicate(spark, "s/", "m1")
    assert inv.next_seq(spark) == 2


def test_same_md5_under_another_scope_is_not_duplicate(spark, tmp_path):
    inv = InventoryTable(str(tmp_path / "inventory"))
    inv.append(spark, [_inv_row("a/x", "m1", "a/", 1)])
    assert inv.is_duplicate(spark, "a/", "m1")
    assert not inv.is_duplicate(spark, "b/", "m1")


def _file_items(tmp_path) -> list[tuple[int, str]]:
    """file:// work items serving the fixture payloads under the same
    YYYY/MM/ paths as the fake log, so both ingest paths produce the
    same object names."""
    items = []
    for url, data in _responses().items():
        if url == LOG_URL:
            continue
        f = tmp_path / "remote" / url[len(_url("")):]
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_bytes(data)
        items.append((int(data.decode().rsplit("-", 1)[1]), f"file://{f}"))
    return sorted(items)


def _batch(spark, tmp_path, spec, items) -> dict:
    root = str(tmp_path / "archive")
    return batch_ingest(
        spark, spec, items, LocalFSStore(root),
        functools.partial(LocalFSStore, root),
        InventoryTable(str(tmp_path / "state" / "inventory")),
    )


def test_batch_ingest_then_downloader_dedups(spark, tmp_path, rv_spec):
    summary = _batch(spark, tmp_path, rv_spec, _file_items(tmp_path)[:2])
    assert summary["published"] == 2
    dl = _mk_downloader(spark, tmp_path, FakeFetcher(_responses()),
                        LocalFSStore(str(tmp_path / "archive")))
    assert dl.ingest_incremental(rv_spec) == ["duplicate", "duplicate", "published"]
    seqs = sorted(r.ingest_seq for r in dl.inventory.load(spark).collect())
    assert seqs == [1, 2, 3]


def test_downloader_then_batch_ingest_dedups(spark, tmp_path, rv_spec):
    responses = _responses()
    responses[LOG_URL] = "".join(LOG_FIXTURE.splitlines(True)[:-1]).encode()
    dl = _mk_downloader(spark, tmp_path, FakeFetcher(responses),
                        LocalFSStore(str(tmp_path / "archive")))
    assert dl.ingest_incremental(rv_spec) == ["published", "published"]
    summary = _batch(spark, tmp_path, rv_spec, _file_items(tmp_path))
    assert summary["published"] == 1 and summary["duplicates"] == 2
    # the downloader's warm index picks up the batch's part file
    name = rv_spec.object_name(_url("2023/11/routeviews-rv2-20231116-1200.pfx2as.gz"))
    digest = hashlib.md5(b"payload-1102").hexdigest()
    assert dl.inventory.is_duplicate(spark, rv_spec.dedup_scope(name), digest)
    assert dl.inventory.next_seq(spark) == 4


def _jobs_started(spark, fn) -> int:
    """Spark jobs ``fn`` starts, counted by the status tracker under a
    job group of its own."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_budget_duplicate_probe_and_publish(spark, tmp_path):
    """A duplicate verdict on a warm index starts no Spark job and a
    publish starts exactly one (the inventory append write)."""
    spec = maxmind_sources("2023/11/16/", "20231116T120000Z-")[0]
    fetcher = FakeFetcher({spec.url: b"geolite-v1"})
    dl = _mk_downloader(spark, tmp_path, fetcher)
    assert dl.ingest_snapshot(spec) == "published"
    outcome: list[str] = []
    assert _jobs_started(spark, lambda: outcome.append(dl.ingest_snapshot(spec))) == 0
    fetcher.responses[spec.url] = b"geolite-v2"
    assert _jobs_started(spark, lambda: outcome.append(dl.ingest_snapshot(spec))) == 1
    assert outcome == ["duplicate", "published"]
    assert dl.inventory.load(spark).count() == 2
