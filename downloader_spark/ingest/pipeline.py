"""The ingest orchestrator: fetch → name → dedup → publish → current.

Behavioral parity with the reference's two source loops
(/root/reference/download/maxmind.go:32-54, routeviews.go:39-66)
under the retry ladder (common.go:147-160), with the four SURVEY
§4.3 fixes applied:

- dedup BEFORE write (transactional publish; the reference writes
  then deletes duplicates, common.go:106-130 — its delete can fail
  and leave dups);
- dedup state = persisted inventory table, probed through its
  driver-side index (no full-bucket listings, no per-item scans);
- watermark checkpointed, advanced per item only while the cycle is
  error-free (routeviews.go:60-62);
- 'current' pointer updated only for genuinely new content
  (common.go:114-121); copy failure is PERMANENT (common.go:118).

Metrics parity (A15, metrics/metrics.go:13-53): labeled counters +
last-success gauge, exposed analytically as a DataFrame.
"""

from __future__ import annotations

import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from downloader_spark.ingest.config import SourceSpec
from downloader_spark.ingest.fetcher import Fetcher
from downloader_spark.ingest.inventory import InventoryTable
from downloader_spark.ingest.logparse import gen_work_items
from downloader_spark.ingest.notify import NewFileEvent, Notifier
from downloader_spark.ingest.retry import PermanentError, run_with_retry
from downloader_spark.ingest.store import Store, md5_hex
from downloader_spark.ingest.watermark import WatermarkStore


class Downloader:
    def __init__(
        self,
        spark: SparkSession,
        store: Store,
        fetcher: Fetcher,
        state_dir: str,
        retry_min_s: float = 60.0,
        retry_max_s: float = 480.0,
        sleep=time.sleep,
        notifier: Notifier | None = None,
    ) -> None:
        self.spark = spark
        self.store = store
        self.fetcher = fetcher
        self.inventory = InventoryTable(f"{state_dir}/inventory")
        self.watermarks = WatermarkStore(f"{state_dir}/watermarks.json")
        self.retry_min_s = retry_min_s
        self.retry_max_s = retry_max_s
        self.sleep = sleep
        self.notifier = notifier  # A16 post-commit hook (notify.py)
        # metrics/metrics.go:13-53 counter parity
        self.failed_downloads: Counter[str] = Counter()
        self.error_count: Counter[str] = Counter()
        self.routeviews_url_errors: Counter[str] = Counter()
        self.last_success_time: float | None = None

    # ------------------------------------------------------------ cycle

    def run_cycle(self, sources: list[SourceSpec]) -> bool:
        """One scrape cycle over every source (loopOverURLsForever body,
        downloader.go:59-103).  Returns True iff every source
        succeeded; the last-success gauge advances only then
        (downloader.go:98-100)."""
        ok = True
        for spec in sources:
            try:
                if spec.kind == "snapshot":
                    self.ingest_snapshot(spec)
                else:
                    self.ingest_incremental(spec)
            except Exception:
                ok = False
                self.failed_downloads[spec.name] += 1
        if ok:
            self.last_success_time = time.time()
        return ok

    def ingest_snapshot(self, spec: SourceSpec) -> str:
        """Fixed-URL snapshot source (MaxmindFiles body)."""
        return run_with_retry(
            lambda: self._download_one(spec, spec.url),
            self.retry_min_s,
            self.retry_max_s,
            self.sleep,
        )

    def ingest_incremental(self, spec: SourceSpec) -> list[str]:
        """Log-driven incremental source (CaidaRouteviewsFiles body):
        parse log, filter past watermark, ingest in log order,
        advance the checkpointed watermark per item only while
        error-free."""
        try:
            log_text = run_with_retry(
                lambda: self.fetcher.fetch(spec.url),
                self.retry_min_s,
                self.retry_max_s,
                self.sleep,
            ).decode()
        except Exception:
            # metrics.go:45-52: URL-list retrieval failures get their
            # own labeled counter
            self.routeviews_url_errors[spec.name] += 1
            raise
        work = gen_work_items(
            self.spark, log_text, spec.url, self.watermarks.get(spec.name)
        )
        outcomes: list[str] = []
        last_err: Exception | None = None
        for seqnum, url in work:
            try:
                outcomes.append(
                    run_with_retry(
                        lambda u=url: self._download_one(spec, u),
                        self.retry_min_s,
                        self.retry_max_s,
                        self.sleep,
                    )
                )
            except Exception as e:  # keep going; stop advancing watermark
                last_err = e
                self.failed_downloads[spec.path_prefix] += 1
            if last_err is None:
                self.watermarks.set(spec.name, seqnum)
        if last_err is not None:
            raise last_err
        return outcomes

    def run_forever(
        self,
        sources: list[SourceSpec],
        interval_s: float = 24 * 3600,
        deviation_s: float = 4 * 3600,
        max_cycles: int | None = None,
        rng=None,
    ) -> int:
        """The reference's main loop (loopOverURLsForever,
        downloader.go:59-103): run cycles forever, sleeping a
        uniformly-jittered interval between them (24h ± 2h defaults,
        downloader.go:22,26 — the anti-thundering-herd jitter).
        ``max_cycles`` bounds the loop for tests; returns the number
        of fully-successful cycles."""
        from downloader_spark.ingest.retry import gen_uniform_sleep_time

        ok_cycles = 0
        cycle = 0
        while max_cycles is None or cycle < max_cycles:
            if self.run_cycle(sources):
                ok_cycles += 1
            cycle += 1
            if max_cycles is not None and cycle >= max_cycles:
                break
            self.sleep(gen_uniform_sleep_time(interval_s, deviation_s, rng))
        return ok_cycles

    # ------------------------------------------------------------ item

    def _download_one(self, spec: SourceSpec, url: str) -> str:
        """One fetch→dedup→publish→current unit (download,
        common.go:61-132).  Returns 'published' or 'duplicate'."""
        data = self.fetcher.fetch(url, auth=spec.basic_auth)
        name = spec.object_name(url)
        scope = spec.dedup_scope(name)
        digest = md5_hex(data)

        # Dedup BEFORE write: the publish is atomic (nothing to delete
        # on the duplicate path — inverts common.go:123-129).
        if self.inventory.is_duplicate(self.spark, scope, digest):
            return "duplicate"

        self.store.put(name, data)
        self.inventory.append(
            self.spark,
            [
                (
                    name,
                    digest,
                    scope,
                    spec.name,
                    len(data),
                    self.inventory.next_seq(self.spark),
                )
            ],
        )
        # A16 post-commit notification: fires once per published object,
        # never for duplicates (we returned above) or failures (we raised)
        if self.notifier is not None:
            self.notifier.publish(NewFileEvent(name, digest, spec.name, len(data)))
        if spec.current_name:
            try:
                self.store.copy(name, spec.current_name)
            except Exception as e:
                self.error_count["Copy to Current Error"] += 1
                # common.go:118: copy-to-current failure is permanent
                raise PermanentError(str(e)) from e
        return "published"

    # ---------------------------------------------------------- derived

    def current_table(self) -> DataFrame:
        return self.inventory.current_table(self.spark)

    def metrics_df(self) -> DataFrame:
        """Labeled-counter metrics as a DataFrame (the analytic form of
        the Prometheus surface, metrics/metrics.go:13-53)."""
        rows = [
            ("downloader_download_failed_total", k, float(v))
            for k, v in sorted(self.failed_downloads.items())
        ] + [
            ("downloader_error_total", k, float(v))
            for k, v in sorted(self.error_count.items())
        ] + [
            ("downloader_downloader_routeviews_url_error_total", k, float(v))
            for k, v in sorted(self.routeviews_url_errors.items())
        ]
        if self.last_success_time is not None:
            rows.append(
                ("downloader_last_success_time_seconds", "", self.last_success_time)
            )
        return self.spark.createDataFrame(
            rows, "metric string, label string, value double"
        )

    def prometheus_text(self) -> str:
        """The /metrics exposition the reference serves on :9090
        (downloader.go:52) rendered as Prometheus text format 0.0.4.

        Name/HELP/TYPE and label names match metrics/metrics.go:13-53
        exactly (its lint gate, metrics_test.go:10-16, checks HELP
        presence, _total counter suffixes, and snake_case names — all
        honored here).  Serve this string from any HTTP handler to
        complete A15 parity."""
        return render_prometheus_text(
            failed_downloads=self.failed_downloads,
            error_count=self.error_count,
            routeviews_url_errors=self.routeviews_url_errors,
            last_success_time=self.last_success_time,
        )

    def serve_metrics(self, port: int = 9090, host: str = "127.0.0.1"):
        """Bind the exposition to a socket — the runtime counterpart of
        prometheusx.MustServeMetrics() (downloader.go:52; served on
        :9090 per Dockerfile:26-28).  Returns the MetricsServer; each
        scrape re-renders, so counters are read at scrape time."""
        from downloader_spark.ingest.metrics_server import MetricsServer

        return MetricsServer(self.prometheus_text, port=port, host=host)


def _escape_label_value(v: str) -> str:
    return v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def _format_value(v: float) -> str:
    # Prometheus renders integral samples without a trailing .0
    return str(int(v)) if float(v).is_integer() else repr(float(v))


def render_prometheus_text(
    failed_downloads: dict[str, float] | None = None,
    error_count: dict[str, float] | None = None,
    routeviews_url_errors: dict[str, float] | None = None,
    last_success_time: float | None = None,
) -> str:
    """Prometheus text exposition for the reference's four metrics
    (metrics/metrics.go:13-53): HELP + TYPE header per family, one
    sample line per label value, label values escaped per the format
    spec.  Families with no samples are omitted (promauto registers
    them eagerly; text output only carries observed series)."""
    families = [
        (
            "downloader_download_failed_total",
            "counter",
            "Increments every time a download maxes out our number of retries.",
            "download_type",
            failed_downloads or {},
        ),
        (
            "downloader_error_total",
            "counter",
            "The current number of unresolved errors encountered while "
            "attempting to download the latest maxmind and routeviews data.",
            "source",
            error_count or {},
        ),
        (
            "downloader_downloader_routeviews_url_error_total",
            "counter",
            "The number of errors that occured with retrieving the "
            "Routeviews URL list.",
            "source",
            routeviews_url_errors or {},
        ),
    ]
    out: list[str] = []
    for name, mtype, help_text, label, samples in families:
        if not samples:
            continue
        out.append(f"# HELP {name} {help_text}")
        out.append(f"# TYPE {name} {mtype}")
        for k, v in sorted(samples.items()):
            out.append(f'{name}{{{label}="{_escape_label_value(k)}"}} {_format_value(v)}')
    if last_success_time is not None:
        out.append(
            "# HELP downloader_last_success_time_seconds "
            "The time that ALL the downloads last completed successfully."
        )
        out.append("# TYPE downloader_last_success_time_seconds gauge")
        out.append(
            f"downloader_last_success_time_seconds {_format_value(last_success_time)}"
        )
    return "\n".join(out) + ("\n" if out else "")
