"""Ingest/orchestration framework: the reference-parity control plane
(SURVEY.md Phase 4).

Re-expresses the reference's fetch→name→dedup→publish→current loop
(/root/reference/download/common.go, maxmind.go, routeviews.go) in
Spark-native form, fixing its four recorded weaknesses (SURVEY §4.3):

1. O(full-bucket) listing per file  → persisted inventory table,
   probed through a driver-side index (inventory.py)
2. dedup-scope prefix bug           → documented scoped semantics
3. volatile in-memory watermark     → checkpointed watermark store
   (watermark.py)
4. non-atomic write-then-delete     → dedup BEFORE write; publish
   only survivors (pipeline.py)
"""

from downloader_spark.ingest.config import SourceSpec, maxmind_sources, routeviews_source
from downloader_spark.ingest.inventory import InventoryTable
from downloader_spark.ingest.metrics_server import MetricsServer
from downloader_spark.ingest.notify import (
    CollectingNotifier,
    NewFileEvent,
    Notifier,
    PrintingNotifier,
)
from downloader_spark.ingest.pipeline import Downloader, render_prometheus_text
from downloader_spark.ingest.retry import (
    PermanentError,
    gen_uniform_sleep_time,
    run_with_retry,
)
from downloader_spark.ingest.store import (
    FsspecStore,
    LocalFileFS,
    InMemoryStore,
    LocalFSStore,
    Store,
)
from downloader_spark.ingest.watermark import WatermarkStore

__all__ = [
    "CollectingNotifier",
    "Downloader",
    "FsspecStore",
    "InMemoryStore",
    "InventoryTable",
    "LocalFSStore",
    "LocalFileFS",
    "MetricsServer",
    "NewFileEvent",
    "Notifier",
    "PermanentError",
    "PrintingNotifier",
    "SourceSpec",
    "Store",
    "WatermarkStore",
    "gen_uniform_sleep_time",
    "maxmind_sources",
    "render_prometheus_text",
    "routeviews_source",
    "run_with_retry",
]
