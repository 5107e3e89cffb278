"""Session, timing and end-to-end metrics shared by run.py and layers.py."""

from __future__ import annotations

import os
import statistics
import subprocess
import time


def start_session(work: str, extra: dict | None = None):
    from downloader_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # read at JVM launch only: the JVM's temporary files stay in the
        # checkout, and no /tmp/hsperfdata_* performance-counter file
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        **(extra or {}),
    }
    spark = get_spark(app="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and the JVM PySpark launched, and wait for it:
    the JVM exits when its stdin closes."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def storage_mb(spark) -> float:
    """Spark storage (memory + disk) held by persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def timed_passes(wl, spark, rng, seconds: float):
    """Whole passes until ``seconds`` have elapsed and at least
    ``wl.min_passes`` ran, so a slower host does not change how many
    passes the medians cover; returns ``[(pass_wall_s, records)]``."""
    out = []
    deadline = time.perf_counter() + seconds
    while len(out) < wl.min_passes or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        recs = wl.run_pass(spark, rng)
        out.append((time.perf_counter() - t0, recs))
    return out


def end_to_end(import_s: float, setup: list[float], passes) -> dict[str, float]:
    return {
        "setup_s": import_s + statistics.median(setup),
        "pass_s": statistics.median(w for w, _ in passes),
    }
