"""The traced run: per-layer metrics from spans, Catalyst and the event log.

With ``--trace 1`` every session of the run writes a Spark event log.
After the output check, three passes run in the order traced,
untraced, traced, so the untraced pass sits at the traced ones' mean
JIT warmth; the tracing overhead is the traced passes' median minus
the untraced pass.  The Spark event log is on for all three, so its
own cost is not part of that figure.

A traced pass wraps the public calls into ingest/ and streaming/
(spans.py) and puts a ``Probe`` on every operation: it tags the
operation's jobs with a job group, samples Spark storage around it,
and reads the Catalyst phase times of the DataFrame a query key
returns.  After a ``noop`` write that DataFrame's
``QueryPlanningTracker`` holds only ``analysis``, so the Probe forces
``executedPlan()`` first; the write then plans again, so optimization
and planning run twice in a traced pass (inside the overhead).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import eventlog
from harness import storage_mb

# operations whose latency a user sees one by one: a query key, or a
# work item of the ingest loop (fetch to dedup verdict or current copy)
LATENCY_KINDS = ("query", "item")
from spans import Tracer


def event_log_conf(evdir: str) -> dict[str, str]:
    os.makedirs(evdir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file:" + evdir,
        # one plain JSON-lines file per application
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Probe:
    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.n = 0

    def _group(self, rec: dict, phase: str) -> None:
        self.sc.setJobGroup(f"pb:{rec['op']}:{phase}", f"{rec['kind']} {rec['name']} {phase}")

    def begin(self, rec: dict) -> None:
        self.n += 1
        rec["op"] = str(self.n)
        rec["storage_before_mb"] = storage_mb(self.spark)
        rec["span"] = self.tracer.open(f"op.{rec['kind']}", op=rec["op"], key=rec["name"])
        self._group(rec, "construct" if rec["kind"] == "query" else rec["kind"])

    def planned(self, rec: dict, df) -> None:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            rec[f"{ph}_ms"] = phases.apply(ph).durationMs() if phases.contains(ph) else 0
        self._group(rec, "execute")

    def end(self, rec: dict) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        span = rec.pop("span")
        self.tracer.close(span)
        rec["start"], rec["end"] = span["start"], span["end"]
        rec["storage_delta_mb"] = storage_mb(self.spark) - rec.pop("storage_before_mb")


def wrap_layers(tracer: Tracer) -> None:
    """Spans around the public calls of ingest/ and streaming/."""
    from downloader_spark.ingest import batch, pipeline
    from downloader_spark.ingest.inventory import InventoryTable
    from downloader_spark.ingest.store import LocalFSStore
    from downloader_spark.ingest.watermark import WatermarkStore
    from downloader_spark.streaming.incremental_dedup import IncrementalMinhashDedup

    tracer.wrap(InventoryTable, "is_duplicate", "ingest.inventory.probe",
                lambda a, k, r: {"hit": bool(r)})
    tracer.wrap(InventoryTable, "next_seq", "ingest.inventory.next_seq")
    tracer.wrap(InventoryTable, "append", "ingest.inventory.append")
    tracer.wrap(LocalFSStore, "put", "ingest.store.put",
                lambda a, k, r: {"bytes": len(a[2])})
    tracer.wrap(LocalFSStore, "copy", "ingest.store.copy")
    tracer.wrap(batch, "batch_ingest", "ingest.batch.batch_ingest")
    # the loop calls gen_work_items through the name pipeline imported
    tracer.wrap(pipeline, "gen_work_items", "ingest.logparse.gen_work_items")
    tracer.wrap(WatermarkStore, "set", "ingest.watermark.set")
    tracer.wrap(IncrementalMinhashDedup, "process_batch",
                "streaming.incremental_dedup.process_batch")


def traced_passes(wl, spark, rng, tracer: Tracer):
    """Traced, untraced, traced; returns (untraced, traced) as lists of
    ``(pass_wall_s, records)``."""
    probe = Probe(spark, tracer)

    def one(traced: bool):
        if traced:
            wrap_layers(tracer)
        try:
            t0 = time.perf_counter()
            recs = wl.run_pass(spark, rng, probe if traced else None)
            return time.perf_counter() - t0, recs
        finally:
            tracer.unwrap_all()

    first, untraced, last = one(True), one(False), one(True)
    return [untraced], [first, last]


def _count_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _d, _s, fs in os.walk(path) for f in fs)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(d, f)).num_rows
               for d, _s, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _p50_ms(passes) -> float:
    return statistics.median(r["wall_s"] * 1e3 for _, recs in passes for r in recs
                             if r["kind"] in LATENCY_KINDS and r["ok"])


def layer_metrics(wl, tracer, untraced, traced, ledger, session_start,
                  retained_mb) -> dict[str, float]:
    """Per-layer metrics, per pass (totals over a traced pass, averaged
    over the traced passes) unless the name says otherwise."""
    n = len(traced)
    ops = [r for _, recs in traced for r in recs if "op" in r]
    queries = [r for r in ops if r["kind"] == "query"]
    items = [r for r in ops if r["kind"] == "item"]
    deltas = [r for r in ops if r["kind"] == "delta"]

    def led(r, field):
        return ledger.get(r["op"], {}).get(field, 0.0)

    def per_pass(field):
        return sum(led(r, field) for r in ops) / n

    def span_s(name):
        return tracer.total_s(name) / n

    probes = tracer.named("ingest.inventory.probe")
    puts = tracer.named("ingest.store.put")
    m = {
        "session.start_s": session_start,
        "ingest.inventory.probe_calls": len(probes) / n,
        "ingest.inventory.probe_s": span_s("ingest.inventory.probe"),
        "ingest.inventory.next_seq_s": span_s("ingest.inventory.next_seq"),
        "ingest.inventory.dup_hit_ratio":
            sum(s["hit"] for s in probes) / len(probes) if probes else 0.0,
        "ingest.inventory.append_s": span_s("ingest.inventory.append"),
        "ingest.jobs_per_item": sum(led(r, "jobs") for r in items) / len(items) if items else 0.0,
        "ingest.store.put_calls": len(puts) / n,
        "ingest.store.put_mb": sum(s["bytes"] for s in puts) / 1e6 / n,
        "ingest.store.put_s": span_s("ingest.store.put"),
        "ingest.store.copy_s": span_s("ingest.store.copy"),
        "ingest.batch.batch_ingest_s": span_s("ingest.batch.batch_ingest"),
        "ingest.logparse.gen_work_items_s": span_s("ingest.logparse.gen_work_items"),
        "ingest.watermark.set_s": span_s("ingest.watermark.set"),
        "streaming.incremental_dedup.process_batch_s":
            span_s("streaming.incremental_dedup.process_batch"),
        "streaming.incremental_dedup.jobs_per_batch":
            sum(led(r, "jobs") for r in deltas) / len(deltas) if deltas else 0.0,
        "operators.construct_s": sum(r["construct_s"] for r in queries) / n,
        "operators.construct_jobs": sum(
            ledger.get(r["op"], {}).get("jobs_by_phase", {}).get("construct", 0)
            for r in queries) / n,
        "spark.driver_gap_s": per_pass("driver_gap_s"),
        "catalyst.analysis_ms": sum(r.get("analysis_ms", 0) for r in queries) / n,
        "catalyst.optimization_ms": sum(r.get("optimization_ms", 0) for r in queries) / n,
        "catalyst.planning_ms": sum(r.get("planning_ms", 0) for r in queries) / n,
        "spark.execute_s": per_pass("job_union_s"),
        "spark.jobs": per_pass("jobs"),
        "spark.stages": per_pass("stages"),
        "spark.tasks": per_pass("tasks"),
        "spark.executor_run_s": per_pass("executor_run_s"),
        "spark.executor_cpu_s": per_pass("executor_cpu_s"),
        "spark.scan_input_rows": per_pass("scan_input_rows"),
        "spark.shuffle_write_mb": per_pass("shuffle_write_mb"),
        "spark.shuffle_write_s": per_pass("shuffle_write_s"),
        "spark.shuffle_read_mb":
            per_pass("shuffle_read_local_mb") + per_pass("shuffle_read_remote_mb"),
        "spark.spill_mb": per_pass("spill_mb"),
        "spark.python_s": per_pass("python_s"),
        "spark.retained_storage_mb": retained_mb,
    }
    # job counts vary between passes for the same key: the summed
    # per-key range (max - min jobs over the traced passes)
    per_key: dict[str, list[float]] = {}
    for r in queries:
        per_key.setdefault(r["name"], []).append(led(r, "jobs"))
    m["spark.jobs_range"] = float(sum(max(v) - min(v) for v in per_key.values()))

    state = wl.state  # the last episode's state directories (ingest only)
    m["ingest.inventory.files"] = _count_files(state["inventory"]) if state else 0
    m["streaming.incremental_dedup.state_files"] = _count_files(state["dedup"]) if state else 0
    m["streaming.incremental_dedup.pairs"] = (
        _parquet_rows(os.path.join(state["dedup"], "matches")) if state else 0)

    # throughput and delta latency of the ingest loop, untraced
    backfill = [r for _, recs in untraced for r in recs if r["kind"] == "backfill"]
    m["ingest.backfill_files_per_s"] = (
        sum(r["files"] for r in backfill) / sum(r["wall_s"] for r in backfill)
        if backfill else 0.0)
    dl = [r["wall_s"] for _, recs in untraced for r in recs if r["kind"] == "delta"]
    m["streaming.delta_s_p50"] = statistics.median(dl) if dl else 0.0

    m["trace.overhead_pass_s"] = (statistics.median(w for w, _ in traced)
                                  - statistics.median(w for w, _ in untraced))
    m["trace.overhead_op_ms_p50"] = _p50_ms(traced) - _p50_ms(untraced)
    return m


def report(args, work, wl, tracer, untraced, traced, app_id, session_start,
           retained_mb) -> dict[str, float]:
    """Parse the event log of the (stopped) session ``app_id``, compute
    the per-layer metrics and write spans + ledger as one JSON file."""
    ops = [r for _, recs in traced for r in recs if "op" in r]
    log = os.path.join(work, "events", app_id)
    ledger = eventlog.per_op(log, [{"id": r["op"], "start": r["start"], "end": r["end"]}
                                   for r in ops])
    m = layer_metrics(wl, tracer, untraced, traced, ledger, session_start, retained_mb)
    out_dir = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "metrics": m,
                   "spans": tracer.spans,
                   "ops": [{**r, "ledger": ledger.get(r["op"], {})} for r in ops]},
                  f, default=str)
    print(f"perfbench: spans and ledger in {path}", file=sys.stderr)
    return m
