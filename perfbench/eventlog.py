"""Spark event-log summarizer: per-operation engine totals.

Reads one uncompressed, non-rolling event log (the traced run writes
it) and attributes every job to an operation: by the job group the
benchmark set (``pb:<op>:<phase>``) when the job carries one, else by
its submission time falling inside the operation's span (jobs started
from the program's own driver threads or the streaming engine's
thread carry no group of ours).  Per operation it reports jobs,
stages, tasks, the union of job spans, the driver gap (the
operation's wall time outside every job), executor run and CPU time,
scan input, shuffle, spill and Python-worker time.
"""

from __future__ import annotations

import json

STAGE_METRICS = {
    # output field: (accumulable name, scale to the field's unit)
    "executor_run_s": ("internal.metrics.executorRunTime", 1e-3),
    "executor_cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    # the parquet reader leaves input.bytesRead near zero on a local
    # filesystem; records read are counted
    "scan_input_rows": ("internal.metrics.input.recordsRead", 1),
    "shuffle_write_mb": ("internal.metrics.shuffle.write.bytesWritten", 1e-6),
    "shuffle_write_s": ("internal.metrics.shuffle.write.writeTime", 1e-9),
    "shuffle_read_local_mb": ("internal.metrics.shuffle.read.localBytesRead", 1e-6),
    "shuffle_read_remote_mb": ("internal.metrics.shuffle.read.remoteBytesRead", 1e-6),
    "spill_mb": ("internal.metrics.diskBytesSpilled", 1e-6),
    # SQL metric of the Python execs (ms): worker start, init and run
    "python_s": ("time to run Python workers", 1e-3),
}

OP_FIELDS = ("jobs", "stages", "tasks", "job_union_s", "driver_gap_s", *STAGE_METRICS)


def read_log(path: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (in submission order) and completed stages by id."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except ValueError:
                continue  # a torn last line
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "group": props.get("spark.jobGroup.id") or "",
                    "start": ev.get("Submission Time", 0) / 1000.0,
                    "end": None,
                    "stage_ids": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Completion Time") is None:
                    continue
                acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                st = {"tasks": info.get("Number of Tasks", 0)}
                for field, (name, scale) in STAGE_METRICS.items():
                    try:
                        st[field] = int(acc.get(name) or 0) * scale
                    except (TypeError, ValueError):
                        st[field] = 0.0
                stages[info["Stage ID"]] = st
    return sorted(jobs.values(), key=lambda j: (j["start"], j["id"])), stages


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def per_op(path: str, ops: list[dict]) -> dict[str, dict]:
    """Engine totals per operation.

    ``ops``: dicts with ``id`` (the ``<op>`` of the job groups), and
    ``start``/``end`` epoch seconds.  Returns ``{op_id: totals}`` with
    the ``OP_FIELDS`` plus ``jobs_by_phase`` (job count per phase
    named in the group; ``other`` for time-attributed jobs)."""
    jobs, stages = read_log(path)
    out = {op["id"]: {f: 0.0 for f in OP_FIELDS} | {"jobs_by_phase": {}, "_spans": []}
           for op in ops}
    windows = sorted(((op["start"], op["end"], op["id"]) for op in ops))
    claimed: set[int] = set()
    for job in jobs:
        op_id, phase = None, "other"
        if job["group"].startswith("pb:"):
            _, op_id, phase = job["group"].split(":", 2)
        else:
            for s, e, oid in windows:
                if s <= job["start"] <= e:
                    op_id = oid
                    break
        if op_id not in out:
            continue
        tot = out[op_id]
        tot["jobs"] += 1
        tot["jobs_by_phase"][phase] = tot["jobs_by_phase"].get(phase, 0) + 1
        tot["_spans"].append((job["start"], job["end"] or job["start"]))
        for sid in job["stage_ids"]:
            st = stages.get(sid)
            # a stage runs in the first job that lists it; later jobs
            # list it again but skip it (shuffle reuse)
            if st is None or sid in claimed:
                continue
            claimed.add(sid)
            tot["stages"] += 1
            for field, v in st.items():
                tot[field] += v
    for op in ops:
        tot = out[op["id"]]
        tot["job_union_s"] = _union_s(tot.pop("_spans"))
        tot["driver_gap_s"] = (op["end"] - op["start"]) - tot["job_union_s"]
    return out
