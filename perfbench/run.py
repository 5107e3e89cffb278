#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload archive_sql --seed 1 --seconds 5 --trace 0

Runs one workload (workloads.py) in one driver process on
``local[<cores>]`` and prints, as the last line of stdout, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

- ``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
  measured with no instrumentation.
- ``--trace 1`` runs three passes instead, two of them traced
  (layers.py), and reports the per-layer metrics of BENCHMARK.json
  with the tracing overhead; spans and a per-operation ledger go to
  ``.perfbench/traces/``.

``setup_s`` is the program's import time plus the median of
``SETUP_REPS`` set-ups (session start and seeded inputs); the JVM
launches in the first, so the median leaves it out (it is the
per-layer ``session.start_s``).  Everything the run writes stays under
``.perfbench/`` in the checkout.  The exit status is non-zero, with no
result line, when the program under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def launcher_env(work: str) -> None:
    """Environment for Spark's JVM and Python workers, set before the
    JVM starts: one driver, ``local[<cores>]``, temporary files in ``work``."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        # Python workers import the program (mapInPandas) by module path
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, path) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
    )
    sys.path[:0] = [ROOT, HERE]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(args, work: str) -> dict:
    import numpy as np

    from harness import end_to_end, start_session, storage_mb, timed_passes
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload]()  # imports the program
    import_s = time.perf_counter() - t0
    extra = None
    if args.trace:
        import layers

        extra = layers.event_log_conf(os.path.join(work, "events"))
    setup, spark, session_start = [], None, 0.0
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work, extra)
        if rep == 0:
            session_start = time.perf_counter() - t0
        wl.prepare(spark, os.path.join(work, f"setup{rep}"), args.seed)
        setup.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    checks = wl.check(spark)
    log(f"setup {[round(x, 2) for x in setup]} s, check {time.perf_counter() - t0:.1f} s")
    rng = np.random.default_rng(args.seed)
    if args.trace:
        tracer = layers.Tracer()
        passes, traced = layers.traced_passes(wl, spark, rng, tracer)
        retained = storage_mb(spark)
    else:
        passes = timed_passes(wl, spark, rng, args.seconds)
    for w, recs in passes:
        log("ops " + " ".join(f"{r['name']}={r['wall_s']:.3f}" for r in recs))
    log(f"passes {[round(w, 2) for w, _ in passes]} s"
        + (f", traced {[round(w, 2) for w, _ in traced]} s" if args.trace else ""))
    checks |= wl.verify(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()  # also flushes the event log
    ops = [r for _, recs in passes for r in recs]
    failed = [n for n, ok in checks.items() if not ok] + [r["name"] for r in ops if not r["ok"]]
    if args.trace:
        failed += [r["name"] for _, recs in traced for r in recs if not r["ok"]]
        ops += [r for _, recs in traced for r in recs]
        metrics = layers.report(args, work, wl, tracer, passes, traced, app_id,
                                session_start, retained)
    else:
        metrics = end_to_end(import_s, setup, passes)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    for name in failed:
        log(f"FAILED {name}")
    return {
        "correct": not failed,
        "attempted": len(ops) + len(checks),
        "failed": len(failed),
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in spec},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True,
                    choices=("archive_ingest", "archive_sql", "llm_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "downloader_spark")):
        log(f"the program under test is missing from {ROOT}")
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    launcher_env(work)
    try:
        result = run(args, work)
    finally:
        from harness import stop_jvm

        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
