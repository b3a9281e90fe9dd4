"""Benchmark entry point for lucene_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload {search_zipf,ingest} --seed N \\
        --seconds S --trace {0,1}

Generates the workload's inputs from ``--seed``, runs its closed loop for
``--seconds``, checks every answer against an independent oracle and
prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. Progress and
failure details go to stderr. All scratch data lives under
``.perfbench_work/`` in the repository root and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from queries import SHAPES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "ops_per_s": "1/s",
    "index_bytes_per_input_byte": "ratio",
    "success_rate": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    **{f"index.builder.{p}_s": "s"
       for p in ("docs", "seg_plan", "segments", "merge", "term_dict", "stats")},
    "index.builder.turns_per_s": "turns/s",
    "index.builder.jobs": "count",
    "index.builder.tasks": "count",
    **{f"index.builder.bytes.{p}": "bytes"
       for p in ("docs", "postings", "term_dict", "term_dict_fc")},
    "search.parser.parse_ms": "ms",
    "search.query.rewrite_ms": "ms",
    "search.query.rewrite_jobs": "count",
    "search.query.expanded_terms": "count",
    "search.executor.plan_ms": "ms",
    "search.executor.plan_jobs": "count",
    "search.executor.collect_ms": "ms",
    "search.executor.collect_jobs": "count",
    "search.executor.stages": "count",
    "search.executor.tasks": "count",
    "search.executor.failed_tasks": "count",
    "search.executor.scan_rows": "rows",
    "search.executor.scan_bytes": "bytes",
    "search.executor.shuffle_bytes": "bytes",
    "search.executor.python_rows": "rows",
    "search.executor.python_ms": "ms",
    "search.executor.jvm_pipeline_ms": "ms",
    "search.executor.rows_per_hit": "rows/hit",
    **{f"search.shape.{s}.p50_ms": "ms" for s in SHAPES},
    "streaming.incremental.append_ms": "ms",
    "streaming.incremental.append_jobs": "count",
    "streaming.incremental.append_turns_per_s": "turns/s",
    "streaming.incremental.reopen_ms": "ms",
    "streaming.incremental.probe_ms": "ms",
    "streaming.incremental.visible_ms": "ms",
    "streaming.incremental.tiers": "count",
    "streaming.incremental.promote_ms": "ms",
    "streaming.incremental.merge_ms": "ms",
    "streaming.incremental.compact_s": "s",
    "streaming.incremental.write_amp": "ratio",
    "index.lifecycle.delete_ms": "ms",
    "host.calibration_before_ms": "ms",
    "host.calibration_after_ms": "ms",
    "host.loadavg_1m": "load",
    "host.mem_available_mb": "MB",
    "trace.overhead_ms": "ms",
}


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search_zipf", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import lucene_spark  # noqa: F401  (fail before starting Spark if absent)

    from lucene_spark.session import get_spark
    from tracing import calibration_ms, host_state
    from workloads import WORKLOADS, Run

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers are started by the JVM and import the package, so it
    # must be on their path wherever the benchmark is run from.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = len(os.sched_getaffinity(0))
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(work, "spark"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            },
        )
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        try:
            host = {}
            if args.trace:
                host = host_state()
                host["host.calibration_before_ms"] = calibration_ms(spark)
            run = Run(spark, work, args.seed, args.seconds, bool(args.trace), session_s)
            out = WORKLOADS[args.workload](run)
            if args.trace:
                host["host.calibration_after_ms"] = calibration_ms(spark)
                out["metrics"].update(host)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = PER_LAYER if args.trace else END_TO_END
    missing = sorted(set(declared) - set(out["metrics"]))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    out["metrics"] = {
        name: {"value": float(out["metrics"][name]), "unit": unit}
        for name, unit in declared.items()
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
