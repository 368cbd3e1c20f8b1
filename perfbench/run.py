"""Benchmark entry point.

    python3 perfbench/run.py --workload olap|corpus|ingest --seed N --seconds S --trace 0|1

Runs one workload on ``local[4]`` in a fresh, isolated environment, checks
every output, and prints the result object as the last line of stdout.
With ``--trace 0`` it carries the end-to-end metrics; with ``--trace 1``
the per-layer metrics of the traced run (see README.md). Per-query and
per-pass records, and the spans of the traced run, go to
``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import common
import ingest
import queries

WORKLOADS = ("olap", "corpus", "ingest")

# name -> unit of every per-layer metric; each traced run reports all of
# them, 0 where its workload does not reach the layer.
PER_LAYER = {
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    **{f"{queries.operator_metric(fn)}{k}": u for _, fn in queries.OPERATORS for k, u in (("s", "s"), ("calls", "count"))},
    "exec.plan_s": "s",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_s": "s",
    "exec.driver_rows": "count",
    "session.persisted_left": "count",
    "functions.rows_in": "count",
    "functions.rows_valid": "count",
    "functions.valid_ratio": "ratio",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.batch_body_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "sinks.upsert_s": "s",
    "sinks.append_s": "s",
    "sinks.merge_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.write_amp": "ratio",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "trace.overhead_s": "s",
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    run_dir = common.isolate(args.workload, args.seed)
    t0 = time.perf_counter()
    try:
        spark = common.start_spark()
        try:
            if args.workload == "ingest":
                out = ingest.run(spark, t0, args.seed, args.seconds, trace, run_dir / "data")
            else:
                names = queries.OLAP if args.workload == "olap" else queries.CORPUS
                out = queries.run(spark, t0, args.workload, names, args.seed, args.seconds, trace)
        finally:
            common.stop_spark(spark)
    finally:
        common.cleanup(run_dir)
    attempted, failed, metrics, log = out

    common.TRACE_DIR.mkdir(parents=True, exist_ok=True)
    log_path = common.TRACE_DIR / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    log_path.write_text(json.dumps(log, default=str))
    if trace:
        metrics = {name: (float(metrics.get(name, 0.0)), unit) for name, unit in PER_LAYER.items()}
    common.emit(attempted, failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
