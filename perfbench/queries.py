"""The query workloads, ``olap`` and ``corpus``.

One client in a closed loop runs the workload's query set as passes.
Before every query the cache is cleared, so no query reads a frame an
earlier query or pass persisted; the persisted RDDs a query leaves behind
are recorded after it. Each query is timed in three parts: the builder
call (including any eager jobs it launches), physical planning
(``executedPlan`` forced) and execution (``collect``). Digest checks and
trace reads sit outside the timed parts.
"""

from __future__ import annotations

import random
import sys
import time
import traceback
from contextlib import nullcontext
from statistics import median

import common
from spans import STAGE_FIELDS, Tracer

# Transit-parity queries plus OLAP shapes: bound by job latency, schema
# inference and planning; almost no Python-worker time.
OLAP = (
    "q_flagship_hotspot",
    "q_enrich_merge",
    "q_rfm_segments",
)

# LLM-data operators over documents/embeddings: Arrow/numpy kernels on
# Python workers, eager driver work (k-means, union-find), persist points.
CORPUS = (
    "q_dedup_clusters",
    "q_semantic_dedup",
)

# Steady pass length on 4 vCPUs (2.5-3.5 s olap, 3-5 s corpus); a run
# measures ``round(seconds / NOMINAL_PASS_S)`` passes, a count that does
# not depend on how fast the run happens to be.
NOMINAL_PASS_S = {"olap": 3.0, "corpus": 4.5}

# (module, function) pairs timed as ``operators.<name>`` spans. The
# private k-means and union-find solvers are what the public operators
# (semantic_dedup, dedup_clusters) run their eager driver work through.
OPERATORS = (
    ("c_tran_data_pipeline_spark.operators.similarity", "_kmeans_rows"),
    ("c_tran_data_pipeline_spark.operators.similarity", "semantic_dedup"),
    ("c_tran_data_pipeline_spark.operators.dedup", "minhash_lsh_candidates"),
    ("c_tran_data_pipeline_spark.operators.graph", "dedup_clusters"),
    ("c_tran_data_pipeline_spark.operators.graph", "_local_components_rows"),
)


def operator_metric(fn: str) -> str:
    return f"operators.{fn.lstrip('_')}."


def install_spans(tracer: Tracer) -> None:
    import importlib

    from c_tran_data_pipeline_spark.sources import readers

    def load_exit(before, rec):
        rec["jobs"] = len(tracer.job_ids() - before)
        tracer.totals["sources.load_jobs"] += rec["jobs"]

    tracer.wrap(readers, "load_table", "sources.load_", lambda args: tracer.job_ids(), load_exit)
    for mod, fn in OPERATORS:
        tracer.wrap(importlib.import_module(mod), fn, operator_metric(fn))


def run_query(spark, spec, group: str, expected: dict, tracer: Tracer | None) -> dict:
    """Run one query with a clean cache; return its record. ``ok`` is
    False when it raised or its output digest differs from the expected."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup(group, spec.name)
    rec = {"query": spec.name, "group": group}
    if tracer:
        tracer.label, tracer.group = spec.name, group
    try:
        t0 = time.perf_counter()
        with tracer.span("plans.build_") if tracer else nullcontext():
            df = spec.builder(spark, str(common.FIXTURE))
        t1 = time.perf_counter()
        build_ids = tracer.job_ids() if tracer else set()
        t2 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t3 = time.perf_counter()
        rows = df.collect()
        t4 = time.perf_counter()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        rec.update(ok=False, error=traceback.format_exc(limit=1))
        return rec
    rec.update(build_s=t1 - t0, plan_s=t3 - t2, execute_s=t4 - t3, rows=len(rows))
    rec["time_s"] = rec["build_s"] + rec["plan_s"] + rec["execute_s"]
    rec["digest"] = common.digest(list(df.columns), [tuple(r) for r in rows])
    rec["ok"] = rec["digest"] == expected[spec.name]["digest"]
    rec["persisted_left"] = len(sc._jsc.getPersistentRDDs())
    if tracer:
        exec_ids = tracer.job_ids() - build_ids
        rec["build_jobs"] = len(build_ids)
        rec.update(tracer.stage_totals(exec_ids))
        t = tracer.totals
        t["plans.build_jobs"] += len(build_ids)
        t["exec.plan_s"] += rec["plan_s"]
        t["exec.execute_s"] += rec["execute_s"]
        t["exec.driver_rows"] += len(rows)
        tracer.add("exec", {k: rec[k] for k in STAGE_FIELDS})
    if not rec["ok"]:
        print(f"perfbench: {spec.name} output digest differs from expected", file=sys.stderr)
    return rec


def run_pass(spark, specs, tag: str, expected: dict, tracer: Tracer | None) -> list[dict]:
    recs = []
    for spec in specs:
        rec = run_query(spark, spec, f"perfbench-{tag}-{spec.name}", expected, tracer)
        if tracer:
            tracer.totals["session.persisted_left"] += rec.get("persisted_left", 0)
        recs.append(rec)
    return recs


def run(spark, t0: float, workload: str, names: tuple[str, ...], seed: int, seconds: float, trace: bool):
    """Warm up, then measure about ``seconds`` of passes. Returns
    (attempted, failed, metrics, log)."""
    from c_tran_data_pipeline_spark.plans import all_queries

    registry = all_queries()
    specs = [registry[n] for n in names]
    expected = common.load_expected()
    # Warm-up: class loading, JIT, codegen caches, and the derived
    # artifacts built into this run's fresh index dir. The first pass runs
    # 2-3x slower than steady state and the second still ~20% slower.
    warm = [run_pass(spark, specs, f"warm{i}", expected, None) for i in range(2)]
    setup_s = time.perf_counter() - t0

    rng = random.Random(seed)

    def one_pass(i: int, tracer: Tracer | None) -> dict:
        order = rng.sample(specs, len(specs))
        recs = run_pass(spark, order, f"p{i}", expected, tracer)
        return {"pass_s": sum(r.get("time_s", 0.0) for r in recs), "queries": recs}

    tracer = Tracer(spark.sparkContext) if trace else None
    n = max(1, round(seconds / NOMINAL_PASS_S[workload]))
    passes = common.run_passes(spark, n, tracer, install_spans, one_pass)

    done = [r for p in passes for r in p["queries"]]
    failed = sum(1 for r in done if not r["ok"])
    plain = [p["pass_s"] for p in passes if not p["traced"]]
    log = {"workload": workload, "seed": seed, "setup_s": setup_s, "warm": warm, "passes": passes}
    if not trace:
        pass_s = median(plain)
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "ops_per_s": (len(names) / pass_s, "1/s"),
        }
        return len(done), failed, metrics, log
    traced = [p["pass_s"] for p in passes if p["traced"]]
    per_pass = {k: v / len(traced) for k, v in tracer.totals.items()}
    per_pass["trace.overhead_s"] = median(traced) - median(plain)
    log["spans"] = tracer.spans
    return len(done), failed, per_pass, log
