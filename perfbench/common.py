"""Plumbing shared by the workloads: an isolated directory per run, the
Spark session, output digests and the result line.

Every run gets fresh Spark local dirs and a fresh derived-artifact index
dir (``SPARK_GRAFT_INDEX_DIR``), so nothing a previous run trained or
persisted can be read by this one. The package is put on ``PYTHONPATH``
before the JVM starts, so Python workers import it no matter which
directory the benchmark was started from.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from c_tran_data_pipeline_spark.oracle import _canon_rows  # noqa: E402  (needs ROOT on sys.path; starts no Spark)

FIXTURE = ROOT / "perfbench" / "fixture"
EXPECTED = ROOT / "perfbench" / "expected.json"
WORK = ROOT / ".perfbench"
TRACE_DIR = WORK / "trace"
CPUS = 4


def isolate(workload: str, seed: int) -> Path:
    """Create this run's private directories and point the environment at
    them. Must run before the first Spark call of the process."""
    run = WORK / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    for sub in ("local", "index", "cwd", "data"):
        (run / sub).mkdir(parents=True)
    old_pp = os.environ.get("PYTHONPATH")
    # The driver heap is the program's default, whatever the caller's
    # environment says.
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_LOCAL_DIRS": str(run / "local"),
            "TMPDIR": str(run / "local"),
            "SPARK_GRAFT_INDEX_DIR": str(run / "index"),
            "PYTHONPATH": os.pathsep.join([str(ROOT)] + ([old_pp] if old_pp else [])),
            "TZ": "UTC",
        }
    )
    time.tzset()
    # Spark drops spark-warehouse/ and derby.log into the working
    # directory; keep them inside the run dir.
    os.chdir(run / "cwd")
    return run


def start_spark():
    from c_tran_data_pipeline_spark.session import get_spark

    return get_spark("perfbench")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_times(spark) -> dict[str, float]:
    """Cumulative JIT-compile and GC seconds of the driver JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0, "gc_s": gc / 1000.0}


def run_passes(spark, n: int, tracer, install, one_pass) -> list[dict]:
    """Run ``n`` measured passes; a traced run makes at least three and
    traces every second one (untraced, traced, untraced, ...), so the
    tracing overhead is measured against passes on both sides of it.
    ``one_pass(index, tracer_or_None)`` returns the pass record; each
    record also gets ``traced`` and ``jvm``, the driver JVM's JIT and GC
    seconds during the pass."""
    out = []
    for i in range(max(n, 3) if tracer else n):
        traced = tracer is not None and i % 2 == 1
        if traced:
            install(tracer)
        j0 = jvm_times(spark)
        try:
            rec = one_pass(i, tracer if traced else None)
        finally:
            if traced:
                tracer.unwrap()
        j1 = jvm_times(spark)
        rec.update(traced=traced, jvm={k: j1[k] - j0[k] for k in j0})
        if traced:
            for k, v in rec["jvm"].items():
                tracer.totals[f"jvm.{k}"] += v
        out.append(rec)
    return out


def cleanup(run: Path) -> None:
    os.chdir(ROOT)
    shutil.rmtree(run, ignore_errors=True)


# --- digests -----------------------------------------------------------------
# The canonical form is the DuckDB-oracle harness's own (oracle._canon_rows),
# so benchmark digests and oracle parity agree on what "same output" means.


def digest(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    h.update(",".join(sorted(cols)).encode())
    for line in _canon_rows(cols, rows):
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


def load_expected() -> dict:
    return json.loads(EXPECTED.read_text())


# --- result line ---------------------------------------------------------------


def emit(attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """Print one readable line per metric, then the result object as the
    last line of stdout."""
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value} {unit}")
    frac = failed / attempted if attempted else 1.0
    print(f"failed_frac = {frac} ratio ({failed} of {attempted} operations)")
    out = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
