"""The ``ingest`` workload: the reference's own ETL job.

A seeded generator writes raw breadcrumb JSON-lines files, with the
dirty-row classes of FIXTURES.md §1, and a stop-event file with duplicate
trip ids (§2). It also works out in plain Python what the pipeline must
produce. One pass then runs, from the first input read to the result:

1. E1, ``run_breadcrumb_pipeline``: drain the backlog one file per
   micro-batch into the Trip/BreadCrumb parquet stores;
2. E2, ``run_stop_event_pipeline``: merge the stop events into Trip;
3. a flagship-style read over the two stores.

Each pass writes to fresh stores and checkpoints; the outputs are checked
after the pass, outside the timed region.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback
from datetime import date
from pathlib import Path
from statistics import median

import common
from spans import Tracer

# 10,000 records per file, one file per micro-batch: the reference
# consumer's insert batch (topic_consumer.py:274).
N_FILES = 3
PER_FILE = 10_000
# A steady pass takes 4.5-6.5 s on 4 vCPUs; a run measures ``round(seconds
# / NOMINAL_PASS_S)`` passes, a count that does not depend on how fast the
# run happens to be.
NOMINAL_PASS_S = 5.0
# Traffic mix from the reference's published week (BASELINE.md, from the
# project report p7-p8): ~370k crumbs and ~1,700 trips a weekday, so ~215
# crumbs per trip; 104 vehicles; 24 routes; stop events for ~88% of trips
# (e.g. 1,499 for 1,702 trips), some of them repeated for a trip. That
# week skipped no row, so only a small share of crumbs is dirty: enough
# that every class of FIXTURES.md section 1 is exercised.
CRUMBS_PER_TRIP = 215
VEHICLES = (4008,) + tuple(range(4010, 4113))
ROUTES = (65,) + tuple(range(1, 24))  # ids other than 65 are arbitrary
STOP_SHARE = 0.85
DUP_SHARE = 0.035  # 0.85 * 1.035 = 0.88 stop events per trip
DATES = (date(2020, 10, 18), date(2020, 10, 19))
FLAG_ROUTE = 65
FLAG_HOURS = (9, 10, 11, 16, 17, 18)
# Lat/lon come from a small grid so the flagship read averages several
# speeds per point.
GRID = [(f"{45.5 + 0.002 * i:.6f}", f"{-122.7 + 0.003 * j:.6f}") for i in range(6) for j in range(6)]


# --- generator ---------------------------------------------------------------


def _crumb(rng: random.Random, trip: tuple[int, int, date]) -> tuple[dict, bool]:
    """One raw breadcrumb and whether it passes V1-V5."""
    tid, vehicle, opd = trip
    lat, lon = rng.choice(GRID)
    rec = {
        "EVENT_NO_TRIP": str(tid),
        "OPD_DATE": opd.strftime("%d-%b-%y").upper(),
        "VEHICLE_ID": str(vehicle),
        # 05:00 to 25:00: every valid crumb of one backlog lies within the
        # 48h watermark of every other, so none is late.
        "ACT_TIME": str(rng.randint(18_000, 90_000)),
        "GPS_LATITUDE": lat,
        "GPS_LONGITUDE": lon,
        "DIRECTION": str(rng.randint(0, 359)),
        "VELOCITY": str(rng.randint(0, 60)),
    }
    r = rng.random()
    if r < 0.003:  # empty optional fields coerce to NULL and stay valid
        for k in rng.sample(["GPS_LATITUDE", "GPS_LONGITUDE", "DIRECTION", "VELOCITY"], 2):
            rec[k] = ""
        return rec, True
    if r < 0.0045:
        rec["DIRECTION"] = str(rng.randint(360, 720))  # V3
    elif r < 0.006:
        rec["VELOCITY"] = str(rng.randint(201, 400))  # V4
    elif r < 0.007:
        del rec["EVENT_NO_TRIP"]  # V1, missing
    elif r < 0.008:
        rec["EVENT_NO_TRIP"] = ""  # V1, empty
    elif r < 0.01:
        rec["ACT_TIME"] = str(rng.randint(172_801, 200_000))  # V5, past 48h
    else:
        return rec, True
    return rec, False


def _service_key(d: date) -> str:
    return {5: "Saturday", 6: "Sunday"}.get(d.weekday(), "Weekday")


def _stop_event(rng: random.Random, tid: int, vehicle: int) -> dict:
    return {
        "trip_id": str(tid),
        "vehicle_number": str(vehicle),
        "route_number": "" if rng.random() < 0.02 else str(rng.choice(ROUTES)),
        "direction": rng.choice(["0", "1", ""]),
        "service_key": rng.choice(["W", "S", "U"]),
    }


def _first_wins_key(row: tuple):
    # ORDER BY every column ASC NULLS LAST, as operators.upsert.first_wins
    return tuple((v is None, v if v is not None else 0) for v in row)


def generate(seed: int, out: Path, n_files: int = N_FILES, per_file: int = PER_FILE) -> dict:
    """Write ``out/crumbs/*.json`` and ``out/stops/stops.json``; return
    what the pipeline must produce from them."""
    rng = random.Random(seed)
    n_trips = max(4, n_files * per_file // CRUMBS_PER_TRIP)
    trips = [(169_300_000 + i, rng.choice(VEHICLES), rng.choice(DATES)) for i in range(n_trips)]
    (out / "crumbs").mkdir(parents=True)
    (out / "stops").mkdir(parents=True)
    n_raw = n_valid = 0
    valid_trips: dict[int, tuple] = {}
    valid: list[dict] = []
    for f in range(n_files):
        lines = []
        for _ in range(per_file):
            trip = rng.choice(trips)
            rec, ok = _crumb(rng, trip)
            lines.append(json.dumps(rec, separators=(",", ":")))
            n_raw += 1
            if ok:
                n_valid += 1
                valid.append(rec)
                tid, vehicle, opd = trip
                valid_trips[tid] = (tid, 0, vehicle, _service_key(opd), "Out")
        (out / "crumbs" / f"crumbs-{f:03d}.json").write_text("\n".join(lines) + "\n")

    # Stop events for STOP_SHARE of trips, a second one for DUP_SHARE of
    # those (duplicate trip ids), and a few for trips that never sent a
    # crumb (left unmatched by the merge).
    stops = []
    for tid, vehicle, _ in trips:
        if rng.random() < STOP_SHARE:
            stops += [_stop_event(rng, tid, vehicle) for _ in range(2 if rng.random() < DUP_SHARE else 1)]
    for k in range(max(1, n_trips // 100)):
        stops.append(_stop_event(rng, 169_200_000 + k, 4009))
    rng.shuffle(stops)
    (out / "stops" / "stops.json").write_text("".join(json.dumps(s, separators=(",", ":")) + "\n" for s in stops))

    decoded: dict[int, tuple] = {}
    for s in stops:
        row = (
            int(s["trip_id"]),
            int(s["vehicle_number"]),
            int(s["route_number"]) if s["route_number"] else None,
            "Back" if s["direction"] == "1" else "Out",
            {"W": "Weekday", "S": "Saturday"}.get(s["service_key"], "Sunday"),
        )
        if row[0] not in decoded or _first_wins_key(row) < _first_wins_key(decoded[row[0]]):
            decoded[row[0]] = row
    trip_rows = {}
    for tid, (_, route, vehicle, skey, direction) in valid_trips.items():
        upd = decoded.get(tid)
        if upd is not None:
            route = upd[2] if upd[2] is not None else route
            direction = upd[3]
        trip_rows[tid] = (tid, route, vehicle, skey, direction)

    # Flagship read: mean speed per grid point, for route-65 outbound trips
    # in the morning and evening peaks.
    groups: dict[tuple, list[int]] = {}
    for rec in valid:
        t = trip_rows[int(rec["EVENT_NO_TRIP"])]
        hour = (int(rec["ACT_TIME"]) // 3600) % 24
        if t[1] != FLAG_ROUTE or t[4] != "Out" or hour not in FLAG_HOURS or not rec["VELOCITY"]:
            continue
        key = tuple(float(rec[k]) if rec[k] else None for k in ("GPS_LATITUDE", "GPS_LONGITUDE"))
        groups.setdefault(key, []).append(int(rec["VELOCITY"]))
    flagship = [(lat, lon, float(sum(v)) / len(v), len(v)) for (lat, lon), v in groups.items()]
    return {
        "files": n_files,
        "raw": n_raw,
        "valid": n_valid,
        "trips": len(trip_rows),
        "trip_digest": common.digest(TRIP_COLS, list(trip_rows.values())),
        "flagship_digest": common.digest(FLAG_COLS, flagship),
        "flagship_rows": len(flagship),
    }


TRIP_COLS = ["trip_id", "route_id", "vehicle_id", "service_key", "direction"]
FLAG_COLS = ["latitude", "longitude", "avg_speed", "n_readings"]


# --- the pass ------------------------------------------------------------------


def flagship_read(trips, crumbs):
    from pyspark.sql import functions as F

    hot = trips.filter((F.col("route_id") == FLAG_ROUTE) & (F.col("direction") == "Out")).select("trip_id")
    return (
        crumbs.join(F.broadcast(hot), "trip_id")
        .filter(F.hour("tstamp").isin(*FLAG_HOURS) & F.col("speed").isNotNull())
        .groupBy("latitude", "longitude")
        .agg(F.avg("speed").alias("avg_speed"), F.count(F.lit(1)).alias("n_readings"))
    )


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]


def _data_files(path: str) -> dict[str, int]:
    if not os.path.isdir(path):
        return {}
    return {e.name: e.stat().st_size for e in os.scandir(path) if e.name.startswith("part-")}


def install_spans(tracer: Tracer) -> None:
    from c_tran_data_pipeline_spark.streaming import pipeline

    tracer.wrap_factory(pipeline, "breadcrumb_upsert_batch", "streaming.batch_body_")
    tracer.wrap_factory(pipeline, "stop_event_merge_batch", "streaming.batch_body_")

    def before(store):
        return _data_files(store.path), _stream_job_ids(tracer, store.spark)

    def after(pre, store, rec):
        files, jobs = pre
        new = {k: v for k, v in _data_files(store.path).items() if k not in files}
        tracer.totals["sinks.bytes_written"] += sum(new.values())
        tracer.totals["sinks.files_written"] += len(new)
        rec["records_written"] = tracer.records_written(_stream_job_ids(tracer, store.spark) - jobs)

    for method in ("upsert", "append", "merge"):
        tracer.wrap_method(pipeline._TableStore, method, f"sinks.{method}_", before, after)


def _stream_job_ids(tracer: Tracer, spark) -> set[int]:
    """Ids of the jobs run so far by the active streaming queries (their
    micro-batch jobs carry the query's runId as job group)."""
    ids = set()
    for q in spark.streams.active:
        ids |= tracer.job_ids(str(q.runId))
    return ids


def run_pass(spark, inp: Path, out: Path, tag: str, exp: dict, tracer: Tracer | None) -> dict:
    """One timed pass into fresh stores under ``out``; returns its record,
    with ``failed`` the number of its three steps whose output is wrong."""
    from c_tran_data_pipeline_spark import schemas
    from c_tran_data_pipeline_spark.functions.validation import referential_check
    from c_tran_data_pipeline_spark.streaming.pipeline import (
        _TableStore,
        run_breadcrumb_pipeline,
        run_stop_event_pipeline,
    )

    sc = spark.sparkContext
    spark.catalog.clearCache()
    group = f"perfbench-{tag}-read"
    sc.setJobGroup(group, "flagship read")
    trip_store = _TableStore(spark, str(out / "trip"), schemas.TRIP)
    crumb_store = _TableStore(spark, str(out / "crumb"), schemas.BREADCRUMB)
    rec = {"tag": tag}
    if tracer:
        tracer.label = tag
    try:
        t0 = time.perf_counter()
        raw = spark.readStream.schema(schemas.RAW_BREADCRUMB).option("maxFilesPerTrigger", 1).json(str(inp / "crumbs"))
        q1 = run_breadcrumb_pipeline(raw, trip_store, crumb_store, str(out / "ckpt-e1"))
        q1.awaitTermination()
        t1 = time.perf_counter()
        stops = spark.readStream.schema(schemas.RAW_STOP_EVENT).json(str(inp / "stops"))
        q2 = run_stop_event_pipeline(stops, trip_store, str(out / "ckpt-e2"))
        q2.awaitTermination()
        t2 = time.perf_counter()
        df = flagship_read(trip_store.read(), crumb_store.read())
        t3 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t4 = time.perf_counter()
        rows = df.collect()
        t5 = time.perf_counter()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        rec.update(failed=3, error=traceback.format_exc(limit=1))
        return rec
    e1 = [p for p in _progress(q1) if p["numInputRows"] > 0]
    e2 = [p for p in _progress(q2) if p["numInputRows"] > 0]
    rec.update(
        e1_s=t1 - t0,
        e2_s=t2 - t1,
        read_s=t5 - t2,
        total_s=t5 - t0,
        batch_s=[p["durationMs"]["triggerExecution"] / 1000.0 for p in e1],
    )

    sc.setJobGroup(f"perfbench-{tag}-check", "output checks")  # not counted under exec
    crumbs, trips = crumb_store.read(), trip_store.read()
    trip_rows = [tuple(r) for r in trips.select(*TRIP_COLS).collect()]
    n_crumbs = crumbs.count()
    e1_ok = (
        len(e1) == exp["files"]
        and n_crumbs == exp["valid"]
        and len(trip_rows) == exp["trips"]
        and referential_check(crumbs, trips, ["trip_id"]).isEmpty()
    )
    e2_ok = common.digest(TRIP_COLS, trip_rows) == exp["trip_digest"]
    read_ok = common.digest(list(df.columns), [tuple(r) for r in rows]) == exp["flagship_digest"]
    rec["failed"] = 3 - (e1_ok + e2_ok + read_ok)
    rec["persisted_left"] = len(sc._jsc.getPersistentRDDs())
    if rec["failed"]:
        print(f"perfbench: ingest {tag} wrong output: e1={e1_ok} e2={e2_ok} read={read_ok}", file=sys.stderr)

    if tracer:
        t = tracer.totals
        ids = set()
        for g in (str(q1.runId), str(q2.runId), group):
            ids |= tracer.job_ids(g)
        tracer.add("exec", tracer.stage_totals(ids))

        def dur(key: str) -> float:
            return sum(p["durationMs"].get(key, 0) for p in e1 + e2)

        t["plans.build_s"] += t3 - t2
        t["exec.plan_s"] += dur("queryPlanning") / 1000.0 + (t4 - t3)
        t["exec.execute_s"] += dur("addBatch") / 1000.0 + (t5 - t4)
        t["exec.driver_rows"] += len(rows)
        t["session.persisted_left"] += rec["persisted_left"]
        # Rows into conform/validate as the E1 source reports them (a
        # batch read twice by the foreachBatch body counts twice), and the
        # rows the BreadCrumb appends wrote, by Spark's output metrics.
        t["functions.rows_in"] += sum(p["numInputRows"] for p in e1)
        t["functions.rows_valid"] += sum(
            sp.get("records_written", 0) for sp in tracer.spans if sp["label"] == tag and sp["name"] == "sinks.append_"
        )
        t["streaming.batches"] += len(e1) + len(e2)
        t["streaming.batch_p50_s"] += median(rec["batch_s"])
        t["streaming.add_batch_ms"] += dur("addBatch")
        t["streaming.commit_ms"] += dur("commitOffsets") + dur("walCommit")
        t["streaming.planning_ms"] += dur("queryPlanning")
        t["streaming.get_batch_ms"] += dur("getBatch")
        final = sum(_data_files(str(out / "trip")).values()) + sum(_data_files(str(out / "crumb")).values())
        t["sinks.final_bytes"] += final
    return rec


def run(spark, t0: float, seed: int, seconds: float, trace: bool, work: Path):
    """Generate, warm up, then measure about ``seconds`` of passes.
    Returns (attempted, failed, metrics, log)."""
    exp = generate(seed, work / "input")
    # Warm up on a full-size input of another seed: after a one-file
    # warm-up the driver JVM spent 13-18 s compiling during the first
    # measured pass, and set-up time spread three times wider.
    warm_exp = generate(seed + 1, work / "warm-input")
    warm = run_pass(spark, work / "warm-input", work / "warm-out", "warm", warm_exp, None)
    setup_s = time.perf_counter() - t0

    def one_pass(i: int, tracer: Tracer | None) -> dict:
        return run_pass(spark, work / "input", work / f"out-{i}", f"p{i}", exp, tracer)

    tracer = Tracer(spark.sparkContext) if trace else None
    n = max(1, round(seconds / NOMINAL_PASS_S))
    passes = common.run_passes(spark, n, tracer, install_spans, one_pass)

    attempted = 3 * len(passes)
    failed = sum(p["failed"] for p in passes)
    log = {"workload": "ingest", "seed": seed, "setup_s": setup_s, "expected": exp, "warm": warm, "passes": passes}
    plain = [p for p in passes if not p["traced"] and "total_s" in p]
    traced = [p["total_s"] for p in passes if p["traced"] and "total_s" in p]
    if not plain or (trace and not traced):  # passes raised: report the failure, no timings
        return attempted, failed, {}, log
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (median(p["total_s"] for p in plain), "s"),
            "ops_per_s": (median(exp["raw"] / p["e1_s"] for p in plain), "1/s"),
        }
        return attempted, failed, metrics, log
    per_pass = {k: v / len(traced) for k, v in tracer.totals.items()}
    per_pass["functions.valid_ratio"] = per_pass.get("functions.rows_valid", 0) / max(per_pass.get("functions.rows_in", 0), 1)
    per_pass["sinks.write_amp"] = per_pass.get("sinks.bytes_written", 0) / max(per_pass.pop("sinks.final_bytes", 0), 1)
    per_pass["trace.overhead_s"] = median(traced) - median(p["total_s"] for p in plain)
    log["spans"] = tracer.spans
    return attempted, failed, per_pass, log
