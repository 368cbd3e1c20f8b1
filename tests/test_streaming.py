"""End-to-end streaming pipeline tests (E1/E2) driven by file streams —
identical plan downstream of the source boundary, drain-then-stop via
availableNow (the reference's idle-timeout shutdown, T2)."""

from __future__ import annotations

import json

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import Row

from c_tran_data_pipeline_spark import schemas
from c_tran_data_pipeline_spark.streaming.pipeline import (
    _TableStore,
    run_breadcrumb_pipeline,
    run_stop_event_pipeline,
)


@pytest.fixture()
def tmpdirs(tmp_path):
    d = {
        "in": tmp_path / "in",
        "trip": str(tmp_path / "trip"),
        "crumb": str(tmp_path / "crumb"),
        "ckpt1": str(tmp_path / "ckpt1"),
        "in2": tmp_path / "in2",
        "ckpt2": str(tmp_path / "ckpt2"),
    }
    d["in"].mkdir()
    d["in2"].mkdir()
    return d


GOOD = {
    "EVENT_NO_TRIP": "101",
    "OPD_DATE": "25-SEP-20",
    "VEHICLE_ID": "4008",
    "ACT_TIME": "36000",
    "GPS_LATITUDE": "45.52",
    "GPS_LONGITUDE": "-122.67",
    "DIRECTION": "90",
    "VELOCITY": "25",
}


@pytest.mark.slow
def test_breadcrumb_pipeline_end_to_end(spark, tmpdirs):
    rows = [
        GOOD,
        dict(GOOD, ACT_TIME="36005", VELOCITY="30"),
        dict(GOOD, EVENT_NO_TRIP="102", VEHICLE_ID="4009"),
        dict(GOOD, VELOCITY="500"),  # V4 reject
        dict(GOOD, EVENT_NO_TRIP=""),  # V1 reject
    ]
    (tmpdirs["in"] / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))

    raw = spark.readStream.schema(schemas.RAW_BREADCRUMB).json(str(tmpdirs["in"]))
    trip_store = _TableStore(spark, tmpdirs["trip"], schemas.TRIP)
    crumb_store = _TableStore(spark, tmpdirs["crumb"], schemas.BREADCRUMB)

    q = run_breadcrumb_pipeline(raw, trip_store, crumb_store, tmpdirs["ckpt1"])
    q.awaitTermination(120)

    crumbs = spark.read.parquet(tmpdirs["crumb"])
    trips = spark.read.parquet(tmpdirs["trip"])
    assert crumbs.count() == 3  # 5 in − 2 rejected
    assert trips.count() == 2  # trips 101, 102 deduped
    t = {r.trip_id: r for r in trips.collect()}
    assert t[101].route_id == 0 and t[101].direction == "Out"  # P5 placeholders

    # J4: FK integrity as an assertion (SURVEY §2.5) — every stored crumb's
    # trip_id must exist in the Trip store, the queryable form of the
    # reference's FOREIGN KEY (trip_id) + Trip-before-BreadCrumb write
    # order (topic_consumer.py:101,204-205)
    from c_tran_data_pipeline_spark.functions.validation import referential_check

    assert referential_check(crumbs, trips, ["trip_id"]).isEmpty()

    # replay the same input dir with a fresh checkpoint: idempotent upsert
    # keeps Trip stable (T4 at-least-once + idempotent sink)
    q2 = run_breadcrumb_pipeline(raw, trip_store, crumb_store, tmpdirs["ckpt2"] + "_replay")
    q2.awaitTermination(120)
    assert spark.read.parquet(tmpdirs["trip"]).count() == 2


def test_breadcrumb_batch_leaves_no_persisted_frame(spark, tmpdirs, tmp_path):
    """The E1 body persists each micro-batch for its two writes; it must
    unpersist it after a drained run and after a batch whose BreadCrumb
    append raises (here the crumb store path is a regular file). The
    session is shared, so the check is that the run adds no persisted
    RDD to those other tests left."""
    (tmpdirs["in"] / "batch1.json").write_text(json.dumps(GOOD))
    raw = spark.readStream.schema(schemas.RAW_BREADCRUMB).json(str(tmpdirs["in"]))
    trip_store = _TableStore(spark, tmpdirs["trip"], schemas.TRIP)

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs())

    before = persisted()
    crumb_store = _TableStore(spark, tmpdirs["crumb"], schemas.BREADCRUMB)
    run_breadcrumb_pipeline(raw, trip_store, crumb_store, tmpdirs["ckpt1"]).awaitTermination(120)
    assert crumb_store.read().count() == 1
    assert persisted() <= before  # none added (others may be GC-unpersisted)

    blocked = tmp_path / "crumb_is_a_file"
    blocked.write_text("")
    bad_store = _TableStore(spark, str(blocked), schemas.BREADCRUMB)
    q = run_breadcrumb_pipeline(raw, trip_store, bad_store, tmpdirs["ckpt2"])
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert persisted() <= before


def test_stop_event_enrichment_merge(spark, tmpdirs):
    # seed Trip store via the breadcrumb path's placeholder shape
    trip_store = _TableStore(spark, tmpdirs["trip"], schemas.TRIP)
    seed = spark.createDataFrame(
        [
            Row(trip_id=101, route_id=0, vehicle_id=4008, service_key="Weekday", direction="Out"),
            Row(trip_id=102, route_id=0, vehicle_id=4009, service_key="Weekday", direction="Out"),
        ],
        schema=schemas.TRIP,
    )
    seed.write.mode("overwrite").parquet(tmpdirs["trip"])

    events = [
        {"trip_id": "101", "vehicle_number": "4008", "route_number": "65", "direction": "1", "service_key": "W"},
        {"trip_id": "101", "vehicle_number": "4008", "route_number": "99", "direction": "0", "service_key": "W"},
    ]
    (tmpdirs["in2"] / "stops.json").write_text("\n".join(json.dumps(r) for r in events))

    raw = spark.readStream.schema(schemas.RAW_STOP_EVENT).json(str(tmpdirs["in2"]))
    q = run_stop_event_pipeline(raw, trip_store, tmpdirs["ckpt2"])
    q.awaitTermination(120)

    t = {r.trip_id: r for r in spark.read.parquet(tmpdirs["trip"]).collect()}
    # A3 first-wins on (direction,route,...) ordering: route 65/Back row
    # sorts first; trip 102 untouched (K5 unmatched keeps placeholders)
    assert t[101].route_id == 65 and t[101].direction == "Back"
    assert t[102].route_id == 0 and t[102].direction == "Out"

    # T4 on the E2 path: replay the same input with a fresh checkpoint
    # (at-least-once duplicate delivery) — the keyed UPDATE merge is
    # idempotent, so Trip must be byte-identical after the second run
    q2 = run_stop_event_pipeline(raw, trip_store, tmpdirs["ckpt2"] + "_replay")
    q2.awaitTermination(120)
    t2 = {r.trip_id: r for r in spark.read.parquet(tmpdirs["trip"]).collect()}
    assert len(t2) == len(t)
    for k in t:
        assert t2[k] == t[k]


def test_hourly_hotspot_windowed_stream(spark, tmpdirs):
    """Event-time tumbling windows + watermark in append mode: only
    windows the watermark has passed emit (exactly once); the open
    window holds back. maxFilesPerTrigger=1 forces two micro-batches so
    the watermark from batch 1's max event time finalizes its windows."""
    from c_tran_data_pipeline_spark.streaming.pipeline import (
        conform_validate_stream,
        hourly_hotspot_stream,
    )

    early = [
        dict(GOOD, ACT_TIME="32400", VELOCITY="10"),  # 09:00
        dict(GOOD, ACT_TIME="33000", VELOCITY="30"),  # 09:10
        dict(GOOD, ACT_TIME="36000", VELOCITY="40"),  # 10:00
    ]
    late = [dict(GOOD, ACT_TIME="46800", VELOCITY="5")]  # 13:00 → watermark 11:00
    (tmpdirs["in"] / "b1.json").write_text("\n".join(json.dumps(r) for r in early))
    (tmpdirs["in"] / "b2.json").write_text("\n".join(json.dumps(r) for r in late))

    raw = (
        spark.readStream.schema(schemas.RAW_BREADCRUMB)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmpdirs["in"]))
    )
    out = hourly_hotspot_stream(conform_validate_stream(raw, watermark="2 hours"))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("hourly_hotspot")
        .option("checkpointLocation", tmpdirs["ckpt1"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = {
        (r.hour_start.hour, r.trip_id): r
        for r in spark.sql("SELECT * FROM hourly_hotspot").collect()
    }
    # 09:00 and 10:00 windows are below the final 11:00 watermark → emitted;
    # the 13:00 window is still open → withheld.
    assert (9, 101) in rows and (10, 101) in rows and (13, 101) not in rows
    assert rows[(9, 101)].n_readings == 2 and rows[(9, 101)].avg_speed == 20.0
    assert rows[(10, 101)].max_speed == 40.0


def test_dedup_stream_removes_replays(spark, tmpdirs):
    """dropDuplicatesWithinWatermark: a replayed batch (at-least-once
    delivery) yields no duplicate rows downstream — T4 without relying on
    a PK-enforcing sink. Two input files share two identical records."""
    from c_tran_data_pipeline_spark.streaming.pipeline import (
        conform_validate_stream,
        dedup_stream,
    )

    batch = [
        GOOD,
        dict(GOOD, ACT_TIME="36005", VELOCITY="30"),
    ]
    replay = [
        GOOD,  # exact replay
        dict(GOOD, ACT_TIME="36010", VELOCITY="35"),  # new record
    ]
    (tmpdirs["in"] / "b1.json").write_text("\n".join(json.dumps(r) for r in batch))
    (tmpdirs["in"] / "b2.json").write_text("\n".join(json.dumps(r) for r in replay))

    raw = (
        spark.readStream.schema(schemas.RAW_BREADCRUMB)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmpdirs["in"]))
    )
    out = dedup_stream(conform_validate_stream(raw))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", tmpdirs["ckpt1"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = spark.sql("SELECT tstamp, speed FROM dedup_stream").collect()
    assert len(rows) == 3  # 2 + 2 inputs, 1 replay dropped
    assert sorted(r.speed for r in rows) == [25.0, 30.0, 35.0]


def test_session_stream_gap_windows(spark, tmpdirs):
    """session_window: readings ≤gap apart merge into one session; a
    >gap silence opens a new one. Late watermark (driven by a 13:00
    record in batch 2) closes the morning sessions so append emits them."""
    from c_tran_data_pipeline_spark.streaming.pipeline import (
        conform_validate_stream,
        session_stream,
    )

    early = [
        dict(GOOD, ACT_TIME="32400", VELOCITY="10"),  # 09:00
        dict(GOOD, ACT_TIME="33000", VELOCITY="20"),  # 09:10 (same session)
        dict(GOOD, ACT_TIME="36000", VELOCITY="40"),  # 10:00 (>30min gap → new)
    ]
    late = [dict(GOOD, ACT_TIME="46800", VELOCITY="5")]  # 13:00 → watermark 11:00
    (tmpdirs["in"] / "b1.json").write_text("\n".join(json.dumps(r) for r in early))
    (tmpdirs["in"] / "b2.json").write_text("\n".join(json.dumps(r) for r in late))

    raw = (
        spark.readStream.schema(schemas.RAW_BREADCRUMB)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmpdirs["in"]))
    )
    out = session_stream(conform_validate_stream(raw, watermark="2 hours"))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("session_stream")
        .option("checkpointLocation", tmpdirs["ckpt2"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = sorted(
        spark.sql("SELECT * FROM session_stream").collect(),
        key=lambda r: r.session_start,
    )
    # two closed morning sessions; the 13:00 session is still open → withheld
    assert len(rows) == 2
    assert rows[0].n_readings == 2 and rows[0].avg_speed == 15.0
    assert rows[0].session_start.hour == 9
    assert rows[1].n_readings == 1 and rows[1].session_start.hour == 10


def test_decode_breadcrumb_messages_batch(spark):
    """decode_breadcrumb_messages is source-agnostic: feed it a batch
    DataFrame shaped like the Kafka source (binary key/value) — V8 null
    drop + JSON decode + schema projection, no stream required."""
    from c_tran_data_pipeline_spark.streaming.pipeline import decode_breadcrumb_messages

    rows = [
        ("reading", json.dumps(GOOD)),
        ("reading", None),  # V8: dropped
        ("reading", json.dumps(dict(GOOD, EVENT_NO_TRIP="202", VELOCITY="7"))),
    ]
    kafka_like = spark.createDataFrame(rows, "key string, value string").selectExpr(
        "CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value"
    )
    out = decode_breadcrumb_messages(kafka_like)
    got = sorted(r.EVENT_NO_TRIP for r in out.collect())
    assert got == ["101", "202"]
    assert out.schema.fieldNames() == schemas.RAW_BREADCRUMB.fieldNames()


def test_streaming_hotspot_to_geojson_sink(spark, tmpdirs, tmp_path):
    """E1→E3 composed as ONE streaming pipeline: conform/validate the
    breadcrumb stream, aggregate avg speed per GPS point per micro-batch
    in foreachBatch, and emit GeoJSON Feature lines (K6) — the
    reference's nightly tsvscript run becomes a continuous sink."""
    import glob

    from c_tran_data_pipeline_spark.sinks.geojson import features_df
    from c_tran_data_pipeline_spark.streaming.pipeline import conform_validate_stream
    from pyspark.sql import functions as F

    rows = [
        GOOD,
        dict(GOOD, ACT_TIME="36010", VELOCITY="35"),
        dict(GOOD, GPS_LATITUDE="45.60", GPS_LONGITUDE="-122.50", VELOCITY="10"),
    ]
    (tmpdirs["in"] / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    raw = spark.readStream.schema(schemas.RAW_BREADCRUMB).json(str(tmpdirs["in"]))
    out_dir = tmp_path / "geo"

    def emit(batch, epoch_id):
        agg = (
            batch.groupBy("latitude", "longitude")
            .agg(F.avg("speed").alias("avg_speed"))
            .filter(F.col("avg_speed").isNotNull())  # V7
        )
        features_df(agg, "longitude", "latitude", ["avg_speed"]).write.mode(
            "append"
        ).text(str(out_dir / f"epoch={epoch_id}"))

    q = (
        conform_validate_stream(raw)
        .writeStream.foreachBatch(emit)
        .option("checkpointLocation", tmpdirs["ckpt1"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    feats = []
    for f in glob.glob(str(out_dir / "**" / "*.txt"), recursive=True):
        feats += [json.loads(l) for l in open(f).read().splitlines() if l]
    assert len(feats) == 2  # two distinct GPS points
    by_coord = {tuple(f["geometry"]["coordinates"]): f for f in feats}
    assert by_coord[(-122.67, 45.52)]["properties"]["avg_speed"] == 30.0  # (25+35)/2
    assert by_coord[(-122.5, 45.6)]["properties"]["avg_speed"] == 10.0
    assert all(f["type"] == "Feature" and f["geometry"]["type"] == "Point" for f in feats)


@pytest.mark.slow
def test_stream_stream_interval_join_matches_batch(spark, tmpdirs):
    """Breadcrumb stream ⋈ timestamped stop stream on trip_id within a
    1h lookback: the streaming result (availableNow drain) must equal
    the identical batch join — and crumbs whose only stop candidates lie
    outside the interval must not pair."""
    import datetime as dt

    from pyspark.sql import functions as F
    from c_tran_data_pipeline_spark.streaming.pipeline import (
        conform_validate_stream,
        enrich_crumbs_with_stop_stream,
    )

    rows = [
        GOOD,  # 10:00:00 (ACT_TIME 36000)
        dict(GOOD, ACT_TIME="39600"),  # 11:00:00 — 65/90 in window
        dict(GOOD, EVENT_NO_TRIP="102", VEHICLE_ID="4009", ACT_TIME="50000"),  # no stop
    ]
    (tmpdirs["in"] / "crumbs.json").write_text("\n".join(json.dumps(r) for r in rows))

    base = dt.datetime(2020, 9, 25)
    stops = [
        # 10:30 — within [crumb-1h, crumb] of the 11:00 crumb only
        {"trip_id": 101, "stop_ts": (base + dt.timedelta(hours=10, minutes=30)).isoformat(), "route_id": 65, "arrive_state": "ontime"},
        # 09:30 — within window of the 10:00 crumb only
        {"trip_id": 101, "stop_ts": (base + dt.timedelta(hours=9, minutes=30)).isoformat(), "route_id": 65, "arrive_state": "late"},
        # trip 102 at 08:00 — outside every crumb's window
        {"trip_id": 102, "stop_ts": (base + dt.timedelta(hours=8)).isoformat(), "route_id": 20, "arrive_state": "ontime"},
    ]
    (tmpdirs["in2"] / "stops.json").write_text("\n".join(json.dumps(r) for r in stops))
    stop_schema = "trip_id bigint, stop_ts timestamp, route_id int, arrive_state string"

    raw = spark.readStream.schema(schemas.RAW_BREADCRUMB).json(str(tmpdirs["in"]))
    stop_stream = spark.readStream.schema(stop_schema).json(str(tmpdirs["in2"]))
    joined = enrich_crumbs_with_stop_stream(
        conform_validate_stream(raw), stop_stream, lookback="1 hour"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjoin")
        .outputMode("append")
        .option("checkpointLocation", tmpdirs["ckpt1"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.trip_id, r.tstamp, r.stop_ts, r.arrive_state)
        for r in spark.sql("SELECT * FROM ssjoin").collect()
    }

    batch_crumbs = conform_validate_stream(
        spark.read.schema(schemas.RAW_BREADCRUMB).json(str(tmpdirs["in"]))
    )
    batch_stops = spark.read.schema(stop_schema).json(str(tmpdirs["in2"]))
    expected = {
        (r.trip_id, r.tstamp, r.stop_ts, r.arrive_state)
        for r in batch_crumbs.alias("l")
        .join(
            batch_stops.alias("r"),
            (F.col("l.trip_id") == F.col("r.trip_id"))
            & (F.col("r.stop_ts") >= F.expr("l.tstamp - INTERVAL 1 hour"))
            & (F.col("r.stop_ts") <= F.col("l.tstamp")),
        )
        .select("l.trip_id", "l.tstamp", "r.stop_ts", "r.arrive_state")
        .collect()
    }
    assert got == expected
    assert len(got) == 2  # one stop per matched crumb; trip 102 unmatched
    states = {s for (_, _, _, s) in got}
    assert states == {"ontime", "late"}


def test_stop_event_pipeline_onto_versioned_store(spark, tmpdirs, tmp_path):
    """E2 merge against the VERSIONED store: each micro-batch commit is
    an auditable snapshot — the pre-merge Trip state stays readable via
    time travel after the stream updates it (the lakehouse audit-trail
    upgrade of the plain _TableStore, same duck-typed merge contract)."""
    from c_tran_data_pipeline_spark.sinks.versioned import VersionedTableStore

    store = VersionedTableStore(spark, str(tmp_path / "vtrips"), schemas.TRIP)
    store.commit(
        spark.createDataFrame(
            [
                Row(trip_id=201, route_id=0, vehicle_id=4008,
                    service_key="Weekday", direction="Out"),
            ],
            schema=schemas.TRIP,
        )
    )
    events = [
        {"trip_id": "201", "vehicle_number": "4008", "route_number": "65",
         "direction": "1", "service_key": "W"},
    ]
    (tmp_path / "vin").mkdir()
    (tmp_path / "vin" / "stops.json").write_text("\n".join(json.dumps(r) for r in events))

    raw = spark.readStream.schema(schemas.RAW_STOP_EVENT).json(str(tmp_path / "vin"))
    q = run_stop_event_pipeline(raw, store, str(tmp_path / "vckpt"))
    q.awaitTermination(120)

    assert store.current_version() == 2
    now = {r.trip_id: r for r in store.read().collect()}
    assert now[201].route_id == 65 and now[201].direction == "Back"
    before = {r.trip_id: r for r in store.read(version=1).collect()}
    assert before[201].route_id == 0 and before[201].direction == "Out"


def _roundtrip_kafka(spark, df, key_literal, decode):
    """Encode via to_kafka_sink, feed the (key,value) binary frame back
    through the decoder — the full both-directions contract minus the
    broker itself."""
    from c_tran_data_pipeline_spark.sources.kafka import to_kafka_sink

    encoded = to_kafka_sink(df, key_literal)
    assert encoded.columns == ["key", "value"]
    assert [f.dataType.simpleString() for f in encoded.schema.fields] == ["binary", "binary"]
    keys = {bytes(r["key"]) for r in encoded.collect()}
    assert keys == {key_literal.encode()}  # constant key, reference producer.py:81
    # inject a V8 null-value message alongside the encoded ones
    null_row = spark.createDataFrame(
        [(key_literal.encode(), None)], encoded.schema
    )
    return decode(encoded.unionAll(null_row))


def test_kafka_contract_roundtrip_breadcrumbs(spark):
    """K1→S3 contract, crumb schema: encode→decode is the identity on
    RAW_BREADCRUMB rows (null-value V8 skip included) — both directions
    of the reference's producer.py:84-93 / topic_consumer.py:215-235
    exchange, minus only the broker."""
    from c_tran_data_pipeline_spark.streaming.pipeline import decode_breadcrumb_messages

    raw = [GOOD, dict(GOOD, EVENT_NO_TRIP="202", VELOCITY="7", GPS_HDOP="1.2")]
    df = spark.createDataFrame(
        [tuple(r.get(f.name) for f in schemas.RAW_BREADCRUMB.fields) for r in raw],
        schemas.RAW_BREADCRUMB,
    )
    back = _roundtrip_kafka(spark, df, "reading", decode_breadcrumb_messages)
    assert back.schema == schemas.RAW_BREADCRUMB
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_kafka_contract_roundtrip_stop_events(spark):
    """Same contract, stop-event schema (stop_producer.py:99 key
    'stop_event' / stop_consumer.py value parse + :140-142 null skip)."""
    from c_tran_data_pipeline_spark.streaming.pipeline import decode_stop_event_messages

    rows = [
        ("229207908", "3909", "9", "0", "W"),
        ("229207909", "3910", "20", "1", "U"),
        ("229207910", "3911", "75", "", "S"),  # ''-direction survives transport
    ]
    df = spark.createDataFrame(rows, schemas.RAW_STOP_EVENT)
    back = _roundtrip_kafka(spark, df, "stop_event", decode_stop_event_messages)
    assert back.schema == schemas.RAW_STOP_EVENT
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


@pytest.mark.slow
def test_stream_stream_left_outer_finalizes_unmatched_at_watermark(spark, tmpdirs):
    """how='left_outer': matched rows emit like the inner join;
    UNMATCHED left rows emit with NULL right columns only after the
    global watermark (min across both inputs) passes their join bound —
    a later batch of far-future rows on both streams (maxFilesPerTrigger
    =1 splits the availableNow drain into multiple micro-batches) is
    what advances it and finalizes the state."""
    import json as _json

    from c_tran_data_pipeline_spark.streaming.pipeline import interval_join_streams

    left_schema = "key bigint, lts timestamp, payload string"
    right_schema = "key bigint, rts timestamp, tag string"
    # batch 1: key 1 matches (right 09:30 within [09:15, 10:15]); key 2 doesn't
    (tmpdirs["in"] / "a.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"key": 1, "lts": "2020-09-25T10:15:00", "payload": "p1"},
                {"key": 2, "lts": "2020-09-25T10:15:00", "payload": "p2"},
            ]
        )
    )
    (tmpdirs["in2"] / "a.json").write_text(
        _json.dumps({"key": 1, "rts": "2020-09-25T09:30:00", "tag": "hit"})
    )
    # batch 2: far-future advancers on BOTH streams push the global
    # watermark (1h delay) way past batch 1's bounds
    (tmpdirs["in"] / "b.json").write_text(
        _json.dumps({"key": 9, "lts": "2020-09-26T12:00:00", "payload": "adv"})
    )
    (tmpdirs["in2"] / "b.json").write_text(
        _json.dumps({"key": 9, "rts": "2020-09-26T12:00:00", "tag": "adv"})
    )

    left = (
        spark.readStream.schema(left_schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmpdirs["in"]))
    )
    right = (
        spark.readStream.schema(right_schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmpdirs["in2"]))
    )
    joined = interval_join_streams(
        left, right, key="key", left_ts="lts", right_ts="rts",
        lookback="1 hour", left_watermark="1 hour", right_watermark="1 hour",
        how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssouter")
        .outputMode("append")
        .option("checkpointLocation", tmpdirs["ckpt2"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.payload, r.tag) for r in spark.sql("SELECT * FROM ssouter").collect()
    }
    assert (1, "p1", "hit") in got            # matched: inner semantics
    assert (2, "p2", None) in got             # unmatched: null-padded after watermark
    # the advancer keys 9/9 actually match each other (rts == lts)
    assert (9, "adv", "adv") in got
    assert all(k != 2 or t is None for k, _, t in got)


def test_statestore_reader_exposes_window_agg_state(spark, tmpdirs):
    """Spark 4's state-store READER (spark.read.format('statestore')):
    the checkpointed state of our hourly-hotspot window aggregation is
    directly queryable as a DataFrame — the ops surface a production
    deployment uses to debug a stuck stateful stream without replaying
    it. After an availableNow drain, every open (window, trip) group
    still inside the watermark horizon appears in state with EXACTLY
    the batch-computed count/sum — verifying the checkpoint really
    carries the aggregation's partial state, not just offsets."""
    from c_tran_data_pipeline_spark.streaming.pipeline import (
        conform_validate_stream,
        hourly_hotspot_stream,
    )

    rows = [
        GOOD,  # trip 101, 10:00:00
        dict(GOOD, ACT_TIME="36060"),            # same trip+hour, 10:01
        dict(GOOD, EVENT_NO_TRIP="102", VEHICLE_ID="4009", ACT_TIME="39600"),
    ]
    (tmpdirs["in"] / "crumbs.json").write_text("\n".join(json.dumps(r) for r in rows))
    raw = spark.readStream.schema(schemas.RAW_BREADCRUMB).json(str(tmpdirs["in"]))
    q = (
        hourly_hotspot_stream(conform_validate_stream(raw))
        .writeStream.format("memory")
        .queryName("ssreader_sink")
        .outputMode("append")
        .option("checkpointLocation", tmpdirs["ckpt1"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    state = spark.read.format("statestore").load(tmpdirs["ckpt1"])
    # key struct = (window, trip_id); value struct is the agg buffer
    # {sum, count, max} — avg's partial state plus the max accumulator
    got = {}
    for r in state.collect():
        k, v = r.key.asDict(recursive=True), r.value.asDict()
        got[(k["window"]["start"].hour, k["trip_id"])] = v
    # all three readings are within the 48h watermark → all state open
    assert set(got) == {(10, 101), (11, 102)}
    speed = 25.0  # conform_validate's decoded speed for GOOD's VELOCITY
    assert got[(10, 101)] == {"sum": 2 * speed, "count": 2, "max": speed}
    assert got[(11, 102)] == {"sum": speed, "count": 1, "max": speed}
