"""Upsert/merge operator semantics (SURVEY.md §2.2 K4-K5, §2.5 J2-J3)."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import Row

from c_tran_data_pipeline_spark import schemas
from c_tran_data_pipeline_spark.operators.upsert import first_wins, insert_if_absent, merge_update
from c_tran_data_pipeline_spark.streaming.pipeline import _TableStore


def test_insert_if_absent_first_writer_wins(spark):
    existing = spark.createDataFrame([Row(trip_id=1, route_id=10), Row(trip_id=2, route_id=20)])
    incoming = spark.createDataFrame(
        [Row(trip_id=2, route_id=99), Row(trip_id=3, route_id=30), Row(trip_id=3, route_id=31)]
    )
    out = {r.trip_id: r.route_id for r in insert_if_absent(existing, incoming, ["trip_id"]).collect()}
    assert out == {1: 10, 2: 20, 3: 30}  # 2 keeps old value; 3 inserts min-ordered row


def test_first_wins_deterministic(spark):
    df = spark.createDataFrame(
        [Row(k=1, seq=2, v="b"), Row(k=1, seq=1, v="a"), Row(k=2, seq=5, v="z")]
    )
    out = {r.k: r.v for r in first_wins(df, ["k"], ["seq"]).collect()}
    assert out == {1: "a", 2: "z"}


def test_merge_update_enriches_matched_only(spark):
    target = spark.createDataFrame(
        [Row(trip_id=1, route_id=0, direction="Out"), Row(trip_id=2, route_id=0, direction="Out")]
    )
    updates = spark.createDataFrame([Row(trip_id=1, route_id=65, direction="Back")])
    out = {r.trip_id: (r.route_id, r.direction) for r in
           merge_update(target, updates, ["trip_id"], ["route_id", "direction"]).collect()}
    assert out == {1: (65, "Back"), 2: (0, "Out")}  # K5: unmatched keeps placeholders


def _files(path: str, prefix: str = "") -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith(prefix):
                with open(os.path.join(d, n), "rb") as fh:
                    out[os.path.relpath(os.path.join(d, n), path)] = fh.read()
    return out


def test_table_store_upsert_appends_absent_keys_only(spark, tmp_path):
    """K4 on the parquet store: first writer wins across upserts, a
    replayed upsert changes nothing (T4), and no upsert rewrites a part
    file already stored — insert-if-absent only appends."""
    store = _TableStore(spark, str(tmp_path / "trip"), schemas.TRIP)
    first = spark.createDataFrame(
        [(1, 10, 4008, "Weekday", "Out"), (2, 20, 4009, "Weekday", "Out")], schemas.TRIP
    )
    second = spark.createDataFrame(
        [(2, 99, 4009, "Saturday", "Back"), (3, 30, 4010, "Sunday", "Out"), (3, 31, 4010, "Sunday", "Out")],
        schemas.TRIP,
    )

    def upsert_keeping_parts(df):
        before = _files(store.path, "part-")
        store.upsert(df, keys=["trip_id"])
        after = _files(store.path, "part-")
        assert {k: after.get(k) for k in before} == before

    upsert_keeping_parts(first)
    upsert_keeping_parts(second)
    rows = sorted(tuple(r) for r in store.read().collect())
    assert rows == [
        (1, 10, 4008, "Weekday", "Out"),
        (2, 20, 4009, "Weekday", "Out"),  # the first writer's row
        (3, 30, 4010, "Sunday", "Out"),  # first_wins within the batch
    ]

    upsert_keeping_parts(second)  # replay: at-least-once delivery
    assert sorted(tuple(r) for r in store.read().collect()) == rows


def test_table_store_unreadable_part_raises(spark, tmp_path):
    """A store that exists but cannot be read is not an empty table:
    merge and upsert raise and leave every file as it was, instead of
    overwriting Trip with just the incoming rows."""
    path = tmp_path / "trip"
    path.mkdir()
    (path / "part-00000-corrupt.c000.snappy.parquet").write_bytes(b"not a parquet file")
    store = _TableStore(spark, str(path), schemas.TRIP)
    before = _files(str(path))
    updates = spark.createDataFrame([(1, 65, 4008, "Weekday", "Back")], schemas.TRIP)

    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        store.merge(updates, keys=["trip_id"], set_cols=["route_id", "direction"])
    assert _files(str(path)) == before
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        store.upsert(updates, keys=["trip_id"])
    assert _files(str(path)) == before
