"""Self-tests of the benchmark; they start no Spark session.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path

import common
import ingest
import queries
import run
from c_tran_data_pipeline_spark import oracle

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _tree_digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def test_same_seed_same_bytes(tmp_path):
    a = ingest.generate(7, tmp_path / "a", n_files=2, per_file=500)
    b = ingest.generate(7, tmp_path / "b", n_files=2, per_file=500)
    c = ingest.generate(8, tmp_path / "c", n_files=2, per_file=500)
    assert a == b
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")
    assert _tree_digest(tmp_path / "a") != _tree_digest(tmp_path / "c")


def test_generator_has_every_dirty_class(tmp_path):
    exp = ingest.generate(3, tmp_path)
    lines = [json.loads(x) for f in sorted((tmp_path / "crumbs").iterdir()) for x in f.read_text().splitlines()]
    assert len(lines) == exp["raw"] == ingest.N_FILES * ingest.PER_FILE
    assert 0 < exp["valid"] < exp["raw"]
    assert any("EVENT_NO_TRIP" not in r for r in lines)
    assert any(r.get("EVENT_NO_TRIP") == "" for r in lines)
    assert any(int(r["DIRECTION"]) > 359 for r in lines if r["DIRECTION"])
    assert any(int(r["VELOCITY"]) > 200 for r in lines if r["VELOCITY"])
    assert any(int(r["ACT_TIME"]) > 172_800 for r in lines)
    assert any(r["GPS_LATITUDE"] == "" for r in lines)
    stops = [json.loads(x)["trip_id"] for x in (tmp_path / "stops" / "stops.json").read_text().splitlines()]
    assert len(stops) > len(set(stops))  # duplicate trip ids
    assert exp["flagship_rows"] > 0


def test_digest_uses_oracle_canonicalization():
    assert common._canon_rows is oracle._canon_rows


def test_metric_names_and_benchmark_file():
    spec = json.loads((common.ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names + list(run.PER_LAYER))
    assert [w["name"] for w in spec["workloads"]] == ["corpus", "ingest"]
    assert set(run.WORKLOADS) == {"olap", "corpus", "ingest"}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "pass_s", "ops_per_s"}


def test_every_query_has_an_expected_digest():
    expected = common.load_expected()
    assert set(expected) == set(queries.OLAP + queries.CORPUS)
    pinned = {n for n, e in expected.items() if e["source"] == "self-pinned"}
    assert pinned == {"q_semantic_dedup"}
