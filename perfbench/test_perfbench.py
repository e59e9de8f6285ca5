"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from pyspark.sql import Row

import run
from digest import check, digest
from tracing import self_times
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
PINS = json.loads((HERE / "pins.json").read_text())


def _result(key: str, calls: int, got: dict) -> dict:
    keys = [{"key": key, "total_s": 1.0, "error": None}]
    return {
        "ready_s": 1.0,
        "jvm_peak_rss_mb": 1.0,
        "digests": {key: got},
        "passes": [{"pass_s": 1.0, "traced": False, "floor_s": [0.1, 0.1], "keys": keys}] * calls,
    }


def test_digest_ignores_row_and_column_order():
    a = digest(["x", "y"], [(1, "a"), (2, "b")])
    b = digest(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    assert a["rows"] == 2
    assert digest(["x", "y"], [(1, "a"), (2, "c")]) != a


def test_digest_folds_engine_representations():
    """Values a Spark collect and a DuckDB fetchall return for equal results."""
    spark_side = digest(["v", "s", "f"], [(-0.0, Row(a=1, b=[1.5]), float("nan"))])
    duck_side = digest(["v", "s", "f"], [(0.0, {"b": [1.5], "a": 1}, float("nan"))])
    assert spark_side == duck_side


def test_corrupted_pin_is_reported_as_failure():
    key = "coloc"
    good = dict(PINS["outputs"][key])
    assert check({key: good}, PINS["outputs"]) == {}
    corrupted = {**PINS["outputs"], key: {**good, "sha256": "0" * 64}}
    assert key in check({key: good}, corrupted)
    attempted, failed, bad = run._outcome([_result(key, 3, good)], {"outputs": corrupted})
    assert (attempted, failed) == (3, 3)
    assert key in bad
    assert run._outcome([_result(key, 3, good)], PINS)[:2] == (3, 0)


def test_missing_output_is_reported_as_failure():
    attempted, failed, bad = run._outcome([_result("coloc", 1, None)], PINS)
    assert (attempted, failed) == (1, 1)
    assert bad["coloc"] == "no output"


def test_pins_cover_every_key_and_input():
    keys = {k for w in WORKLOADS.values() for k in w.keys}
    assert keys <= PINS["outputs"].keys()
    for name, sha in PINS["data"].items():
        assert hashlib.sha256((run.DATA / name).read_bytes()).hexdigest() == sha


def test_benchmark_json_matches_the_definitions():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    e2e = run.end_to_end([_result("coloc", 2, None)])
    assert [m["name"] for m in bench["end_to_end"]] == list(e2e)


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 5.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}
