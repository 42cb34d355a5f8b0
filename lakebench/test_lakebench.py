"""Fast tests of the benchmark's own machinery (no Spark session):

    python3 -m pytest lakebench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

import gen
import run
import spans
import workloads

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- seeded inputs ---------------------------------------------------------
def _inputs(seed: int) -> list[pd.DataFrame]:
    uni = gen.Universe(seed)
    day = uni.trading_days(3)[-1]
    a = gen.bars(uni, gen.rng_for(seed, 1, 0), day, 2000)
    b = gen.bars(uni, gen.rng_for(seed, 5, 1), day, 3000)
    gen.spoil(b, gen.rng_for(seed, 6, 1), 0.01)
    q = gen.quotes(uni, gen.rng_for(seed, 8, 0), day, np.arange(5), 50)
    return [pd.DataFrame({"names": uni.names, "w": uni.weights}), a, b, q]


def test_same_seed_same_inputs():
    for x, y in zip(_inputs(7), _inputs(7)):
        pd.testing.assert_frame_equal(x, y)


def test_other_seed_other_inputs():
    for x, y in zip(_inputs(7), _inputs(8)):
        assert not x.equals(y)


def test_workload_plans_follow_the_seed(tmp_path):
    def plan(seed):
        wl = workloads.SymbolLookup(seed, 5, str(tmp_path / str(seed)), False)
        return [wl.plan(i) for i in range(30)]

    assert plan(3) == plan(3)
    assert plan(3) != plan(4)


def test_bars_are_valid_and_ordered():
    uni = gen.Universe(1)
    df = gen.bars(uni, gen.rng_for(1, 0), uni.trading_days(1)[0], 5000)
    assert (df["high"] >= df[["open", "close"]].max(axis=1)).all()
    assert (df["low"] <= df[["open", "close"]].min(axis=1)).all()
    assert (df["volume"] > 0).all()
    assert df["timestamp"].is_monotonic_increasing
    assert df["timestamp"].is_unique
    bad = gen.spoil(df, gen.rng_for(1, 1), 0.05)
    invalid = (df["high"] < df["low"]) | (df["volume"] < 0)
    assert bad.sum() > 0
    assert np.array_equal(bad, invalid.to_numpy())


def test_symbol_index_lookup_is_inclusive():
    ts = pd.to_datetime(["2024-01-02 10:00", "2024-01-02 11:00",
                         "2024-01-02 12:00"]).astype("datetime64[us]")
    df = pd.DataFrame({"symbol": ["A", "A", "B"], "timestamp": ts})
    idx = gen.SymbolIndex(df)
    got = idx.lookup("A", pd.Timestamp("2024-01-02 10:00"),
                     pd.Timestamp("2024-01-02 11:00"))
    assert len(got) == 2
    assert len(idx.lookup("C", ts[0], ts[-1])) == 0


# --- percentiles -------------------------------------------------------------
@pytest.mark.parametrize("n,want", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_has_ten_samples_beyond(n, want):
    assert spans.tail_percentile(n) == want


def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(0).random(37))
    for p in (0, 10, 50, 90, 100):
        assert spans.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


# --- spans -------------------------------------------------------------------
def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": 0}


def test_self_time_subtracts_merged_clipped_children():
    s = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 3.0, 0),
        _span("b", 2.0, 5.0, 0),   # overlaps a: covered [1, 5]
        _span("c", 8.0, 12.0, 0),  # clipped to [8, 10]
        _span("d", 1.5, 2.5, 1),   # grandchild: only a loses it
    ]
    assert spans.self_times(s) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0])


def test_recorder_nests_and_toggles():
    class Lake:
        def scan(self, x):
            return self.inner(x) + 1

        def inner(self, x):
            return x * 2

    rec = spans.Recorder()
    lake = Lake()
    seen = []
    w = rec.wrap(lake, "scan", "txnlog.snapshot")
    rec.wrap(lake, "inner", "txnlog.prune", on_result=seen.append)
    assert rec.wrap(lake, "missing", "x") is None
    assert lake.scan(1) == 3  # disabled: no spans
    assert rec.spans == []
    rec.enabled, rec.op = True, 5
    with rec.span("op.lookup"):
        assert lake.scan(2) == 5
    names = [(s["name"], s["parent"], s["op"]) for s in rec.spans]
    assert names == [("op.lookup", None, 5), ("txnlog.snapshot", 0, 5),
                     ("txnlog.prune", 1, 5)]
    assert w.calls == 2
    assert seen == [2, 4]


def test_walk_table_splits_data_and_log(tmp_path):
    (tmp_path / "_txn_log").mkdir()
    (tmp_path / "_txn_log" / "00000000.json").write_text("{}")
    (tmp_path / "_txn_log" / "00000004.checkpoint").write_text("abc")
    (tmp_path / "date=2024-01-02").mkdir()
    (tmp_path / "date=2024-01-02" / "part-1.parquet").write_bytes(b"12345")
    w = spans.walk_table(str(tmp_path))
    assert w == {"data_files": 1, "data_bytes": 5, "log_files": 2,
                 "log_bytes": 5, "checkpoints": 1}


# --- the benchmark description ---------------------------------------------------
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)


def test_benchmark_json_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["lakebench"]
    assert 1 <= b["run_seconds"] <= 60
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.match(m["unit"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "lakebench"), tmp_path / "lakebench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", "tick_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
