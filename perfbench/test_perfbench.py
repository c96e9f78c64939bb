"""Tests of the benchmark's own arithmetic and contract; no Spark needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from workloads import LAYERS, WORKLOADS  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_and_workload_names_use_the_allowed_charset():
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in BENCH[key]]
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(names) == len(set(names))
    units = [m["unit"] for key in ("end_to_end", "per_layer") for m in BENCH[key]]
    assert all(UNIT.fullmatch(u) for u in units)
    assert all(m["better"] in ("lower", "higher") for key in ("end_to_end", "per_layer") for m in BENCH[key])


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in BENCH["workloads"]] == [w.why for w in WORKLOADS.values()]
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    warm = [[("a", 1.0, True)], [("a", 1.5, True)]]
    setups = [{"import": 1.0, "get_spark": 7.0}, {"import": 1.5, "get_spark": 8.5}]
    metrics = run.end_to_end(setups, warm, 900.0)
    assert set(metrics) == set(e2e)
    assert metrics["setup_s"] == 9.0  # the median (here the mean) of the two set-ups
    per_layer = {m["name"] for m in BENCH["per_layer"]}
    assert "cold_pass_s" in per_layer
    assert {m for layer in LAYERS.values() for m in layer["metrics"]} <= per_layer
    assert all(set(layer["workloads"]) <= set(WORKLOADS) for layer in LAYERS.values())


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 41)]
    assert stats.percentile(xs, 0.5) == 20.0
    assert stats.percentile(xs, 0.75) == 30.0
    assert stats.percentile(xs, 1.0) == 40.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_p90_needs_ten_samples_beyond_it():
    assert stats.beyond(100, 0.9) == 10
    assert stats.p90([float(i) for i in range(100)]) == {"value": 89.0, "n": 100}
    # 99 samples: only 9 lie beyond the p90
    assert stats.beyond(99, 0.9) == 9
    assert stats.p90([float(i) for i in range(99)]) is None
    assert stats.p90([1.0] * 12) is None


def test_self_time_subtracts_direct_children_only():
    ticks = iter([0.0, 1.0, 2.0, 5.0, 6.0, 7.0, 9.0, 10.0, 12.0, 13.0])
    t = Tracer("w", clock=lambda: next(ticks))
    with t.span("entry"):                 # 0 .. 13
        with t.span("build"):             # 1 .. 9
            with t.span("txlog.commit"):  # 2 .. 5
                pass
            with t.span("txlog.read"):    # 6 .. 7
                pass
        with t.span("action"):            # 10 .. 12
            pass
    assert {s.name: s.duration for s in t.spans} == {
        "entry": 13.0, "build": 8.0, "txlog.commit": 3.0, "txlog.read": 1.0, "action": 2.0}
    assert [s.parent for s in t.spans] == [None, 0, 1, 1, 0]
    assert self_times(t.spans) == {
        "entry": 3.0, "build": 4.0, "txlog.commit": 3.0, "txlog.read": 1.0, "action": 2.0}
    # self times partition the root span
    assert sum(self_times(t.spans).values()) == 13.0


def test_corrupted_expected_hash_counts_as_failed():
    from oracle import result_hash

    rows = {"a": (["x"], [(1,), (2,)]), "b": (["y"], [("s",)])}
    expected = {k: result_hash(*v) for k, v in rows.items()}
    expected["b"] = "0" * 64  # deliberately wrong

    def execute(name):
        if name == "c":
            raise RuntimeError("boom")
        columns, result = rows[name]
        return SimpleNamespace(columns=columns), result

    passes = [run.run_pass(["a", "b"], execute, expected) for _ in range(3)]
    passes.append(run.run_pass(["b", "a", "c"], execute, expected))
    attempted, failed = run.failures(passes)
    assert (attempted, failed) == (9, 5)  # b four times, c once
    assert run.report({}, [], attempted, failed) == {
        "correct": False, "attempted": 9, "failed": 5, "metrics": {}}


def test_cold_pass_verifies_and_sets_the_expected_hashes():
    rows = {"a": [(1,)], "b": [(2,)]}

    def execute(name):
        return SimpleNamespace(columns=["x"]), rows[name]

    expected = {}
    cold = run.run_pass(["a", "b"], execute, expected, verify=lambda name, df: name == "a")
    assert [s[2] for s in cold] == [True, False]
    assert expected["b"] is None
    rows["a"] = [(3,)]  # a later execution that differs from the verified one
    warm = run.run_pass(["a", "b"], execute, expected)
    assert run.failures([cold, warm]) == (4, 3)


def test_result_hash_ignores_row_and_column_order():
    from oracle import result_hash

    a = result_hash(["b", "a"], [(1, "x"), (2, "y")])
    assert a == result_hash(["a", "b"], [("y", 2), ("x", 1)])
    assert a != result_hash(["a", "b"], [("y", 2), ("x", 1.0)])  # int vs float differ


def test_warm_pass_count_depends_only_on_seconds():
    assert run.warm_passes(1) == 1
    assert run.warm_passes(int(3 * run.NOMINAL_PASS_S)) == 3


def test_generated_tables_match_the_test_data_summary(tmp_path):
    import pyarrow.parquet as pq

    expected = json.loads((HERE / "tables.json").read_text())
    out = datagen.ensure(tmp_path)
    got = {name: datagen.summary(pq.read_table(out / f"{name}.parquet")) for name in expected}
    assert got == expected
    from hive_clone_spark.catalog import TABLES

    assert sorted(expected) == sorted(TABLES)
