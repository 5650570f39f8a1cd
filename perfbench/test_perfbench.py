"""Self-test of the benchmark's own arithmetic and metric definitions.
Needs no Spark session:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
from stats import OpLoop, self_times, tail_percentile  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units():
    spec = _spec()
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert set(e2e) == set(run.END_TO_END_UNITS)
    for name, m in e2e.items():
        assert m["unit"] == run.END_TO_END_UNITS[name]
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]]
    assert all(NAME.match(n) for n in names)
    assert len(set(m["name"] for m in spec["end_to_end"] + spec["per_layer"])) == len(
        spec["end_to_end"]) + len(spec["per_layer"])
    for m in spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["unit"] == run.unit_of(m["name"]), m
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 10) == (None, None, 10)
    p, v, n = tail_percentile([float(i) for i in range(1, 21)])
    # p50 of 20 is rank 10, with exactly ten samples beyond it; p51 has nine
    assert (p, v, n) == (50, 10.0, 20)
    p, v, n = tail_percentile([float(i) for i in range(1, 1001)])
    assert (p, v, n) == (99, 990.0, 1000)


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 1.5, "end": 2.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_corrupted_output_is_a_failed_operation(tmp_path):
    """An operation whose output is wrong is counted as failed and gives
    no timing sample."""
    out = str(tmp_path / "q")
    os.makedirs(out)
    oracle_con = duckdb.connect()
    res = oracle_con.execute("SELECT * FROM (VALUES (1, 2.5), (2, 3.5)) t(k, v)")
    cols = [d[0] for d in res.description]
    oracle = (sorted(cols), checks._canon()(res.fetchall(), cols))

    def write(rows: str):
        def op():
            duckdb.execute(f"COPY (SELECT * FROM (VALUES {rows}) t(k, v)) TO '{out}/part-0.parquet'")
        return op

    def check(_):
        return checks.check_query(out, "toy", oracle)

    loop = OpLoop()
    loop.run(write("(1, 2.5), (2, 3.5)"), check)
    assert (loop.attempted, loop.failed, loop.first_s is not None) == (1, 0, True)
    loop.run(write("(1, 2.5), (2, 3.75)"), check)  # corrupted value
    loop.run(lambda: (_ for _ in ()).throw(RuntimeError("boom")), check)
    assert loop.attempted == 3 and loop.failed == 2
    assert loop.warm_s == []
    assert any("value mismatch" in p for p in loop.problems)


def test_ramp_operations_are_not_samples():
    """Operation 0 is first_run_s, the ramp operations are checked but not
    sampled, and only the rest are run_s samples."""
    loop = OpLoop(warmup=2)
    for _ in range(5):
        loop.run(lambda: None, lambda _: [])
    assert loop.first_s is not None
    assert (len(loop.ramp_s), len(loop.warm_s), loop.attempted) == (2, 2, 5)
    loop.run(lambda: None, lambda _: ["wrong"])
    assert (len(loop.warm_s), loop.failed) == (2, 1)
