"""Self-tests for the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(os.path.dirname(HERE), "tools")]

import gen  # noqa: E402
from compare import diff  # noqa: E402
from run_window_check import compare  # noqa: E402
from stats import RunLog, Sample, tail  # noqa: E402
from workloads import Op, Phases, attempt, op_order, rows_to_pandas, verdict  # noqa: E402


@pytest.mark.parametrize("n", [11, 14, 20, 33, 99, 100, 132, 1000])
def test_tail_has_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    p, value, beyond = tail(samples)
    assert beyond >= 10
    assert sum(s > value for s in samples) == beyond
    # no higher whole percentile keeps ten samples beyond it
    if p < 99:
        rank = -(-(p + 1) * n // 100)
        assert n - rank < 10


def test_tail_picks_p90_of_100():
    assert tail([float(i) for i in range(1, 101)]) == (90, 90.0, 10)


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_fail_frac_counts_exception_and_wrong_output_once_each():
    def boom(_phases):
        raise RuntimeError("query blew up")

    ops = [
        Op("ok", "query", lambda _p: 1, lambda r: None if r == 1 else "wrong"),
        Op("raises", "query", boom, lambda r: pytest.fail("check must not run after a raise")),
        Op("wrong", "query", lambda _p: 2, lambda r: None if r == 1 else f"got {r}"),
        Op("bad check", "query", lambda _p: 1, lambda r: 1 / 0),
    ]
    log = RunLog()
    for op in ops:
        seconds, result, error = attempt(op, Phases(None))
        log.add(Sample(0, op.name, op.kind, seconds, verdict(op, result, error)))
    assert log.attempted == 4
    assert log.failed == 3
    assert log.fail_frac() == 0.75
    errors = {s.op: s.error for s in log.samples}
    assert errors["ok"] is None
    assert errors["raises"].startswith("raised RuntimeError")
    assert errors["wrong"] == "got 2"
    assert errors["bad check"].startswith("check raised ZeroDivisionError")


def test_same_seed_same_op_order():
    names = [f"q{i:02d}" for i in range(33)]
    assert op_order(names, 7, 0) == op_order(names, 7, 0)
    assert op_order(names, 7, 0) != op_order(names, 8, 0)
    assert op_order(names, 7, 0) != op_order(names, 7, 1)  # a fresh order per pass
    assert sorted(op_order(names, 7, 3)) == names


def test_same_seed_byte_identical_landing_files():
    a = gen.ingest_generations(5, 2, 8, 20)
    b = gen.ingest_generations(5, 2, 8, 20)
    c = gen.ingest_generations(6, 2, 8, 20)
    assert [g["files"] for g in a] == [g["files"] for g in b]
    assert [g["files"] for g in a] != [g["files"] for g in c]


def test_ingest_expectations_add_up():
    gens = gen.ingest_generations(3, 3, 10, 30)
    for g in gens:
        assert g["rows"] == g["valid"] + g["quarantined"]
        assert g["quarantined"] >= 1
        assert sum(text.count("\n") for text in g["files"].values()) == g["rows"]
    # later generations re-ping earlier trips (the trip upsert path)
    assert len(gens[1]["trips"]) == 20
    assert sum(gens[2]["valid_per_trip"].values()) == sum(g["valid"] for g in gens)


def test_tables_are_seeded():
    a, b = gen.make_tables(0.001, 1), gen.make_tables(0.001, 1)
    for name in gen.TABLES:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert len(a["lineitem"]) == 6000


def test_output_check_catches_one_changed_value():
    from pyspark.sql import Row
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("k", LongType()), StructField("name", StringType()), StructField("v", DoubleType()),
    ])
    rows = [Row(k=i, name=f"n{i}", v=i / 4) for i in range(50)]
    oracle = pd.DataFrame({"k": range(50), "name": [f"n{i}" for i in range(50)], "v": [i / 4 for i in range(50)]})
    assert compare("t", rows_to_pandas(schema, rows, "UTC"), oracle) is None
    changed = oracle.copy()
    changed.loc[17, "v"] = 17 / 4 + 1e-9
    assert compare("t", rows_to_pandas(schema, rows, "UTC"), changed) is not None


def test_compare_flags_counter_moves_as_code():
    old = [{"workload": "w", "metrics": {"wall_s": 10.0, "operators.stages": 40.0}}] * 3
    new = [{"workload": "w", "metrics": {"wall_s": 10.1, "operators.stages": 41.0}}] * 3
    rows = {(r["workload"], r["metric"]): r for r in diff(old, new)}
    assert rows[("w", "operators.stages")]["verdict"] == "code"
    assert rows[("w", "wall_s")]["verdict"] != "code"
