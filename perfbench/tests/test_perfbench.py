"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q

The drain test needs a local Spark session (a few seconds to start);
everything else is pure Python.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, datagen, spans, stats, warehouse_dml  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.warehouse.dir", str(tmp_path_factory.mktemp("wh")))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_drain_evaluates_udf_column_once_per_row(spark):
    """The timed drain computes every output column: a Python UDF
    column runs once per row. ``count()`` prunes the column and never
    calls the UDF, which is why the benchmark does not drain with it."""
    from pyspark.sql import functions as F

    from perfbench.catalog import drain

    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def plus_one(x):
        calls.add(1)
        return x + 1

    n = 1000
    df = spark.range(n).repartition(3).withColumn("y", plus_one("id"))

    assert df.count() == n
    assert calls.value == 0  # count() never evaluated the UDF column

    assert drain(df) == n
    assert calls.value == n  # the drain evaluated it exactly once per row


def test_self_time_subtracts_union_of_children():
    tr = spans.Tracer()
    tr.new_op()
    with tr.span("parent"):
        with tr.span("child_a"):
            pass
        with tr.span("child_b"):
            with tr.span("grandchild"):
                pass
    by_name = {s["name"]: s for s in tr.spans}
    selfs = tr.self_times()
    parent = by_name["parent"]
    children = [by_name["child_a"], by_name["child_b"]]
    expect = (parent["end"] - parent["start"]) - sum(c["end"] - c["start"] for c in children)
    assert selfs[parent["id"]] == pytest.approx(expect, abs=1e-9)
    gc = by_name["grandchild"]
    assert selfs[gc["id"]] == pytest.approx(gc["end"] - gc["start"])
    assert {s["op"] for s in tr.spans} == {1}
    assert by_name["grandchild"]["parent"] == by_name["child_b"]["id"]


def test_self_time_counts_overlapping_children_once():
    tr = spans.Tracer()
    tr.spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 0, "start": 8.0, "end": 9.0},
    ]
    assert tr.self_times()[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_null_tracer_records_nothing():
    tr = spans.NullTracer()
    with tr.span("x", a=1):
        pass
    assert not tr.enabled


def test_tail_percentile_rule():
    values = list(range(1, 201))  # 200 samples: p95 leaves exactly 10 above
    pct, v = stats.tail(values)
    assert pct == pytest.approx(95.0)
    assert sum(x > v for x in values) == 10
    pct, v = stats.tail(list(range(1, 15)))  # too few samples: the p90 floor
    assert pct == 90.0 and 12.0 < v < 14.0


def test_harrell_davis_quantile():
    assert stats.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0)
    assert stats.quantile([7.0], 0.5) == 7.0
    xs = [1.0, 1.1, 1.2, 5.0, 5.1, 5.2]  # two clusters: estimate sits between
    assert 1.2 < stats.quantile(xs, 0.5) < 5.0
    assert stats.quantile(list(range(1, 101)), 0.9) == pytest.approx(90.5, abs=0.1)


def test_quartiles_match_statistics_module():
    q1, med, q3 = stats.quartiles([5.0, 1.0, 3.0, 2.0, 4.0])
    assert (q1, med, q3) == (1.5, 3.0, 4.5)


def test_datagen_is_a_function_of_the_seed():
    a = datagen.star_schema_tables(7, 0.001)
    b = datagen.star_schema_tables(7, 0.001)
    c = datagen.star_schema_tables(8, 0.001)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000
    raw = datagen.fhvhv_month(7, 2023, 1, 500)
    assert raw.equals(datagen.fhvhv_month(7, 2023, 1, 500))
    assert 0 < raw["on_scene_datetime"].null_count < 500
    assert {"PULocationID", "trip_miles"} <= set(raw.column_names)


def test_statement_plan_is_seeded_and_complete():
    months = [(2023, 1), (2023, 2)]
    p = warehouse_dml.statement_plan(3, months)
    assert p == warehouse_dml.statement_plan(3, months)
    assert p != warehouse_dml.statement_plan(4, months)
    ops = [op for op, _ in p]
    assert ops.count("load_month") == 2 and ops[-2:] == ["optimize", "vacuum"]
    deletes = [sql for op, sql in p if op == "delete"]
    assert any(" IN (" in d for d in deletes) and any(">=" in d for d in deletes)


def test_compare_normalises_order_nulls_and_float_noise():
    a = pd.DataFrame({"k": [2, 1], "v": [0.1 + 0.2, None], "t": [pd.NaT, pd.Timestamp("2024-01-01")]})
    b = pd.DataFrame({"t": [pd.Timestamp("2024-01-01"), pd.NaT], "v": [float("nan"), 0.3], "k": [1, 2]})
    assert checks.compare(a, b) is None
    b.loc[0, "k"] = 5
    assert checks.compare(a, b) is not None


def test_fingerprint_ignores_row_order():
    a = pd.DataFrame({"k": [1, 2, 3], "s": ["x", "y", "z"]})
    assert checks.fingerprint(a) == checks.fingerprint(a.iloc[::-1])
    assert checks.fingerprint(a) != checks.fingerprint(a.iloc[:2])


def test_written_bytes_counts_new_and_changed_files():
    before = {"a": 10, "b": 20}
    after = {"a": 10, "b": 25, "c": 5}
    assert warehouse_dml.written_bytes(before, after) == 30
