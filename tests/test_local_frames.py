"""``session.local_frame`` builds the same frame ``createDataFrame``
builds from a Python list — same rows, same schema — as an Arrow local
relation, and it is the package's only way to build one: statement
results and metadata lookups plan as ``LocalTableScan`` and collecting
a statement result starts no Spark job."""

from __future__ import annotations

import ast
import datetime as dt
import os
import pathlib
import time
from decimal import Decimal

import pytest
from pyspark.sql.types import (
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from nyc_taxi_data_warehouse_spark.session import local_frame, scoped_confs
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    _load_manifest,
    _read_file_list,
    snapshot_register,
    snapshot_write_with_stats,
)
from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import snapshot_sql

PKG = pathlib.Path(__file__).resolve().parent.parent / "nyc_taxi_data_warehouse_spark"


def _same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    return got


TYPED = [
    ("bigint", [1, -(2**62)]),
    ("int", [7, -3]),
    ("string", ["a", "snow ☃"]),
    ("boolean", [True, False]),
    ("double", [1.5, -0.0]),
    ("decimal(12,3)", [Decimal("1.250"), Decimal("-99.001")]),
    ("date", [dt.date(2024, 2, 29), dt.date(1970, 1, 1)]),
    ("timestamp", [dt.datetime(2024, 3, 10, 2, 30), dt.datetime(1999, 1, 2, 3, 4, 5, 6)]),
]


@pytest.mark.parametrize("ddl,vals", TYPED, ids=[t for t, _ in TYPED])
def test_types_with_nulls_and_empty(spark, ddl, vals):
    schema = f"k int, v {ddl}"
    _same(spark, [(i, v) for i, v in enumerate(vals)], schema)
    _same(spark, [(0, None), (1, None)], schema)  # all-NULL column
    _same(spark, [], schema)


def test_struct_schema_and_nested_types(spark):
    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("name", StringType(), True),
            StructField("amt", DecimalType(20, 2), True),
            StructField("at", TimestampType(), True),
        ]
    )
    at = dt.datetime(2021, 6, 1, 12)
    _same(spark, [(1, "x", Decimal("3.10"), at), (2, None, None, None)], schema)
    _same(spark, [], schema)
    # createDataFrame rounds an over-scaled Decimal; the helper refuses it
    with pytest.raises(Exception, match="data loss"):
        local_frame(spark, [(3, None, Decimal("2.345"), None)], schema)
    _same(
        spark,
        [([1, None], {"a": dt.datetime(2020, 1, 1)}, (3, "s"))],
        "xs array<bigint>, m map<string,timestamp>, s struct<i:int,t:string>",
    )


def test_column_name_lists_infer_types(spark):
    rows = [(1, "a", 2.5, True), (None, "b", None, False)]
    df = _same(spark, rows, ["i", "s", "d", "b"])
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "string", "double", "boolean"
    ]
    _same(spark, [(dt.date(2020, 1, 2), Decimal("1.5"))], ["d", "x"])
    with pytest.raises(Exception, match="CANNOT_INFER_EMPTY_SCHEMA"):
        local_frame(spark, [], ["a"])


def test_naive_datetimes_read_as_process_local_time(spark):
    rows = [(dt.datetime(2024, 3, 10, 2, 30),), (dt.datetime(2024, 11, 3, 12, 0),)]
    prior = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        df = _same(spark, rows, "t timestamp")
        # the instant, independent of how collect renders it
        epochs = [r[0] for r in df.selectExpr("unix_seconds(t)").collect()]
        assert epochs == [int(time.mktime(r[0].timetuple())) for r in rows]
        _same(spark, rows, "t timestamp_ntz")
    finally:
        if prior is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prior
        time.tzset()


def test_arrow_disabled_session(spark):
    with scoped_confs(spark, {"spark.sql.execution.arrow.pyspark.enabled": "false"}):
        df = _same(spark, [(1, "a"), (2, None)], "a bigint, b string")
        _assert_local(df)


def test_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="2 fields"):
        local_frame(spark, [(1,)], "a int, b int")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df):
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def _jobs_to_collect(spark, df, tag):
    sc = spark.sparkContext
    before = len(sc.statusTracker().getJobIdsForGroup(tag))
    sc.setJobGroup(tag, tag)
    try:
        rows = df.collect()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(tag)) - before, rows


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "lf")
    for i in range(3):
        df = spark.createDataFrame(
            [(4 * i + j, f"v{j}") for j in range(4)], "id int, v string"
        ).coalesce(1)
        snapshot_write_with_stats(df, t, ["id"], mode="append")
    snapshot_register(spark, t, "lf_t")
    return t


def test_statement_results_are_local_relations(spark, table):
    dele = snapshot_sql(spark, "DELETE FROM lf_t WHERE id IN (1, 5)")
    _assert_local(dele)
    jobs, rows = _jobs_to_collect(spark, dele, "lf_delete")
    assert jobs == 0
    assert rows[0]["num_affected_rows"] == 2
    snapshot_register(spark, table, "lf_t")
    count = snapshot_sql(spark, "SELECT COUNT(*) FROM lf_t WHERE id < 6")
    _assert_local(count)
    jobs, rows = _jobs_to_collect(spark, count, "lf_count")
    assert jobs == 0
    assert rows[0][0] == 4


def test_dv_read_relpath_lookup_is_local(spark, table):
    man = _load_manifest(spark, table, 3)
    df = _read_file_list(
        spark, table, man["files"], StructType.fromJson(man["schema"]),
        row_ids=True,
    )
    _assert_local(df)
    assert df.count() == 12


def test_no_create_dataframe_outside_local_frame():
    """A new ``createDataFrame`` call would bring back the pickled-row
    RDD and its Python-worker round trip on every statement."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert offenders == []
