"""``session.local_frame``: driver-built frames as Arrow LocalRelations.

Parity: for every schema family the engine builds on the driver (status
rows, ``Count bigint``, catalog listings with array and map columns, the
type-exhaustive ``alltypes`` fixture, mixed-NULL rows, empty frames),
``local_frame`` gives the JVM schema — nullability included — and the
rows that ``createDataFrame(<python list>)`` gives.

Lint: ``createDataFrame`` is called only inside ``local_frame`` and at the
pandas-input sites, which already take the Arrow path.
"""

from __future__ import annotations

import ast
import datetime
import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from quackspark.session import local_frame
from quackspark.sources import alltypes

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "quackspark")

CASES = {
    "status": ([("BEGIN",)], "status string"),
    "ddl_status": ([("t", "CREATE TABLE")], "table string, status string"),
    "count": ([(2000,)], "Count bigint"),
    "empty_success": ([], "Success string"),
    "empty_struct": ([], alltypes.SCHEMA),
    "mixed_nulls": (
        [("x", 1, 1.5, True, 3), (None, None, None, None, None)],
        "s string, b bigint, d double, f boolean, i int",
    ),
    "show_all_tables": (
        [("spark_catalog", "main", "t", ["a", "b"], ["INTEGER", "VARCHAR"], False),
         ("spark_catalog", "main", "v", [], [], True)],
        "database string, schema string, name string, "
        "column_names array<string>, column_types array<string>, "
        "temporary boolean",
    ),
    "duckdb_indexes": (
        [("spark_catalog", None, "main", None, "ix", None, "t", None, None,
          {}, True, False, None, "CREATE INDEX ix ON t(a)"),
         ("spark_catalog", None, "main", None, "iy", None, "t", None, None,
          {"k": "v", "n": None}, False, False, None, None)],
        "database_name string, database_oid bigint, schema_name string, "
        "schema_oid bigint, index_name string, index_oid bigint, "
        "table_name string, table_oid bigint, comment string, "
        "tags map<string,string>, is_unique boolean, is_primary boolean, "
        "expressions string, sql string",
    ),
    "pg_timezone_names": (
        [("UTC", "UTC", datetime.timedelta(0), False),
         ("Asia/Kolkata", "IST", datetime.timedelta(hours=5, minutes=30), False)],
        "name string, abbrev string, utc_offset interval day to second, "
        "is_dst boolean",
    ),
    "test_vector_types": (
        [(-3.4028234663852886e38, "\U0001F986" * 6, -(2**63)),
         (3.4028234663852886e38, "goo\x00se", 2**63 - 1),
         (None, None, None)],
        "f float, s string, b bigint",
    ),
    "timestamps": (
        [(datetime.datetime(2020, 1, 1, 12, 0, 0, 5),
          datetime.datetime(1583, 1, 1), Decimal("-12.3400"))],
        "ts timestamp, ntz timestamp_ntz, dec decimal(9,4)",
    ),
    "not_null": ([(1, "a")], T.StructType([
        T.StructField("k", T.LongType(), nullable=False),
        T.StructField("s", T.StringType(), nullable=True),
    ])),
    "alltypes": (alltypes.ROWS, alltypes.SCHEMA),
}


def _jvm_schema(df) -> T.StructType:
    """The schema the JVM plan carries (``df.schema`` may be the Python
    object handed in)."""
    return T.StructType.fromJson(json.loads(df._jdf.schema().json()))


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert _jvm_schema(got) == _jvm_schema(want)
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_local_frame_in_a_non_utc_session(spark):
    """TIMESTAMP values keep their instant under a non-UTC session zone."""
    rows, schema = CASES["timestamps"]
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        want = spark.createDataFrame(rows, schema).selectExpr("CAST(ts AS string)")
        got = local_frame(spark, rows, schema).selectExpr("CAST(ts AS string)")
        assert got.collect() == want.collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


#: the only createDataFrame calls allowed in the package: the helper itself
#: and the pandas-input sites (pandas frames already take the Arrow path)
ALLOWED = {
    ("session.py", "local_frame"),
    ("operators/components.py", "_driver_components"),
    ("operators/kmeans.py", "kmeans_fit"),
    ("operators/kmeans.py", "kmeans_assign"),
}


def _create_dataframe_sites():
    sites = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)

            def visit(node, func):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    func = node.name
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    sites.append((rel, func, node.lineno))
                for child in ast.iter_child_nodes(node):
                    visit(child, func)

            visit(tree, None)
    return sites


def test_create_dataframe_only_in_local_frame():
    sites = _create_dataframe_sites()
    stray = [s for s in sites if s[:2] not in ALLOWED]
    assert not stray, f"route driver-built frames through local_frame: {stray}"
    # one call per allowed function, and every allowed site still exists
    assert sorted(s[:2] for s in sites) == sorted(ALLOWED)
