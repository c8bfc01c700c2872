"""Round-10 fixes for the four ADVICE r9 findings: the TIMETZ carrier's
date-shaped-input misparse (trailing-offset regex needs a ':' guard and
the typed branch checked first), the postfix `x::TIME WITH TIME ZONE`
spelling, _field_castable's Python-numeric-parsing divergences from the
DuckDB CSV converter, and pandas_udf memo entries outliving a stopped
SparkContext.

Every DuckDB behavior asserted here was pinned with a live duckdb 1.0
probe this round (see the docstrings in the fixed modules).
"""

from __future__ import annotations

import os

import pytest

from quackspark import sqlfront
from quackspark.sources.csvio import _field_castable


# --- ADVICE r9 #1: TIMETZ carrier vs date-shaped inputs -----------------


def test_timetz_bare_date_string_not_offset(spark):
    """'2024-01-01' has no time component, so the trailing '-01' is a day,
    not an offset: DuckDB (UTC session) gives 00:00:00+00."""
    row = sqlfront.sql(
        spark,
        "SELECT TRY_CAST('2024-01-01' AS TIMETZ) AS a,"
        "       CAST('2024-03-10' AS TIMETZ) AS b",
    ).collect()[0]
    assert row["a"]["micros"] == 0 and row["a"]["offset_s"] == 0
    assert row["b"]["micros"] == 0 and row["b"]["offset_s"] == 0


def test_timetz_typed_date_is_null(spark):
    """DuckDB refuses DATE→TIMETZ ('Unimplemented type for cast'); the
    engine's null-on-error posture = DuckDB's TRY_CAST result."""
    row = sqlfront.sql(
        spark, "SELECT TRY_CAST(DATE '2024-03-10' AS TIMETZ) AS d"
    ).collect()[0]
    assert row["d"] is None


def test_timetz_typed_timestamp_checked_before_offset(spark):
    """A typed timestamp keeps +00 even though its string rendering ends
    in digits (the typed branch now precedes the offset branch)."""
    row = sqlfront.sql(
        spark,
        "SELECT CAST(TIMESTAMP '2024-01-01 10:30:00' AS TIMETZ) AS t",
    ).collect()[0]
    assert row["t"]["micros"] == (10 * 3600 + 30 * 60) * 10**6
    assert row["t"]["offset_s"] == 0


def test_timetz_datetime_with_offset_is_utc_wall(spark):
    """Date+offset strings parse as an instant and render the UTC wall
    time (verified live: '2024-01-15 10:30:00+05' → 05:30:00+00 in a UTC
    DuckDB session)."""
    row = sqlfront.sql(
        spark,
        "SELECT CAST('2024-01-15 10:30:00+05' AS TIMETZ) AS t",
    ).collect()[0]
    assert row["t"]["micros"] == (5 * 3600 + 30 * 60) * 10**6
    assert row["t"]["offset_s"] == 0


def test_timetz_explicit_offset_still_kept(spark):
    """Time-only strings with explicit offsets are unchanged by the fix."""
    row = sqlfront.sql(
        spark,
        "SELECT CAST('10:30:00+05:30' AS TIMETZ) AS a,"
        "       CAST('12:30:45-02' AS TIMETZ) AS b",
    ).collect()[0]
    assert row["a"]["offset_s"] == 5 * 3600 + 30 * 60
    assert row["a"]["micros"] == (10 * 3600 + 30 * 60) * 10**6
    assert row["b"]["offset_s"] == -7200


# --- ADVICE r9 #2: postfix multi-word TIME WITH TIME ZONE ---------------


def test_postfix_time_with_time_zone(spark):
    row = sqlfront.sql(
        spark,
        "SELECT '12:30:45-02'::TIME WITH TIME ZONE AS c",
    ).collect()[0]
    assert row["c"]["micros"] == (12 * 3600 + 30 * 60 + 45) * 10**6
    assert row["c"]["offset_s"] == -7200


def test_postfix_plain_time_unaffected(spark):
    row = sqlfront.sql(spark, "SELECT '07:08:09'::TIME AS t").collect()[0]
    assert row["t"] == (7 * 3600 + 8 * 60 + 9) * 10**6


# --- ADVICE r9 #3: _field_castable mirrors the CSV converter ------------


def test_field_castable_rejects_unicode_digits():
    assert not _field_castable("１２３", "int")


def test_field_castable_integer_bounds():
    # pinned live: first row '300' under TINYINT / '40000' under SMALLINT
    # flips to header in duckdb read_csv; 127/-128 are kept
    assert not _field_castable("300", "tinyint")
    assert not _field_castable("128", "tinyint")
    assert not _field_castable("-129", "tinyint")
    assert _field_castable("127", "tinyint")
    assert _field_castable("-128", "tinyint")
    assert not _field_castable("40000", "smallint")
    assert not _field_castable("9223372036854775808", "bigint")
    assert _field_castable("9223372036854775807", "bigint")


def test_field_castable_int_rejects_decimal_and_exponent():
    # the CSV converter is stricter than the SQL cast (which rounds)
    assert not _field_castable("1.5", "int")
    assert not _field_castable("1e2", "int")


def test_field_castable_duckdb_accepts_underscores_and_inf():
    # pinned live AGAINST the advice's guess: duckdb 1.0 read_csv keeps
    # '1_000' under INT (=1000) and 'inf'/'nan' under DOUBLE as data
    assert _field_castable("1_000", "int")
    assert _field_castable("1_0", "int")
    assert _field_castable("inf", "double")
    assert _field_castable("nan", "double")
    assert _field_castable("1e40", "float")  # kept as inf, no bound


def test_field_castable_decimal_width_after_rounding():
    # pinned live: '1.555' fits DECIMAL(4,2) (rounds to 1.56);
    # '123.456' does not (124 > 2 integral digits); '1e2' fits (6,2)
    assert _field_castable("1.555", "decimal(4,2)")
    assert not _field_castable("123.456", "decimal(4,2)")
    assert _field_castable("1e2", "decimal(6,2)")


def test_field_castable_date_calendar():
    assert _field_castable("2024-1-5", "date")  # unpadded ISO accepted
    assert not _field_castable("2024-13-01", "date")
    assert not _field_castable("20240105", "date")


def test_sniffer_header_flip_matches_duckdb(spark, tmp_path):
    """End-to-end: a first row the converter rejects becomes a header."""
    p = os.path.join(str(tmp_path), "bounds.csv")
    with open(p, "w") as f:
        f.write("300,x\n5,y\n")
    df = sqlfront.sql(
        spark,
        f"SELECT * FROM read_csv('{p}', "
        f"columns={{'a': 'TINYINT', 'b': 'VARCHAR'}})",
    )
    assert [(r["a"], r["b"]) for r in df.collect()] == [(5, "y")]


# --- ADVICE r9 #4: pandas_udf memo keyed on the SparkContext ------------


def test_udf_memo_keyed_per_context(spark):
    """The memo must not serve a kernel built under a different (dead)
    SparkContext: entries are keyed weakly on the context object."""
    from quackspark.functions import _udfmemo as M
    from quackspark.operators import simsearch as S

    u1 = S._dot_arrow_udf()
    assert S._dot_arrow_udf() is u1  # memo hit within one context
    sc = spark.sparkContext
    assert sc in M._UDF_MEMO

    class _FakeContext:  # stands in for a restarted SparkContext
        pass

    fake = _FakeContext()
    from pyspark import SparkContext

    orig = SparkContext._active_spark_context
    SparkContext._active_spark_context = fake
    try:
        u2 = M.memo_udf(("dot",), lambda: object())
        assert u2 is not u1  # new context → fresh kernel, same key
        assert M.memo_udf(("dot",), lambda: object()) is u2
    finally:
        SparkContext._active_spark_context = orig
    assert S._dot_arrow_udf() is u1  # original context's entry intact


def test_udf_memo_no_context_builds_uncached():
    from pyspark import SparkContext

    from quackspark.functions import _udfmemo as M

    orig = SparkContext._active_spark_context
    SparkContext._active_spark_context = None
    try:
        built = []
        M.memo_udf(("x",), lambda: built.append(1) or "u")
        M.memo_udf(("x",), lambda: built.append(1) or "u")
        assert len(built) == 2  # nothing cached without a context
    finally:
        SparkContext._active_spark_context = orig
