"""Type-exhaustive fixture — the Spark-representable mirror of the
reference's `test_all_types()` table function (duckdb-6.cpp:14174), which
generates min/max/NULL rows for every type to drive cast-matrix and
NULL-propagation testing (SURVEY §5, FIXTURES.md §5).

Per type: row 0 = minimum (or empty), row 1 = maximum (or a dense
non-ASCII value), row 2 = NULL. UNION is the one type with no carrier
column here (its struct{tag, members} sugar is oracle-tested in
queries/unionenum.py); unsigned ints appear via their next-wider signed
carriers as in §1.2. The remaining DuckDB-only types ride their
documented carriers, each reconstructed natively in the oracle matrix:
- TIME (duckdb.hpp:914): `tm` BIGINT µs-since-midnight
  (compat.time_of_day_micros), min 0 / max 86399999999.
- INTERVAL (duckdb.hpp:925): `iv` struct<months INT, days INT,
  micros BIGINT> — the exact three-field physical struct the reference
  stores (interval_t).
- BIT (duckdb.hpp:932): `bits` '0'/'1' string carrier (the same one the
  frontend's get_bit/set_bit/bitstring_agg emulation uses); min is the
  single bit '0' — DuckDB itself rejects an empty BIT.
TIME_TZ (duckdb.hpp:931) rides its struct carrier `ttz` (wall-clock µs +
offset seconds — functions/compat.make_time_tz): min
'00:00:00+15:59:59'; max '23:59:59.999999-15:59:59' (DuckDB's literal
max is the special 24:00:00 wall clock, which no timestamp-based
reconstruction can express — the carrier stops one µs short).
Dates/timestamps start at 1583 (proleptic-Gregorian safe: Spark's parquet
rebase check rejects pre-1582 values in EXCEPTION mode).
"""

from __future__ import annotations

import datetime
from decimal import Decimal as D

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from quackspark.session import local_frame

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("ti", T.ByteType()),
        T.StructField("si", T.ShortType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("bi", T.LongType()),
        T.StructField("f", T.FloatType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("dec9", T.DecimalType(9, 4)),
        T.StructField("dec18", T.DecimalType(18, 6)),
        T.StructField("dec38", T.DecimalType(38, 10)),
        T.StructField("s", T.StringType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("sl", T.ArrayType(T.StringType())),
        T.StructField("il", T.ArrayType(T.IntegerType())),
        T.StructField(
            "st",
            T.StructType(
                [T.StructField("a", T.IntegerType()), T.StructField("bb", T.StringType())]
            ),
        ),
        T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField(
            "ttz",
            T.StructType(
                [
                    T.StructField("micros", T.LongType()),
                    T.StructField("offset_s", T.IntegerType()),
                ]
            ),
        ),
        T.StructField("tm", T.LongType()),
        T.StructField(
            "iv",
            T.StructType(
                [
                    T.StructField("months", T.IntegerType()),
                    T.StructField("days", T.IntegerType()),
                    T.StructField("micros", T.LongType()),
                ]
            ),
        ),
        T.StructField("bits", T.StringType()),
    ]
)

ROWS = [
    (
        0, False, -128, -32768, -(2**31), -(2**63),
        -3.4028234663852886e38, -1.7976931348623157e308,
        D("-99999.9999"), D("-999999999999.999999"),
        D("-9999999999999999999999999999.9999999999"),
        "", b"", datetime.date(1583, 1, 1),
        datetime.datetime(1583, 1, 1, 0, 0, 0, 1),
        [], [-(2**31), -1, 0, 1, 2**31 - 1], (None, None), {},
        (0, 57599),
        0, (0, 0, 0), "0",
    ),
    (
        1, True, 127, 32767, 2**31 - 1, 2**63 - 1,
        3.4028234663852886e38, 1.7976931348623157e308,
        D("99999.9999"), D("999999999999.999999"),
        D("9999999999999999999999999999.9999999999"),
        "héllo wörld 🦆" * 10, b"\x00\x01\xff", datetime.date(9999, 12, 31),
        datetime.datetime(9999, 12, 31, 23, 59, 59, 999999),
        ["a", "", "ünïcode", None], [], (42, "x"), {"k1": 1, "k2": None},
        (86_399_999_999, -57599),
        86_399_999_999, (14, 25, 3_723_000_456), "1011001",
    ),
    (2,) + (None,) * (len(SCHEMA) - 1),
]


def all_types_df(spark: SparkSession) -> DataFrame:
    """The fixture as a DataFrame (deterministic literal rows)."""
    return local_frame(spark, ROWS, SCHEMA)
