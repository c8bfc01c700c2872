"""DML queries: UPDATE / DELETE as whole-table rewrites committed to a
table's log (ddl._run_dml → versioned.rewrite; reference statement enum
duckdb.hpp:11969-11972, MVCC machinery duckdb-internal.hpp:10232).

Each query creates a table from fixture data through the SQL frontend,
applies real UPDATE/DELETE statements to it, and returns the final
table state. The
oracle states the equivalent post-DML relation as a single SELECT
(DuckDB's documented semantics: UPDATE touches rows where the predicate
is TRUE, DELETE removes them); the *differential* check of DuckDB
executing the identical statements lives in
tests/test_sqlfront.py::test_update_delete_differential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from quackspark import sqlfront


def _fresh_table(spark: SparkSession, sf_dir: str, name: str) -> None:
    from quackspark.session import register_testdata_views

    register_testdata_views(spark, sf_dir)  # the CTAS reads `orders`
    sqlfront.sql(
        spark,
        f"CREATE OR REPLACE TABLE {name} AS SELECT o_orderkey, o_orderstatus, "
        "o_totalprice FROM orders WHERE o_orderkey <= 2000",
    )


def dml_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = "dml_orders_upd"
    _fresh_table(spark, sf_dir, name)
    sqlfront.sql(
        spark,
        f"UPDATE {name} SET o_totalprice = o_totalprice * 2 "
        "WHERE o_orderstatus = 'F'",
    )
    return spark.table(name).orderBy("o_orderkey")


def dml_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = "dml_orders_del"
    _fresh_table(spark, sf_dir, name)
    sqlfront.sql(spark, f"DELETE FROM {name} WHERE o_orderstatus = 'O'")
    return spark.table(name).orderBy("o_orderkey")


def dml_update_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-assignment UPDATE then DELETE, chained on one table."""
    name = "dml_orders_chain"
    _fresh_table(spark, sf_dir, name)
    sqlfront.sql(
        spark,
        f"UPDATE {name} SET o_totalprice = round(o_totalprice, 0), "
        "o_orderstatus = lower(o_orderstatus) WHERE o_orderkey % 2 = 0",
    )
    sqlfront.sql(spark, f"DELETE FROM {name} WHERE o_totalprice < 50000")
    return spark.table(name).orderBy("o_orderkey")


def _fresh_pk_table(spark: SparkSession, sf_dir: str, name: str) -> None:
    """Like _fresh_table but with a PRIMARY KEY, so ON CONFLICT (no
    explicit target) resolves the conflict keys."""
    from quackspark.session import register_testdata_views

    register_testdata_views(spark, sf_dir)  # the INSERT reads `orders`
    sqlfront.sql(
        spark,
        f"CREATE OR REPLACE TABLE {name} (o_orderkey BIGINT PRIMARY KEY, "
        "o_orderstatus VARCHAR, o_totalprice DOUBLE)",
    )
    sqlfront.sql(
        spark,
        f"INSERT INTO {name} SELECT o_orderkey, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey <= 2000",
    )


def dml_upsert_do_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON CONFLICT DO UPDATE with excluded.-references: upsert rows 1500..
    2500 — conflicting keys get price += excluded price and the proposed
    status; fresh keys insert (reference upsert grammar,
    duckdb-libpg_query.cpp OnConflictClause)."""
    name = "dml_orders_upsert"
    _fresh_pk_table(spark, sf_dir, name)
    sqlfront.sql(
        spark,
        f"INSERT INTO {name} "
        "SELECT o_orderkey, 'U', 100.0 FROM orders "
        "WHERE o_orderkey BETWEEN 1500 AND 2500 "
        "ON CONFLICT (o_orderkey) DO UPDATE SET "
        "o_totalprice = o_totalprice + excluded.o_totalprice, "
        "o_orderstatus = excluded.o_orderstatus",
    )
    return spark.table(name).orderBy("o_orderkey")


def dml_upsert_do_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DO UPDATE ... WHERE: the update only applies where the gate holds
    (existing row references on the left, excluded on the right);
    gated-out conflicts keep the existing row and drop the proposal."""
    name = "dml_orders_upsert_w"
    _fresh_pk_table(spark, sf_dir, name)
    sqlfront.sql(
        spark,
        f"INSERT INTO {name} "
        "SELECT o_orderkey, 'W', 50000.0 FROM orders "
        "WHERE o_orderkey BETWEEN 1000 AND 2200 "
        "ON CONFLICT (o_orderkey) DO UPDATE SET "
        "o_totalprice = excluded.o_totalprice "
        "WHERE o_totalprice < excluded.o_totalprice",
    )
    return spark.table(name).orderBy("o_orderkey")


def dml_versioned_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log table at the SQL layer (quackspark/versioned.py;
    reference MVCC+WAL, duckdb-internal.hpp:10232/:9421): CTAS (v0),
    UPDATE (v1), DELETE (v2), then one statement reading the
    pre-DML snapshot via ``AT (VERSION => 0)`` time travel next to the
    current state. Every write is an atomic commit-log version; the
    snapshot read is pinned to immutable files, so the v0 scan is correct
    even mid-rewrite."""
    from quackspark.session import register_testdata_views

    name = "dml_vt_orders"
    register_testdata_views(spark, sf_dir)
    sqlfront.sql(spark, f"DROP TABLE IF EXISTS {name}")
    sqlfront.sql(
        spark,
        f"CREATE TABLE {name} AS "
        "SELECT o_orderkey, o_orderstatus, "
        "CAST(o_totalprice AS DOUBLE) AS o_totalprice "
        "FROM orders WHERE o_orderkey <= 2000",
    )
    sqlfront.sql(
        spark,
        f"UPDATE {name} SET o_totalprice = round(o_totalprice, 0) "
        "WHERE o_orderstatus = 'F'",
    )
    sqlfront.sql(spark, f"DELETE FROM {name} WHERE o_orderkey % 5 = 0")
    return sqlfront.sql(
        spark,
        f"SELECT 'v0' AS snap, o_orderkey, o_orderstatus, o_totalprice "
        f"FROM {name} AT (VERSION => 0) "
        f"UNION ALL "
        f"SELECT 'current' AS snap, o_orderkey, o_orderstatus, "
        f"o_totalprice FROM {name} "
        f"ORDER BY snap, o_orderkey",
    )


def ddl_time_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME / TIMETZ as DDL column types (reference LogicalTypeId
    TIME/TIME_TZ duckdb.hpp:914,931; VERDICT r6 missing #2): columns
    store the engine carriers (µs-since-midnight BIGINT resp.
    struct<micros,offset_s>), TIME/TIMETZ literals insert natively
    (sqlfront._rewrite_time_literals), and wall-clock times derived from
    event timestamps round-trip through the column."""
    from quackspark import sqlfront
    from quackspark.session import register_testdata_views

    register_testdata_views(spark, sf_dir)
    name = "ddl_times"
    sqlfront.sql(
        spark, f"CREATE OR REPLACE TABLE {name} (id INTEGER, t TIME, ttz TIMETZ)"
    )
    sqlfront.sql(
        spark,
        f"""INSERT INTO {name} VALUES
            (1, TIME '01:02:03', TIMETZ '01:02:03+02'),
            (2, TIME '23:59:59.999999', TIMETZ '12:00:00-05:30'),
            (3, NULL, NULL)""",
    )
    sqlfront.sql(
        spark,
        f"""INSERT INTO {name}
            SELECT CAST(event_id AS INT) + 10, epoch_us(CAST(ts AS TIME)), NULL
            FROM events WHERE event_id <= 20""",
    )
    return sqlfront.sql(
        spark,
        f"""SELECT id, t AS t_micros, ttz.micros AS ttz_micros,
                   ttz.offset_s AS ttz_offset
            FROM {name} ORDER BY id""",
    )


QUERIES = {
    "ddl_time_column": ddl_time_column,
    "dml_update": dml_update,
    "dml_delete": dml_delete,
    "dml_update_multi": dml_update_multi,
    "dml_upsert_do_update": dml_upsert_do_update,
    "dml_upsert_do_update_where": dml_upsert_do_update_where,
    "dml_versioned_timetravel": dml_versioned_timetravel,
}

_BASE = (
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
    "WHERE o_orderkey <= 2000"
)

ORACLES = {
    # single-statement oracle over real DuckDB TIME/TIMETZ values; carrier
    # equivalences (µs-since-midnight, wall-µs + offset-seconds) pinned by
    # direct experiment: datediff('microsecond', TIME '00:00:00', t),
    # CAST(ttz AS TIME), datepart('timezone', ttz)
    "ddl_time_column": """
        WITH rows_(id, t, ttz) AS (
            SELECT * FROM (VALUES
                (1, TIME '01:02:03', TIMETZ '01:02:03+02'),
                (2, TIME '23:59:59.999999', TIMETZ '12:00:00-05:30'),
                (3, CAST(NULL AS TIME), CAST(NULL AS TIMETZ)))
            UNION ALL
            SELECT CAST(event_id AS INT) + 10, CAST(ts AS TIME),
                   CAST(NULL AS TIMETZ)
            FROM events WHERE event_id <= 20
        )
        SELECT id,
               CAST(datediff('microsecond', TIME '00:00:00', t) AS BIGINT)
                   AS t_micros,
               CAST(datediff('microsecond', TIME '00:00:00',
                             CAST(ttz AS TIME)) AS BIGINT) AS ttz_micros,
               CAST(datepart('timezone', ttz) AS INT) AS ttz_offset
        FROM rows_ ORDER BY id
    """,
    "dml_update": f"""
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice
        FROM ({_BASE}) ORDER BY o_orderkey
    """,
    "dml_delete": f"""
        SELECT * FROM ({_BASE})
        WHERE NOT coalesce(o_orderstatus = 'O', false)
        ORDER BY o_orderkey
    """,
    "dml_update_multi": f"""
        SELECT * FROM (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 2 = 0 THEN lower(o_orderstatus)
                        ELSE o_orderstatus END AS o_orderstatus,
                   CASE WHEN o_orderkey % 2 = 0 THEN round(o_totalprice, 0)
                        ELSE o_totalprice END AS o_totalprice
            FROM ({_BASE})
        ) WHERE NOT coalesce(o_totalprice < 50000, false)
        ORDER BY o_orderkey
    """,
    "dml_upsert_do_update": f"""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DOUBLE) AS o_totalprice
            FROM ({_BASE})
        ), prop AS (
            SELECT o_orderkey, 'U' AS o_orderstatus,
                   CAST(100.0 AS DOUBLE) AS o_totalprice
            FROM orders WHERE o_orderkey BETWEEN 1500 AND 2500
        )
        SELECT b.o_orderkey,
               CASE WHEN p.o_orderkey IS NOT NULL THEN p.o_orderstatus
                    ELSE b.o_orderstatus END AS o_orderstatus,
               CASE WHEN p.o_orderkey IS NOT NULL
                    THEN b.o_totalprice + p.o_totalprice
                    ELSE b.o_totalprice END AS o_totalprice
        FROM base b LEFT JOIN prop p ON b.o_orderkey = p.o_orderkey
        UNION ALL
        SELECT p.o_orderkey, p.o_orderstatus, p.o_totalprice
        FROM prop p LEFT JOIN base b ON p.o_orderkey = b.o_orderkey
        WHERE b.o_orderkey IS NULL
        ORDER BY o_orderkey
    """,
    "dml_upsert_do_update_where": f"""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DOUBLE) AS o_totalprice
            FROM ({_BASE})
        ), prop AS (
            SELECT o_orderkey, 'W' AS o_orderstatus,
                   CAST(50000.0 AS DOUBLE) AS o_totalprice
            FROM orders WHERE o_orderkey BETWEEN 1000 AND 2200
        )
        SELECT b.o_orderkey, b.o_orderstatus,
               CASE WHEN p.o_orderkey IS NOT NULL
                         AND b.o_totalprice < p.o_totalprice
                    THEN p.o_totalprice
                    ELSE b.o_totalprice END AS o_totalprice
        FROM base b LEFT JOIN prop p ON b.o_orderkey = p.o_orderkey
        UNION ALL
        SELECT p.o_orderkey, p.o_orderstatus, p.o_totalprice
        FROM prop p LEFT JOIN base b ON p.o_orderkey = b.o_orderkey
        WHERE b.o_orderkey IS NULL
        ORDER BY o_orderkey
    """,
    "dml_versioned_timetravel": f"""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DOUBLE) AS o_totalprice
            FROM orders WHERE o_orderkey <= 2000
        )
        SELECT 'v0' AS snap, o_orderkey, o_orderstatus, o_totalprice
        FROM base
        UNION ALL
        SELECT 'current' AS snap, o_orderkey,
               o_orderstatus,
               CASE WHEN o_orderstatus = 'F' THEN round(o_totalprice, 0)
                    ELSE o_totalprice END AS o_totalprice
        FROM base
        WHERE o_orderkey % 5 <> 0
        ORDER BY snap, o_orderkey
    """,
}
