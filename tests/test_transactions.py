"""Transaction shim (ddl._run_txn): BEGIN/COMMIT/ROLLBACK over the
tables' commit logs, differentially tested against DuckDB executing
the identical statement sequence (reference: DuckTransaction,
duckdb-internal.hpp:10232).

Scope: single-session snapshot semantics — rollback restores every table
the transaction wrote; commit makes writes durable; reads inside the
transaction see its own writes. The cross-session cases (a foreign
commit mid-transaction) live in tests/test_versioned_sql.py.
"""

from __future__ import annotations

import duckdb
import pytest

from quackspark import ddl, sqlfront
from quackspark.queries._util import load_table

SF = "/root/testdata/sf0.01"


def _fresh(spark, name: str):
    load_table(spark, SF, "orders").createOrReplaceTempView("txn_orders")
    sqlfront.sql(
        spark,
        f"CREATE OR REPLACE TABLE {name} AS SELECT o_orderkey, o_orderstatus, "
        "o_totalprice FROM txn_orders WHERE o_orderkey <= 500",
    )


def _duck_fresh(name: str):
    d = duckdb.connect()
    d.execute(
        f"CREATE TABLE {name} AS "
        f"SELECT o_orderkey, o_orderstatus, o_totalprice "
        f"FROM '{SF}/orders.parquet' WHERE o_orderkey <= 500"
    )
    return d


def _rows(spark, name: str):
    return sorted(tuple(r) for r in spark.table(name).collect())


def _duck_rows(d, name: str):
    return sorted(d.execute(f"SELECT * FROM {name}").fetchall())


@pytest.fixture(autouse=True)
def _clean_txn_state():
    yield
    ddl._TXN = None  # no cross-test leakage on assertion failures


def _run_both(spark, d, name: str, stmts: list[str]):
    for s in stmts:
        sqlfront.sql(spark, s.format(t=name))
        d.execute(s.format(t=name))
    assert _rows(spark, name) == _duck_rows(d, name)


def test_rollback_update_restores(spark):
    name = "txn_upd"
    _fresh(spark, name)
    d = _duck_fresh(name)
    _run_both(spark, d, name, [
        "BEGIN TRANSACTION",
        "UPDATE {t} SET o_totalprice = o_totalprice * 2 WHERE o_orderstatus = 'F'",
        "ROLLBACK",
    ])


def test_commit_update_persists(spark):
    name = "txn_commit"
    _fresh(spark, name)
    d = _duck_fresh(name)
    _run_both(spark, d, name, [
        "BEGIN",
        "UPDATE {t} SET o_totalprice = 0 WHERE o_orderstatus = 'O'",
        "COMMIT",
    ])


def test_rollback_multiple_writes_one_table(spark):
    name = "txn_multi"
    _fresh(spark, name)
    d = _duck_fresh(name)
    _run_both(spark, d, name, [
        "BEGIN",
        "UPDATE {t} SET o_totalprice = o_totalprice + 1 WHERE o_orderkey < 100",
        "DELETE FROM {t} WHERE o_orderstatus = 'P'",
        "ROLLBACK",
    ])


def test_rollback_insert_restores(spark):
    name = "txn_ins"
    _fresh(spark, name)
    d = _duck_fresh(name)
    _run_both(spark, d, name, [
        "BEGIN",
        "INSERT INTO {t} VALUES (999999, 'X', 1.5)",
        "ROLLBACK",
    ])


def test_reads_see_own_writes(spark):
    name = "txn_read"
    _fresh(spark, name)
    sqlfront.sql(spark, "BEGIN")
    sqlfront.sql(spark, f"DELETE FROM {name} WHERE o_orderkey > 100")
    n_inside = spark.table(name).count()
    sqlfront.sql(spark, "ROLLBACK")
    n_after = spark.table(name).count()
    assert n_inside < n_after  # txn saw its delete; rollback undid it


def test_protocol_violations(spark):
    with pytest.raises(sqlfront.TransactionError):
        sqlfront.sql(spark, "COMMIT")
    with pytest.raises(sqlfront.TransactionError):
        sqlfront.sql(spark, "ROLLBACK")
    sqlfront.sql(spark, "BEGIN")
    with pytest.raises(sqlfront.TransactionError):
        sqlfront.sql(spark, "BEGIN TRANSACTION")
    sqlfront.sql(spark, "COMMIT")


@pytest.mark.parametrize(
    "stmt",
    [
        "UPDATE {t} SET o_totalprice = o_totalprice * 2 "
        "WHERE o_orderstatus = 'F' RETURNING o_orderkey, o_totalprice",
        "DELETE FROM {t} WHERE o_orderkey < 50 RETURNING *",
        "INSERT INTO {t} VALUES (9999, 'X', 5.5), (9998, 'Y', 6.5) "
        "RETURNING o_orderkey, o_totalprice * 10 AS big",
    ],
    ids=["update_returning", "delete_returning", "insert_returning"],
)
def test_dml_returning_differential(spark, stmt):
    """RETURNING on UPDATE/DELETE/INSERT: both the returned rows and the
    final table state must match DuckDB executing the identical text."""
    name = "txn_ret"
    _fresh(spark, name)
    d = _duck_fresh(name)
    got = sorted(tuple(r) for r in sqlfront.sql(spark, stmt.format(t=name)).collect())
    want = sorted(d.execute(stmt.format(t=name)).fetchall())
    assert got == want
    assert _rows(spark, name) == _duck_rows(d, name)


def test_update_from_self_source(spark):
    """UPDATE … FROM with the table as its own (aliased) source —
    supported since r6 via the join rewrite; engine-equivalent result."""
    name = "txn_updfrom"
    _fresh(spark, name)
    d = _duck_fresh(name)
    stmt = (
        f"UPDATE {name} SET o_totalprice = 0 FROM {name} b "
        f"WHERE {name}.o_orderkey = b.o_orderkey"
    )
    sqlfront.sql(spark, stmt)
    d.execute(stmt)
    assert _rows(spark, name) == _duck_rows(d, name)
