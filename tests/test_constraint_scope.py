"""Constraint enforcement per write statement (quackspark/ddl.py).

A write statement validates with one query that covers only what it can
violate, and an ON CONFLICT DO UPDATE merges with one full outer join.
These tests pin both halves:

- scope: an UPDATE of a column no constraint names starts no validation
  job; an UPDATE or upsert that assigns a violating value still fails
  with the same message;
- order: a statement violating several constraints reports NOT NULL,
  then CHECK, then FOREIGN KEY, then an in-batch duplicate, then an
  existing key;
- merge: the upsert's final table state equals DuckDB's.

Every table is a commit-log table. The ``plain`` / ``versioned`` ids
predate that and now name two independent tables built the same way.
"""

from __future__ import annotations

import duckdb
import pytest

from quackspark.ddl import ConstraintError
from quackspark.oracle import _norm_cell
from quackspark.sqlfront import _split_top_commas, sql


def _jobs(spark, gid: str, stmt: str) -> int:
    """Spark jobs started while ``stmt`` is constructed (its pre-action
    work: validation and the write)."""
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid, False)
    try:
        sql(spark, stmt)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _create(spark, table: str, ddl: str) -> None:
    sql(spark, f"CREATE OR REPLACE TABLE {table} {ddl}")


def _raises(spark, stmt: str, msg: str) -> None:
    with pytest.raises(Exception) as err:
        sql(spark, stmt)
    assert str(err.value) == msg


SCOPE_DDL = (
    "(k INTEGER PRIMARY KEY, a INTEGER NOT NULL, c INTEGER CHECK (c > 0), "
    "z INTEGER)"
)


@pytest.mark.parametrize("versioned", [False, True], ids=["plain", "versioned"])
def test_update_scope(spark, versioned):
    t = f"cs_scope_{'v' if versioned else 'p'}"
    _create(spark, t, SCOPE_DDL)
    sql(spark, f"INSERT INTO {t} VALUES (1, 1, 1, 0), (2, 2, 2, 0)")
    # z is under no constraint: the write is the statement's only job
    assert _jobs(spark, f"{t}-z", f"UPDATE {t} SET z = z + 1") == 1
    check = (
        f"Constraint Error: CHECK constraint failed on table {t} with "
        f"expression CHECK((c > 0))"
    )
    notnull = f"Constraint Error: NOT NULL constraint failed: {t}.a"
    _raises(spark, f"UPDATE {t} SET c = -5 WHERE k = 1", check)
    _raises(spark, f"UPDATE {t} SET a = NULL WHERE k = 1", notnull)
    _raises(
        spark,
        f"INSERT INTO {t} VALUES (1, 9, 9, 9) ON CONFLICT (k) DO UPDATE SET c = -1",
        check,
    )
    _raises(
        spark,
        f"INSERT INTO {t} VALUES (1, 9, 9, 9) ON CONFLICT (k) "
        f"DO UPDATE SET z = 7, a = NULL",
        notnull,
    )
    _raises(
        spark,
        f"UPDATE {t} SET k = 2 WHERE k = 1",
        'Constraint Error: Duplicate key "k: 2" violates primary key constraint',
    )
    got = [tuple(r) for r in sql(spark, f"SELECT * FROM {t} ORDER BY k").collect()]
    assert got == [(1, 1, 1, 1), (2, 2, 2, 1)]
    sql(spark, f"DROP TABLE {t}")


def test_insert_reports_violations_in_order(spark):
    for t in ("cs_child", "cs_par"):
        sql(spark, f"DROP TABLE IF EXISTS {t}")
    sql(spark, "CREATE TABLE cs_par (id INTEGER PRIMARY KEY)")
    sql(spark, "INSERT INTO cs_par VALUES (1), (2)")
    sql(
        spark,
        "CREATE TABLE cs_child (k INTEGER PRIMARY KEY, a INTEGER NOT NULL, "
        "c INTEGER CHECK (c > 0), p INTEGER REFERENCES cs_par(id), "
        "u VARCHAR UNIQUE)",
    )
    ins = "INSERT INTO cs_child VALUES "
    dup = 'Constraint Error: Duplicate key "{}" violates {} constraint'
    cases = [
        (
            "(1, NULL, -1, 99, 'x'), (1, 1, 1, 1, 'x')",
            "Constraint Error: NOT NULL constraint failed: cs_child.a",
        ),
        (
            "(1, 5, -1, 99, 'x'), (1, 1, 1, 1, 'x')",
            "Constraint Error: CHECK constraint failed on table cs_child "
            "with expression CHECK((c > 0))",
        ),
        (
            "(1, 5, 1, 99, 'x'), (1, 1, 1, 1, 'x')",
            'Constraint Error: Violates foreign key constraint because key '
            '"p: 99" does not exist in the referenced table',
        ),
        ("(1, 5, 1, 1, 'x'), (1, 1, 1, 1, 'x')", dup.format("k: 1", "primary key")),
        ("(1, 5, 1, 1, 'x'), (2, 1, 1, 1, 'x')", dup.format("u: x", "unique")),
    ]
    for rows, msg in cases:
        _raises(spark, ins + rows, msg)
    # NULL never conflicts with NULL in a unique column
    sql(spark, ins + "(1, 1, 1, 1, 'x'), (2, 1, 1, 2, NULL), (3, 1, 1, 2, NULL)")
    _raises(spark, ins + "(2, 1, 1, 1, 'y')", dup.format("k: 2", "primary key"))
    _raises(spark, ins + "(4, 1, 1, 1, 'x')", dup.format("u: x", "unique"))
    got = [tuple(r) for r in sql(spark, "SELECT k FROM cs_child ORDER BY k").collect()]
    assert got == [(1,), (2,), (3,)]
    for t in ("cs_child", "cs_par"):
        sql(spark, f"DROP TABLE {t}")


UPSERTS = {
    "gate": (
        "(k INTEGER PRIMARY KEY, a INTEGER, v INTEGER)",
        [
            "INSERT INTO {t} VALUES (1, 1, 1), (2, 2, 2)",
            # a false DO UPDATE WHERE gate keeps the row; the fresh key inserts
            "INSERT INTO {t} VALUES (2, 9, 9), (3, 3, 3) ON CONFLICT (k) "
            "DO UPDATE SET v = 100 WHERE v > 50",
            # excluded. and bare (existing-row) references in one SET
            "INSERT INTO {t} VALUES (1, 7, 7), (2, 8, 8) ON CONFLICT (k) "
            "DO UPDATE SET v = excluded.v + v, a = a * 10 + excluded.a",
            # a comma inside a list literal does not split the SET list
            "INSERT INTO {t} VALUES (1, 9, 9) ON CONFLICT (k) "
            "DO UPDATE SET a = [10, 20][2], v = 3",
        ],
    ),
    "nullkey": (
        # NULL conflict keys on a UNIQUE target never match
        "(id INTEGER, u INTEGER UNIQUE, v INTEGER)",
        [
            "INSERT INTO {t} VALUES (1, NULL, 1), (2, 5, 2)",
            "INSERT INTO {t} VALUES (3, NULL, 3), (4, 5, 4) "
            "ON CONFLICT (u) DO UPDATE SET v = excluded.v",
            "INSERT INTO {t} VALUES (5, NULL, 5), (6, 7, 6) "
            "ON CONFLICT (u) DO UPDATE SET v = excluded.v + v",
            "INSERT INTO {t} VALUES (8, 7, 8), (9, NULL, 9) ON CONFLICT (u) DO NOTHING",
        ],
    ),
    "nullkey_batch": (
        # NULL conflict keys within one batch never conflict with each other
        "(id INTEGER, u INTEGER UNIQUE, v INTEGER)",
        [
            "INSERT INTO {t} VALUES (1, 1, 1)",
            "INSERT INTO {t} VALUES (5, NULL, 5), (6, NULL, 6) "
            "ON CONFLICT (u) DO UPDATE SET v = excluded.v",
            "INSERT INTO {t} VALUES (7, NULL, 7), (8, NULL, 8) ON CONFLICT (u) DO NOTHING",
        ],
    ),
    "unique_or": (
        # no PRIMARY KEY: OR IGNORE / OR REPLACE use the one UNIQUE column
        "(id INTEGER, u INTEGER UNIQUE, v INTEGER)",
        [
            "INSERT INTO {t} VALUES (1, 1, 1), (2, 2, 2)",
            "INSERT OR IGNORE INTO {t} VALUES (3, 1, 3), (4, 4, 4)",
            "INSERT OR REPLACE INTO {t} VALUES (5, 2, 5), (6, 6, 6)",
        ],
    ),
    "unique_composite_or": (
        # ... or the one composite UNIQUE key set
        "(id INTEGER, u INTEGER, w VARCHAR, v INTEGER, UNIQUE (u, w))",
        [
            "INSERT INTO {t} VALUES (1, 1, 'a', 1), (2, 1, 'b', 2)",
            "INSERT OR IGNORE INTO {t} VALUES (3, 1, 'a', 3), (4, 2, 'a', 4)",
            "INSERT OR REPLACE INTO {t} VALUES (5, 1, 'b', 5), (6, 3, NULL, 6)",
        ],
    ),
    "composite": (
        "(a INTEGER, b VARCHAR, v INTEGER, PRIMARY KEY (a, b))",
        [
            "INSERT INTO {t} VALUES (1, 'x', 1), (1, 'y', 2), (2, 'x', 3)",
            "INSERT INTO {t} VALUES (1, 'y', 20), (2, 'y', 40), (2, 'x', 30) "
            "ON CONFLICT (a, b) DO UPDATE SET v = excluded.v + v",
        ],
    ),
    "trailing_key": (
        # the key is not the leading column: the table keeps its order
        "(v INTEGER, k INTEGER PRIMARY KEY)",
        [
            "INSERT INTO {t} VALUES (1, 1), (2, 2)",
            "INSERT OR IGNORE INTO {t} VALUES (10, 1), (30, 3)",
            "INSERT OR REPLACE INTO {t} VALUES (20, 2), (40, 4)",
            "INSERT INTO {t} VALUES (11, 1), (50, 5) "
            "ON CONFLICT (k) DO UPDATE SET v = excluded.v",
        ],
    ),
}


def _rows(rows) -> list:
    return sorted((tuple(_norm_cell(c) for c in r) for r in rows), key=repr)


@pytest.mark.parametrize("versioned", [False, True], ids=["plain", "versioned"])
@pytest.mark.parametrize("case", list(UPSERTS))
def test_upsert_state_matches_duckdb(spark, versioned, case):
    ddl, stmts = UPSERTS[case]
    t = f"cs_{case}_{'v' if versioned else 'p'}"
    con = duckdb.connect()
    _create(spark, t, ddl)
    con.execute(f"CREATE TABLE {t} {ddl}")
    q = f"SELECT * FROM {t}"
    for stmt in stmts:
        sql(spark, stmt.format(t=t))
        con.execute(stmt.format(t=t))
        assert _rows(sql(spark, q).collect()) == _rows(con.execute(q).fetchall()), stmt
    con.close()
    sql(spark, f"DROP TABLE {t}")


REPEATED_KEYS = [
    ("(id INTEGER, u INTEGER UNIQUE, v INTEGER)", "(9, 9, 1), (10, 9, 2)", "u"),
    (
        "(a INTEGER, b VARCHAR, v INTEGER, PRIMARY KEY (a, b))",
        "(1, 'x', 1), (1, 'x', 2)",
        "a, b",
    ),
]


def test_repeated_conflict_key_in_batch_raises(spark):
    """NULL conflict keys are distinct, a repeated non-NULL one is not:
    DuckDB rejects the batch for DO NOTHING and DO UPDATE alike, with a
    ConstraintException naming the key. A repeated key that also names a
    stored row fails as an update of the same row twice instead. Checked
    for a single-column UNIQUE key and a composite PRIMARY KEY."""
    for ddl, rows, target in REPEATED_KEYS:
        _check_repeated_key(spark, ddl, rows, target)


def _check_repeated_key(spark, ddl, rows, target):
    t = "cs_batch_repeat"
    _create(spark, t, ddl)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE {t} {ddl}")
    for action in ("DO NOTHING", "DO UPDATE SET v = excluded.v"):
        stmt = f"INSERT INTO {t} VALUES {rows} ON CONFLICT ({target}) {action}"
        with pytest.raises(duckdb.ConstraintException) as want:
            con.execute(stmt)
        with pytest.raises(ConstraintError) as got:
            sql(spark, stmt)
        assert str(got.value) == str(want.value)
    assert sql(spark, f"SELECT * FROM {t}").collect() == []
    first = rows[: rows.index(")") + 1]
    sql(spark, f"INSERT INTO {t} VALUES {first}")
    con.execute(f"INSERT INTO {t} VALUES {first}")
    stmt = f"INSERT INTO {t} VALUES {rows} ON CONFLICT ({target}) DO NOTHING"
    with pytest.raises(duckdb.InvalidInputException) as want:
        con.execute(stmt)
    with pytest.raises(ValueError) as got:
        sql(spark, stmt)
    assert not isinstance(got.value, ConstraintError)
    assert str(got.value) == str(want.value)
    con.close()
    sql(spark, f"DROP TABLE {t}")


def test_split_top_commas():
    assert _split_top_commas("a = [10, 20][2], v = 3") == ["a = [10, 20][2]", "v = 3"]
    assert _split_top_commas('1, "x,y", \'a,\'\'b\'') == ["1", '"x,y"', "'a,''b'"]
    assert _split_top_commas("f(1, 2), {'k': 1, 'j': 2}") == [
        "f(1, 2)",
        "{'k': 1, 'j': 2}",
    ]
