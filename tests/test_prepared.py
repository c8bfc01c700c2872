"""PREPARE / EXECUTE / DEALLOCATE statement spellings (VERDICT r11
missing #1): the literal forms `Connection::Prepare` serves in the
reference (duckdb-7.cpp:3423; statement enums duckdb.hpp:11998-11999),
dispatched onto the engine's existing per-statement machinery — the body
is stored raw, EXECUTE splices validated argument texts over the `?` /
`$1` / `$name` markers and re-enters sqlfront.sql. Every behavior here
is differentially tested against live DuckDB in the same test (results
AND error spellings)."""

from __future__ import annotations

import duckdb
import pytest

from quackspark import sqlfront
from quackspark.sqlfront import (
    PreparedStatementError,
    _PREPARED,
    _prepared_params,
)


@pytest.fixture()
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@pytest.fixture(autouse=True)
def _clean_registry():
    _PREPARED.clear()
    yield
    _PREPARED.clear()


def _both(spark, duck, script_pairs):
    """Run (sql, collect?) steps on BOTH engines; compare collected rows."""
    for stmt in script_pairs[:-1]:
        sqlfront.sql(spark, stmt)
        duck.execute(stmt)
    last = script_pairs[-1]
    mine = [tuple(r) for r in sqlfront.sql(spark, last).collect()]
    duck_cur = duck.execute(last)
    assert mine == duck_cur.fetchall()
    return mine


def test_prepare_execute_positional_dollar(spark, duck):
    rows = _both(
        spark,
        duck,
        [
            "PREPARE pq1 AS SELECT $1::INT + $2::INT AS s",
            "EXECUTE pq1(3, 4)",
        ],
    )
    assert rows == [(7,)]


def test_reexecute_different_params(spark, duck):
    sqlfront.sql(spark, "PREPARE pq2 AS SELECT ? * 2 AS d")
    duck.execute("PREPARE pq2 AS SELECT ? * 2 AS d")
    for arg in ("21", "5", "10+11"):  # constant expressions bind too
        mine = sqlfront.sql(spark, f"EXECUTE pq2({arg})").collect()
        assert [tuple(r) for r in mine] == duck.execute(
            f"EXECUTE pq2({arg})"
        ).fetchall()


def test_named_parameters(spark, duck):
    script = [
        "PREPARE pq3 AS SELECT $a || '-' || $b AS j",
        "EXECUTE pq3(a := 'x', b := 'y')",
    ]
    assert _both(spark, duck, script) == [("x-y",)]


def test_named_missing_matches_duckdb_error(spark, duck):
    stmt = "PREPARE pq4 AS SELECT $a || $b AS j"
    sqlfront.sql(spark, stmt)
    duck.execute(stmt)
    with pytest.raises(Exception, match="not provided") as de:
        duck.execute("EXECUTE pq4('x', 'y')")
    with pytest.raises(PreparedStatementError, match="not provided"):
        sqlfront.sql(spark, "EXECUTE pq4('x', 'y')")
    assert "a, b" in str(de.value)


def test_too_few_positional_matches_duckdb_error(spark, duck):
    """Pinned live: too FEW positional args is the 'Values were not
    provided' spelling naming the missing ordinals."""
    sqlfront.sql(spark, "PREPARE pq5 AS SELECT $1::INT + $2::INT AS s")
    duck.execute("PREPARE pq5 AS SELECT $1::INT + $2::INT AS s")
    with pytest.raises(Exception, match="not provided") as de:
        duck.execute("EXECUTE pq5(1)")
    with pytest.raises(PreparedStatementError, match="not provided") as me:
        sqlfront.sql(spark, "EXECUTE pq5(1)")
    assert str(de.value).endswith(": 2") and str(me.value).endswith(": 2")


def test_too_many_positional_matches_duckdb_error(spark, duck):
    """Pinned live: too MANY is 'Parameter argument/count mismatch,
    identifiers of the excess parameters: …'."""
    sqlfront.sql(spark, "PREPARE pq5b AS SELECT $1::INT AS s")
    duck.execute("PREPARE pq5b AS SELECT $1::INT AS s")
    with pytest.raises(Exception, match="mismatch"):
        duck.execute("EXECUTE pq5b(1, 2)")
    with pytest.raises(PreparedStatementError, match="mismatch"):
        sqlfront.sql(spark, "EXECUTE pq5b(1, 2)")


def test_execute_unknown_raises(spark, duck):
    with pytest.raises(Exception, match="does not exist"):
        duck.execute("EXECUTE pq_nosuch(1)")
    with pytest.raises(PreparedStatementError, match="does not exist"):
        sqlfront.sql(spark, "EXECUTE pq_nosuch(1)")


def test_deallocate_then_execute_raises(spark, duck):
    for ex in (lambda q: sqlfront.sql(spark, q), duck.execute):
        ex("PREPARE pq6 AS SELECT 7 AS x")
        ex("DEALLOCATE pq6")
    with pytest.raises(Exception, match="does not exist"):
        duck.execute("EXECUTE pq6")
    with pytest.raises(PreparedStatementError, match="does not exist"):
        sqlfront.sql(spark, "EXECUTE pq6")


def test_deallocate_prepare_spelling_and_unknown_noop(spark, duck):
    sqlfront.sql(spark, "PREPARE pq7 AS SELECT 1 AS x")
    duck.execute("PREPARE pq7 AS SELECT 1 AS x")
    sqlfront.sql(spark, "DEALLOCATE PREPARE pq7")
    duck.execute("DEALLOCATE PREPARE pq7")
    # unknown name: both engines no-op (pinned live)
    sqlfront.sql(spark, "DEALLOCATE pq_never_was")
    duck.execute("DEALLOCATE pq_never_was")


def test_reprepare_replaces(spark, duck):
    script = [
        "PREPARE pq8 AS SELECT 1 AS s",
        "PREPARE pq8 AS SELECT 99 AS s",
        "EXECUTE pq8",
    ]
    assert _both(spark, duck, script) == [(99,)]


def test_no_arg_execute_without_parens(spark, duck):
    assert _both(
        spark, duck, ["PREPARE pq9 AS SELECT 7 AS x", "EXECUTE pq9"]
    ) == [(7,)]


def test_reused_positional_counts_once(spark, duck):
    assert _both(
        spark,
        duck,
        ["PREPARE pq10 AS SELECT $1::INT + $1::INT AS s", "EXECUTE pq10(5)"],
    ) == [(10,)]


def test_mixed_question_and_ordinal(spark, duck):
    assert _both(
        spark,
        duck,
        ["PREPARE pq11 AS SELECT ?::INT + $2::INT AS s", "EXECUTE pq11(1, 2)"],
    ) == [(3,)]


def test_subquery_arg_rejected(spark, duck):
    sqlfront.sql(spark, "PREPARE pq12 AS SELECT len($x) AS l")
    duck.execute("PREPARE pq12 AS SELECT len($x) AS l")
    with pytest.raises(Exception, match="Only scalar parameters"):
        duck.execute("EXECUTE pq12(x := (SELECT 'hi'))")
    with pytest.raises(PreparedStatementError, match="Only scalar parameters"):
        sqlfront.sql(spark, "EXECUTE pq12(x := (SELECT 'hi'))")


def test_string_arg_with_escaped_quote(spark, duck):
    assert _both(
        spark,
        duck,
        ["PREPARE pq13 AS SELECT len($x) AS l", "EXECUTE pq13(x := 'ab''c')"],
    ) == [(4,)]


@pytest.mark.parametrize(
    "body, args, want",
    [
        # commas and quotes inside an E-string, a dollar quote and a block
        # comment do not split the argument list
        ("SELECT $1 AS s, $2::INT AS v", "E'it\\'s', 2", ("it's", 2)),
        ("SELECT $1 AS s, $2::INT AS v", "$$x,y$$, 2", ("x,y", 2)),
        ("SELECT $1::INT AS a, $2::INT AS b", "1 /* a, b */, 2", (1, 2)),
    ],
    ids=["estring", "dollar", "block_comment"],
)
def test_quoted_and_commented_args(spark, duck, body, args, want):
    script = [f"PREPARE pq14 AS {body}", f"EXECUTE pq14({args})"]
    assert _both(spark, duck, script) == [want]


def test_prepared_dml_insert(spark, duck):
    sqlfront.sql(spark, "DROP TABLE IF EXISTS pq_t")
    for ex in (lambda q: sqlfront.sql(spark, q), duck.execute):
        ex("CREATE TABLE pq_t(i INT)")
        ex("PREPARE pq_ins AS INSERT INTO pq_t VALUES (?)")
        ex("EXECUTE pq_ins(4)")
        ex("EXECUTE pq_ins(5)")
    mine = [tuple(r) for r in sqlfront.sql(
        spark, "SELECT i FROM pq_t ORDER BY i").collect()]
    assert mine == duck.execute("SELECT i FROM pq_t ORDER BY i").fetchall()
    sqlfront.sql(spark, "DROP TABLE pq_t")


def test_marker_inside_string_or_comment_not_bound():
    spans = _prepared_params(
        "SELECT '?', \"$1\", /* $2 ? */ $1 -- ? $x\n FROM t"
    )
    assert [k for *_, k in spans] == [1]


def test_execute_through_multistatement_script(spark, duck):
    script = (
        "PREPARE pq14 AS SELECT $1::INT * 10 AS v; EXECUTE pq14(3)"
    )
    mine = [tuple(r) for r in sqlfront.sql(spark, script).collect()]
    duck.execute("PREPARE pq14 AS SELECT $1::INT * 10 AS v")
    assert mine == duck.execute("EXECUTE pq14(3)").fetchall()
