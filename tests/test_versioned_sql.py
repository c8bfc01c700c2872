"""SQL-level commit-log tables — quackspark/versioned.py.

The reference's multi-writer contract is MVCC + WAL (DuckTransaction
duckdb-internal.hpp:10232): concurrent disjoint writers both commit,
conflicting writers get TransactionException, rollback undoes versioned
row-groups. These tests pin our commit-log equivalent end-to-end at the
SQL layer: CREATE, every DML family through the two write
chokepoints, cross-PROCESS concurrent appends that both land, the
retryable CommitConflict on overlapping rewrites, metadata-only txn
rollback (and its refusal to erase a foreign session's commit), and
``AT (VERSION => n)`` time travel.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import duckdb
import pytest

from quackspark import ddl, sqlfront, versioned
from quackspark.session import get_session
from quackspark.sources.commitlog import CommitConflict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def spark():
    return get_session("test-versioned-sql")


def S(spark, stmt):
    return sqlfront.sql(spark, stmt)


def _drop(spark, *names):
    for n in names:
        S(spark, f"DROP TABLE IF EXISTS {n}")


def _rows(spark, q):
    return [tuple(r) for r in S(spark, q).collect()]


def test_lifecycle_differential_vs_duckdb(spark):
    """The same statement script must leave a versioned table and a
    DuckDB table in the same state."""
    stmts = [
        "CREATE TABLE vt_diff (id INTEGER, grp VARCHAR, val DOUBLE DEFAULT 0.5)",
        "INSERT INTO vt_diff VALUES (1,'a',1.0),(2,'b',2.0),(3,'a',3.0)",
        "INSERT INTO vt_diff (id, grp) VALUES (4,'c')",
        "UPDATE vt_diff SET val = val + 10 WHERE grp = 'a'",
        "DELETE FROM vt_diff WHERE id = 2",
        "INSERT INTO vt_diff SELECT id + 100, grp, val FROM vt_diff",
    ]
    _drop(spark, "vt_diff")
    con = duckdb.connect()
    for s in stmts:
        S(spark, s)
        con.execute(s)
    got = sorted(_rows(spark, "SELECT * FROM vt_diff"))
    want = sorted(tuple(r) for r in con.execute("SELECT * FROM vt_diff").fetchall())
    assert got == want
    assert versioned.is_versioned(spark, "vt_diff")
    _drop(spark, "vt_diff")


def test_ctas_truncate_rename_drop(spark):
    _drop(spark, "vt_ctas", "vt_renamed")
    S(spark, "CREATE TABLE vt_ctas AS SELECT 1 AS a, 'x' AS b")
    assert versioned.is_versioned(spark, "vt_ctas")
    assert _rows(spark, "SELECT * FROM vt_ctas") == [(1, "x")]
    S(spark, "INSERT INTO vt_ctas VALUES (2, 'y')")
    S(spark, "ALTER TABLE vt_ctas RENAME TO vt_renamed")
    assert versioned.is_versioned(spark, "vt_renamed")
    assert not versioned.is_versioned(spark, "vt_ctas")
    assert len(_rows(spark, "SELECT * FROM vt_renamed")) == 2
    S(spark, "TRUNCATE TABLE vt_renamed")
    assert _rows(spark, "SELECT * FROM vt_renamed") == []
    # schema survives truncation
    S(spark, "INSERT INTO vt_renamed VALUES (3, 'z')")
    assert _rows(spark, "SELECT * FROM vt_renamed") == [(3, "z")]
    S(spark, "DROP TABLE vt_renamed")
    assert not versioned.is_versioned(spark, "vt_renamed")


def test_time_travel_and_versions_pragma(spark):
    _drop(spark, "vt_tt")
    S(spark, "CREATE TABLE vt_tt (x INTEGER)")  # v0
    S(spark, "INSERT INTO vt_tt VALUES (1)")  # v1
    S(spark, "INSERT INTO vt_tt VALUES (2)")  # v2
    S(spark, "DELETE FROM vt_tt WHERE x = 1")  # v3
    assert _rows(spark, "SELECT x FROM vt_tt ORDER BY x") == [(2,)]
    assert _rows(
        spark, "SELECT x FROM vt_tt AT (VERSION => 2) ORDER BY x"
    ) == [(1,), (2,)]
    assert _rows(spark, "SELECT x FROM vt_tt AT (VERSION => 0)") == []
    ops = [
        (r.version, r.op)
        for r in S(spark, "PRAGMA table_versions('vt_tt')").collect()
    ]
    assert ops == [(0, "create"), (1, "append"), (2, "append"), (3, "rewrite")]
    # joins across two pinned versions in one statement
    assert _rows(
        spark,
        "SELECT a.x FROM vt_tt AT (VERSION => 2) a "
        "JOIN vt_tt AT (VERSION => 1) b USING (x)",
    ) == [(1,)]
    _drop(spark, "vt_tt")


def test_at_version_on_plain_table_errors(spark):
    """Only a table keeps versions: time travel on a view errors."""
    S(spark, "CREATE OR REPLACE VIEW vt_plain_at AS SELECT 1 AS x")
    with pytest.raises(sqlfront.UnsupportedSQL, match="has no commit log"):
        S(spark, "SELECT * FROM vt_plain_at AT (VERSION => 0)")
    S(spark, "DROP VIEW vt_plain_at")


def test_constraints_and_upsert_on_versioned(spark):
    """Constraint enforcement and ON CONFLICT run unchanged on versioned
    tables (they sit before the write chokepoints)."""
    _drop(spark, "vt_con")
    S(spark, "CREATE TABLE vt_con (id INTEGER PRIMARY KEY, v VARCHAR NOT NULL)")
    S(spark, "INSERT INTO vt_con VALUES (1,'a'),(2,'b')")
    from quackspark.ddl import ConstraintError

    with pytest.raises(ConstraintError, match="primary key"):
        S(spark, "INSERT INTO vt_con VALUES (1,'dup')")
    with pytest.raises(ConstraintError, match="NOT NULL"):
        S(spark, "INSERT INTO vt_con VALUES (3, NULL)")
    S(spark, "INSERT OR IGNORE INTO vt_con VALUES (1,'skip'),(3,'c')")
    S(
        spark,
        "INSERT INTO vt_con VALUES (2,'B2'),(4,'d') "
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v",
    )
    assert _rows(spark, "SELECT * FROM vt_con ORDER BY id") == [
        (1, "a"),
        (2, "B2"),
        (3, "c"),
        (4, "d"),
    ]
    _drop(spark, "vt_con")


_WORKER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from quackspark.session import get_session
    from quackspark import sqlfront
    spark = get_session("vt-worker-{tag}", cpus=2)
    sqlfront.sql(spark, {stmt!r})
    print("WORKER_OK")
    """
)


def _run_worker(tag: str, stmt: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", _WORKER.format(repo=REPO, tag=tag, stmt=stmt)],
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_cross_process_concurrent_appends_both_commit(spark):
    """Two separate PROCESSES append; both commits land (appends rebase
    onto the tip instead of conflicting)."""
    _drop(spark, "vt_multi")
    S(spark, "CREATE TABLE vt_multi (who VARCHAR, n INTEGER)")
    procs = [
        subprocess.Popen(
            [
                sys.executable,
                "-c",
                _WORKER.format(
                    repo=REPO,
                    tag=f"w{i}",
                    stmt=f"INSERT INTO vt_multi VALUES ('w{i}', {i})",
                ),
            ],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for i in range(2)
    ]
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert "WORKER_OK" in out, err[-2000:]
    # this session sees both foreign commits at its next statement
    assert _rows(spark, "SELECT who FROM vt_multi ORDER BY who") == [
        ("w0",),
        ("w1",),
    ]
    _drop(spark, "vt_multi")


def test_foreign_commit_visible_without_restart(spark):
    _drop(spark, "vt_vis")
    S(spark, "CREATE TABLE vt_vis (x INTEGER)")
    S(spark, "INSERT INTO vt_vis VALUES (1)")
    r = _run_worker("vis", "UPDATE vt_vis SET x = 99 WHERE x = 1")
    assert "WORKER_OK" in r.stdout, r.stderr[-2000:]
    assert _rows(spark, "SELECT x FROM vt_vis") == [(99,)]
    _drop(spark, "vt_vis")


def test_txn_rollback_metadata_only(spark):
    _drop(spark, "vt_txn")
    S(spark, "CREATE TABLE vt_txn (x INTEGER)")
    S(spark, "INSERT INTO vt_txn VALUES (1)")
    S(spark, "BEGIN")
    S(spark, "INSERT INTO vt_txn VALUES (2)")
    S(spark, "UPDATE vt_txn SET x = x * 10")
    assert sorted(_rows(spark, "SELECT x FROM vt_txn")) == [(10,), (20,)]
    S(spark, "ROLLBACK")
    assert _rows(spark, "SELECT x FROM vt_txn") == [(1,)]
    # rollback was a restore commit, not a data rewrite
    ops = [r.op for r in S(spark, "PRAGMA table_versions('vt_txn')").collect()]
    assert ops[-1] == "restore"
    # and COMMIT keeps the writes
    S(spark, "BEGIN")
    S(spark, "INSERT INTO vt_txn VALUES (7)")
    S(spark, "COMMIT")
    assert sorted(_rows(spark, "SELECT x FROM vt_txn")) == [(1,), (7,)]
    _drop(spark, "vt_txn")


def test_txn_rollback_refuses_to_erase_foreign_commit(spark):
    """A foreign session commits mid-transaction → ROLLBACK must raise
    CommitConflict instead of silently erasing the foreign rows."""
    _drop(spark, "vt_txn_f")
    S(spark, "CREATE TABLE vt_txn_f (x INTEGER)")
    S(spark, "BEGIN")
    S(spark, "INSERT INTO vt_txn_f VALUES (1)")
    r = _run_worker("txnf", "INSERT INTO vt_txn_f VALUES (42)")
    assert "WORKER_OK" in r.stdout, r.stderr[-2000:]
    with pytest.raises(CommitConflict, match="another writer"):
        S(spark, "ROLLBACK")
    # the foreign row survived; clean up the stuck transaction state
    ddl._TXN = None
    assert (42,) in _rows(spark, "SELECT x FROM vt_txn_f")
    _drop(spark, "vt_txn_f")


def test_concurrent_rewrite_conflicts_are_clean(spark):
    """An overlapping whole-table rewrite pinned at a stale read version
    raises the retryable CommitConflict (reference: TransactionException),
    and a retry of the same statement succeeds."""
    _drop(spark, "vt_conf")
    S(spark, "CREATE TABLE vt_conf (x INTEGER)")
    S(spark, "INSERT INTO vt_conf VALUES (1)")
    versioned.refresh(spark, "vt_conf")
    vt, read_v = versioned._REGISTRY["vt_conf"]
    # a foreign append lands after our read version
    r = _run_worker("conf", "INSERT INTO vt_conf VALUES (2)")
    assert "WORKER_OK" in r.stdout, r.stderr[-2000:]
    stale = S(spark, "SELECT x + 100 AS x FROM vt_conf AT (VERSION => " + str(read_v) + ")")
    with pytest.raises(CommitConflict):
        vt.rewrite(stale, read_version=read_v)
    # the SQL layer re-pins at statement start, so the statement retry works
    S(spark, "UPDATE vt_conf SET x = x + 100")
    assert sorted(_rows(spark, "SELECT x FROM vt_conf")) == [(101,), (102,)]
    _drop(spark, "vt_conf")


def test_vacuum_pragma_removes_only_orphans(spark):
    _drop(spark, "vt_vac")
    S(spark, "CREATE TABLE vt_vac (x INTEGER)")
    S(spark, "INSERT INTO vt_vac VALUES (1)")
    S(spark, "UPDATE vt_vac SET x = 2")  # old files still referenced by v1
    removed = S(spark, "PRAGMA vacuum_versioned('vt_vac')").collect()
    assert removed == []  # nothing orphaned — every file is in some version
    assert _rows(spark, "SELECT x FROM vt_vac") == [(2,)]
    assert _rows(spark, "SELECT x FROM vt_vac AT (VERSION => 1)") == [(1,)]
    _drop(spark, "vt_vac")


def test_pragma_off_still_creates_log_table(spark):
    """``PRAGMA versioned_tables`` is accepted and does nothing: with it
    off, CREATE TABLE still makes a commit-log table, whose version 0
    records only the schema."""
    S(spark, "PRAGMA versioned_tables = false")
    _drop(spark, "vt_off")
    S(spark, "CREATE TABLE vt_off (x INTEGER)")
    assert versioned.is_versioned(spark, "vt_off")
    vt = versioned._REGISTRY["vt_off"][0]
    assert vt.snapshot(0).files == ()
    S(spark, "INSERT INTO vt_off VALUES (1)")
    assert _rows(spark, "SELECT x FROM vt_off") == [(1,)]
    _drop(spark, "vt_off")


def test_checkpoint_statement_compacts_log(spark):
    """CHECKPOINT (reference WAL checkpoint, duckdb-6.cpp:9490) has a
    real analog on commit-log tables: force a full-state log checkpoint
    at the tip, so snapshot replay restarts from it."""
    _drop(spark, "vt_ck")
    S(spark, "CREATE TABLE vt_ck (x INTEGER)")
    S(spark, "INSERT INTO vt_ck VALUES (1)")
    S(spark, "INSERT INTO vt_ck VALUES (2)")
    # every table this session knows is a log table, so the count in the
    # status depends on the tables earlier tests left registered
    row = S(spark, "FORCE CHECKPOINT").collect()[0]
    assert row.status.startswith("checkpointed ")
    vt = versioned._REGISTRY["vt_ck"][0]
    assert vt._checkpoints() == [2]
    # idempotent second run reports nothing to do
    row = S(spark, "CHECKPOINT").collect()[0]
    assert "noop" in row.status
    # reads keep working through the checkpoint
    S(spark, "INSERT INTO vt_ck VALUES (3)")
    assert sorted(_rows(spark, "SELECT x FROM vt_ck")) == [(1,), (2,), (3,)]
    _drop(spark, "vt_ck")


def test_mid_statement_foreign_commit_conflicts(spark):
    """A foreign commit landing AFTER the statement pinned its read
    version but BEFORE the rewrite commits must raise CommitConflict —
    versioned.rewrite must NOT re-pin to the new tip (that would make
    the conflict check pass and silently erase the foreign rows)."""
    _drop(spark, "vt_race")
    S(spark, "CREATE TABLE vt_race (x INTEGER)")
    S(spark, "INSERT INTO vt_race VALUES (1)")
    # statement entry: the view is pinned here and the post-image built
    versioned.refresh(spark, "vt_race")
    post_image = S(spark, "SELECT x + 100 AS x FROM vt_race")
    # foreign session commits between the pin and our rewrite
    r = _run_worker("race", "INSERT INTO vt_race VALUES (2)")
    assert "WORKER_OK" in r.stdout, r.stderr[-2000:]
    with pytest.raises(CommitConflict):
        versioned.rewrite(spark, "vt_race", post_image)
    # nothing lost: both rows still present after the failed rewrite
    assert sorted(_rows(spark, "SELECT x FROM vt_race")) == [(1,), (2,)]
    _drop(spark, "vt_race")


def test_drop_cascade_and_foreign_drop_visibility(spark):
    """DROP … CASCADE must go through the commit-log root (not the temp
    view) or the on-disk log resurrects the table; and a table dropped by
    ANOTHER session must stop resolving here at the next statement."""
    _drop(spark, "vt_casc")
    S(spark, "CREATE TABLE vt_casc (x INTEGER)")
    S(spark, "INSERT INTO vt_casc VALUES (1)")
    S(spark, "DROP TABLE vt_casc CASCADE")
    assert not versioned.is_versioned(spark, "vt_casc")
    # recreating from scratch works (no resurrected rows)
    S(spark, "CREATE TABLE vt_casc (x INTEGER)")
    assert _rows(spark, "SELECT * FROM vt_casc") == []
    # foreign drop: another process removes the table on disk
    S(spark, "INSERT INTO vt_casc VALUES (7)")
    r = _run_worker("fdrop", "DROP TABLE vt_casc")
    assert "WORKER_OK" in r.stdout, r.stderr[-2000:]
    with pytest.raises(Exception):  # table is gone, not stale-served
        _rows(spark, "SELECT * FROM vt_casc")


def test_log_table_lists_as_base_table(spark):
    """A log table reads through a temp view but is a base table: the
    catalog lists it as MANAGED and not temporary, like DuckDB's tables."""
    _drop(spark, "vt_cat")
    S(spark, "CREATE TABLE vt_cat (x INTEGER)")
    row = S(spark, "SELECT * FROM duckdb_tables() WHERE table_name = 'vt_cat'").collect()
    assert [(r.table_type, r.temporary) for r in row] == [("MANAGED", False)]
    shown = [r for r in S(spark, "SHOW ALL TABLES").collect() if r.name == "vt_cat"]
    assert [(r.schema, r.temporary) for r in shown] == [("default", False)]
    assert not S(spark, "SELECT * FROM duckdb_views() WHERE table_name = 'vt_cat'").collect()
    _drop(spark, "vt_cat")


def test_write_to_table_without_log_names_the_fix(spark):
    """A table made by raw Spark, outside the SQL front, has no log: every
    write raises UnsupportedSQL naming the CTAS that copies it into one."""
    spark.sql("DROP TABLE IF EXISTS vt_raw")
    spark.range(2).write.saveAsTable("vt_raw")
    try:
        for stmt in (
            "INSERT INTO vt_raw VALUES (5)",
            "UPDATE vt_raw SET id = 1",
            "DELETE FROM vt_raw",
            "ALTER TABLE vt_raw ADD COLUMN y INTEGER",
        ):
            with pytest.raises(sqlfront.UnsupportedSQL, match="CREATE TABLE vt_raw2 AS SELECT"):
                S(spark, stmt)
        assert sorted(_rows(spark, "SELECT id FROM vt_raw")) == [(0,), (1,)]
        S(spark, "CREATE TABLE vt_raw2 AS SELECT * FROM vt_raw")
        S(spark, "INSERT INTO vt_raw2 VALUES (5)")
        assert sorted(_rows(spark, "SELECT id FROM vt_raw2")) == [(0,), (1,), (5,)]
    finally:
        S(spark, "DROP TABLE IF EXISTS vt_raw2")
        S(spark, "DROP TABLE IF EXISTS vt_raw")
