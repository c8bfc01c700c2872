"""Job budget of the sql-rw write statements (perfbench ``sql-rw-sf0.1``).

The benchmark's write round is INSERT / UPDATE / DELETE / upsert on a
2000-row PRIMARY KEY table ``kv`` and on a second one, ``vt``, that the
benchmark creates with ``PRAGMA versioned_tables = true`` — a no-op now
that every table is a commit-log table. Each statement pays its Spark
jobs while ``Connection.sql`` constructs it (constraint checks, the data
files of the commit) and returns a one-row status frame. The pins below hold both halves:

- the pre-action job budget of every statement (the trace's
  ``operators.pre_action_jobs``: 4 / 1 / 1 / 6 per table, 24 a round);
- the returned frame is a driver-built Arrow ``LocalTableScan`` — no
  ``ExistingRDD`` over a PythonRDD, whose action started a Python-worker
  task per core — and running it to the noop sink takes exactly one job.

What each remaining job is:

- INSERT 4: the one validation query (``ddl._violations``: NOT NULL
  flags, in-batch duplicate and existing-key hit) runs as three adaptive
  stages — the union's partial ``groupBy``, the per-key final aggregate
  feeding the global one, the single result row — then one append job.
- UPDATE 1 and DELETE 1: the whole-table rewrite. ``SET v = …`` names
  no constrained column, so no validation query runs.
- upsert 6: the validation query over the four proposed rows (three
  jobs, the conflict-key repeat check included), then the one-join merge
  written back: one shuffle-map job per side of the full outer join and
  the rewrite job. ``SET v = excluded.v`` names no constrained column, so
  the matched rows need no re-check.
"""

from __future__ import annotations

import pytest

from quackspark.relation import Connection

BASE_ROWS = 2_000
BATCH = 50
UPSERT_KEYS = 1_000_000_000

#: pre-action Spark jobs per write statement, identical on both tables
BUDGET = {"insert": 4, "update": 1, "delete": 1, "upsert": 6}

KV, VT = "jb_kv", "jb_vt"


@pytest.fixture(scope="module")
def con(spark):
    """The two tables as the benchmark's set-up builds them (without its
    no-op PRAGMA)."""
    c = Connection(spark)
    ddl = "(k BIGINT PRIMARY KEY, grp INTEGER, v BIGINT)"
    fill = (
        "SELECT range AS k, CAST(range % 16 AS INTEGER) AS grp, "
        f"range * 3 AS v FROM range(0, {BASE_ROWS})"
    )
    for t in (KV, VT):
        c.sql(f"DROP TABLE IF EXISTS {t}").df.collect()
    for t in (KV, VT):
        c.sql(f"CREATE TABLE {t} {ddl}").df.collect()
        c.sql(f"INSERT INTO {t} {fill}").df.collect()
    yield c
    for t in (KV, VT):
        c.sql(f"DROP TABLE IF EXISTS {t}").df.collect()


def _jobs_in_group(spark, gid: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _round(table: str) -> dict[str, str]:
    lo = BASE_ROWS
    ups = ", ".join(f"({UPSERT_KEYS + i}, {i}, {100 + i})" for i in range(4))
    return {
        "insert": (
            f"INSERT INTO {table} SELECT range AS k, "
            f"CAST(range % 16 AS INTEGER) AS grp, range * 7 AS v "
            f"FROM range({lo}, {lo + BATCH})"
        ),
        "update": f"UPDATE {table} SET v = v + 5 WHERE grp = 3",
        "delete": f"DELETE FROM {table} WHERE k >= 0 AND k < {BATCH}",
        "upsert": (
            f"INSERT INTO {table} VALUES {ups} "
            "ON CONFLICT (k) DO UPDATE SET v = excluded.v"
        ),
    }


@pytest.mark.parametrize("table", [KV, VT])
def test_write_round_job_budget(spark, con, table):
    for op, text in _round(table).items():
        df, pre = _jobs_in_group(
            spark, f"write-budget-{table}-{op}", lambda t=text: con.sql(t).df
        )
        assert pre == BUDGET[op], (table, op, pre)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (op, plan)
        _, act = _jobs_in_group(
            spark,
            f"write-budget-{table}-{op}-action",
            lambda d=df: d.write.format("noop").mode("overwrite").save(),
        )
        assert act == 1, (table, op, act)
