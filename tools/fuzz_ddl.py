"""DDL/DML template fuzzer with engine-vs-engine STATE diffing
(VERDICT r4 directive 9 / r5 directive 8).

fuzz_sqlfront.py fuzzes read-only SELECTs; the statement surface it
cannot reach is the mutation path — CREATE/INSERT/UPDATE/DELETE/ALTER and
the four upsert forms, including r5's ON CONFLICT DO UPDATE merge
(ddl._merge_do_update: hand-rolled SET-clause parsing, _split_top_commas,
excluded.* rewriting) — exactly the code whose failure class is a
silently wrong TABLE STATE rather than a wrong result set.

Protocol: one scratch table per episode, the SAME statement stream run on
both engines (quackspark sqlfront.sql ↔ DuckDB), and after EVERY mutating
statement the full table state is diffed (sorted multiset of rows +
column names). Outcomes:

  STATE_MATCH       states equal after the statement          → good
  UNSUPPORTED       sqlfront refused loudly (UnsupportedSQL)  → honest
  BOTH_REJECT       both engines errored; state unchanged —
                    since r6 this is the constraint-parity
                    signal (PK/NOT NULL/CHECK enforce on both) → parity
  ACCEPT_DIVERGE    one engine accepted what the other
                    rejected — since r6 (constraints enforced,
                    ddl._enforce_insert) this class should be
                    EMPTY; the spark state is resynced from
                    DuckDB and the episode continues          → a bug
  STATE_MISMATCH    both accepted, states differ              → THE BUG
                    CLASS; gate: zero tolerated
                    (tests/test_ddl_fuzz.py)

Every statement is a pure function of (seed, index) — failures replay.

CLI:  python tools/fuzz_ddl.py [--n 1000] [--seed 1] [--verbose]
"""

from __future__ import annotations

import argparse
import math
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STR_POOL = ["'a'", "'it''s'", "'x y'", "'Z'", "NULL", "'%_'", "''"]
#: -200.5 deliberately violates the constrained episodes' CHECK (x >
#: -100.0) — both engines must reject it there, both accept it on plain
DBL_POOL = ["0.5", "-1.25", "2.0", "NULL", "100.125", "0.0", "-200.5"]
BOOL_POOL = ["true", "false", "NULL"]


class Gen:
    """Statement generator over one scratch table
    fz(id INTEGER PRIMARY KEY, v VARCHAR, x DOUBLE, b BOOLEAN [+ ALTERed
    columns]). The PK column is never UPDATEd (both engines would then
    diverge only on constraint enforcement, which is documented)."""

    def __init__(self, rng: random.Random):
        self.r = rng
        self.next_id = 1000  # fresh-PK counter for plain INSERTs
        self.cols = ["id", "v", "x", "b"]  # mirrors ALTERs
        self.added = 0

    def pick(self, xs):
        return self.r.choice(xs)

    def _value_for(self, col: str) -> str:
        if col == "id":
            return str(self.r.randrange(0, 40))
        if col.startswith("v") or col.startswith("c_add"):
            return self.pick(STR_POOL)
        if col == "b":
            return self.pick(BOOL_POOL)
        return self.pick(DBL_POOL)

    def _row(self, fresh_pk: bool) -> str:
        vals = []
        for c in self.cols:
            if c == "id" and fresh_pk:
                self.next_id += 1
                vals.append(str(self.next_id))
            else:
                vals.append(self._value_for(c))
        return "(" + ", ".join(vals) + ")"

    def _rows(self, fresh_pk: bool, n: int | None = None) -> str:
        n = n or self.r.randrange(1, 4)
        return ", ".join(self._row(fresh_pk) for _ in range(n))

    def _pred(self) -> str:
        form = self.r.randrange(6)
        if form == 0:
            return f"id % {self.r.randrange(2, 5)} = 0"
        if form == 1:
            return f"id > {self.r.randrange(0, 30)}"
        if form == 2:
            return "v IS NULL"
        if form == 3:
            return f"x < {self.pick(['1.0', '0.0', '50.0'])}"
        if form == 4:
            return "b"
        return f"v = {self.pick([s for s in STR_POOL if s != 'NULL'])}"

    def _set_clause(self) -> str:
        """1-3 assignments over non-PK columns; expressions include
        nested commas/parens to hammer _split_top_commas."""
        cols = [c for c in self.cols if c != "id"]
        picked = self.r.sample(cols, k=min(len(cols), self.r.randrange(1, 3)))
        parts = []
        for c in picked:
            if c == "v" or c.startswith("c_add"):
                e = self.pick(
                    [
                        "upper(coalesce(v, 'n'))",
                        "concat(v, '_', CAST(id AS VARCHAR))",
                        self.pick(STR_POOL),
                        "CASE WHEN id > 5 THEN 'hi' ELSE v END",
                    ]
                )
            elif c == "b":
                e = self.pick(["NOT coalesce(b, false)", "id % 2 = 0", "NULL"])
            else:
                e = self.pick(
                    [
                        "coalesce(x, 0) + 1.5",
                        "round(x * 2, 2)",
                        "greatest(x, 1.0, 2.0)",
                        self.pick(DBL_POOL),
                    ]
                )
            parts.append(f"{c} = {e}")
        return ", ".join(parts)

    def _upsert_set(self) -> str:
        """DO UPDATE SET with excluded.* references (the r5 merge path)."""
        parts = [
            self.pick(
                [
                    "v = excluded.v",
                    "v = concat(coalesce(v,''), '+', coalesce(excluded.v,''))",
                    "v = upper(coalesce(excluded.v, v))",
                ]
            )
        ]
        if self.r.random() < 0.6:
            parts.append(
                self.pick(
                    ["x = excluded.x", "x = coalesce(x, 0) + coalesce(excluded.x, 0)"]
                )
            )
        return ", ".join(parts)

    def statement(self) -> str:
        # rare full reset: TRUNCATE (r12 statement form — routes through
        # the DML DELETE path on our side, native TruncateStmt on
        # DuckDB's; state-diffed like every other mutation). Kept rare so
        # episodes aren't mostly empty tables.
        if self.r.random() < 0.02:
            return f"TRUNCATE{' TABLE' if self.r.random() < 0.5 else ''} fz"
        form = self.r.randrange(20)
        if form < 5:  # plain INSERT — mostly fresh PKs, sometimes reused
            if self.r.random() < 0.3:  # partial column list → DEFAULT/NULL fill
                self.next_id += 1
                return (
                    f"INSERT INTO fz (id, v) VALUES "
                    f"({self.next_id}, {self.pick(STR_POOL)})"
                )
            # 20%: reused PK range — since r6 BOTH engines must reject the
            # duplicate (PRIMARY KEY is enforced); error-parity checked
            return f"INSERT INTO fz VALUES {self._rows(fresh_pk=self.r.random() >= 0.2)}"
        if form < 7:
            return f"INSERT OR IGNORE INTO fz VALUES {self._rows(fresh_pk=False)}"
        if form < 9:
            return f"INSERT OR REPLACE INTO fz VALUES {self._rows(fresh_pk=False)}"
        if form < 11:
            return (
                f"INSERT INTO fz VALUES {self._rows(fresh_pk=False)} "
                f"ON CONFLICT DO NOTHING"
            )
        if form < 14:  # the r5 merge path — highest weight
            sql = (
                f"INSERT INTO fz VALUES {self._rows(fresh_pk=False, n=1)} "
                f"ON CONFLICT (id) DO UPDATE SET {self._upsert_set()}"
            )
            if self.r.random() < 0.4:
                # gates are never-NULL expressions on purpose: DuckDB
                # 1.0's DO UPDATE ... WHERE with a NULL gate is heap-
                # history-dependent (verified: the same statement on the
                # same table state updates after a 1000-statement session
                # history but keeps on a fresh connection, seeds 23/47 of
                # the r6 sweep) — a NULL gate row would fuzz the oracle's
                # bug, not our engine. Fresh-connection DuckDB and
                # PostgreSQL both treat a NULL gate as "keep".
                sql += f" WHERE {self.pick(['id > 10', 'v IS NOT NULL', 'coalesce(x, 0.0) > 0'])}"
            return sql
        if form < 16:
            return f"UPDATE fz SET {self._set_clause()} WHERE {self._pred()}"
        if form < 17:
            # r6 join-DML: source table fzsrc(id, nv, bump) is static per
            # episode with UNIQUE ids, so the engine's arbitrary multi-
            # match pick never diverges from our deterministic one
            if self.r.random() < 0.5:
                import re as _re

                pred = _re.sub(
                    r"\b(id|v|x|b|c_add\d+)\b", r"fz.\1", self._pred()
                )
                return (
                    "UPDATE fz SET v = fzsrc.nv FROM fzsrc "
                    f"WHERE fz.id = fzsrc.id AND ({pred})"
                )
            return (
                "DELETE FROM fz USING fzsrc "
                f"WHERE fz.id = fzsrc.id AND fzsrc.bump > 0.5"
            )
        if form < 19:
            return f"DELETE FROM fz WHERE {self._pred()}"
        # ALTER: add a typed column with a default (bounded so episodes
        # stay same-shaped and re-playable)
        if self.added < 2:
            self.added += 1
            c = f"c_add{self.added}"
            self.cols.append(c)
            return f"ALTER TABLE fz ADD COLUMN {c} VARCHAR DEFAULT 'd{self.added}'"
        return f"UPDATE fz SET {self._set_clause()} WHERE {self._pred()}"


# --- execution / state diff ---------------------------------------------------


def _canon(cols, rows):
    out = []
    for row in rows:
        cells = []
        for c in row:
            if isinstance(c, float):
                cells.append("NaN" if math.isnan(c) else round(c, 6))
            elif isinstance(c, bool):
                cells.append(int(c))
            else:
                cells.append(c)
        out.append(tuple(cells))
    return [tuple(c.lower() for c in cols)] + sorted(out, key=repr)


CREATE = (
    "CREATE TABLE fz (id INTEGER PRIMARY KEY, v VARCHAR, "
    "x DOUBLE DEFAULT 0.25, b BOOLEAN DEFAULT false)"
)
#: r6 alternate episode shape — NOT NULL and CHECK in play, so the value
#: pools' NULLs and extremes now exercise the enforcement path on BOTH
#: engines (statements that violate must BOTH_REJECT, never diverge)
CREATE_CONSTRAINED = (
    "CREATE TABLE fz (id INTEGER PRIMARY KEY, v VARCHAR NOT NULL, "
    "x DOUBLE DEFAULT 0.25 CHECK (x > -100.0), b BOOLEAN DEFAULT false)"
)
#: static join-DML source (r6 UPDATE…FROM / DELETE…USING templates):
#: UNIQUE ids so the engine's arbitrary multi-match pick can't diverge
#: from our deterministic one; nv NOT NULL so constrained episodes'
#: `SET v = fzsrc.nv` never trips NOT NULL asymmetrically
FZSRC_CREATE = "CREATE TABLE fzsrc (id INTEGER, nv VARCHAR, bump DOUBLE)"
FZSRC_INSERT = "INSERT INTO fzsrc VALUES " + ", ".join(
    f"({i}, 's{i}', {round((i % 4) * 0.3, 1)})" for i in range(0, 40, 3)
)


def run_fuzz(
    n: int = 1000, seed: int = 1, verbose: bool = False, spark=None
) -> dict:
    import duckdb

    from quackspark.sqlfront import UnsupportedSQL
    from quackspark.sqlfront import sql as qsql
    from quackspark.session import get_session

    spark = spark or get_session("ddl-fuzz", cpus=8)
    con = duckdb.connect()

    def duck_state():
        cur = con.execute('SELECT * FROM fz')
        return _canon([d[0] for d in cur.description], cur.fetchall())

    def spark_state():
        df = qsql(spark, "SELECT * FROM fz")
        return _canon(df.columns, [tuple(r) for r in df.collect()])

    episode = {"create": CREATE, "added": 0}

    def resync():
        """Rebuild the spark table from DuckDB's rows (engine-acceptance
        divergence recovery — keeps the episode comparable). Recreated
        with the episode's own constraint shape — DuckDB's rows already
        satisfy it, and later statements keep enforcing."""
        cur = con.execute("SELECT * FROM fz")
        qsql(spark, "DROP TABLE IF EXISTS fz")
        qsql(spark, episode["create"])
        for k in range(1, episode["added"] + 1):
            qsql(
                spark,
                f"ALTER TABLE fz ADD COLUMN c_add{k} VARCHAR DEFAULT 'd{k}'",
            )
        rows = cur.fetchall()
        if rows:
            def lit(v):
                if v is None:
                    return "NULL"
                if isinstance(v, bool):
                    return "true" if v else "false"
                if isinstance(v, str):
                    return "'" + v.replace("'", "''") + "'"
                return repr(v)

            vals = ", ".join(
                "(" + ", ".join(lit(v) for v in r) + ")" for r in rows
            )
            qsql(spark, f"INSERT INTO fz VALUES {vals}")

    stats = {
        "STATE_MATCH": 0,
        "DESCRIBE_MATCH": 0,
        "DESCRIBE_MISMATCH": 0,
        "UNSUPPORTED": 0,
        "BOTH_REJECT": 0,
        "ACCEPT_DIVERGE": 0,
        "STATE_MISMATCH": 0,
    }
    failures: list[tuple[str, str, str]] = []
    gen = Gen(random.Random(seed))
    episode_len = 40

    for i in range(n):
        if i % episode_len == 0:  # fresh episode: new table, re-seeded shape
            gen = Gen(random.Random(seed * 1_000_003 + i))
            # rotate shapes: plain → constrained → constrained (every
            # table is a commit-log table; the rotation keeps its period of
            # 3 so a seed replays the same episodes as earlier runs)
            shape = (i // episode_len) % 3
            episode["create"] = CREATE if shape == 0 else CREATE_CONSTRAINED
            episode["added"] = 0
            con.execute("DROP TABLE IF EXISTS fz")
            con.execute(episode["create"])
            qsql(spark, "DROP TABLE IF EXISTS fz")
            qsql(spark, episode["create"])
            if i == 0:  # static join-DML source, shared by all episodes
                con.execute(FZSRC_CREATE)
                con.execute(FZSRC_INSERT)
                qsql(spark, "DROP TABLE IF EXISTS fzsrc")
                qsql(spark, FZSRC_CREATE)
                qsql(spark, FZSRC_INSERT)
        stmt = gen.statement()
        if stmt.startswith("ALTER TABLE fz ADD COLUMN"):
            episode["added"] += 1
        duck_err = spark_err = None
        try:
            con.execute(stmt)
        except Exception as exc:
            duck_err = str(exc)[:200]
        try:
            qsql(spark, stmt)
        except UnsupportedSQL as exc:
            stats["UNSUPPORTED"] += 1
            if verbose:
                print(f"[{i}] UNSUPPORTED: {stmt!r} ({exc})")
            if duck_err is None:
                resync()  # duck applied it, spark refused → realign
            continue
        except Exception as exc:
            spark_err = str(exc)[:200]
        if duck_err and spark_err:
            stats["BOTH_REJECT"] += 1
            continue
        if (duck_err is None) != (spark_err is None):
            stats["ACCEPT_DIVERGE"] += 1
            failures.append(
                ("ACCEPT_DIVERGE", stmt, f"duck={duck_err} spark={spark_err}")
            )
            resync()
            continue
        want, got = duck_state(), spark_state()
        if want == got:
            stats["STATE_MATCH"] += 1
            # r11 (verdict missing #1): every 10th matched statement also
            # diffs the DESCRIBE surface — column names/types, null/key
            # from the enforcement registries, raw DEFAULT text — so the
            # ALTER/constraint stream fuzzes the new statement forms too
            if i % 10 == 7:
                cur = con.execute("DESCRIBE fz")
                want_d = sorted(tuple(r) for r in cur.fetchall())
                got_d = sorted(
                    tuple(r) for r in qsql(spark, "DESCRIBE fz").collect()
                )
                if want_d == got_d:
                    stats["DESCRIBE_MATCH"] += 1
                else:
                    stats["DESCRIBE_MISMATCH"] += 1
                    failures.append(
                        (
                            "DESCRIBE_MISMATCH",
                            "DESCRIBE fz",
                            f"duck={want_d!r} spark={got_d!r}",
                        )
                    )
        else:
            stats["STATE_MISMATCH"] += 1
            only_d = [r for r in want[1:] if r not in got[1:]]
            only_s = [r for r in got[1:] if r not in want[1:]]
            failures.append(
                (
                    "STATE_MISMATCH",
                    stmt,
                    f"cols duck={want[0]!r} spark={got[0]!r}; "
                    f"rows only-duck={only_d!r} only-spark={only_s!r}",
                )
            )
            resync()  # contain the blast radius; keep hunting
    stats["failures"] = failures
    return stats


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--verbose", action="store_true")
    args = ap.parse_args()
    stats = run_fuzz(args.n, args.seed, args.verbose)
    failures = stats.pop("failures")
    print(stats)
    for kind, stmt, detail in failures:
        print(f"--- {kind}\n{stmt}\n{detail}\n")
    return 1 if stats["STATE_MISMATCH"] else 0


if __name__ == "__main__":
    sys.exit(main())
