"""The benchmark's workloads: what each pass runs and how it is checked.

A workload turns ``(spark, sf_dir, seed)`` into passes of statements. The
seed fixes the statement order of every pass and, in ``sql-rw-sf0.1``, the
constants each write uses; the fixtures themselves never change.

Why each workload is here:

- ``curation-sf0.1``: LLM-data-curation operators (duplicate spans,
  k-means and brute-force top-k over embeddings, BM25, and the composed
  training-prep pipeline with its exact-dedup, MinHash-LSH and
  connected-components stages). Construction is half the wall
  time, with Spark jobs run before the action and Arrow/pandas UDFs, so it
  is the target of operator and construction-time changes.
- ``sql-rw-sf0.1``: one DuckDB-dialect session through
  ``relation.Connection.sql`` that writes (INSERT / UPDATE / DELETE /
  upsert on a primary-key table and on a versioned table) beside reads of
  the mutated tables, time travel, and a slice of the oracle corpus. It
  exercises ``sqlfront``, ``ddl`` constraint enforcement and ``versioned``
  commits, and bypasses the curation operators, so each workload is the
  other's control.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass
from typing import Callable

from stats import rows_checksum

#: curation callables. Left out to keep a run within the benchmark's time
#: budget: pipeline_training_prep_recompute (the non-default recompute
#: mode), pipeline_training_prep, whose stages pipeline_training_prep_v2
#: composes with quality gates and mixing added; text_fingerprint,
#: dedup_minhash_lsh and dedup_cluster_components, the exact-dedup hash,
#: MinHash-LSH pairs and connected-components clustering that
#: pipeline_training_prep_v2 runs as its first three stages; and
#: sim_embedding_neardup, whose embeddings sim_kmeans and
#: sim_bruteforce_heap also search.
CURATION = (
    "dedup_duplicate_spans",
    "sim_kmeans",
    "sim_bruteforce_heap",
    "fts_bm25_topk",
    "pipeline_training_prep_v2",
)

#: oracle-corpus statements the sql-rw session reads through SQL: a TPC-H
#: scan with aggregation, a three-way join, an anti-join subquery, and a
#: DuckDB-only function.
#: Left out: the SQL forms of pipeline_*, fe_asof_join and dedup_simhash*,
#: which take 5-54 s each through SQL; the rest of the corpus is left out
#: to keep a run within the benchmark's time budget.
SQL_READS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "subq_not_in",
    "fe_damerau",
)

#: rows the two sql-rw tables start with, and rows each write round inserts
#: and deletes; a round deletes the oldest batch, so size stays at BASE_ROWS
BASE_ROWS = 2_000
BATCH = 50
#: upserts hit a fixed key pool outside the inserted ranges
UPSERT_KEYS = 1_000_000_000
UPSERT_POOL = 8
#: passes one run may make, a write round each, before the oldest batch
#: runs out
MAX_ROUNDS = BASE_ROWS // BATCH


@dataclass
class Statement:
    """One timed unit: ``build`` constructs the DataFrame (for SQL, this is
    where writes run), the benchmark then runs it to a sink: ``collect`` in
    the checked first pass, ``noop`` in the timed passes."""

    name: str
    kind: str  # "read" | "write"
    layer: str  # "queries" | "sqlfront" | "ddl" | "versioned"
    build: Callable
    sql: str | None = None
    op: str | None = None  # write kind, or "timetravel" for AT reads
    #: untimed check of ``(columns, collected rows)``; returns a problem or None
    check: Callable | None = None
    #: applies the same write to the DuckDB mirror
    mirror: Callable | None = None


def pass_order(seed: int, pass_no: int, names: list[str]) -> list[str]:
    """Statement order of one pass: a function of the seed and the pass
    number only."""
    rng = random.Random(f"{seed}:order:{pass_no}")
    out = list(names)
    rng.shuffle(out)
    return out


def write_constants(seed: int, round_no: int) -> dict[str, int]:
    """The constants the sql-rw writes of one round use."""
    rng = random.Random(f"{seed}:writes:{round_no}")
    return {
        "mult": rng.randint(2, 9),
        "grp": rng.randrange(16),
        "add": rng.randint(1, 999),
        "vt_grp": rng.randrange(16),
        "vt_add": rng.randint(1, 999),
        "up_base": rng.randrange(UPSERT_POOL - 4),
        "up_v": rng.randint(1, 10**6),
    }


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


class Curation:
    name = "curation-sf0.1"
    #: reads only tables that have no derived layout
    uses_layout = False

    def __init__(self, spark, sf_dir: str, seed: int, checksums: dict[str, str]):
        from quackspark.entry import queries

        self.spark, self.sf_dir, self.seed = spark, sf_dir, seed
        self.checksums = checksums
        qs = queries()
        self.fns = {n: qs[n] for n in CURATION}

    def setup(self) -> float:
        """Registers the workload's tables; returns the seconds that took."""
        from quackspark.session import load_table

        t0 = time.perf_counter()
        for t in ("documents", "embeddings"):
            load_table(self.spark, self.sf_dir, t)
        return time.perf_counter() - t0

    def statements(self, pass_no: int) -> list[Statement]:
        out = []
        for n in pass_order(self.seed, pass_no, list(CURATION)):
            fn = self.fns[n]
            out.append(Statement(
                n, "read", "queries",
                build=lambda fn=fn: fn(self.spark, self.sf_dir),
                check=lambda cols, rows, n=n: check_checksum(n, cols, rows, self.checksums),
            ))
        return out

    def prepare_checks(self) -> None:
        pass

    def final_checks(self) -> dict[str, str | None]:
        return {}

    def close(self) -> None:
        pass


def check_checksum(name: str, cols: list[str], rows: list, checksums: dict[str, str]) -> str | None:
    # the oracle's own cell canonicalization, so digests match the ones
    # make_checksums.py verified against DuckDB
    from quackspark.oracle import _rows_to_normed

    want = checksums.get(name)
    if want is None:
        return f"{name}: no committed checksum"
    got = rows_checksum(cols, _rows_to_normed(cols, [tuple(r) for r in rows]))
    return None if got == want else f"{name}: checksum {got} != {want}"


class SqlRw:
    name = "sql-rw-sf0.1"
    uses_layout = True

    def __init__(self, spark, sf_dir: str, seed: int, checksums: dict[str, str]):
        from quackspark.entry import oracle_sql
        from quackspark.relation import Connection

        self.spark, self.sf_dir, self.seed = spark, sf_dir, seed
        self.checksums = checksums
        self.con = Connection(spark)
        osql = oracle_sql()
        self.read_sql = {n: osql[n] for n in SQL_READS}
        #: DuckDB runs every write the Spark session runs, in the same order;
        #: the writes of set-up wait here until set-up has been timed
        self.duck = None
        self.setup_writes: list[str] = []
        #: the time-travel read targets the version set-up left behind
        self.setup_version: int | None = None

    def _both(self, stmt: str) -> None:
        self.con.sql(stmt).df.collect()
        self.setup_writes.append(stmt)

    def setup(self) -> float:
        """Registers the fixture tables (building their derived layout) and
        creates the two tables the session writes; returns the seconds the
        fixture tables took."""
        from quackspark.session import register_testdata_views

        t0 = time.perf_counter()
        register_testdata_views(self.spark, self.sf_dir)
        layout_s = time.perf_counter() - t0
        ddl = "(k BIGINT PRIMARY KEY, grp INTEGER, v BIGINT)"
        fill = (
            "SELECT range AS k, CAST(range % 16 AS INTEGER) AS grp, "
            f"range * 3 AS v FROM range(0, {BASE_ROWS})"
        )
        self._both(f"CREATE TABLE kv {ddl}")
        self._both(f"INSERT INTO kv {fill}")
        self.con.sql("PRAGMA versioned_tables = true").df.collect()
        self._both(f"CREATE TABLE vt {ddl}")
        self.con.sql("PRAGMA versioned_tables = false").df.collect()
        self._both(f"INSERT INTO vt {fill}")
        from quackspark import versioned

        self.setup_version = versioned.registered_version("vt")
        return layout_s

    def prepare_checks(self) -> None:
        """Brings DuckDB to the state set-up left the session in."""
        import duckdb

        self.duck = duckdb.connect()
        for stmt in self.setup_writes:
            self.duck.execute(stmt)
        self.duck.execute("CREATE TABLE vt_at_setup AS SELECT * FROM vt")

    def _writes(self, round_no: int) -> list[Statement]:
        c = write_constants(self.seed, round_no)
        lo = BASE_ROWS + round_no * BATCH
        old = round_no * BATCH
        ups = ", ".join(
            f"({UPSERT_KEYS + c['up_base'] + i}, {i}, {c['up_v'] + i})"
            for i in range(4)
        )
        out = []
        for table, layer, grp, add in (
            ("kv", "ddl", c["grp"], c["add"]),
            ("vt", "versioned", c["vt_grp"], c["vt_add"]),
        ):
            texts = {
                "insert": (
                    f"INSERT INTO {table} SELECT range AS k, "
                    f"CAST(range % 16 AS INTEGER) AS grp, range * {c['mult']} AS v "
                    f"FROM range({lo}, {lo + BATCH})"
                ),
                "update": f"UPDATE {table} SET v = v + {add} WHERE grp = {grp}",
                "delete": f"DELETE FROM {table} WHERE k >= {old} AND k < {old + BATCH}",
                "upsert": (
                    f"INSERT INTO {table} VALUES {ups} "
                    "ON CONFLICT (k) DO UPDATE SET v = excluded.v"
                ),
            }
            for op, text in texts.items():
                out.append(Statement(
                    f"{table}.{op}", "write", layer,
                    build=lambda t=text: self.con.sql(t).df, sql=text, op=op,
                    mirror=lambda t=text: self.duck.execute(t),
                ))
        return out

    def _mutated_reads(self) -> list[Statement]:
        agg = "SELECT grp, count(*) AS n, sum(v) AS s FROM {src} GROUP BY grp"
        texts = {
            "kv.read": (agg.format(src="kv"), agg.format(src="kv")),
            "vt.read": (agg.format(src="vt"), agg.format(src="vt")),
            "kv_vt.join": (
                "SELECT count(*) AS n, sum(kv.v - vt.v) AS d "
                "FROM kv JOIN vt USING (k)",
            ) * 2,
            "vt.at_version": (
                agg.format(src=f"vt AT (VERSION => {self.setup_version})"),
                agg.format(src="vt_at_setup"),
            ),
        }
        out = []
        for name, (text, duck_text) in texts.items():
            out.append(Statement(
                name, "read", "versioned" if name.startswith("vt.at") else "sqlfront",
                build=lambda t=text: self.con.sql(t).df, sql=text,
                op="timetravel" if name == "vt.at_version" else None,
                check=lambda cols, rows, n=name, d=duck_text: self._check_duck(n, rows, d),
            ))
        return out

    def _check_duck(self, name: str, rows: list, duck_text: str) -> str | None:
        got = sorted(tuple(r) for r in rows)
        want = sorted(tuple(r) for r in self.duck.execute(duck_text).fetchall())
        return None if got == want else f"{name}: {got[:3]} != DuckDB {want[:3]}"

    def statements(self, pass_no: int) -> list[Statement]:
        """The pass's write round and reads, in the pass's seeded order."""
        if pass_no >= MAX_ROUNDS:
            raise RuntimeError(f"sql-rw supports at most {MAX_ROUNDS} passes")
        stmts = {s.name: s for s in self._writes(pass_no) + self._mutated_reads()}
        for n, text in self.read_sql.items():
            stmts[n] = Statement(
                n, "read", "sqlfront",
                build=lambda t=text: self.con.sql(t).df, sql=text,
                check=lambda cols, rows, n=n: check_checksum(n, cols, rows, self.checksums),
            )
        return [stmts[n] for n in pass_order(self.seed, pass_no, sorted(stmts))]

    def final_checks(self) -> dict[str, str | None]:
        """The two mutated tables must end as DuckDB's copies do after the
        same script."""
        out = {}
        for t in ("kv", "vt"):
            got = _rows(self.con.sql(f"SELECT * FROM {t}").df)
            want = sorted(tuple(r) for r in self.duck.execute(f"SELECT * FROM {t}").fetchall())
            out[t] = None if got == want else (
                f"final state of {t} differs from DuckDB ({len(got)} vs {len(want)} rows)")
        return out

    def close(self) -> None:
        self.duck.close()


WORKLOADS = {w.name: w for w in (Curation, SqlRw)}
