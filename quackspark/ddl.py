"""Schema-definition and write statements — the reference's DDL surface
(CreateStatement / AlterStatement / DropStatement / PragmaStatement,
duckdb.hpp:11960-11990; ALTER column machinery duckdb-internal.hpp
AlterTableInfo) plus the write executors (INSERT family, UPDATE,
DELETE, upsert, COPY FROM, BEGIN/COMMIT/ROLLBACK).

There is one storage and write mechanism: every table is a commit-log
table (quackspark/versioned.py over sources/commitlog.py). Appends
commit through ``versioned.append``; UPDATE, DELETE, the upsert and the
ALTER column family commit a whole-table rewrite through
``versioned.rewrite``, pinned at the version the statement read, and a
concurrent commit raises the retryable ``CommitConflict``. A table made
outside the SQL front (by a raw Spark DataFrame writer, an ATTACH'd export)
has no log and cannot be written: the write raises ``UnsupportedSQL``
naming the CTAS that copies it into one.

Spark-side semantics, documented per statement:

- ``CREATE TABLE (col defs)`` → a commit-log table whose version 0
  records only the schema (no data file); ``CREATE TABLE … AS SELECT``
  commits its rows as version 0. Constraints:
  PRIMARY KEY / UNIQUE / NOT NULL / CHECK / FOREIGN KEY are parsed AND
  enforced (r6) — the reference enforces them per-row via its ART index
  (duckdb-internal.hpp); we enforce them per-STATEMENT with one
  validation query before the write lands, scoped to what the statement
  can violate (see _violations / enforce_update; FK probes stay
  separate; a referenced parent also cannot be dropped while a child
  exists). ``DEFAULT`` expressions ARE
  honored: partial-column INSERTs fill missing columns with their
  default.
- Lifetime: a table is its warehouse directory (``<warehouse>/<name>``)
  and outlives the session until ``DROP TABLE``. ``TEMP TABLE`` makes
  the same table — unlike DuckDB, it is not dropped at disconnect.
- ``CREATE VIEW`` → temporary view (DuckDB views live in the in-process
  catalog; a Spark *persistent* view cannot reference our temp views).
- ``ALTER TABLE ADD/DROP/RENAME/retype COLUMN`` → one log rewrite that
  commits the new schema with the rewritten rows. ``RENAME TO`` moves
  the table's directory.
- ``CREATE/DROP INDEX`` → metadata no-op with a status row. The
  reference's ART index (duckdb-internal.hpp:4100) is a performance
  structure, not query semantics; broadcast and bucketed joins are the
  Spark-side analogue (SURVEY §7).
- ``COMMENT ON`` → recorded in the session comment registry.
- ``TRUNCATE t`` → ``DELETE FROM t`` (sqlfront); ``DROP … CASCADE`` →
  normalized to Spark's grammar.
- ``BEGIN`` / ``COMMIT`` / ``ROLLBACK`` → a metadata-only version pin
  per written table (see _run_txn).

Statement results (the status row every statement returns) are local
relations built by ``session.local_frame``: the work happens while the
statement is constructed, and running its result is one JVM-side job
over a ``LocalTableScan`` — no Python-worker task per core.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from quackspark.session import local_frame

#: per-table column DEFAULT expressions (DuckDB text), applied on
#: partial-column INSERT
TABLE_DEFAULTS: dict[str, dict[str, str]] = {}
#: raw constraint text, for introspection
TABLE_CONSTRAINTS: dict[str, list[str]] = {}
#: CREATE INDEX shim registry
INDEXES: dict[str, str] = {}
#: PRIMARY KEY / UNIQUE key columns per table (conflict-target for
#: INSERT OR IGNORE / OR REPLACE / ON CONFLICT)
TABLE_PKEYS: dict[str, list[str]] = {}
#: COMMENT ON registry
COMMENTS: dict[str, str] = {}
#: enforced-constraint registries (r6 — the reference enforces these via
#: its ART index + binder, duckdb-internal.hpp; we enforce them with one
#: validation query per DML statement, see _violations)
TABLE_NOTNULL: dict[str, list[str]] = {}
TABLE_CHECKS: dict[str, list[str]] = {}  # DuckDB-dialect expressions
TABLE_UNIQUES: dict[str, list[list[str]]] = {}  # key sets; PK set first
#: child table → [{"cols": [...], "parent": str, "pcols": [...]}]
TABLE_FKEYS: dict[str, list[dict]] = {}


class ConstraintError(ValueError):
    """A PRIMARY KEY / UNIQUE / NOT NULL / CHECK violation — mirrors the
    reference's ConstraintException (its messages start the same way:
    ``Constraint Error: …``)."""


def drop_table_metadata(table: str) -> None:
    """Forget every registry entry for ``table`` (DROP TABLE, and the
    start of a fresh CREATE TABLE so re-created tables never inherit a
    previous definition's constraints/defaults)."""
    key = table.lower()
    for reg in (
        TABLE_DEFAULTS,
        TABLE_CONSTRAINTS,
        TABLE_PKEYS,
        TABLE_NOTNULL,
        TABLE_CHECKS,
        TABLE_UNIQUES,
        TABLE_FKEYS,
    ):
        reg.pop(key, None)

_CONSTRAINT_KEYWORDS = {
    "primary", "unique", "not", "check", "references", "default", "collate",
}

_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s*\((.*)\)\s*;?\s*$",
    re.I | re.S,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s+AS\s+(.*?)\s*;?\s*$",
    re.I | re.S,
)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s+AS\s+(.*?)\s*;?\s*$",
    re.I | re.S,
)
_DROP_TABLE_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)"
    r"(?:\s+(CASCADE)|\s+RESTRICT)?\s*;?\s*$",
    re.I,
)
_DROP_CASCADE_RE = re.compile(
    r"^\s*(DROP\s+VIEW\s+.*?)\s+(?:CASCADE|RESTRICT)\s*;?\s*$", re.I
)
_CREATE_INDEX_RE = re.compile(
    r"^\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"([A-Za-z_]\w*)\s+ON\s+(([A-Za-z_][\w.]*).*?)\s*;?\s*$",
    re.I | re.S,
)
_DROP_INDEX_RE = re.compile(
    r"^\s*DROP\s+INDEX\s+(?:IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*$", re.I
)
_COMMENT_RE = re.compile(
    r"^\s*COMMENT\s+ON\s+(\w+)\s+([\w.]+)\s+IS\s+('(?:[^']|'')*'|NULL)\s*;?\s*$",
    re.I,
)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s+(.*?)\s*;?\s*$",
    re.I | re.S,
)
_INSERT_COLS_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([A-Za-z_]\w*)\s*\(([^)]*)\)\s*(VALUES\s*\(.*|SELECT\b.*|FROM\b.*)$",
    re.I | re.S,
)


def _status(spark: SparkSession, **cols: str) -> DataFrame:
    names = list(cols)
    return local_frame(
        spark, [tuple(cols.values())], ", ".join(f"{n} string" for n in names)
    )


def _translate_type(type_toks: list[str]) -> str:
    """DuckDB column type tokens → Spark DDL type string."""
    from quackspark.sqlfront import (
        _TYPE_RENAMES,
        UnsupportedSQL,
        _rewrite_array_type_suffix,
    )

    # T[] suffixes only fire after ::/AS in the expression pass — give the
    # tokens a cast context, then strip it
    toks = _rewrite_array_type_suffix(["::"] + type_toks)[1:]
    out = []
    i = 0
    while i < len(toks):
        t = toks[i]
        low = t.lower()
        if low in ("varchar", "char", "text", "string") and (
            i + 1 < len(toks) and toks[i + 1] == "("
        ):
            # VARCHAR(n): DuckDB ignores the length — so do we
            while i < len(toks) and toks[i] != ")":
                i += 1
            i += 1
            out.append("STRING")
            continue
        from quackspark.sqlfront import _ENUM_TYPES

        if low in _ENUM_TYPES:
            # a named ENUM column (CREATE TYPE … AS ENUM) stores the
            # validated-string carrier; the dictionary stays registry-side
            out.append("STRING")
            i += 1
            continue
        prev = toks[i - 1].lower() if i else ""
        if low in ("time", "timetz") and prev != "with":
            # (`prev != "with"` skips the TIME inside TIMESTAMP WITH TIME
            # ZONE, which the trailing regex normalizes to TIMESTAMP)
            # TIME / TIME WITH TIME ZONE columns store their engine
            # carriers (reference LogicalTypeId TIME/TIME_TZ
            # duckdb.hpp:914,931): µs-since-midnight BIGINT, resp.
            # struct<micros,offset_s> (functions/compat.make_time_tz);
            # TIME/TIMETZ literals arrive in exactly these shapes via
            # sqlfront._rewrite_time_literals, so INSERT/compare/sort
            # work end-to-end (VERDICT r6 missing #2)
            with_zone = low == "timetz" or "zone" in [
                x.lower() for x in toks[i + 1 : i + 4]
            ]
            if with_zone:
                out.append("STRUCT<micros:BIGINT,offset_s:INT>")
                if low == "timetz":
                    # single-token spelling: consume exactly it — a trailing
                    # suffix like TIMETZ(3) must surface as a loud
                    # downstream error, not be silently swallowed (r7
                    # ADVICE: the zone-scan below ate every remaining token)
                    i += 1
                else:
                    while i < len(toks) and toks[i].lower() != "zone":
                        i += 1
                    i += 1
            else:
                out.append("BIGINT")
                i += 1
            continue
        out.append(_TYPE_RENAMES.get(low, t))
        i += 1
    joined = " ".join(out)
    # normalize parameterized forms the join spaced out: DECIMAL ( 10 , 2 )
    joined = re.sub(r"\s*\(\s*", "(", joined)
    joined = re.sub(r"\s*\)\s*", ")", joined)
    joined = re.sub(r"\s*,\s*", ",", joined)
    joined = re.sub(r"\s*<\s*", "<", joined)
    joined = re.sub(r"\s*>", ">", joined)
    # TIMESTAMP WITH TIME ZONE → TIMESTAMP
    joined = re.sub(r"(?i)TIMESTAMP\s+WITH\s+TIME\s+ZONE", "TIMESTAMP", joined)
    return joined


def _parse_column_defs(defs_sql: str, table: str):
    """Split a CREATE TABLE body into (name, spark_type, default_expr)
    triples, collecting constraints into the registry."""
    from quackspark.sqlfront import UnsupportedSQL, _split_args, _tokens

    cols: list[tuple[str, str, str | None]] = []
    constraints: list[str] = []
    drop_table_metadata(table)  # a fresh definition replaces the old one
    key = table.lower()

    def _paren_cols(toks: list[str]) -> list[str]:
        inner = toks[toks.index("(") + 1 : len(toks) - 1 - toks[::-1].index(")")]
        return [t.strip('"').lower() for t in inner if t != ","]

    def _add_pk(pk_cols: list[str]) -> None:
        TABLE_PKEYS[key] = pk_cols
        TABLE_UNIQUES.setdefault(key, []).insert(0, pk_cols)
        nn = TABLE_NOTNULL.setdefault(key, [])
        nn.extend(c for c in pk_cols if c not in nn)  # PK implies NOT NULL

    for item in _split_args(_tokens(defs_sql)):
        head = item[0].lower()
        if head in ("primary", "unique", "check", "foreign", "constraint"):
            constraints.append(" ".join(item))
            if head == "constraint":  # CONSTRAINT <name> <definition>
                item = item[2:]
                head = item[0].lower() if item else ""
            low_toks = [t.lower() for t in item]
            if low_toks[:2] == ["primary", "key"] and "(" in item:
                _add_pk(_paren_cols(item))
            elif head == "unique" and "(" in item:
                TABLE_UNIQUES.setdefault(key, []).append(_paren_cols(item))
            elif head == "check" and "(" in item:
                i0 = item.index("(")
                i1 = len(item) - 1 - item[::-1].index(")")
                TABLE_CHECKS.setdefault(key, []).append(
                    " ".join(item[i0 + 1 : i1])
                )
            elif head == "foreign":
                # FOREIGN KEY (cols) REFERENCES parent [(pcols)]
                low_toks = [t.lower() for t in item]
                if "references" not in low_toks or "(" not in item:
                    raise UnsupportedSQL(f"FOREIGN KEY form: {' '.join(item)}")
                ri = low_toks.index("references")
                fcols = _paren_cols(item[:ri])
                parent = item[ri + 1].strip('"').lower()
                pcols = (
                    _paren_cols(item[ri + 1 :]) if "(" in item[ri + 1 :] else []
                )
                TABLE_FKEYS.setdefault(key, []).append(
                    {"cols": fcols, "parent": parent, "pcols": pcols}
                )
            continue
        name = item[0].strip('"')
        type_toks: list[str] = []
        default: str | None = None
        i = 1
        depth = 0
        while i < len(item):
            t = item[i]
            low = t.lower()
            if depth == 0 and low in _CONSTRAINT_KEYWORDS:
                break
            if t in ("(", "["):
                depth += 1
            elif t in (")", "]"):
                depth -= 1
            type_toks.append(t)
            i += 1
        # a named-ENUM-typed column gets an implicit membership CHECK —
        # the constraint machinery then raises on non-member INSERT/UPDATE
        # exactly where DuckDB raises its enum conversion error
        from quackspark.sqlfront import _ENUM_TYPES, _qstr

        if len(type_toks) == 1 and type_toks[0].lower() in _ENUM_TYPES:
            labels = ", ".join(
                _qstr(s) for s in _ENUM_TYPES[type_toks[0].lower()]
            )
            TABLE_CHECKS.setdefault(key, []).append(f"{name} IN ({labels})")
        # constraint tail: record; extract DEFAULT expr
        while i < len(item):
            low = item[i].lower()
            if low == "default":
                j = i + 1
                d = 0
                expr: list[str] = []
                while j < len(item):
                    tj = item[j]
                    if d == 0 and tj.lower() in _CONSTRAINT_KEYWORDS and expr:
                        break
                    if tj in ("(", "["):
                        d += 1
                    elif tj in (")", "]"):
                        d -= 1
                    expr.append(tj)
                    j += 1
                default = " ".join(expr)
                i = j
            else:
                low = item[i].lower()
                if low == "primary":  # PRIMARY [KEY]
                    pk = TABLE_PKEYS.setdefault(key, [])
                    if name.lower() not in pk:
                        pk.append(name.lower())
                    constraints.append(f"{name} {item[i]}")
                    i += 1
                elif low == "not" and i + 1 < len(item) and item[i + 1].lower() == "null":
                    nn = TABLE_NOTNULL.setdefault(key, [])
                    if name.lower() not in nn:
                        nn.append(name.lower())
                    constraints.append(f"{name} not null")
                    i += 2
                elif low == "unique":
                    TABLE_UNIQUES.setdefault(key, []).append([name.lower()])
                    constraints.append(f"{name} unique")
                    i += 1
                elif low == "references" and i + 1 < len(item):
                    parent = item[i + 1].strip('"').lower()
                    j = i + 2
                    pcols: list[str] = []
                    if j < len(item) and item[j] == "(":
                        k2 = j
                        d2 = 0
                        while k2 < len(item):
                            if item[k2] == "(":
                                d2 += 1
                            elif item[k2] == ")":
                                d2 -= 1
                                if d2 == 0:
                                    break
                            k2 += 1
                        pcols = [
                            t.strip('"').lower()
                            for t in item[j + 1 : k2]
                            if t != ","
                        ]
                        j = k2 + 1
                    TABLE_FKEYS.setdefault(key, []).append(
                        {"cols": [name.lower()], "parent": parent, "pcols": pcols}
                    )
                    constraints.append(f"{name} references {parent}")
                    i = j
                elif low == "check" and i + 1 < len(item) and item[i + 1] == "(":
                    j = i + 1
                    d = 0
                    while j < len(item):
                        if item[j] == "(":
                            d += 1
                        elif item[j] == ")":
                            d -= 1
                            if d == 0:
                                break
                        j += 1
                    TABLE_CHECKS.setdefault(key, []).append(
                        " ".join(item[i + 2 : j])
                    )
                    constraints.append(f"{name} check")
                    i = j + 1
                else:
                    constraints.append(f"{name} {item[i]}")
                    i += 1
        if not type_toks:
            raise UnsupportedSQL(f"column {name} needs a type")
        cols.append((name, _translate_type(type_toks), default))
    if key in TABLE_PKEYS:
        # inline single-column PRIMARY KEY: register its unique set and
        # implied NOT NULL (the table-level path did this in _add_pk)
        pk_cols = TABLE_PKEYS[key]
        uq = TABLE_UNIQUES.setdefault(key, [])
        if not uq or uq[0] != pk_cols:
            uq.insert(0, pk_cols)
        nn = TABLE_NOTNULL.setdefault(key, [])
        nn.extend(c for c in pk_cols if c not in nn)
    if constraints:
        TABLE_CONSTRAINTS[table.lower()] = constraints
    return cols


def run_ddl(spark: SparkSession, duckdb_sql: str) -> DataFrame | None:
    """Dispatch a DDL statement; None when the text is not DDL."""
    from quackspark import versioned as _versioned
    from quackspark.sqlfront import transpile

    if re.match(r"^\s*(?:FORCE\s+)?CHECKPOINT\s*;?\s*$", duckdb_sql, re.I):
        # reference WAL checkpoint (duckdb.hpp storage surface;
        # checkpoint fn duckdb-6.cpp:9490) — the commit log's analog:
        # force a full-state log checkpoint at each table's current tip so
        # snapshot replay restarts from here
        forced = []
        for key, (vt, tip) in list(_versioned._REGISTRY.items()):
            if vt.force_checkpoint(tip):
                forced.append(key)
        return _status(
            spark,
            status=(
                f"checkpointed {len(forced)} versioned table(s)"
                if forced
                else "checkpoint noop (no WAL)"
            ),
        )

    # PREPARE/EXECUTE/DEALLOCATE moved to sqlfront._run_prepared (r12):
    # one registry, named-$param support, live-pinned error spellings —
    # this module's earlier token-level substitution is retired.

    if m := _CREATE_TABLE_RE.match(duckdb_sql):
        replace, if_not_exists, table, defs = m.groups()
        cols = _parse_column_defs(defs, table)
        schema = local_frame(
            spark, [], ", ".join(f"`{n}` {t}" for n, t, _ in cols)
        ).schema
        created = _versioned.create(
            spark, table, schema, replace=bool(replace), if_not_exists=bool(if_not_exists)
        )
        defaults = {n.lower(): d for n, _, d in cols if d is not None}
        if defaults:
            TABLE_DEFAULTS[table.lower()] = defaults
        return _status(spark, table=table, status="created" if created else "exists")

    if m := _CTAS_RE.match(duckdb_sql):
        replace, if_not_exists, table, body = m.groups()
        created = _versioned.create(
            spark,
            table,
            spark.sql(transpile(body, spark)),
            replace=bool(replace),
            if_not_exists=bool(if_not_exists),
        )
        return _status(spark, table=table, status="created" if created else "exists")

    if m := _CREATE_VIEW_RE.match(duckdb_sql):
        replace, if_not_exists, view, body = m.groups()
        exists = any(
            v.name.lower() == view.lower() for v in spark.catalog.listTables()
        )
        if if_not_exists and exists:
            return _status(spark, view=view, status="exists")
        if not replace and not if_not_exists and exists:
            # DuckDB errors on plain CREATE VIEW over an existing name
            raise ValueError(
                f'Catalog Error: View with name "{view}" already exists!'
            )
        body_sql = transpile(body, spark)
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {view} AS {body_sql}")
        return _status(spark, view=view, status="created")

    if m := _DROP_TABLE_RE.match(duckdb_sql):
        if_exists, table, cascade = m.groups()
        dropped = table.lower()
        # refuse to drop a table other tables still reference (DuckDB FK
        # dependency error) unless CASCADE
        children = [
            child
            for child, fks in TABLE_FKEYS.items()
            if child != dropped and any(fk["parent"] == dropped for fk in fks)
        ]
        if children and not cascade:
            raise ConstraintError(
                f"Constraint Error: Could not drop the table because this "
                f"table is main key table of the table {children[0]}"
            )
        drop_table_metadata(dropped)
        if _versioned.is_versioned(spark, dropped):
            _versioned.drop(spark, dropped)
            return _status(spark, table=dropped, status="dropped")
        # no log: a view, a table made outside the SQL front, or absent
        return spark.sql(f"DROP TABLE {if_exists or ''}{table}")

    if m := _DROP_CASCADE_RE.match(duckdb_sql):
        return spark.sql(m.group(1))

    if m := _CREATE_INDEX_RE.match(duckdb_sql):
        # normalized serialization like the reference's catalog
        # (CREATE [UNIQUE] INDEX name ON table(cols); — no space before
        # the paren, keywords upper); expression indexes keep their text
        tail = re.sub(r"^" + re.escape(m.group(4)) + r"\s*", "", m.group(3))
        INDEXES[m.group(2).lower()] = {
            "table": m.group(4).lower(),
            "unique": bool(m.group(1)),
            "on": m.group(3),
            "sql": (f"CREATE {'UNIQUE ' if m.group(1) else ''}INDEX "
                    f"{m.group(2)} ON {m.group(4)}{tail};"),
        }
        return _status(spark, index=m.group(2), status="noop (no ART index on Spark)")

    if m := _DROP_INDEX_RE.match(duckdb_sql):
        INDEXES.pop(m.group(1).lower(), None)
        return _status(spark, index=m.group(1), status="dropped")

    if m := _COMMENT_RE.match(duckdb_sql):
        kind, name, text = m.groups()
        COMMENTS[f"{kind.lower()}:{name.lower()}"] = text.strip("'")
        return _status(spark, object=name, status="comment recorded")

    if m := _ALTER_RE.match(duckdb_sql):
        return _run_alter(spark, m.group(1), m.group(2))

    if m := _COPY_FROM_RE.match(duckdb_sql):
        return _run_copy_from(spark, *m.groups())

    if (m := _INSERT_CONFLICT_RE.match(duckdb_sql)) and (
        m.group(1) or m.group(5)
    ):
        return _run_insert_conflict(spark, *m.groups())

    if m := _INSERT_BY_NAME_RE.match(duckdb_sql):
        return _run_insert_by_name(spark, *m.groups())

    if m := _INSERT_COLS_RE.match(duckdb_sql):
        return _run_insert_with_columns(spark, *m.groups())

    if m := _INSERT_PLAIN_RE.match(duckdb_sql):
        return _run_insert_plain(spark, m.group(1), m.group(2))

    return None


_INSERT_PLAIN_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([A-Za-z_]\w*)\s*"
    r"((?:VALUES|SELECT|FROM|TABLE)\b.*?|\(\s*(?:SELECT|FROM)\b.*?\))\s*;?\s*$",
    re.I | re.S,
)
_INSERT_BY_NAME_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([A-Za-z_]\w*)\s+BY\s+NAME\s+"
    r"((?:SELECT|FROM|VALUES|TABLE)\b.*?)\s*;?\s*$",
    re.I | re.S,
)


def _run_insert_by_name(spark: SparkSession, table: str, source: str) -> DataFrame:
    """``INSERT INTO t BY NAME SELECT …`` (DuckDB's by-name insert,
    insert grammar duckdb-libpg_query.cpp): the source's column NAMES
    pick the target columns; unnamed target columns fill with DEFAULT or
    NULL; a source column the table lacks is a binder error. Lowers onto
    the column-list insert (same DEFAULT binding, constraint checks, and
    log append)."""
    from quackspark.sqlfront import transpile

    src_sql = transpile(source, spark)
    if re.match(r"^\s*FROM\b", src_sql, re.I):
        src_sql = f"SELECT * {src_sql}"
    src_cols = [c.lower() for c in spark.sql(src_sql).columns]
    table_cols = {f.name.lower() for f in spark.table(table).schema.fields}
    unknown = [c for c in src_cols if c not in table_cols]
    if unknown:
        raise ValueError(
            f'Binder Error: Column "{unknown[0]}" of the INSERT BY NAME '
            f"source does not exist in table {table}"
        )
    return _run_insert_with_columns(spark, table, ", ".join(src_cols), source)


def _run_insert_plain(spark: SparkSession, table: str, source: str) -> DataFrame:
    """Full-column INSERT: bind the source, validate (see
    _enforce_insert), then commit the rows to the log."""
    _append(spark, table, _proposed_rows(spark, table, source))
    return _status(spark, table=table, status="inserted")


def _proposed_rows(spark: SparkSession, table: str, source: str) -> DataFrame:
    """Bind a full-row INSERT source (VALUES / SELECT / FROM, optionally
    parenthesized) to ``table``'s columns, cast to their types."""
    from quackspark.sqlfront import transpile

    s = source.strip()
    if s.startswith("(") and s.endswith(")"):
        s = s[1:-1]  # parenthesized SELECT source
    fields = spark.table(table).schema.fields
    src_sql = transpile(s, spark)
    if re.match(r"^\s*VALUES\b", src_sql, re.I):
        names = ", ".join(f.name for f in fields)
        src_sql = f"SELECT * FROM ({src_sql}) AS __v({names})"
    elif re.match(r"^\s*FROM\b", src_sql, re.I):
        src_sql = f"SELECT * {src_sql}"
    return spark.sql(src_sql).toDF(*[f.name for f in fields]).selectExpr(
        *[
            f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in fields
        ]
    )


def _append(spark: SparkSession, table: str, df: DataFrame) -> None:
    """Validate ``df`` (see _enforce_insert), then commit it as an
    append to the table's log."""
    from quackspark import versioned as _versioned

    _enforce_insert(spark, table, df)
    _versioned.append(spark, table, df)


def _run_alter(spark: SparkSession, table: str, action: str) -> DataFrame:
    from quackspark import versioned as _versioned
    from quackspark.sqlfront import UnsupportedSQL, transpile

    if m := re.match(r"^RENAME\s+TO\s+([A-Za-z_]\w*)$", action, re.I):
        _versioned.rename(spark, table, m.group(1))
        for reg in (
            TABLE_DEFAULTS,
            TABLE_CONSTRAINTS,
            TABLE_PKEYS,
            TABLE_NOTNULL,
            TABLE_CHECKS,
            TABLE_UNIQUES,
        ):
            if table.lower() in reg:
                reg[m.group(1).lower()] = reg.pop(table.lower())
        return _status(spark, table=m.group(1), status="renamed")

    if m := re.match(
        r"^RENAME\s+(?:COLUMN\s+)?([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)$",
        action,
        re.I,
    ):
        old, new = m.groups()
        fields = spark.table(table).schema.fieldNames()
        if old.lower() not in [f.lower() for f in fields]:
            raise UnsupportedSQL(f"RENAME COLUMN: no column {old} in {table}")
        items = [
            f"`{f}` AS `{new}`" if f.lower() == old.lower() else f"`{f}`"
            for f in fields
        ]
        _versioned.rewrite(spark, table, spark.table(table).selectExpr(*items))
        d = TABLE_DEFAULTS.get(table.lower(), {})
        if old.lower() in d:
            d[new.lower()] = d.pop(old.lower())
        return _status(spark, table=table, status=f"renamed {old} -> {new}")

    if m := re.match(
        r"^ADD\s+(?:COLUMN\s+)?(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s+(.+?)"
        r"(?:\s+DEFAULT\s+(.+))?$",
        action,
        re.I | re.S,
    ):
        from quackspark.sqlfront import _tokens

        col, type_sql, default = m.groups()
        fields = [f.lower() for f in spark.table(table).schema.fieldNames()]
        if col.lower() in fields:
            if re.search(r"IF\s+NOT\s+EXISTS", action, re.I):
                return _status(spark, table=table, status="column exists")
            raise UnsupportedSQL(f"ADD COLUMN: {col} already in {table}")
        spark_t = _translate_type(_tokens(type_sql))
        fill = transpile(default, spark) if default else "NULL"
        _versioned.rewrite(
            spark,
            table,
            spark.table(table).selectExpr(
                "*", f"CAST(({fill}) AS {spark_t}) AS `{col}`"
            ),
        )
        if default:
            # the DEFAULT also applies to FUTURE partial-column inserts,
            # not just the backfill above (found by tools/fuzz_ddl.py:
            # DuckDB fills the added column on INSERT (id, v) VALUES …,
            # we filled NULL)
            TABLE_DEFAULTS.setdefault(table.lower(), {})[col.lower()] = default
        return _status(spark, table=table, status=f"added {col}")

    if m := re.match(
        r"^DROP\s+(?:COLUMN\s+)?(?:IF\s+EXISTS\s+)?([A-Za-z_]\w*)$", action, re.I
    ):
        col = m.group(1)
        fields = spark.table(table).schema.fieldNames()
        keep = [f"`{f}`" for f in fields if f.lower() != col.lower()]
        if len(keep) == len(fields):
            if re.search(r"IF\s+EXISTS", action, re.I):
                return _status(spark, table=table, status="column absent")
            raise UnsupportedSQL(f"DROP COLUMN: no column {col} in {table}")
        if any(
            col.lower() in ks for ks in TABLE_UNIQUES.get(table.lower(), [])
        ):
            # DuckDB refuses to drop a column an index/key depends on
            raise ConstraintError(
                f"Constraint Error: Cannot drop column {col}: it is part "
                f"of a PRIMARY KEY or UNIQUE constraint on {table}"
            )
        _versioned.rewrite(spark, table, spark.table(table).selectExpr(*keep))
        TABLE_DEFAULTS.get(table.lower(), {}).pop(col.lower(), None)
        # a dropped column takes its NOT NULL with it; CHECKs referencing
        # it fail to bind on the next DML, matching a missing-column error
        nn = TABLE_NOTNULL.get(table.lower())
        if nn and col.lower() in nn:
            nn.remove(col.lower())
        return _status(spark, table=table, status=f"dropped {col}")

    if m := re.match(
        r"^ALTER\s+(?:COLUMN\s+)?([A-Za-z_]\w*)\s+(?:SET\s+DATA\s+)?TYPE\s+(.+?)"
        r"(?:\s+USING\s+(.+))?$",
        action,
        re.I | re.S,
    ):
        from quackspark.sqlfront import _tokens

        col, type_sql, using = m.groups()
        spark_t = _translate_type(_tokens(type_sql))
        fields = spark.table(table).schema.fieldNames()
        expr = transpile(using, spark) if using else f"`{col}`"
        items = [
            f"CAST(({expr}) AS {spark_t}) AS `{f}`"
            if f.lower() == col.lower()
            else f"`{f}`"
            for f in fields
        ]
        _versioned.rewrite(spark, table, spark.table(table).selectExpr(*items))
        return _status(spark, table=table, status=f"retyped {col}")

    if m := re.match(
        r"^ALTER\s+(?:COLUMN\s+)?([A-Za-z_]\w*)\s+SET\s+DEFAULT\s+(.+)$",
        action,
        re.I | re.S,
    ):
        TABLE_DEFAULTS.setdefault(table.lower(), {})[m.group(1).lower()] = m.group(2)
        return _status(spark, table=table, status="default set")

    if m := re.match(
        r"^ALTER\s+(?:COLUMN\s+)?([A-Za-z_]\w*)\s+DROP\s+DEFAULT$", action, re.I
    ):
        TABLE_DEFAULTS.get(table.lower(), {}).pop(m.group(1).lower(), None)
        return _status(spark, table=table, status="default dropped")

    raise UnsupportedSQL(f"ALTER TABLE action: {action[:60]}")


_COPY_FROM_RE = re.compile(
    r"^\s*COPY\s+([A-Za-z_]\w*)\s+FROM\s+'([^']+)'\s*(?:\((.*)\))?\s*;?\s*$",
    re.I | re.S,
)
_INSERT_CONFLICT_RE = re.compile(
    r"^\s*INSERT\s+(?:(OR\s+IGNORE|OR\s+REPLACE)\s+)?INTO\s+([A-Za-z_]\w*)\s+"
    r"(.*?)(?:\s+ON\s+CONFLICT(?:\s*\(([^)]*)\))?\s+DO\s+(NOTHING|UPDATE\b.*?))?"
    r"\s*;?\s*$",
    re.I | re.S,
)


def _run_copy_from(
    spark: SparkSession, table: str, path: str, opts: str | None
) -> DataFrame:
    """``COPY t FROM 'file'`` (reference CopyStatement, duckdb.hpp:11969):
    append rows read with the TARGET TABLE's schema — DuckDB's binding.
    Accepts both single files and Spark-written part-file directories."""
    from quackspark.sqlfront import UnsupportedSQL, _parse_copy_options

    o = _parse_copy_options(opts)
    fmt = o.get("format")
    if fmt is None:
        low = path.lower()
        fmt = ("parquet" if low.endswith((".parquet", ".parq"))
               else "json" if low.endswith((".json", ".ndjson", ".jsonl"))
               else "csv")
    schema = spark.table(table).schema
    reader = spark.read
    if fmt == "parquet":
        df = reader.parquet(path)
    elif fmt == "json":
        df = reader.schema(schema).json(path)
    elif fmt == "csv":
        df = (reader.schema(schema)
              .option("header", o.get("header", True))
              .option("sep", o.get("delim", ","))
              .csv(path))
    else:
        raise UnsupportedSQL(f"COPY FROM format {fmt!r}")
    _append(spark, table, df.select(*[f"`{f.name}`" for f in schema.fields]))
    return _status(spark, table=table, status="copied")


def has_enforced_constraints(table: str) -> bool:
    key = table.lower()
    return bool(
        TABLE_NOTNULL.get(key)
        or TABLE_CHECKS.get(key)
        or TABLE_UNIQUES.get(key)
        or TABLE_FKEYS.get(key)
        or table_is_fk_parent(key)
    )


def _dup_key_msg(keys: list[str], row, kind: str) -> str:
    kv = ", ".join(f"{k}: {row[k]}" for k in keys)
    return f'Constraint Error: Duplicate key "{kv}" violates {kind} constraint'


def _unique_kind(table: str, i: int, keys: list[str]) -> str:
    pk = TABLE_PKEYS.get(table.lower())
    return "primary key" if i == 0 and pk == keys else "unique"


def _row_checks(
    spark: SparkSession, table: str, cols: set[str], scope: set[str] | None = None
) -> list:
    """``table``'s NOT NULL and CHECK constraints in reporting order, as
    ``(message, column)`` pairs whose column is TRUE on a violating row
    (a CHECK passes on NULL: three-valued logic). ``scope`` — an UPDATE's
    assigned columns — keeps only what the statement can break: NOT NULL
    on an assigned column, a CHECK whose text names one (the reference's
    DataTable::VerifyUpdateConstraints rule)."""
    from pyspark.sql import functions as F

    from quackspark.sqlfront import transpile

    out = [
        (f"NOT NULL constraint failed: {table}.{c}", F.col(c).isNull())
        for c in TABLE_NOTNULL.get(table.lower(), [])
        if c in cols and (scope is None or c in scope)
    ]
    for expr in TABLE_CHECKS.get(table.lower(), []):
        # the names the CHECK text uses: string literals skipped, quoted
        # identifiers unquoted (a function name only widens the scope)
        text = re.sub(r"'(?:[^']|'')*'", "''", expr)
        names = re.findall(r'"([^"]+)"|([A-Za-z_]\w*)', text)
        if scope is None or {(q or w).lower() for q, w in names} & scope:
            msg = f"CHECK constraint failed on table {table} with expression CHECK(({expr}))"
            out.append((msg, ~F.coalesce(F.expr(transpile(expr, spark)), F.lit(True))))
    return out


def _violations(
    rows: DataFrame,
    checks: list,
    key_sets: list[tuple[list[str], bool]],
    others: DataFrame | None = None,
) -> list[tuple[bool, bool, bool]]:
    """Every constraint question of a write statement as ONE Spark query
    whose result is a single row of booleans, never key or row data (no
    query when there is no question). A set ``checks`` flag raises its
    error here, in order.

    ``rows`` (tag 1) carry the ``checks`` flags, ``others`` (tag 0) only
    their keys. One ``groupBy`` over the key columns, then one global
    aggregate, answers per key set ``(keys, nulls_distinct)``: does a key
    repeat among ``rows``; is a ``rows`` key in ``others``; does a key
    repeat among ``others``. With ``nulls_distinct`` a key with a NULL
    part never counts (DuckDB unique semantics); without, NULLs group."""
    from pyspark.sql import functions as F

    fl = [f"__f{j}" for j in range(len(checks))]
    flags = [c.alias(n) for (_, c), n in zip(checks, fl)]
    if not key_sets:
        vals = list(rows.select(*flags).agg(*[F.max(n) for n in fl]).first()) if fl else []
    else:
        allkeys = list(dict.fromkeys(k for keys, _ in key_sets for k in keys))
        u = rows.select(*allkeys, *flags, F.lit(1).alias("__t"))
        if others is not None:
            nulls = [F.lit(None).cast("boolean").alias(n) for n in fl]
            u = u.unionByName(others.select(*allkeys, *nulls, F.lit(0).alias("__t")))
        # one copy of each row per key set, the key columns outside it NULLed
        u = u.withColumn("__s", F.explode(F.array(*map(F.lit, range(len(key_sets))))))
        u = u.select("__s", "__t", *fl, *[
            F.when(
                F.col("__s").isin([i for i, (ks, _) in enumerate(key_sets) if k in ks]),
                F.col(k),
            ).alias(k)
            for k in allkeys
        ])
        groups = u.groupBy("__s", *allkeys).agg(
            F.sum("__t").alias("__t"),
            (F.count(F.lit(1)) - F.sum("__t")).alias("__o"),
            *[F.max(n).alias(n) for n in fl],
        )
        answers = []
        for i, (keys, nulls_distinct) in enumerate(key_sets):
            ok = F.col("__s") == i
            for k in keys if nulls_distinct else []:
                ok = ok & F.col(k).isNotNull()
            t, o = F.col("__t"), F.col("__o")
            answers += [ok & (t > 1), ok & (t > 0) & (o > 0), ok & (o > 1)]
        vals = list(groups.agg(*[F.max(n) for n in fl], *map(F.max, answers)).first())
    for (msg, _), bad in zip(checks, vals):
        if bad:
            raise ConstraintError(f"Constraint Error: {msg}")
    return [tuple(map(bool, vals[j : j + 3])) for j in range(len(fl), len(vals), 3)]


def _repeated_key(df: DataFrame, keys: list[str], within: DataFrame | None = None):
    """The error path's follow-up query: one key repeated in ``df`` (with
    ``within``, one that ``within`` also holds, or None)."""
    from pyspark.sql import functions as F

    reps = (
        df.select(*keys).na.drop("any").groupBy(*keys).count()
        .filter(F.col("count") > 1)
    )
    if within is not None:
        reps = reps.join(within.select(*keys), on=list(keys), how="left_semi")
    return next(iter(reps.limit(1).collect()), None)


def _first_missing(vals: DataFrame, ref: DataFrame):
    """One NULL-free row of ``vals`` that ``ref`` (same columns) lacks,
    or None — an FK probe's single anti-join."""
    got = vals.na.drop("any").distinct().join(ref, on=vals.columns, how="left_anti")
    return next(iter(got.limit(1).collect()), None)


def _check_foreign_keys(
    spark: SparkSession, table: str, src_df: DataFrame, scope: set[str] | None = None
) -> None:
    """Child-side FK probes: every non-NULL FK value of ``src_df`` must
    exist in the parent (one anti-join per FK; ``scope`` skips FKs over
    columns an UPDATE does not assign)."""
    from pyspark.sql import functions as F

    cols = {c.lower() for c in src_df.columns}
    for fk in TABLE_FKEYS.get(table.lower(), []):
        fcols = fk["cols"]
        if not set(fcols) <= cols or (scope is not None and not scope & set(fcols)):
            continue
        pcols = fk["pcols"] or TABLE_PKEYS.get(fk["parent"], [])
        if not pcols or len(pcols) != len(fcols):
            continue  # unresolvable target → recorded-only
        pk_df = spark.table(fk["parent"]).select(
            *[F.col(p).alias(c) for p, c in zip(pcols, fcols)]
        )
        missing = _first_missing(src_df.select(*fcols), pk_df)
        if missing:
            kv = ", ".join(f"{c}: {missing[c]}" for c in fcols)
            raise ConstraintError(
                f'Constraint Error: Violates foreign key constraint because '
                f'key "{kv}" does not exist in the referenced table'
            )


def _enforce_insert(
    spark: SparkSession,
    table: str,
    src_df: DataFrame,
    *,
    conflict_keys: list[str] | None = None,
) -> None:
    """Validate proposed rows BEFORE they land, failing the statement
    atomically like the reference's ConstraintException.

    Cost model (the 100 TB posture): the reference checks each row as it
    appends (ART probe, duckdb-internal.hpp); we pay ONE _violations
    query per statement (NOT NULL and CHECK flags, every key set's
    in-batch duplicate and existing-key hit), plus a follow-up for the
    offending key only when a key is flagged. Errors report NOT NULL,
    CHECK, FK, in-batch duplicate, existing key, in that order. NULL key
    parts never conflict.

    With ``conflict_keys`` the conflict action owns the keys: the table's
    key sets are not checked, but a batch repeating a non-NULL conflict
    key is rejected for every action, DO NOTHING included (probed against
    the oracle engine; found by tools/fuzz_ddl.py). As in the reference, a
    repeated key that names a stored row fails with "can not update the
    same row twice", a repeated new key with ``ConstraintError``
    ``duplicate key "…"``. Rows whose conflict
    key has a NULL part never conflict, with each other or with the
    table."""
    cols = {c.lower() for c in src_df.columns}
    if conflict_keys:
        sets, others = [(conflict_keys, None)], None
    else:
        sets = [
            (keys, _unique_kind(table, i, keys))
            for i, keys in enumerate(TABLE_UNIQUES.get(table.lower(), []))
            if set(keys) <= cols
        ]
        others = spark.table(table) if sets else None
    checks = _row_checks(spark, table, cols)
    dups = _violations(src_df, checks, [(keys, True) for keys, _ in sets], others)
    _check_foreign_keys(spark, table, src_df)
    for (keys, kind), (dup, hit, _) in zip(sets, dups):
        if dup and kind is None:
            if _repeated_key(src_df, keys, within=spark.table(table)) is not None:
                raise ValueError(
                    "Invalid Input Error: ON CONFLICT DO UPDATE can not update "
                    "the same row twice in the same command. Ensure that no "
                    "rows proposed for insertion within the same command have "
                    "duplicate constrained values"
                )
            row = _repeated_key(src_df, keys)
            raise ConstraintError(
                "Constraint Error: PRIMARY KEY or UNIQUE constraint violated: "
                f'duplicate key "{", ".join(str(row[k]) for k in keys)}"'
            )
        if dup:
            raise ConstraintError(_dup_key_msg(keys, _repeated_key(src_df, keys), kind))
        if hit:
            row = (
                src_df.select(*keys).na.drop("any")
                .join(others.select(*keys), on=list(keys), how="left_semi")
                .limit(1).collect()[0]
            )
            raise ConstraintError(_dup_key_msg(keys, row, kind))


def table_is_fk_parent(table: str) -> bool:
    return any(
        fk["parent"] == table.lower()
        for fks in TABLE_FKEYS.values()
        for fk in fks
    )


def enforce_parent_keys(
    spark: SparkSession, table: str, post_image: DataFrame
) -> None:
    """DELETE / key-UPDATE on a referenced parent: every child FK value
    must still resolve against the parent's POST-image — a key removed
    while still referenced fails the statement (reference FK semantics:
    the delete side of the ART FK machinery)."""
    from pyspark.sql import functions as F

    for child, fks in TABLE_FKEYS.items():
        for fk in fks:
            if fk["parent"] != table.lower():
                continue
            pcols = fk["pcols"] or TABLE_PKEYS.get(table.lower(), [])
            if not pcols or len(pcols) != len(fk["cols"]):
                continue
            child_df = post_image if child == table.lower() else spark.table(child)
            dangling = _first_missing(
                child_df.select(*[F.col(c).alias(p) for c, p in zip(fk["cols"], pcols)]),
                post_image.select(*pcols),
            )
            if dangling:
                kv = ", ".join(f"{p}: {dangling[p]}" for p in pcols)
                raise ConstraintError(
                    f'Constraint Error: Violates foreign key constraint '
                    f'because key "{kv}" is still referenced by a foreign '
                    f'key in table {child}'
                )


def enforce_update(
    spark: SparkSession,
    table: str,
    updated_rows: DataFrame,
    post_image: DataFrame,
    assigned_cols: set[str],
) -> None:
    """UPDATE-side enforcement, scoped to what the assignments can break,
    in one _violations query (none when nothing is in scope): NOT NULL
    on an assigned column and a CHECK naming one evaluate on the modified
    rows' post-image; a key set intersecting the assigned columns
    re-verifies uniqueness over the table's full post-image. Child-side
    FK probes run for FKs over assigned columns; assigning a column some
    CHILD references re-verifies the children against the post-image."""
    assigned = {c.lower() for c in assigned_cols}
    cols = {c.lower() for c in updated_rows.columns}
    checks = _row_checks(spark, table, cols, assigned)
    sets = [
        (keys, _unique_kind(table, i, keys))
        for i, keys in enumerate(TABLE_UNIQUES.get(table.lower(), []))
        if assigned & set(keys)
    ]
    dups = _violations(updated_rows, checks, [(k, True) for k, _ in sets], post_image)
    _check_foreign_keys(spark, table, updated_rows, assigned)
    for (keys, kind), (_, _, dup) in zip(sets, dups):
        if dup:
            row = _repeated_key(post_image, keys)
            raise ConstraintError(_dup_key_msg(keys, row, kind))
    referenced = {
        p for fks in TABLE_FKEYS.values() for fk in fks if fk["parent"] == table.lower()
        for p in (fk["pcols"] or TABLE_PKEYS.get(table.lower(), []))
    }
    if assigned & referenced:
        enforce_parent_keys(spark, table, post_image)


def _conflict_keys(spark: SparkSession, table: str, target: str | None):
    from quackspark.sqlfront import UnsupportedSQL

    if target:
        return [c.strip().strip('"').lower() for c in target.split(",")]
    # the PRIMARY KEY, else the table's one UNIQUE key set
    sets = TABLE_UNIQUES.get(table.lower(), [])
    keys = TABLE_PKEYS.get(table.lower()) or (sets[0] if len(sets) == 1 else None)
    if not keys:
        raise UnsupportedSQL(
            f"INSERT conflict clause on {table}: no PRIMARY KEY or single "
            f"UNIQUE key set recorded and no explicit conflict target"
        )
    return keys


def _run_insert_conflict(
    spark: SparkSession,
    or_action: str | None,
    table: str,
    source: str,
    conflict_target: str | None,
    do_action: str | None,
) -> DataFrame | None:
    """INSERT OR IGNORE / OR REPLACE / ON CONFLICT DO NOTHING / ON
    CONFLICT DO UPDATE (reference OnConflictInfo; upsert grammar
    duckdb-libpg_query.cpp OnConflictClause). IGNORE/NOTHING = anti-join
    the new rows against the existing key set; REPLACE = delete matching
    keys, then append; DO UPDATE = MERGE as one log rewrite —
    matched rows get the SET expressions (``excluded.col`` = proposed
    row, bare ``col`` = existing row, optional DO UPDATE WHERE gates the
    update per-row), unmatched new rows insert as-is."""
    from quackspark import versioned as _versioned
    from quackspark.sqlfront import UnsupportedSQL

    if or_action is None and do_action is None:
        return None  # plain INSERT — let the generic paths handle it
    action = (or_action or "").upper().replace(" ", "_") or (
        "OR_IGNORE" if do_action.upper() == "NOTHING" else "DO_UPDATE"
    )
    if source.lstrip().startswith("("):
        raise UnsupportedSQL(
            "INSERT conflict clause with an explicit column list — "
            "supply full rows"
        )
    keys = _conflict_keys(spark, table, conflict_target)
    new_rows = _proposed_rows(spark, table, source)
    # NOT NULL / CHECK apply to the proposed rows regardless of conflict
    # action; the batch's conflict-key repeat check IS the unique
    # enforcement for the conflict target (conflict actions own keys)
    _enforce_insert(spark, table, new_rows, conflict_keys=keys)
    existing = spark.table(table)

    def without_keys_of(df: DataFrame, other: DataFrame) -> DataFrame:
        # a USING join leads with its keys: restore the column order
        return df.join(
            other.select(*keys).distinct(), on=keys, how="left_anti"
        ).select(*df.columns)

    if action in ("OR_IGNORE", "OR_NOTHING"):
        _versioned.append(spark, table, without_keys_of(new_rows, existing))
        return _status(spark, table=table, status="inserted (conflicts ignored)")
    if action == "DO_UPDATE":
        merged, assigned = _merge_do_update(
            spark, existing, new_rows, keys, do_action
        )
        final = merged.drop("__upd")
        # the SET expressions can write values the proposed rows never
        # carried (e.g. x = excluded.x + x): the matched rows re-validate
        # under the UPDATE scope rule, like the engine's updated-row check
        enforce_update(
            spark, table, merged.filter("__upd").drop("__upd"), final, assigned
        )
        _versioned.rewrite(spark, table, final)
        return _status(spark, table=table, status="upserted (conflicts updated)")
    _versioned.rewrite(
        spark, table, without_keys_of(existing, new_rows).unionByName(new_rows)
    )
    return _status(spark, table=table, status="inserted (conflicts replaced)")


def _rewrite_excluded(expr: str) -> str:
    """``excluded.col`` / ``excluded."col"`` → the renamed proposed-row
    column ``__exc_col`` (bare names keep resolving to the existing row
    because the proposed side is joined under the __exc_ prefix)."""
    return re.sub(
        r'(?i)\bexcluded\s*\.\s*("([^"]+)"|[A-Za-z_]\w*)',
        lambda m: "__exc_" + (m.group(2) or m.group(1)).lower(),
        expr,
    )


def _merge_do_update(
    spark: SparkSession,
    existing: DataFrame,
    new_rows: DataFrame,
    keys: list[str],
    do_action: str,
) -> tuple[DataFrame, set[str]]:
    """MERGE semantics for ON CONFLICT DO UPDATE as ONE full outer join
    of the existing rows with the proposed rows on the conflict keys.
    Presence flags pick each row's branch: existing rows without a
    proposed match pass through; proposed rows without a match insert
    unchanged; matched rows get the SET expressions (gated by DO UPDATE
    WHERE if present — a FALSE/NULL gate keeps the existing row, and the
    proposed row is dropped per DuckDB). Returns the post-image with a
    boolean ``__upd`` column marking the matched rows, and the assigned
    columns; no driver materialization."""
    from pyspark.sql import functions as F

    from quackspark.sqlfront import UnsupportedSQL, _split_top_commas, transpile

    m = re.match(r"^UPDATE\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$", do_action.strip(), re.I | re.S)
    if not m:
        raise UnsupportedSQL(f"ON CONFLICT DO {do_action!r}: cannot parse")
    set_part, where_part = m.group(1), m.group(2)
    assigns: dict[str, str] = {}
    fields = existing.schema.fields
    for a in _split_top_commas(set_part):
        col, eq, val = a.partition("=")
        col = col.strip().strip('"').lower()
        if not eq or col not in {f.name.lower() for f in fields}:
            raise UnsupportedSQL(f"DO UPDATE SET assignment {a!r}")
        assigns[col] = transpile(_rewrite_excluded(val.strip()), spark)
    wcond = transpile(_rewrite_excluded(where_part), spark) if where_part else "true"
    exc = new_rows.select(
        *[F.col(f.name).alias(f"__exc_{f.name.lower()}") for f in fields],
        F.lit(True).alias("__p"),
    )
    # Plain equality, NOT null-safe `<=>`: NULL keys never conflict in
    # DuckDB's unique semantics (consistent with the OR IGNORE/OR REPLACE
    # anti-joins) — a NULL-key row on either side stays unmatched.
    key_eq = " AND ".join(f"`{k}` = `__exc_{k}`" for k in keys)
    joined = existing.withColumn("__e", F.lit(True)).join(
        exc, F.expr(key_eq), "full_outer"
    )
    items = []
    for f in fields:
        ln, kept = f.name.lower(), f"`{f.name}`"
        upd = (
            f"WHEN ({wcond}) THEN CAST(({assigns[ln]}) AS "
            f"{f.dataType.simpleString()}) "
            if ln in assigns
            else ""
        )
        items.append(
            f"CASE WHEN __e IS NULL THEN `__exc_{ln}` WHEN __p IS NULL THEN "
            f"{kept} {upd}ELSE {kept} END AS `{f.name}`"
        )
    items.append("coalesce(__e AND __p, false) AS __upd")
    return joined.selectExpr(*items), set(assigns)


def _run_insert_with_columns(
    spark: SparkSession, table: str, col_list: str, source: str
) -> DataFrame:
    """Partial-column INSERT: missing columns fill with their recorded
    DEFAULT (CREATE TABLE defs) or NULL — DuckDB's insert binding."""
    from quackspark.sqlfront import transpile

    listed = [c.strip().strip('"').lower() for c in col_list.split(",")]
    schema = spark.table(table).schema
    defaults = TABLE_DEFAULTS.get(table.lower(), {})
    src_sql = transpile(source, spark)
    if re.match(r"^\s*FROM\b", src_sql, re.I):
        src_sql = f"SELECT * {src_sql}"
    alias_cols = ", ".join(f"`{c}`" for c in listed)
    items = []
    for f in schema.fields:
        t = f.dataType.simpleString()
        if f.name.lower() in listed:
            items.append(f"CAST(`{f.name.lower()}` AS {t}) AS `{f.name}`")
        elif f.name.lower() in defaults:
            d = transpile(defaults[f.name.lower()], spark)
            items.append(f"CAST(({d}) AS {t}) AS `{f.name}`")
        else:
            items.append(f"CAST(NULL AS {t}) AS `{f.name}`")
    rows = f"SELECT {', '.join(items)} FROM ({src_sql}) AS __src({alias_cols})"
    _append(spark, table, spark.sql(rows))
    return _status(spark, table=table, status="inserted")


# ---- write executors: UPDATE / DELETE / RETURNING / transactions ----

_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*?))?"
    r"(?:\s+RETURNING\s+(.*?))?\s*;?\s*$",
    re.I | re.DOTALL,
)
_UPDATE_FROM_RE = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.*?)\s+FROM\s+(\w+)(?:\s+(?:AS\s+)?(\w+))?"
    r"(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
    re.I | re.DOTALL,
)
_DELETE_USING_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)\s+USING\s+(\w+)(?:\s+(?:AS\s+)?(\w+))?"
    r"(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
    re.I | re.DOTALL,
)
_SQL_KEYWORDS_NOT_ALIAS = {"where", "as", "on", "set", "returning"}


def _qualify_bare(expr: str, names: set[str], prefix: str) -> str:
    """Qualify bare references to ``names`` with ``prefix`` — outside
    string literals, not already qualified (`x.` before), not a call
    (`(` after)."""
    pattern = re.compile(
        r"'(?:[^']|'')*'"  # string literal — passed through
        r"|(?<![\w.\"])([A-Za-z_]\w*)(?!\s*\()(?![\w.])",
    )

    def sub(m: re.Match) -> str:
        tok = m.group(1)
        if tok is None or tok.lower() not in names:
            return m.group(0)
        return f"{prefix}.{tok}"

    return pattern.sub(sub, expr)


def _run_update_from(
    spark: SparkSession,
    table: str,
    set_clause: str,
    src: str,
    src_alias: str | None,
    pred: str | None,
) -> DataFrame:
    """``UPDATE t SET c = s.expr FROM s WHERE pred`` (reference update
    grammar, duckdb-libpg_query.cpp UpdateStmt with fromClause) as a
    join rewrite:

    1. per DISTINCT target tuple, pick ONE matching source row
       (row_number over the source columns — DETERMINISTIC, a strict
       refinement of the engine's 'arbitrary match wins' contract);
    2. null-safe-join the chosen rows back onto the target (duplicate
       target rows all update, like the engine's per-physical-row
       update);
    3. apply SET expressions where matched; commit the post-image as a
       rewrite.

    One join + one window + one join — all distributed, no driver data
    path, no row ids needed."""
    from quackspark import versioned as _versioned
    from quackspark.sqlfront import UnsupportedSQL, _split_args, _tokens, transpile

    alias = (src_alias or src).lower()
    if alias in _SQL_KEYWORDS_NOT_ALIAS:
        raise UnsupportedSQL(f"UPDATE ... FROM: unsupported alias {alias!r}")
    if pred and re.search(r"\bRETURNING\b", pred, re.I):
        raise UnsupportedSQL(
            "UPDATE ... FROM ... RETURNING — run the UPDATE, then SELECT"
        )
    tgt_fields = spark.table(table).schema.fields
    tcols = [f.name for f in tgt_fields]
    types = {f.name.lower(): f.dataType.simpleString() for f in tgt_fields}
    scols = spark.table(src).columns
    assigns: dict[str, str] = {}
    for item in _split_args(_tokens(set_clause)):
        if len(item) < 3 or item[1] != "=":
            raise UnsupportedSQL(f"UPDATE SET expects col = expr: {item}")
        col = item[0].lower()
        if col not in types:
            raise UnsupportedSQL(f"UPDATE column not in {table}: {col}")
        assigns[col] = " ".join(item[2:])

    # chosen: one source row per distinct target tuple (source columns
    # exported as __s_<name> so they never collide with target names)
    on = transpile(pred, spark) if pred else "TRUE"
    s_proj = ", ".join(f"{alias}.`{c}` AS `__s_{c}`" for c in scols)
    t_proj = ", ".join(f"{table}.`{c}`" for c in tcols)
    part = ", ".join(f"{table}.`{c}`" for c in tcols)
    order = ", ".join(f"{alias}.`{c}`" for c in scols)
    chosen = spark.sql(
        f"SELECT * FROM ("
        f"  SELECT {t_proj}, {s_proj}, "
        f"    ROW_NUMBER() OVER (PARTITION BY {part} ORDER BY {order}) AS __rn"
        f"  FROM {table} {table} JOIN {src} {alias} ON ({on})"
        f") WHERE __rn = 1"
    )
    chosen.createOrReplaceTempView("__qs_upd_from")

    # SET expressions: source refs (alias.c / src.c / bare source-only
    # names) → m.__s_c; target refs → t-side qualified
    src_only = {c.lower() for c in scols} - {c.lower() for c in tcols}

    def rewrite_expr(e: str) -> str:
        # _tokens spaces out qualifier dots ("us . nv") — re-glue them so
        # the qualified-reference rewrites below can see them
        e = re.sub(r"(\w)\s*\.\s*(\w)", r"\1.\2", transpile(e, spark))
        e = re.sub(
            rf"(?<![\w.])(?:{re.escape(alias)}|{re.escape(src.lower())})\.(\w+)",
            r"m.`__s_\1`",
            e,
            flags=re.I,
        )
        e = re.sub(
            rf"(?<![\w.]){re.escape(table.lower())}\.(\w+)",
            r"t.`\1`",
            e,
            flags=re.I,
        )
        e = _qualify_bare(e, src_only, "__qs_src")
        e = e.replace("__qs_src.", "m.__s_")
        e = _qualify_bare(e, {c.lower() for c in tcols}, "t")
        return e

    join_on = " AND ".join(f"t.`{c}` <=> m.`{c}`" for c in tcols)
    items = []
    for f in tgt_fields:
        c = f.name
        if c.lower() in assigns:
            items.append(
                f"CASE WHEN m.__rn IS NOT NULL THEN "
                f"CAST(({rewrite_expr(assigns[c.lower()])}) AS "
                f"{types[c.lower()]}) ELSE t.`{c}` END AS `{c}`"
            )
        else:
            items.append(f"t.`{c}` AS `{c}`")
    select = f"SELECT {', '.join(items)} FROM {table} t "
    new_df = spark.sql(f"{select} LEFT JOIN __qs_upd_from m ON {join_on}")
    try:
        if has_enforced_constraints(table):
            upd_rows = spark.sql(f"{select} JOIN __qs_upd_from m ON {join_on}")
            enforce_update(spark, table, upd_rows, new_df, set(assigns))
        _versioned.rewrite(spark, table, new_df)
    finally:
        # the helper view lazily references the pre-rewrite snapshot — a
        # later scan of it (e.g. EXPORT DATABASE walking the catalog)
        # would read stale rows
        spark.catalog.dropTempView("__qs_upd_from")
    return local_frame(spark, [(table,)], "updated string")


def _run_delete_using(
    spark: SparkSession,
    table: str,
    src: str,
    src_alias: str | None,
    pred: str | None,
) -> DataFrame:
    """``DELETE FROM t USING s WHERE pred`` (reference delete grammar
    with usingClause): semi-join delete — a target row is removed when
    ANY source row matches; duplicate target rows all go. One anti-join,
    fully distributed."""
    from quackspark import versioned as _versioned
    from quackspark.sqlfront import UnsupportedSQL, transpile

    alias = (src_alias or src).lower()
    if alias in _SQL_KEYWORDS_NOT_ALIAS:
        raise UnsupportedSQL(f"DELETE ... USING: unsupported alias {alias!r}")
    if pred and re.search(r"\bRETURNING\b", pred, re.I):
        raise UnsupportedSQL(
            "DELETE ... USING ... RETURNING — SELECT the doomed rows first"
        )
    on = transpile(pred, spark) if pred else "TRUE"
    new_df = spark.sql(
        f"SELECT {table}.* FROM {table} {table} WHERE NOT EXISTS "
        f"(SELECT 1 FROM {src} {alias} WHERE {on})"
    )
    if table_is_fk_parent(table):
        enforce_parent_keys(spark, table, new_df)
    _versioned.rewrite(spark, table, new_df)
    return local_frame(spark, [(table,)], "deleted string")
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.*?))?"
    r"(?:\s+RETURNING\s+(.*?))?\s*;?\s*$",
    re.I | re.DOTALL,
)
_INSERT_RETURNING_RE = re.compile(
    r"^(\s*INSERT\s+INTO\s+.*?)\s+RETURNING\s+(.*?)\s*;?\s*$",
    re.I | re.DOTALL,
)


#: active-transaction state: None = autocommit; else {"versioned":
#: {table: pre-transaction version}, "own_commits": {(table, version)}}
#: (see versioned._txn_note)
_TXN: dict | None = None

_BEGIN_RE = re.compile(r"^\s*(?:BEGIN|START)(?:\s+TRANSACTION)?\s*;?\s*$", re.I)
_COMMIT_RE = re.compile(r"^\s*COMMIT\s*;?\s*$", re.I)
_ROLLBACK_RE = re.compile(r"^\s*ROLLBACK\s*;?\s*$", re.I)
_INSERT_TARGET_RE = re.compile(r"^\s*INSERT\s+INTO\s+([A-Za-z_][A-Za-z_0-9]*)", re.I)


def _run_txn(spark: SparkSession, duckdb_sql: str) -> DataFrame | None:
    """BEGIN / COMMIT / ROLLBACK (reference: DuckTransaction,
    duckdb-internal.hpp:10232) over the commit log: the first write to
    each table inside the transaction pins its pre-transaction version;
    COMMIT keeps the commits (already durable), ROLLBACK restores every
    pinned version metadata-only and refuses (CommitConflict) to erase a
    foreign session's commit. Reads inside the transaction see its own
    writes (same connection-local view as the reference). DDL is out of
    scope and autocommits."""
    from quackspark import versioned as _versioned
    from quackspark.sqlfront import TransactionError

    global _TXN
    if _BEGIN_RE.match(duckdb_sql):
        if _TXN is not None:
            raise TransactionError("cannot start a transaction within a transaction")
        _TXN = {}
        return local_frame(spark, [("BEGIN",)], "status string")
    if _COMMIT_RE.match(duckdb_sql):
        if _TXN is None:
            raise TransactionError("no transaction is active")
        _TXN = None
        return local_frame(spark, [("COMMIT",)], "status string")
    if _ROLLBACK_RE.match(duckdb_sql):
        if _TXN is None:
            raise TransactionError("no transaction is active")
        for table, pre_version in _TXN.get("versioned", {}).items():
            _versioned.txn_rollback(spark, table, pre_version)
        _TXN = None
        return local_frame(spark, [("ROLLBACK",)], "status string")
    return None


def _run_dml(spark: SparkSession, duckdb_sql: str) -> DataFrame | None:
    """UPDATE / DELETE as whole-table rewrites committed to the log
    (reference statement enum duckdb.hpp:11969-11972), with RETURNING
    (post-image for UPDATE, deleted rows for DELETE — DuckDB semantics).
    The RETURNING result materializes (eager localCheckpoint) BEFORE the
    commit so it can't observe the rewritten table."""
    from quackspark import versioned as _versioned
    from quackspark.sqlfront import UnsupportedSQL, _split_args, _tokens, transpile

    if m := _UPDATE_FROM_RE.match(duckdb_sql):
        return _run_update_from(spark, *m.groups())
    if m := _DELETE_USING_RE.match(duckdb_sql):
        return _run_delete_using(spark, *m.groups())
    if re.search(r"\bUPDATE\b.*\bFROM\b|\bDELETE\b.*\bUSING\b", duckdb_sql, re.I | re.S) \
            and (duckdb_sql.lstrip()[:6].upper() in ("UPDATE", "DELETE")):
        raise UnsupportedSQL(
            "UPDATE ... FROM / DELETE ... USING with a non-table source, "
            "RETURNING, or multiple sources — stage the source into a "
            "table/view and use the single-table form (supported since r6)"
        )
    if m := _UPDATE_RE.match(duckdb_sql):
        table, set_clause, pred, returning = m.groups()
        schema = {f.name.lower(): f.dataType.simpleString()
                  for f in spark.table(table).schema.fields}
        assigns: dict[str, str] = {}
        for item in _split_args(_tokens(set_clause)):
            if len(item) < 3 or item[1] != "=":
                raise UnsupportedSQL(f"UPDATE SET expects col = expr: {item}")
            col = item[0].lower()
            if col not in schema:
                raise UnsupportedSQL(f"UPDATE column not in {table}: {col}")
            assigns[col] = " ".join(item[2:])
        # DuckDB updates rows where the predicate is TRUE (NULL → keep);
        # the assigned expression is cast to the column's declared type
        cond = f"({pred})" if pred else "TRUE"

        def applied(c: str) -> str:
            if c.lower() in assigns:
                return (
                    f"CAST(({assigns[c.lower()]}) AS {schema[c.lower()]}) AS {c}"
                )
            return c

        select_items = []
        for f in spark.table(table).schema.fields:
            c = f.name
            if c.lower() in assigns:
                select_items.append(
                    f"CASE WHEN {cond} THEN CAST(({assigns[c.lower()]}) AS "
                    f"{schema[c.lower()]}) ELSE {c} END AS {c}"
                )
            else:
                select_items.append(c)
        new_df = spark.sql(
            transpile(f"SELECT {', '.join(select_items)} FROM {table}", spark)
        )
        post = ", ".join(applied(f.name) for f in spark.table(table).schema.fields)
        upd_sql = f"SELECT {post} FROM {table} WHERE coalesce({cond}, false)"
        ret_df = None
        if returning:
            ret_df = spark.sql(transpile(
                f"SELECT {returning} FROM ({upd_sql}) __qs_ret", spark
            )).localCheckpoint(eager=True)

        if has_enforced_constraints(table):
            upd_rows = spark.sql(transpile(upd_sql, spark))
            enforce_update(spark, table, upd_rows, new_df, set(assigns))
        _versioned.rewrite(spark, table, new_df)
        return ret_df if ret_df is not None else local_frame(
            spark, [(table,)], "updated string"
        )
    if m := _DELETE_RE.match(duckdb_sql):
        table, pred, returning = m.groups()
        # DELETE removes rows where pred is TRUE; NULL predicates keep the
        # row — hence NOT coalesce(pred, false)
        where = f"WHERE NOT coalesce(({pred}), false)" if pred else "WHERE false"
        new_df = spark.sql(transpile(f"SELECT * FROM {table} {where}", spark))
        ret_df = None
        if returning:
            kept = f"coalesce(({pred}), false)" if pred else "TRUE"
            ret_df = spark.sql(transpile(
                f"SELECT {returning} FROM (SELECT * FROM {table} "
                f"WHERE {kept}) __qs_ret", spark
            )).localCheckpoint(eager=True)

        if table_is_fk_parent(table):
            enforce_parent_keys(spark, table, new_df)
        _versioned.rewrite(spark, table, new_df)
        return ret_df if ret_df is not None else local_frame(
            spark, [(table,)], "deleted string"
        )
    return None


def _run_insert_returning(spark: SparkSession, duckdb_sql: str) -> DataFrame | None:
    """INSERT INTO t VALUES/SELECT ... RETURNING items (DuckDB RETURNING
    clause): execute the insert, then evaluate the RETURNING projection
    over the inserted rows (re-derived from the source expression —
    deterministic sources only, which VALUES/SELECT on our immutable
    inputs are)."""
    from quackspark.sqlfront import UnsupportedSQL, sql, transpile

    m = _INSERT_RETURNING_RE.match(duckdb_sql)
    if m is None:
        return None
    insert_part, ret = m.groups()
    tm = _INSERT_TARGET_RE.match(insert_part)
    if tm is None:
        raise UnsupportedSQL("INSERT RETURNING: unsupported target form")
    table = tm.group(1)
    rest = insert_part[tm.end():].strip()
    if rest.startswith("("):
        raise UnsupportedSQL(
            "INSERT with a column list + RETURNING — use full-column inserts"
        )
    sql(spark, insert_part)
    src_sql = f"SELECT * FROM ({rest})" if rest.upper().startswith("VALUES") else rest
    src = spark.sql(transpile(src_sql, spark)).toDF(*spark.table(table).columns)
    src.createOrReplaceTempView("__qs_ins_ret")
    return spark.sql(transpile(f"SELECT {ret} FROM __qs_ins_ret", spark))
