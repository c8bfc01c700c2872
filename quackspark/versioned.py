"""SQL-level managed tables over the commit log — the engine's one
write path.

The reference's multi-writer story is MVCC + WAL (DuckTransaction
duckdb-internal.hpp:10232, WriteAheadLog duckdb-internal.hpp:9421):
every write versions row groups, readers pin a snapshot, conflicting
writers abort with TransactionException. sources/commitlog.py is the
distributed-filesystem equivalent (a Delta/Iceberg-style log); this
module wires the SQL layer onto it:

- Every ``CREATE TABLE`` (column definitions, AS SELECT, TEMP) lands as
  a commit-log table rooted at ``<warehouse>/<name>``; there is no
  opt-in (``PRAGMA versioned_tables = …`` is accepted and ignored). A
  column-definition CREATE commits only a schema: version 0 has no data
  file.
- The table reads through a temp view pinned to the LATEST snapshot;
  every statement entering sqlfront.sql() re-syncs views whose log tip
  advanced (another session's commit becomes visible exactly at the
  next statement — snapshot isolation per statement).
- All DML flows through two chokepoints: appends (INSERT family, COPY
  FROM) → ``append`` (commits against ANY concurrent history);
  whole-table rewrites (UPDATE / DELETE / upsert / ALTER column family)
  → ``rewrite`` pinned at the registered read version, raising the
  retryable ``CommitConflict`` on overlap — the reference's
  TransactionException contract. A table without a log (made by raw
  Spark, outside the SQL front) cannot be written: both raise
  ``UnsupportedSQL`` naming the CTAS that copies it into one.
- Time travel: ``FROM t AT (VERSION => 3)`` (the DuckLake surface)
  resolves to a snapshot-pinned view.
- BEGIN/COMMIT/ROLLBACK: the first write to a table inside a
  transaction records its pre-transaction version; ROLLBACK restores it
  metadata-only (``vt.restore`` re-points at the old files, no data
  copy) and refuses — CommitConflict — if a FOREIGN session committed
  meanwhile (our single-session shim must not erase another writer's
  rows; real MVCC would merge).

Constraint enforcement, DEFAULT binding, RETURNING, and upserts run
BEFORE the chokepoints.

At 100 TB nothing here touches data on the driver: the log holds file
names, sync is one directory listing, and a snapshot view is a parquet
scan over immutable files.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from quackspark.session import local_frame
from quackspark.sources.commitlog import VersionedTable

__all__ = [
    "is_versioned",
    "sync_referenced",
    "create",
    "append",
    "rewrite",
    "drop",
    "rename",
    "snapshot_view",
    "versions_df",
    "txn_rollback",
]

#: name → (VersionedTable, version the temp view is registered at)
_REGISTRY: dict[str, tuple[VersionedTable, int]] = {}

#: this process's writer identity — commits made inside an explicit
#: transaction are stamped with it so ROLLBACK can tell its own commits
#: from a foreign session's (which it must not erase)
_APP_ID = f"qs-{uuid.uuid4().hex[:12]}"

_WORD_RE = re.compile(r"[A-Za-z_]\w*")


def _warehouse(spark: SparkSession) -> str:
    return urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path


def _root(spark: SparkSession, name: str) -> str:
    return os.path.join(_warehouse(spark), name.lower())


def _has_log(root: str) -> bool:
    return os.path.isdir(os.path.join(root, "_qs_log"))


def is_versioned(spark: SparkSession, name: str) -> bool:
    key = name.lower()
    if key in _REGISTRY:
        return True
    wh = _warehouse(spark)
    return bool(wh) and _has_log(os.path.join(wh, key))


def _read_snapshot(spark: SparkSession, snap) -> DataFrame:
    """Snapshot → DataFrame with the COMMITTED schema pinned (files are
    immutable and homogeneous per snapshot, but pinning the recorded
    schema keeps column order/type deterministic across appends)."""
    import json as _json

    if snap.schema:
        st = StructType.fromJson(_json.loads(snap.schema))
        if not snap.files:
            return local_frame(spark, [], st)
        return spark.read.schema(st).parquet(*snap.files)
    return snap.read(spark)


def refresh(spark: SparkSession, name: str, force: bool = False) -> None:
    """(Re)register the temp view over the latest snapshot when the log
    tip moved — one directory listing when it hasn't."""
    key = name.lower()
    vt = _REGISTRY.get(key, (None, None))[0] or VersionedTable(_root(spark, key))
    versions = vt._versions()
    if not versions:
        # dropped (possibly by another session): forget it fully, or the
        # stale temp view would keep serving deleted files
        if _REGISTRY.pop(key, None) is not None:
            spark.catalog.dropTempView(key)
        return
    tip = versions[-1]
    if not force and _REGISTRY.get(key, (None, -2))[1] == tip:
        return
    _read_snapshot(spark, vt.snapshot(tip)).createOrReplaceTempView(key)
    _REGISTRY[key] = (vt, tip)


def registered_version(name: str) -> int | None:
    entry = _REGISTRY.get(name.lower())
    return entry[1] if entry else None


def sync_referenced(spark: SparkSession, stmt: str) -> None:
    """Refresh every versioned table the statement references — including
    ones another session created that this session has never seen (the
    warehouse directory is the shared catalog)."""
    wh = _warehouse(spark)
    if not wh or not os.path.isdir(wh):
        return
    words = {w.lower() for w in _WORD_RE.findall(stmt)}
    known = set(_REGISTRY) & words
    undiscovered = words - set(_REGISTRY)
    if undiscovered:
        try:
            on_disk = undiscovered & set(os.listdir(wh))
        except OSError:
            on_disk = set()
        known.update(w for w in on_disk if _has_log(os.path.join(wh, w)))
    for name in known:
        refresh(spark, name)


def create(
    spark: SparkSession,
    name: str,
    data: DataFrame | StructType,
    replace: bool = False,
    if_not_exists: bool = False,
) -> bool:
    """Create a commit-log table from ``data``: a DataFrame (CTAS), or a
    schema alone (column-definition CREATE — version 0 records it and no
    data file). Returns False for IF NOT EXISTS on an existing table."""
    key = name.lower()
    root = _root(spark, key)
    if _has_log(root):
        if if_not_exists:
            refresh(spark, key)
            return False
        if not replace:
            raise ValueError(
                f'Catalog Error: Table with name "{name}" already exists!'
            )
        drop(spark, key)
    VersionedTable(root).create(data)
    refresh(spark, key, force=True)
    return True


def _require_log(spark: SparkSession, name: str) -> str:
    key = name.lower()
    if not is_versioned(spark, key):
        from quackspark.sqlfront import UnsupportedSQL

        raise UnsupportedSQL(
            f"{name} has no commit log (it was not made by CREATE TABLE); "
            f"copy it into a table that has one: "
            f"CREATE TABLE {key}2 AS SELECT * FROM {key}"
        )
    return key


def _txn_note(spark: SparkSession, name: str) -> dict | None:
    """Inside an explicit transaction: record the table's pre-transaction
    version once, and return the txn stamp for this write."""
    from quackspark import ddl

    if ddl._TXN is None:
        return None
    key = name.lower()
    vers = ddl._TXN.setdefault("versioned", {})
    if key not in vers:
        if key not in _REGISTRY:
            refresh(spark, key)
        # the pre-transaction version = the pin at this first write; a
        # re-refresh here could fold a foreign mid-statement commit into
        # "ours" and let ROLLBACK erase it
        vers[key] = registered_version(key)
    n = ddl._TXN["versioned_seq"] = (
        ddl._TXN.get("versioned_seq", 0) + 1
    )
    return {"app": _APP_ID, "version": n}


def append(spark: SparkSession, name: str, df: DataFrame) -> None:
    """Append chokepoint: commit ``df`` as a new version.

    The rows are positionally coerced to the table's CURRENT schema.
    Without it an all-NULL VALUES column arrives as VOID and would
    poison the committed schema (found by tools/fuzz_ddl.py)."""
    key = _require_log(spark, name)
    txn = _txn_note(spark, key)
    refresh(spark, key)
    vt = _REGISTRY[key][0]
    tgt = spark.table(key).schema
    if len(df.columns) == len(tgt.fields):
        df = df.toDF(*[f.name for f in tgt.fields]).selectExpr(
            *[
                f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
                for f in tgt.fields
            ]
        )
    vt.append(df, txn=txn)
    refresh(spark, key)


def rewrite(spark: SparkSession, name: str, df: DataFrame) -> None:
    """Copy-on-write chokepoint (UPDATE / DELETE / upsert / ALTER): commit
    a whole-table rewrite pinned at the version the statement read.
    A concurrent commit since then raises the retryable CommitConflict —
    re-read and re-run the statement (the reference's
    TransactionException contract)."""
    key = _require_log(spark, name)
    if key not in _REGISTRY:
        refresh(spark, key)  # cold API path; SQL statements pin at entry
    txn = _txn_note(spark, key)
    # read_version = the version the statement's view was pinned at when
    # `df` was built (sync_referenced at sql() entry) — do NOT re-refresh
    # here: advancing the pin past a foreign mid-statement commit would
    # make the conflict check pass and silently erase that commit
    vt, read_v = _REGISTRY[key]
    new_v = vt.rewrite(df, read_version=read_v)
    if txn is not None:
        # rewrite() has no txn stamp parameter; stamp post-hoc is racy —
        # instead record the commit as ours for rollback's foreign check
        from quackspark import ddl

        ddl._TXN.setdefault("own_commits", set()).add((key, new_v))
    refresh(spark, key)


def drop(spark: SparkSession, name: str) -> None:
    key = name.lower()
    spark.catalog.dropTempView(key)
    _REGISTRY.pop(key, None)
    shutil.rmtree(_root(spark, key), ignore_errors=True)


def rename(spark: SparkSession, old: str, new: str) -> None:
    okey, nkey = _require_log(spark, old), new.lower()
    nroot = _root(spark, nkey)
    if _has_log(nroot) or spark.catalog.tableExists(nkey):
        raise ValueError(
            f'Catalog Error: Table with name "{new}" already exists!'
        )
    spark.catalog.dropTempView(okey)
    _REGISTRY.pop(okey, None)
    os.rename(_root(spark, okey), nroot)
    refresh(spark, nkey, force=True)


def snapshot_view(spark: SparkSession, name: str, version: int) -> str:
    """Register (idempotently) a view pinned at ``version`` for
    ``FROM t AT (VERSION => n)`` and return its name."""
    key = name.lower()
    vt = _REGISTRY.get(key, (None,))[0] or VersionedTable(_root(spark, key))
    view = f"__qs_{key}_v{version}"
    _read_snapshot(spark, vt.snapshot(version)).createOrReplaceTempView(view)
    return view


def versions_df(spark: SparkSession, name: str) -> DataFrame:
    """PRAGMA table_versions('t') — the commit history as a relation."""
    key = name.lower()
    vt = _REGISTRY.get(key, (None,))[0] or VersionedTable(_root(spark, key))
    rows = []
    for v in vt._versions():
        c = vt._read_commit(v)
        rows.append(
            (
                v,
                c.get("op"),
                len(c.get("add", [])),
                len(c.get("remove", [])),
                c.get("read_version"),
                float(c.get("ts") or 0.0),
            )
        )
    return local_frame(
        spark,
        rows,
        "version long, op string, files_added int, files_removed int, "
        "read_version long, ts double",
    )


def txn_rollback(spark: SparkSession, name: str, version: int) -> None:
    """ROLLBACK for one versioned table: metadata-only restore to its
    pre-transaction version. Refuses (CommitConflict) when a commit we
    did not make landed meanwhile — rollback must not erase another
    session's rows."""
    from quackspark import ddl

    key = name.lower()
    own = (ddl._TXN or {}).get("own_commits", set())
    vt = _REGISTRY.get(key, (None,))[0] or VersionedTable(_root(spark, key))
    vt.restore(
        version,
        require_app=_APP_ID,
        own_versions={v for (t, v) in own if t == key},
    )
    refresh(spark, key)
