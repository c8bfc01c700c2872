"""Versioned parquet tables with an optimistic-concurrency commit log.

The reference gets multi-writer safety from MVCC + a write-ahead log
(DuckTransaction duckdb-internal.hpp:10232, WriteAheadLog
duckdb-internal.hpp:9421): writers version row groups, readers pin a
snapshot, conflicting writers abort with TransactionException. On a
distributed filesystem the established equivalent is a Delta/Iceberg-style
table commit log, and this module is its smallest sound slice
(SURVEY.md §4.2 roadmap; VERDICT r4 directive 3 / r5 directive 7):

- ``_qs_log/<version 20-digit>.json`` — one JSON commit per version.
  Version claim is an **atomic O_EXCL create** of the final log filename:
  exactly one writer wins a version; losers re-read the log and either
  rebase (appends, disjoint rewrites) or raise ``CommitConflict``.
- Data files are immutable, uniquely named, written BEFORE the commit is
  claimed (a crashed writer leaves only unreferenced orphans, never a
  broken table).
- A snapshot is the replay of add/remove actions up to a version; readers
  resolve the file list once and keep it — a concurrent rewrite cannot
  change or delete the parquet files a running query is scanning.
- Conflict rule (optimistic concurrency, checked at claim time against
  every commit that landed after the writer's read version):
    * append vs anything            → commits (rebased onto the new tip)
    * rewrite vs append             → conflict (the rewrite's predicate
      may cover the newly appended rows) unless key-disjoint
    * rewrite vs rewrite            → conflict unless both declare
      disjoint partition keys (``keys=`` e.g. {"date": "2026-01-01"})

At 100 TB this is the only piece that must stay tiny: the log holds file
names + keys, never data; claims are one metadata create; readers never
lock. Every managed table the SQL front creates is one of these
(quackspark/versioned.py): appends commit through ``append`` and the
whole-table DML rewrites through ``rewrite``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

__all__ = [
    "CommitConflict",
    "Snapshot",
    "VersionedTable",
]

_LOG_DIR = "_qs_log"
_DATA_DIR = "data"
#: write a full-state checkpoint every N commits so snapshot replay cost
#: stays O(N) instead of O(version) — the Delta checkpoint-parquet idea,
#: metadata-only (a streaming sink commits once per micro-batch; without
#: this a long-lived table would re-read its whole history per refresh)
_CHECKPOINT_EVERY = 20


class CommitConflict(Exception):
    """Another writer committed a conflicting change after this writer's
    read version. Retryable: re-read the table and re-apply the change
    (the reference raises TransactionException with the same contract,
    duckdb-internal.hpp:10232)."""


def _version_name(v: int) -> str:
    return f"{v:020d}.json"


@dataclass
class Snapshot:
    """An immutable view of the table at one version: the resolved file
    list plus the schema recorded by the last schema-bearing commit."""

    version: int
    files: tuple[str, ...]
    schema: str | None = None
    #: files → the partition-key dict their commit declared (for
    #: key-disjointness checks by later rewrites)
    file_keys: dict[str, dict] = field(default_factory=dict)

    def read(self, spark):
        """DataFrame over exactly this snapshot's files — pinned: later
        commits add/remove log references, never touch these parquet
        files, so the scan stays valid mid-rewrite."""
        if not self.files:
            from pyspark.sql.types import StructType

            from quackspark.session import local_frame

            st = (
                StructType.fromJson(json.loads(self.schema))
                if self.schema
                else "dummy int"
            )
            return local_frame(spark, [], st)
        return spark.read.parquet(*self.files)


class VersionedTable:
    """One commit-log table rooted at ``path``."""

    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        self.log_dir = os.path.join(self.path, _LOG_DIR)
        self.data_dir = os.path.join(self.path, _DATA_DIR)

    # ---- log plumbing ----------------------------------------------

    def exists(self) -> bool:
        return os.path.isdir(self.log_dir) and bool(self._versions())

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for f in os.listdir(self.log_dir):
            if f.endswith(".json") and f[:-5].isdigit():
                out.append(int(f[:-5]))
        return sorted(out)

    def _read_commit(self, v: int) -> dict:
        with open(os.path.join(self.log_dir, _version_name(v))) as fh:
            return json.load(fh)

    def _claim(self, version: int, commit: dict) -> bool:
        """Atomically claim ``version``: O_EXCL create of the final log
        file. Returns False when another writer already owns it. The
        payload is written through a same-directory temp file + fsync +
        link so a crash mid-write never leaves a truncated commit."""
        os.makedirs(self.log_dir, exist_ok=True)
        final = os.path.join(self.log_dir, _version_name(version))
        tmp = os.path.join(
            self.log_dir, f".tmp-{uuid.uuid4().hex}-{version}.json"
        )
        with open(tmp, "w") as fh:
            json.dump(commit, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)  # atomic fail-if-exists, unlike rename
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    # ---- checkpoints ---------------------------------------------------

    def _checkpoints(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        suffix = ".checkpoint.json"
        return sorted(
            int(f[: -len(suffix)])
            for f in os.listdir(self.log_dir)
            if f.endswith(suffix) and f[: -len(suffix)].isdigit()
        )

    def _maybe_checkpoint(self, version: int) -> None:
        """Best-effort full-state checkpoint at ``version`` (tmp + atomic
        rename; a crash mid-write leaves no partial checkpoint and replay
        falls back to the previous one). Never raises — checkpointing is
        an optimization, not part of commit durability."""
        if version == 0 or version % _CHECKPOINT_EVERY:
            return
        try:
            self.force_checkpoint(version)
        except OSError:
            pass

    def force_checkpoint(self, version: int | None = None) -> bool:
        """Write a checkpoint at ``version`` (default: tip) regardless of
        the interval — the CHECKPOINT statement's analog for commit-log
        tables (reference checkpoint fn duckdb-6.cpp:9490 flushes the
        WAL; ours compacts log replay). Returns False when there is
        nothing to do (empty log, version 0, or already checkpointed)."""
        versions = self._versions()
        if not versions:
            return False
        version = versions[-1] if version is None else version
        if version == 0 or version in self._checkpoints():
            return False
        snap = self.snapshot(version)
        payload = {
            "version": version,
            "files": {
                os.path.relpath(f, self.path): snap.file_keys.get(f, {})
                for f in snap.files
            },
            "schema": snap.schema,
        }
        final = os.path.join(self.log_dir, f"{version:020d}.checkpoint.json")
        tmp = os.path.join(self.log_dir, f".tmp-ckpt-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.replace(tmp, final)
        return True

    # ---- snapshots ---------------------------------------------------

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Replay the log up to ``version`` (default: latest), starting
        from the newest checkpoint at or below it — replay work is
        bounded by the checkpoint interval, not the table's age. Time
        travel = pass an older version."""
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no commit log at {self.log_dir}")
        if version is None:
            version = versions[-1]
        elif version not in versions:
            raise FileNotFoundError(
                f"version {version} not in log (have {versions[0]}..{versions[-1]})"
            )
        files: dict[str, dict] = {}
        schema = None
        start = 0
        ckpts = [c for c in self._checkpoints() if c <= version]
        if ckpts:
            try:
                ckpt_file = os.path.join(
                    self.log_dir, f"{ckpts[-1]:020d}.checkpoint.json"
                )
                with open(ckpt_file) as fh:
                    payload = json.load(fh)
                files = dict(payload["files"])
                schema = payload.get("schema")
                start = payload["version"] + 1
            except (OSError, ValueError, KeyError):
                files, schema, start = {}, None, 0  # corrupt → full replay
        for v in versions:
            if v < start:
                continue
            if v > version:
                break
            c = self._read_commit(v)
            for f in c.get("remove", []):
                files.pop(f, None)
            for f in c.get("add", []):
                files[f] = c.get("keys") or {}
            schema = c.get("schema") or schema
        return Snapshot(
            version=version,
            files=tuple(os.path.join(self.path, f) for f in files),
            schema=schema,
            file_keys={
                os.path.join(self.path, f): k for f, k in files.items()
            },
        )

    # ---- data-file writing -------------------------------------------

    def _write_files(self, df) -> tuple[list[str], str]:
        """Materialize ``df`` as immutable uniquely-named parquet under
        data/ and return (relative paths, schema DDL). Files land BEFORE
        any commit references them — a crash here orphans bytes, never
        corrupts the table."""
        sub = uuid.uuid4().hex
        out = os.path.join(self.data_dir, sub)
        df.write.parquet(out, mode="errorifexists")
        rel = [
            os.path.join(_DATA_DIR, sub, f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        ]
        return rel, df.schema.json()

    # ---- public write ops --------------------------------------------

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest transaction version committed under ``app_id`` (the
        Delta-style idempotent-writer protocol: a writer that stamps its
        commits with (app, version) can re-run a batch after a crash and
        skip versions that already landed — exactly-once sinks, see
        streaming/engine.py stream_append_versioned)."""
        best: int | None = None
        for v in self._versions():
            txn = self._read_commit(v).get("txn")
            if txn and txn.get("app") == app_id:
                best = max(best, txn["version"]) if best is not None else txn[
                    "version"
                ]
        return best

    def create(self, data, keys: dict | None = None, txn: dict | None = None) -> int:
        """Commit 0 from a DataFrame, or from a ``StructType`` alone (a
        schema-only version with no data file). Fails if the table
        already has a log."""
        from pyspark.sql.types import StructType

        if isinstance(data, StructType):
            rel, schema = [], data.json()
        else:
            rel, schema = self._write_files(data)
        commit = {
            "op": "create",
            "add": rel,
            "remove": [],
            "keys": keys or {},
            "schema": schema,
            "read_version": -1,
            "txn": txn,
            "ts": time.time(),
        }
        if not self._claim(0, commit):
            raise CommitConflict(f"table {self.path} already created")
        return 0

    def append(
        self,
        df,
        keys: dict | None = None,
        max_retries: int = 20,
        txn: dict | None = None,
    ) -> int:
        """Append rows. Appends never remove files, so they commit against
        ANY concurrent history — the claim loop just rebases onto the tip.
        An optional ``txn={"app": …, "version": …}`` stamp makes the
        append idempotent-checkable via last_txn_version."""
        rel, schema = self._write_files(df)
        commit = {
            "op": "append",
            "add": rel,
            "remove": [],
            "keys": keys or {},
            "schema": schema,
            "read_version": None,  # filled per attempt
            "txn": txn,
            "ts": time.time(),
        }
        for _ in range(max_retries):
            tip = self._versions()[-1]
            commit["read_version"] = tip
            if self._claim(tip + 1, commit):
                self._maybe_checkpoint(tip + 1)
                return tip + 1
        raise CommitConflict(
            f"append to {self.path}: lost the version race {max_retries} "
            f"times — extreme contention, retry"
        )

    def rewrite(
        self,
        df,
        read_version: int,
        keys: dict | None = None,
        max_retries: int = 20,
    ) -> int:
        """Replace the rows selected by ``keys`` (all rows when empty) as
        read at ``read_version`` — the DML copy-on-write commit. Conflict
        detection: every commit that landed after ``read_version`` must be
        key-disjoint from this rewrite, else CommitConflict (retryable:
        re-read, re-derive, re-try)."""
        snap = self.snapshot(read_version)
        keys = keys or {}
        remove = [
            os.path.relpath(f, self.path)
            for f in snap.files
            if _keys_overlap(keys, snap.file_keys.get(f, {}))
        ]
        rel, schema = self._write_files(df)
        commit = {
            "op": "rewrite",
            "add": rel,
            "remove": remove,
            "keys": keys,
            "schema": schema,
            "read_version": read_version,
            "ts": time.time(),
        }
        for _ in range(max_retries):
            tip = self._versions()[-1]
            for v in range(read_version + 1, tip + 1):
                other = self._read_commit(v)
                if not _keys_disjoint(keys, other.get("keys") or {}):
                    raise CommitConflict(
                        f"rewrite of {self.path} read version "
                        f"{read_version} but commit {v} "
                        f"({other.get('op')}, keys={other.get('keys')}) "
                        f"overlaps keys={keys}; re-read and retry"
                    )
            if self._claim(tip + 1, commit):
                self._maybe_checkpoint(tip + 1)
                return tip + 1
        raise CommitConflict(
            f"rewrite of {self.path}: lost the version race "
            f"{max_retries} times — retry"
        )

    def restore(
        self,
        version: int,
        max_retries: int = 20,
        require_app: str | None = None,
        own_versions: set[int] | None = None,
    ) -> int:
        """Re-point the table at ``version``'s files — a metadata-only
        rollback (no data copy; the reference's transaction rollback
        likewise undoes versioned row-groups without rewriting them,
        duckdb-internal.hpp:10232). When ``require_app`` is given, every
        commit after ``version`` must carry that txn app stamp (or be
        listed in ``own_versions``) — restoring across a FOREIGN
        session's commit raises CommitConflict instead of silently
        erasing its rows."""
        target = self.snapshot(version)
        add = [os.path.relpath(f, self.path) for f in target.files]
        for _ in range(max_retries):
            tip = self._versions()[-1]
            if require_app is not None:
                for v in range(version + 1, tip + 1):
                    if own_versions and v in own_versions:
                        continue
                    txn = self._read_commit(v).get("txn") or {}
                    if txn.get("app") != require_app:
                        raise CommitConflict(
                            f"restore of {self.path} to version {version}: "
                            f"commit {v} was made by another writer "
                            f"(app={txn.get('app')}); cannot roll it back"
                        )
            cur = self.snapshot(tip)
            commit = {
                "op": "restore",
                "add": add,
                "remove": [os.path.relpath(f, self.path) for f in cur.files],
                "keys": {},
                "schema": target.schema,
                "read_version": tip,
                "restored_version": version,
                "ts": time.time(),
            }
            if self._claim(tip + 1, commit):
                self._maybe_checkpoint(tip + 1)
                return tip + 1
        raise CommitConflict(
            f"restore of {self.path}: lost the version race "
            f"{max_retries} times — retry"
        )

    # ---- maintenance ---------------------------------------------------

    def vacuum(self, orphan_grace_s: float = 900.0) -> list[str]:
        """Delete data files no commit in the log references anymore AND
        that are not part of the LATEST snapshot. Callers own the policy
        of when old snapshots may die; this removes only files that no
        version ever references (orphans from crashed writers).

        ``orphan_grace_s``: an unreferenced file younger than this is an
        IN-FLIGHT write, not an orphan — every writer lands its data
        files FIRST and claims the commit that references them AFTER
        (_write_files → conflict check → _claim), so there is always a
        window where live data is unreferenced. Without the grace a
        concurrent vacuum deletes those files and the commit then lands
        pointing at nothing — or, when the delete wins between the write
        and the writer's own directory listing, the commit lands with an
        EMPTY add list and the statement's rows silently vanish (found
        by tools/fuzz_versioned_mp.py seed 271828: a whole-table UPDATE
        committed add=[] and erased the table). Same contract as Delta's
        VACUUM retention window, scaled to this log's commit latency."""
        referenced: set[str] = set()
        for v in self._versions():
            referenced.update(self._read_commit(v).get("add", []))
        removed = []
        if not os.path.isdir(self.data_dir):
            return removed
        now = time.time()
        for sub in os.listdir(self.data_dir):
            d = os.path.join(self.data_dir, sub)
            for f in os.listdir(d):
                rel = os.path.join(_DATA_DIR, sub, f)
                if not f.endswith(".parquet") or rel in referenced:
                    continue
                try:
                    age = now - os.path.getmtime(os.path.join(self.path, rel))
                except OSError:
                    continue  # already gone (concurrent vacuum)
                if age < orphan_grace_s:
                    continue  # in-flight write, not an orphan
                try:
                    os.unlink(os.path.join(self.path, rel))
                except OSError:
                    continue
                removed.append(rel)
        return removed


def _keys_overlap(pred: dict, file_keys: dict) -> bool:
    """Does a rewrite predicate select a file? Empty predicate selects
    everything; a file with no recorded keys is selected by everything."""
    if not pred or not file_keys:
        return True
    return all(file_keys.get(k, v) == v for k, v in pred.items())


def _keys_disjoint(a: dict, b: dict) -> bool:
    """Two commits are key-disjoint iff some shared key has provably
    different values. Missing/empty keys ⇒ assume overlap (fail safe)."""
    if not a or not b:
        return False
    return any(k in b and b[k] != a[k] for k in a)
