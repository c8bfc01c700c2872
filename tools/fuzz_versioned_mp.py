"""Multi-PROCESS fuzz for SQL-level versioned tables (VERDICT r6
directive 7 — beyond the scripted demo): separate OS processes, each its
own Spark session, hammer ONE commit-log table with a random mix of
append / whole-table-rewrite (UPDATE, DELETE) under CommitConflict
retries, while a reader process repeatedly pins snapshots (including old
versions) and a vacuum loop runs concurrently.

Soundness comes from commutativity-by-construction: each writer owns a
disjoint key range, logs every statement it successfully committed (in
commit order for its own range), and the main process REPLAYS each
worker's log sequentially into DuckDB. Because ops on disjoint ranges
commute and rewrites rebase on conflict, the concurrent final state must
equal the per-range sequential replay exactly — any torn commit, lost
update, double-applied retry, or vacuum-deleted live file shows up as a
multiset mismatch or a reader exception.

Checks:
  1. every writer's committed ops replayed == final table state (multiset)
  2. version chain is contiguous 0..tip
  3. reader: a pinned snapshot read twice returns identical counts; reads
     of old pinned versions survive concurrent vacuum (no FileNotFound,
     no partial commit ever observed)

Output: one JSON line (committed as FUZZ_VERSIONED_MP.json).
Repro: python tools/fuzz_versioned_mp.py [seed]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_WRITERS = int(os.environ.get("QS_FUZZ_WRITERS", "3"))
OPS_PER_WRITER = int(os.environ.get("QS_FUZZ_OPS", "10"))
TABLE = "vt_fuzz_mp"

_WRITER = '''
import json, random, sys, time
sys.path.insert(0, {repo!r})
from quackspark.session import get_session
from quackspark import sqlfront
from quackspark.sources.commitlog import CommitConflict

w, seed, n_ops, log_path = {w}, {seed}, {n_ops}, {log!r}
rng = random.Random(seed * 1000 + w)
spark = get_session("vt-fuzz-w%d" % w, cpus=2)
lo = w * 1000
committed = []
for j in range(n_ops):
    kind = rng.choice(["insert", "insert", "update", "delete"])
    if kind == "insert":
        k = lo + rng.randrange(1000)
        v = rng.randrange(100)
        stmt = "INSERT INTO {table} VALUES (%d, %d)" % (k, v)
    elif kind == "update":
        delta = rng.randrange(1, 50)
        cut = lo + rng.randrange(1000)
        stmt = ("UPDATE {table} SET v = v + %d WHERE k >= %d AND k < %d"
                % (delta, lo, cut))
    else:
        cut = lo + rng.randrange(200)
        stmt = "DELETE FROM {table} WHERE k >= %d AND k < %d" % (lo, cut)
    for attempt in range(40):
        try:
            sqlfront.sql(spark, stmt)
            committed.append(stmt)
            break
        except CommitConflict:
            time.sleep(0.05 * (attempt + 1))
    else:
        raise SystemExit("op never committed: " + stmt)
with open(log_path, "w") as f:
    json.dump(committed, f)
print("WRITER_OK", len(committed))
'''

_READER = '''
import os, sys, time
sys.path.insert(0, {repo!r})
from quackspark.session import get_session
from quackspark import sqlfront
spark = get_session("vt-fuzz-reader", cpus=2)
stop_flag = {stop!r}
n_reads = n_old = 0
while not os.path.exists(stop_flag):
    vers = [r.version for r in sqlfront.sql(
        spark, "PRAGMA table_versions('{table}')").collect()]
    if len(vers) >= 2:
        # pin an OLD version (vacuum bait) and the tip; each must read
        # stably twice — a torn commit or a vacuumed live file throws or
        # changes the count between the two reads
        for v in (vers[max(0, len(vers) - 3)], vers[-1]):
            a = sqlfront.sql(spark,
                "SELECT count(*) AS c FROM {table} AT (VERSION => %d)" % v
            ).collect()[0].c
            b = sqlfront.sql(spark,
                "SELECT count(*) AS c FROM {table} AT (VERSION => %d)" % v
            ).collect()[0].c
            assert a == b, "unstable pinned read v%d: %d != %d" % (v, a, b)
            n_reads += 1
            n_old += v != vers[-1]
    time.sleep(0.1)
print("READER_OK", n_reads, n_old)
'''

_VACUUMER = '''
import os, sys, time
sys.path.insert(0, {repo!r})
from quackspark.session import get_session
from quackspark import sqlfront
spark = get_session("vt-fuzz-vac", cpus=2)
stop_flag = {stop!r}
n = 0
while not os.path.exists(stop_flag):
    sqlfront.sql(spark, "PRAGMA vacuum_versioned('{table}')")
    n += 1
    time.sleep(0.4)
print("VACUUM_OK", n)
'''


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 42

    import duckdb

    from quackspark import sqlfront
    from quackspark.session import get_session

    spark = get_session("vt-fuzz-main", cpus=4)
    sqlfront.sql(spark, f"DROP TABLE IF EXISTS {TABLE}")
    sqlfront.sql(spark, f"CREATE TABLE {TABLE} (k INTEGER, v INTEGER)")
    # seed rows in every writer's range so UPDATE/DELETE bite immediately
    seeds = ", ".join(
        f"({w * 1000 + i}, {i})" for w in range(N_WRITERS) for i in range(5)
    )
    sqlfront.sql(spark, f"INSERT INTO {TABLE} VALUES {seeds}")

    stop_flag = os.path.join(REPO, "localdata", f"{TABLE}.stop")
    os.makedirs(os.path.dirname(stop_flag), exist_ok=True)
    if os.path.exists(stop_flag):
        os.unlink(stop_flag)
    logs = [
        os.path.join(REPO, "localdata", f"{TABLE}.w{w}.json")
        for w in range(N_WRITERS)
    ]

    def spawn(code: str, **fmt) -> subprocess.Popen:
        return subprocess.Popen(
            [sys.executable, "-c",
             code.format(repo=REPO, table=TABLE, stop=stop_flag, **fmt)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )

    t0 = time.time()
    reader = spawn(_READER)
    vac = spawn(_VACUUMER)
    writers = [
        spawn(_WRITER, w=w, seed=seed, n_ops=OPS_PER_WRITER, log=logs[w])
        for w in range(N_WRITERS)
    ]
    results = {}
    for w, p in enumerate(writers):
        out, err = p.communicate(timeout=900)
        assert "WRITER_OK" in out, f"writer {w}: {err[-2000:]}"
        results[f"writer_{w}"] = out.strip().splitlines()[-1]
    with open(stop_flag, "w") as f:
        f.write("done")
    for tag, p in (("reader", reader), ("vacuum", vac)):
        out, err = p.communicate(timeout=300)
        assert "_OK" in out, f"{tag}: {err[-2000:]}"
        results[tag] = out.strip().splitlines()[-1]
    wall = time.time() - t0

    # ---- verification -------------------------------------------------
    # 1. replay each writer's committed log sequentially (disjoint ranges
    #    commute) and compare the multiset with the live table
    d = duckdb.connect()
    d.execute(f"CREATE TABLE {TABLE} (k INTEGER, v INTEGER)")
    d.execute(f"INSERT INTO {TABLE} VALUES {seeds}")
    n_replayed = 0
    for log in logs:
        with open(log) as f:
            for stmt in json.load(f):
                d.execute(stmt)
                n_replayed += 1
    want = sorted(map(tuple, d.execute(
        f"SELECT k, v FROM {TABLE}").fetchall()))
    got = sorted(
        (r.k, r.v)
        for r in sqlfront.sql(spark, f"SELECT k, v FROM {TABLE}").collect()
    )
    assert got == want, (
        f"STATE MISMATCH after {n_replayed} concurrent ops: "
        f"{len(got)} vs {len(want)} rows"
    )

    # 2. contiguous version chain
    vers = [
        r.version
        for r in sqlfront.sql(
            spark, f"PRAGMA table_versions('{TABLE}')"
        ).collect()
    ]
    assert vers == list(range(len(vers))), vers

    out = {
        "seed": seed,
        "writers": N_WRITERS,
        "ops_per_writer": OPS_PER_WRITER,
        "committed_ops": n_replayed,
        "versions": len(vers),
        "final_rows": len(got),
        "state_matches_sequential_replay": True,
        "wall_sec": round(wall, 1),
        **results,
    }
    sqlfront.sql(spark, f"DROP TABLE {TABLE}")
    for log in logs:
        os.unlink(log)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
