#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol (BASELINE.md): warm JVM (one untimed warmup per query set),
median of 3 timed runs per query, session startup excluded.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: THE headline manifest — one ordered list shared by the sf0.1 section,
#: the sf1 section, and every BENCH_r{N}/BENCH_LOCAL_r{N} artifact, so
#: round-over-round deltas stay like-for-like (VERDICT r3 directive #8;
#: lockstep pinned by tests/test_bench_manifest.py). Big-scan / join /
#: window / dedup / ANN / pipeline shapes that dominate runtime.
HEADLINE_MANIFEST = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q9_product_profit",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    "window_running_sum",
    "dedup_minhash_lsh",
    # sim_bruteforce_topk (window form) RETIRED from the headline r12
    # (VERDICT r11 wrong #3 / next #6): it shuffles corpus×queries scored
    # rows by q_id and rode the 2× gate at sf1 (1.94×) while the heap
    # sibling — bit-identical results, survivors-only exchange — sits at
    # 0.89×; the window form stays in the corpus as the parity twin the
    # heap forms oracle against. sim_bruteforce_heap below is the
    # brute-force headline entry.
    "sim_embedding_neardup",
    "sw_session",
    "text_fingerprint",
    "json_group_rollup",
    "pipeline_training_prep",
    "pipeline_training_prep_recompute",
    "join_asof_backward",
    "dt_hypertable_rollup",
    "sw_tumbling",
    "window_range_interval_frame",
    "json_extract_scalar",
    "dedup_cluster_components",
    "fts_bm25_topk",
    "sim_kmeans",
    "pipeline_training_prep_v2",
    # r10 (r8 verdict directive 5): the per-partition-heap exact top-k —
    # appended so every pre-r10 per-query delta stays like-for-like
    "sim_bruteforce_heap",
    # r10: exact-substring duplicate spans (Lee et al. 2022 window-wise;
    # operators/dedup.duplicate_spans) — appended for the same reason
    "dedup_duplicate_spans",
]

#: sf1-scale derived tables (tools/make_sf1.py) — present ⇒ bench both
#: engines on 10× data to show fixed-cost amortization (VERDICT r2 item 7)
SF1_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "localdata", "sf1")

#: headliners whose sf1 section times ONLY the Spark side (r3 directive
#: #2 extends sf1 to the full manifest; for these two the DuckDB oracle
#: is super-linear and would consume the whole per-round bench budget —
#: the Spark side runs and reports growth, the ratio column is absent):
#: - dedup_cluster_components: recursive-CTE label propagation ~390 s at
#:   sf1 vs 17 s for the star-contraction Spark plan (0.04×) — oracle
#:   measured once and committed as SCALE_CC_DEMO.json.
#: - sim_embedding_neardup: the oracle is all-pairs O(N²) cosine (25 s at
#:   sf0.1 ⇒ ~40 min at sf1); the SRP-banded Spark plan is the
#:   architecture win already measured at sf0.1 (0.10×).
SF1_SPARK_ONLY = {"dedup_cluster_components", "sim_embedding_neardup"}

SF1_QUERIES = list(HEADLINE_MANIFEST)

#: sf1 adaptive single-run threshold: the sf1 section measures GROWTH
#: (is the plan ~linear?), not podium medians — one warm measurement of a
#: >5 s query is the answer, and median-of-3 on every 10-s query would
#: triple the per-round budget
SF1_ONE_RUN_ABOVE = 5.0


def _duckdb_native_connect(sf_dir: str):
    """Connection whose tables live in DuckDB's OWN storage format (native
    .duckdb file: its row groups, zone maps, int64-backed DECIMAL storage —
    duckdb.hpp:4798,7861) — the input-symmetric counterpart of the Spark
    side's derived layout (r7 verdict "what's wrong" #1: comparing
    Spark-on-its-own-layout vs DuckDB-on-raw-parquet was one-sided). Built
    once per sf_dir, fingerprint-keyed like sources/derived.py twins."""
    import duckdb

    from quackspark.session import TESTDATA_TABLES, table_path
    from quackspark.sources.derived import _source_fingerprint, layout_tag

    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "localdata", "ducknative"
    )
    os.makedirs(root, exist_ok=True)
    dbpath = os.path.join(root, f"{layout_tag(sf_dir)}.duckdb")
    tables = [
        t for t in TESTDATA_TABLES if os.path.exists(table_path(sf_dir, t))
    ]
    fp = ";".join(f"{t}={_source_fingerprint(sf_dir, t)}" for t in tables)
    fp_path = dbpath + ".fp"
    fresh = os.path.exists(dbpath)
    if fresh:
        try:
            with open(fp_path) as f:
                fresh = f.read() == fp
        except OSError:
            fresh = False
    if not fresh:
        for p in (dbpath, dbpath + ".wal", fp_path):
            if os.path.exists(p):
                os.remove(p)
        d = duckdb.connect(dbpath)
        for t in tables:
            d.execute(
                f"CREATE TABLE {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
            )
        d.close()
        with open(fp_path, "w") as f:
            f.write(fp)
    return duckdb.connect(dbpath, read_only=True)


def bench_duckdb(
    names: list[str],
    sf_dir: str | None = None,
    one_run_above: float = 15.0,
    native: bool = False,
) -> dict[str, float]:
    """Time the DuckDB side of the same oracles — keeps the README/VERDICT
    Spark-vs-DuckDB comparison reproducible from the repo (VERDICT r1 #10).
    Same protocol: one warmup, median of 3. ``native=False`` times views
    over the shared parquet (the engine-agnostic inputs), ``native=True``
    times DuckDB's own storage format (its full right to re-layout the
    data, mirroring the Spark side's derived layout)."""
    import duckdb

    from quackspark.entry import oracle_sql
    from quackspark.session import TESTDATA_TABLES, table_path

    osql = oracle_sql()
    if native:
        d = _duckdb_native_connect(sf_dir or SF_DIR)
    else:
        d = duckdb.connect()
        for t in TESTDATA_TABLES:
            p = table_path(sf_dir or SF_DIR, t)
            if os.path.exists(p):
                d.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    times: dict[str, float] = {}
    for name in names:
        sql = osql.get(name)
        if sql is None:
            times[name] = -1.0  # rows-only query: no oracle to time
            continue
        try:
            # adaptive protocol: first run timed — if it is already slow
            # (> one_run_above s), one measurement is the answer (warm/cold
            # delta is noise at that magnitude and 4 runs of a slow oracle
            # would blow the per-round bench budget); otherwise treat it
            # as the warmup and take the median of 3 warm runs
            t0 = time.perf_counter()
            d.execute(sql).fetchall()
            first = time.perf_counter() - t0
            if first > one_run_above:
                times[name] = round(first, 4)
                continue
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                d.execute(sql).fetchall()
                runs.append(time.perf_counter() - t0)
            times[name] = round(statistics.median(runs), 4)
        except Exception as exc:
            print(f"bench --oracle: {name} failed: {exc}", file=sys.stderr)
            times[name] = -1.0
    return times


def _contention_suspects(
    times: dict[str, float],
    records: list[tuple[str, dict, set]],
) -> list[str]:
    """Contention sanity gate (r10 directive 5, refined r12). Sub-2 s
    columns swing 2-3× across sessions; a query is flagged when it
    diverges >2× from its baseline. The baseline per query is the
    NEWEST committed local record whose OWN contention flag does not
    name that query (VERDICT r11 wrong #1: r11's record shipped with
    its flag raised on q5/q6/q9/q10 — diffing a clean run against those
    columns re-fires the flag forever even though the new numbers agree
    with the driver record and r10). ``records`` is newest-first
    ``(basename, q_map, flagged_query_names)``; flagged names may carry
    a " (vs …)" suffix from this very function — matched by prefix."""
    suspects = []
    for n, t in times.items():
        ref, src = None, None
        for base, ref_q, flagged in records:
            if any(f == n or f.startswith(n + " ") for f in flagged):
                continue
            if ref_q.get(n, [None])[0] is not None:
                ref, src = ref_q[n][0], base
                break
        if ref is None or not (0 < t < 2.0 or 0 < (ref or 0) < 2.0):
            continue
        if t > 0 and ref > 0 and (t / ref > 2.0 or ref / t > 2.0):
            suspects.append(f"{n} (vs {src})")
    return suspects


def _drop_persisted(spark) -> None:
    """Unpersist every lingering persisted RDD (localCheckpoint blocks from
    the dedup/pipeline queries): without this, ~25 queries × 3 runs of
    checkpointed partitions accumulate in the block manager and the late
    bench sections degrade 5× from GC pressure (observed: sf1 q10 1.3s
    fresh vs 14.3s late-session). The explicit System.gc() matters for a
    second reason: Spark's ContextCleaner reclaims shuffle files,
    broadcast blocks, and accumulators via JVM weak-reference queues — on
    a 128 GiB heap a full GC may not happen for minutes, so 100+ queries
    of driver metadata pile up and the LATE sf1 section measured 4-7×
    slower than the identical query isolated (r4: text_fingerprint 1.4 s
    isolated vs 5.2 s late-bench before this)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd in jmap.values():
        rdd.unpersist()
    spark._jvm.System.gc()


#: per-family reporting split (VERDICT r6 "what's wrong" #2: the
#: aggregate ratio is dominated by DuckDB-pathological LLM-op oracles and
#: must not be readable as the TPC-H story)
def _family(name: str) -> str:
    if name.startswith("q") and name[1:2].isdigit():
        return "tpch"
    if name.startswith("json"):
        return "json"
    if name.startswith(("dedup", "sim_", "text_", "pipeline", "fts_")):
        return "llm"
    if name.startswith("sw_"):
        return "stream"
    return "core"


def _family_totals(
    spark_times: dict[str, float], duck_times: dict[str, float]
) -> dict[str, list]:
    """{family: [spark_total, duckdb_total, ratio]} over covered queries."""
    fams: dict[str, list] = {}
    for n, t in spark_times.items():
        d = duck_times.get(n, -1)
        if t <= 0 or d <= 0:
            continue
        row = fams.setdefault(_family(n), [0.0, 0.0, None])
        row[0] += t
        row[1] += d
    for row in fams.values():
        row[0], row[1] = round(row[0], 2), round(row[1], 2)
        row[2] = round(row[0] / row[1], 2) if row[1] else None
    return fams


def _ensure_layout(spark, sf_dir: str) -> None:
    """Materialize the derived storage layout (bucketed facts, shredded
    events — sources/derived.py) BEFORE any timed run: build cost is a
    one-time write, not query time (the sf1 section has no untimed warmup
    for slow queries, so an implicit in-query build would contaminate the
    first measurement)."""
    from quackspark.session import load_table, load_table_projection

    for t in ("lineitem", "orders", "events", "customer"):
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t)
    # secondary projections queries read (q13: orders by o_custkey +
    # customer by c_custkey) — an in-query first-use build would
    # contaminate the sf1 section's single-run measurements (r7 ADVICE #2)
    for t, k in (("orders", "o_custkey"), ("customer", "c_custkey")):
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table_projection(spark, sf_dir, t, k)


def main() -> None:
    from quackspark.entry import queries
    from quackspark.session import get_session

    spark = get_session("quackspark-bench")
    qs = queries()
    names = [n for n in HEADLINE_MANIFEST if n in qs]
    _ensure_layout(spark, SF_DIR)

    times: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        try:
            fn(spark, SF_DIR).count()  # warmup (plan + JIT + page cache)
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            times[name] = round(statistics.median(runs), 4)
        except Exception as exc:  # one broken query must not sink the run
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            times[name] = -1.0
        _drop_persisted(spark)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(v for v in times.values() if v > 0), 4),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # sf0.1 oracle pass runs UNCONDITIONALLY (r6 "what's wrong" #1: the
    # driver record must carry the ≤2× gate ratio by itself; ~40 s cost).
    # Two columns since r8 (r7 verdict "what's wrong" #1): parquet views
    # (shared inputs) AND native .duckdb tables (each engine on its own
    # storage — the symmetric comparison for the derived-layout Spark side).
    duck = bench_duckdb(names)
    duckn = bench_duckdb(names, native=True)
    covered = [n for n in names if times.get(n, -1) > 0 and duck.get(n, -1) > 0]
    out["duckdb_queries"] = duck
    out["duckdb_native_queries"] = duckn
    out["duckdb_value"] = round(sum(duck[n] for n in covered), 4)
    out["spark_value_on_covered"] = round(sum(times[n] for n in covered), 4)
    if out["duckdb_value"] > 0:
        out["ratio_spark_vs_duckdb"] = round(
            out["spark_value_on_covered"] / out["duckdb_value"], 4
        )
    covered_n = [
        n for n in names if times.get(n, -1) > 0 and duckn.get(n, -1) > 0
    ]
    dn_total = round(sum(duckn[n] for n in covered_n), 4)
    if dn_total > 0:
        out["duckdb_native_value"] = dn_total
        out["ratio_spark_vs_duckdb_native"] = round(
            sum(times[n] for n in covered_n) / dn_total, 4
        )
    out["families"] = _family_totals(times, duck)
    out["families_native"] = _family_totals(times, duckn)

    # fixed-cost amortization section: the same scan-heavy queries at 10×
    # the rows, both engines, per-query ratios. localdata/ is gitignored
    # (derived data), so regenerate on demand — ~60 s once per checkout.
    if not os.path.isdir(SF1_DIR) and os.environ.get("SPARK_GRAFT_NO_SF1") != "1":
        import subprocess

        tool = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "tools", "make_sf1.py")
        try:
            subprocess.run([sys.executable, tool], check=True, timeout=600,
                           stdout=sys.stderr)
        except Exception as exc:
            print(f"bench: sf1 generation failed ({exc}); skipping sf1 section",
                  file=sys.stderr)
    if os.path.isdir(SF1_DIR):
        _ensure_layout(spark, SF1_DIR)
        s1: dict[str, float] = {}
        for name in SF1_QUERIES:
            fn = qs[name]
            try:
                # same adaptive protocol as bench_duckdb: a first run over
                # the threshold IS the measurement (warm/cold delta is noise
                # at that magnitude; 4 runs each would blow the budget)
                t0 = time.perf_counter()
                fn(spark, SF1_DIR).write.format("noop").mode("overwrite").save()
                first = time.perf_counter() - t0
                if first > SF1_ONE_RUN_ABOVE:
                    s1[name] = round(first, 4)
                else:
                    runs = []
                    for _ in range(3):
                        t0 = time.perf_counter()
                        fn(spark, SF1_DIR).write.format("noop").mode("overwrite").save()
                        runs.append(time.perf_counter() - t0)
                    s1[name] = round(statistics.median(runs), 4)
            except Exception as exc:
                print(f"bench sf1: {name} failed: {exc}", file=sys.stderr)
                s1[name] = -1.0
            _drop_persisted(spark)
        sf1_names = [n for n in SF1_QUERIES if n not in SF1_SPARK_ONLY]
        d1 = bench_duckdb(
            sf1_names, sf_dir=SF1_DIR, one_run_above=SF1_ONE_RUN_ABOVE
        )
        d1n = bench_duckdb(
            sf1_names,
            sf_dir=SF1_DIR,
            one_run_above=SF1_ONE_RUN_ABOVE,
            native=True,
        )
        ratios = {
            n: round(s1[n] / d1[n], 3)
            for n in SF1_QUERIES
            if s1.get(n, -1) > 0 and d1.get(n, -1) > 0
        }
        out["sf1"] = {
            "spark_queries": s1,
            "duckdb_queries": d1,
            "duckdb_native_queries": d1n,
            "per_query_ratio": ratios,
            "per_query_ratio_native": {
                n: round(s1[n] / d1n[n], 3)
                for n in SF1_QUERIES
                if s1.get(n, -1) > 0 and d1n.get(n, -1) > 0
            },
            # wall-clock growth for 10× the rows — the amortization signal:
            # Spark ~flat (fixed cost dominates), DuckDB ~linear
            "spark_growth_10x": {
                n: round(s1[n] / times[n], 3)
                for n in SF1_QUERIES
                if s1.get(n, -1) > 0 and times.get(n, -1) > 0
            },
        }
        out["sf1"]["duckdb_growth_10x"] = {
            n: round(d1[n] / duck[n], 3)
            for n in SF1_QUERIES
            if d1.get(n, -1) > 0 and duck.get(n, -1) > 0
        }
        out["sf1"]["families"] = _family_totals(s1, d1)
    print(json.dumps(out))
    # the round driver captures only the last ~2000 chars of stdout and
    # parses the final line — the full object above exceeds that (r3's
    # BENCH record shows a mid-JSON truncated tail, parsed={}), so emit a
    # compact spec-shaped summary LAST. It carries the flat
    # per-query seconds {"queries": {name: sec}} plus, aligned with that
    # dict's order, each query's sf1/sf0.1 10x growth factor ("g10", null
    # where uncovered). Per-query ratios against DuckDB and the family
    # split live in the long line above and the committed
    # BENCH_LOCAL_r{N}.json only — each name appears once here, which is
    # what keeps the line inside the tail window.
    s1o = out.get("sf1", {})
    s1q = s1o.get("spark_queries", {})
    d1q = s1o.get("duckdb_queries", {})
    d1nq = s1o.get("duckdb_native_queries", {})
    queries = {n: round(times.get(n, -1), 2) for n in names}
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "queries": queries,
    }
    if s1q:
        compact["g10"] = [
            round(s1q[n] / t, 1) if s1q.get(n, -1) > 0 and t > 0 else None
            for n, t in queries.items()
        ]
    if "ratio_spark_vs_duckdb" in out:
        compact["duckdb_value"] = out["duckdb_value"]
        compact["ratio_spark_vs_duckdb"] = out["ratio_spark_vs_duckdb"]
    if "ratio_spark_vs_duckdb_native" in out:
        compact["duckdb_native_value"] = out["duckdb_native_value"]
        compact["ratio_vs_native"] = out["ratio_spark_vs_duckdb_native"]
    if s1q:
        covered = [
            n for n, v in s1q.items() if v > 0 and d1q.get(n, -1) > 0
        ]
        tot_s = round(sum(s1q[n] for n in covered), 3)
        tot_d = round(sum(d1q[n] for n in covered), 3)
        covered_n = [
            n for n, v in s1q.items() if v > 0 and d1nq.get(n, -1) > 0
        ]
        tot_dn = round(sum(d1nq[n] for n in covered_n), 3)
        # legend: n covered queries, spark/duck/duckn totals (sec),
        # ratio = spark/duckdb-on-parquet, ratio_n = spark/duckdb-native
        compact["sf1_summary"] = {
            "n": len(covered),
            "spark": tot_s,
            "duck": tot_d,
            "ratio": round(tot_s / tot_d, 3) if tot_d else None,
            "duckn": tot_dn,
            "ratio_n": round(
                sum(s1q[n] for n in covered_n) / tot_dn, 3
            ) if tot_dn else None,
        }
    # contention sanity gate (r10 verdict directive 5): sub-2 s columns
    # swing 2-3× across sessions (documented in SCALE.md), and r10's
    # driver record misread that noise as a stream-family regression.
    # Diff this run's sub-2 s seconds against the committed BENCH_LOCAL
    # record; >2× divergence either way flags the RUN as contended —
    # next round's judge reads the flag instead of adjudicating ratios.
    import glob as _glob

    locals_ = sorted(
        _glob.glob(os.path.join(os.path.dirname(__file__), "BENCH_LOCAL_r*.json"))
    )
    if locals_:
        try:
            records = []
            for path in reversed(locals_):
                with open(path) as fh:
                    rec = json.load(fh)
                # records since the compact line carried "queries" hold
                # bare seconds; older ones hold q rows led by the seconds
                q_map = {n: [t] for n, t in rec.get("queries", {}).items()}
                records.append(
                    (os.path.basename(path), q_map or rec.get("q", {}),
                     set((rec.get("contention_suspect") or {}).get("queries", [])))
                )
            suspects = _contention_suspects(times, records)
            if suspects:
                # full suspect list (with per-query baseline provenance)
                # goes to stderr + the committed BENCH_LOCAL record; the
                # compact line carries at most 3 bare names — r12's line
                # overflowed the driver's 2000-char tail exactly here
                # (8 suffixed entries, ~400 chars) and the round lost its
                # whole per-query PERF table (VERDICT r13 #2)
                print(f"bench: contention suspects: {suspects}", file=sys.stderr)
                compact["contention_suspect"] = {
                    "vs": os.path.basename(locals_[-1]),
                    "n": len(suspects),
                    "queries": [s.split(" (vs ")[0] for s in suspects[:3]],
                }
        except Exception as exc:  # the gate must never sink the bench
            print(f"bench: contention gate skipped: {exc}", file=sys.stderr)
    print(_fit_compact_line(compact))


#: hard budget for the compact line: the driver keeps only the last
#: ~2000 chars of stdout; ≥200 chars of slack guards against wider
#: numbers on a slow box (r13 shipped 1938/2000 and r12 overflowed)
COMPACT_LINE_BUDGET = 1800


def _fit_compact_line(compact: dict, budget: int = COMPACT_LINE_BUDGET) -> str:
    """Serialize ``compact``, degrading gracefully if it exceeds the
    driver's tail window (VERDICT r13 #2). The default shape fits with
    ~500 chars of slack; the staged trims below only fire if numbers get
    unexpectedly wide, shedding the most redundant fields first (each is
    also present in the long line). The per-query seconds ("queries")
    are never shed — round-over-round comparisons read them."""
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) <= budget:
        return line
    # the trims mutate: copy the top level and the one nested dict they
    # pop from, so the caller's compact record is left intact
    compact = dict(compact)
    if compact.get("contention_suspect"):
        compact["contention_suspect"] = dict(compact["contention_suspect"])
    stages = [
        lambda c: (c.get("contention_suspect") or {}).pop("queries", None),
        lambda c: c.pop("sf1_summary", None),
        lambda c: c.pop("g10", None),
    ]
    for stage in stages:
        stage(compact)
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= budget:
            return line
    return line  # the seconds alone cannot exceed the budget for 27 queries


if __name__ == "__main__":
    main()
