"""Scale records (SCALE_*.json): ``python tools/scale.py <operator> [tier ...]``.

Operators and the record each writes:

    tpch_sf10    SCALE_TPCH_SF10.json     the sf1-weak TPC-H/JSON queries
    json_events  SCALE_JSON_EVENTS.json   the JSON event family
    sf10_demo    SCALE_SF10_DEMO.json     one query per scale-critical operator
    executors    SCALE_EXECUTORS.json     the floor queries, 1 vs N worker JVMs
    pipeline     SCALE_PIPELINE.json      pipeline_training_prep_v3 stage by stage
    dupspans     SCALE_DUPSPANS.json      exact-substring duplicate spans
    semdedup     SCALE_SEMDEDUP.json      semantic dedup pair budget and recall
    bpe          SCALE_BPE.json           the distributed BPE trainer

The first three are one spec (declared queries × tiers, both engines).

Tiers default to the ladder ``sf0.1 sf1 sf10 sf100-equivalent``; any
fixture directory name (``sf0.001``) may be named instead. A tier runs
only when its fixture exists: sf0.x from the test data root, sf1/sf10
from ``localdata/`` (``tools/make_sf1.py``, ``tools/make_sf10.py``), and
sf100-equivalent — 5 M documents and 2 M vectors — built from sf10 by
:func:`ensure_sf100`. A run replaces only the tiers it measured, so the
record keeps every other tier and section.

Every tier carries ``stages``: per stage, its wall seconds and the peak
resident size of this process tree (the JVM, its Python workers and any
child process) while it ran, sampled by ``perfbench/host.py``'s
``ProcTree``. Spark-side query seconds come from ``bench.warm_median``;
the DuckDB side from ``bench.bench_duckdb`` or, for oracles that may not
finish, from one capped run (:func:`duck_time`).

Repro: python tools/make_sf1.py && python tools/make_sf10.py &&
       python tools/scale.py pipeline
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import subprocess
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.host import ProcTree  # noqa: E402

#: where the SCALE_*.json records live
RECORD_DIR = REPO
LOCALDATA = os.path.join(REPO, "localdata")
LADDER = ("sf0.1", "sf1", "sf10", "sf100-equivalent")
EXTENSION = "sf100-equivalent"
#: a first timed Spark run over this many seconds is the measurement
ONE_RUN_ABOVE = 8.0
#: DuckDB side: single run above this many seconds (bench.bench_duckdb)
DUCK_ONE_RUN_ABOVE = 10.0
#: a capped DuckDB run is interrupted and recorded as DNF after this
ORACLE_CAP_S = 1800
HOST_CORES = os.cpu_count() or 4
HOST_MEM_GB = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
#: every tier row names the host it was measured on
HOST = {"cores": HOST_CORES, "mem_gb": round(HOST_MEM_GB, 1)}
#: DuckDB's memory limit for capped runs: half the host, the rest spills
DUCK_MEM_GB = max(1, int(HOST_MEM_GB / 2))


# --- shared parts -----------------------------------------------------------


def tier_dir(tag: str) -> str | None:
    """Fixture directory of a tier, or None when it is not on this host."""
    from quackspark.session import DEFAULT_SF_DIR

    name = "sf100" if tag == EXTENSION else tag
    for root in (os.path.dirname(DEFAULT_SF_DIR), LOCALDATA):
        if os.path.isdir(os.path.join(root, name)):
            return os.path.join(root, name)
    return None


def tier_sf(tag: str) -> float:
    return 100.0 if tag == EXTENSION else float(tag[2:])


def ensure_sf100() -> None:
    """Build the sf100-equivalent tier from sf10, once: 5 M documents (ten
    copies with strided doc_ids and a per-copy ' repx{i}' suffix, so copies
    share every interior window — the designed worst case of the smaller
    tiers) and 2 M vectors (ten copies with strided vec_ids, perturbed by
    i·0.00007 per element so copies are near- but not exactly aligned)."""
    import duckdb

    src, dst = os.path.join(LOCALDATA, "sf10"), os.path.join(LOCALDATA, "sf100")
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {HOST_CORES}")
    for table, select in (
        ("documents", "doc_id + i * 10000000000 AS doc_id, "
                      "text || ' repx' || i AS text, lang, source"),
        ("embeddings", "vec_id + i * 10000000000 AS vec_id, list_transform("
                       "embedding, x -> CAST(x + i * 0.00007 AS FLOAT)) AS "
                       "embedding, label"),
    ):
        out = os.path.join(dst, f"{table}.parquet")
        if os.path.exists(out) or not os.path.exists(os.path.join(src, f"{table}.parquet")):
            continue
        con.execute(
            f"COPY (SELECT {select} FROM '{src}/{table}.parquet', range(10) t(i)) "
            f"TO '{out}' (FORMAT PARQUET)"
        )
        print(f"{EXTENSION} {table} ready", file=sys.stderr)
    con.close()


@contextlib.contextmanager
def stage(row: dict, name: str):
    """Record one stage of a tier in ``row["stages"][name]``: wall seconds
    and the process tree's peak RSS while it ran. The yielded dict takes
    extra fields (``rows``). A fresh ``ProcTree`` per stage: its stop event
    is never reset."""
    rec = row.setdefault("stages", {}).setdefault(name, {})
    tree = ProcTree()
    tree.start_sampling()
    t0 = time.perf_counter()
    try:
        yield rec
    finally:
        tree.stop_sampling()
        rec["sec"] = round(time.perf_counter() - t0, 2)
        rec["peak_rss_gb"] = round(tree.peak_rss_bytes / 2**30, 2)


def _spark():
    from quackspark.session import get_session

    return get_session("quackspark-scale")


def spark_sec(spark, build) -> float:
    import bench

    return round(bench.warm_median(spark, build, ONE_RUN_ABOVE), 3)


@contextlib.contextmanager
def duck(sf_dir: str, tables=("documents",)):
    """DuckDB connection over views of ``tables``, bounded so a
    misestimate spills instead of taking the host down."""
    import duckdb

    from quackspark.session import table_path

    con = duckdb.connect()
    con.execute(f"SET threads TO {HOST_CORES}")
    con.execute(f"SET memory_limit = '{DUCK_MEM_GB}GB'")
    spill = os.path.join(tempfile.gettempdir(), "duck_spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory = '{spill}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    try:
        yield con
    finally:
        con.close()


def duck_time(con, sql: str) -> tuple[float | None, str | None]:
    """One run of ``sql`` interrupted after ``ORACLE_CAP_S``: ``(seconds,
    None)``, or ``(None, why)`` when it failed or hit the cap — the tier
    outgrew the single-node oracle, and the Spark column is kept."""
    import duckdb

    done = threading.Event()
    threading.Thread(
        target=lambda: done.wait(ORACLE_CAP_S) or con.interrupt(), daemon=True
    ).start()
    t0 = time.perf_counter()
    try:
        con.execute(sql).fetchall()
        return round(time.perf_counter() - t0, 2), None
    except duckdb.Error as exc:
        return None, (
            f"{type(exc).__name__} after {round(time.perf_counter() - t0, 1)}s "
            f"under {DUCK_MEM_GB}GB limit + spill disk (cap {ORACLE_CAP_S}s): "
            f"{str(exc)[:160]}"
        )
    finally:
        done.set()


def put_duck(row: dict, prefix: str, spark_s: float, sec, dnf) -> None:
    row[f"{prefix}duckdb_sec"] = sec
    row[f"{prefix}ratio"] = round(spark_s / sec, 3) if sec else None
    if dnf:
        row[f"{prefix}duckdb_dnf"] = dnf


#: profiled SQLMetrics worth keeping, by substring
_KEEP_METRICS = (
    "scan time", "shuffle write time", "fetch wait time", "time to build",
    "time in aggregation", "sort time", "shuffle bytes written",
    "records written", "records read", "numOutputRows", "data size",
    # Exchange nodes report no numOutputRows — their row/byte truth is the
    # shuffle-write pair (camelCase in the SQLMetrics names)
    "shuffleRecordsWritten", "shuffleBytesWritten",
)


def breakdown(df) -> dict:
    """The profiled plan's SQLMetrics (catalog.explain_analyze) summed
    by operator class."""
    from quackspark.catalog import explain_analyze

    agg: dict[str, dict[str, int]] = {}
    for r in explain_analyze(df).collect():
        op, metric = r["operator"], r["metric"]
        if not any(k in metric for k in _KEEP_METRICS):
            continue
        # "Join" before "Shuffle": ShuffledHashJoin is a join, and its
        # output rows are not exchange rows
        cls = (
            "scan" if "Scan" in op
            else "join" if "Join" in op
            else "exchange" if "Exchange" in op or "Shuffle" in op
            else "agg" if "Aggregate" in op
            else "sort" if op == "Sort"
            else "other"
        )
        key = metric.split("(")[0].strip()
        agg.setdefault(cls, {})
        agg[cls][key] = agg[cls].get(key, 0) + int(r["value"])
    return agg


def tier_row(rec: dict, tag: str, container: str = "tiers") -> dict:
    """A fresh row for ``tag`` in the record, naming the host it is
    measured on; the record's other tiers stay."""
    row = rec.setdefault(container, {})[tag] = {"host": HOST}
    return row


# --- declared queries × tiers -----------------------------------------------


def _queries_tier(
    names: tuple, rec: dict, tag: str, sf_dir: str, *, spark_only=(),
    native=False, breakdowns=(), raw_layout=(), ratio_key="ratio", carried=(),
) -> None:
    """Spark and DuckDB seconds per query. ``spark_only`` queries have
    super-linear oracles; ``native`` adds DuckDB on its own storage;
    ``breakdowns`` sums profiled plans by operator class; ``raw_layout``
    re-runs queries with the derived layout off; ``carried`` sections of
    the record are copied forward unmeasured."""
    import bench
    import duckdb

    from quackspark.entry import queries
    from quackspark.session import _TABLE_CACHE, table_path

    spark, qs = _spark(), queries()
    rec["queries"] = list(names)
    for key in carried:
        if key in rec:
            rec[key]["carried_from_previous_record"] = True
    events = table_path(sf_dir, "events")
    row = tier_row(rec, tag)
    row.update(
        tier=tag, sf=tier_sf(tag), copies_of_sf01=round(tier_sf(tag) / 0.1, 3),
        events_rows=duckdb.sql(f"SELECT count(*) FROM '{events}'").fetchone()[0],
        spark={},
    )
    bench._ensure_layout(spark, sf_dir)
    with stage(row, "spark"):
        for q in names:
            row["spark"][q] = spark_sec(spark, lambda: qs[q](spark, sf_dir))
    oracled = [q for q in names if q not in spark_only]
    for col, ratio, on_native in (("duckdb", ratio_key, False),
                                  ("duckdb_native", "ratio_native", True)):
        if on_native and not native:
            continue
        with stage(row, col):
            row[col] = bench.bench_duckdb(
                oracled, sf_dir=sf_dir, one_run_above=DUCK_ONE_RUN_ABOVE,
                native=on_native,
            )
        row[ratio] = {
            q: round(row["spark"][q] / d, 2)
            for q, d in row[col].items() if d > 0 and row["spark"][q] > 0
        }
    if breakdowns:
        with stage(row, "stage_breakdown"):
            row["stage_breakdown"] = {}
            for q in breakdowns:
                row["stage_breakdown"][q] = breakdown(qs[q](spark, sf_dir))
                bench._drop_persisted(spark)
    if raw_layout:
        os.environ["QUACKSPARK_DERIVED"] = "0"
        _TABLE_CACHE.clear()
        try:
            with stage(row, "raw_layout"):
                row["raw_layout"] = {
                    q: spark_sec(spark, lambda: qs[q](spark, sf_dir))
                    for q in raw_layout
                }
        finally:
            os.environ.pop("QUACKSPARK_DERIVED", None)
            _TABLE_CACHE.clear()
    # Spark growth of every tier against the smallest one
    base, *tiers = sorted(rec["tiers"].values(), key=lambda t: t["sf"])
    rec["growth_vs_base"] = {
        t["tier"]: {
            q: {
                "rows_x": round(t["sf"] / base["sf"]),
                "spark_x": round(s / base["spark"][q], 2)
                if base["spark"].get(q, 0) > 0 else None,
            }
            for q, s in t["spark"].items()
        }
        for t in tiers
    }


#: the nine sf1-weak queries plus q6/json_extract_scalar (sub-second sf1
#: absolutes) and q18 (the big-agg shape)
TPCH_WEAK = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q9_product_profit", "q10_returned_items", "q13_customer_distribution",
    "q21_waiting_supplier", "json_group_rollup", "sw_tumbling",
    "q6_forecast_revenue", "json_extract_scalar", "q18_large_orders",
)
#: the joins whose floor is named scan-, exchange- or floor-bound
TPCH_BREAKDOWN = (
    "q5_local_supplier_volume", "q9_product_profit", "q10_returned_items",
    "q13_customer_distribution", "q1_pricing_summary", "q3_shipping_priority",
    "q18_large_orders",
)
#: the 100× demonstration: one query per scale-critical operator class
DEMO = (
    "q1_pricing_summary", "q5_local_supplier_volume", "text_fingerprint",
    "fts_bm25_topk", "dedup_minhash_lsh", "sim_embedding_neardup", "sim_kmeans",
)


# --- executors --------------------------------------------------------------

#: the named sf10 floors: pure scans (q1/q3), scan + multi-way probe
#: (q5/q9), a zero-Exchange pipeline (q13), sub-second absolutes
FLOORS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q9_product_profit", "q13_customer_distribution", "q6_forecast_revenue",
    "json_group_rollup", "json_extract_scalar",
)


def masters(cores: int) -> list[tuple[str, str]]:
    """(label, master) at ``cores`` total cores: one JVM, then 2 and 4
    worker JVMs where they divide the cores. Worker memory splits 3/8 of
    the host between the workers."""
    out = [(f"local[{cores}]", f"local[{cores}]")]
    for n in (2, 4):
        if cores % n == 0:
            mb = int(HOST_MEM_GB * 1024 * 3 / 8 / n)
            out.append((f"local-cluster[{n},{cores // n}]",
                        f"local-cluster[{n},{cores // n},{mb}]"))
    return out


def executor_worker(master: str, sf_dir: str, cores: int) -> None:
    """Child process: the floor queries under one master, JSON to stdout
    (a JVM's master is fixed when its SparkContext starts)."""
    from pyspark.sql import SparkSession

    from quackspark.entry import queries

    builder = (
        SparkSession.builder.appName(f"scale-executors-{master}")
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", f"{max(1, int(HOST_MEM_GB / 4))}g")
    )
    if master.startswith("local-cluster"):
        mb = int(master.rstrip("]").split(",")[-1])
        builder = builder.config("spark.executor.memory", f"{mb * 3 // 4}m")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    qs = queries()
    out = {}
    for q in FLOORS:
        out[q] = spark_sec(spark, lambda: qs[q](spark, sf_dir))
        print(f"  {q}: {out[q]}s", file=sys.stderr)
    spark.stop()
    print(json.dumps(out))


def _executors_tier(rec: dict, tag: str, sf_dir: str) -> None:
    import pyspark

    env = dict(os.environ, PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))
    # local-cluster worker JVMs need SPARK_HOME to launch executors
    env.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
    row = tier_row(rec, tag)
    for cores in (HOST_CORES, HOST_CORES // 2):
        if cores < 1:
            continue
        section = row[f"{cores}_cores"] = {}
        for label, master in masters(cores):
            print(f"=== {cores} cores / {master}", file=sys.stderr)
            code = (f"from tools.scale import executor_worker; "
                    f"executor_worker({master!r}, {sf_dir!r}, {cores})")
            with stage(row, f"{cores}_cores {label}"):
                proc = subprocess.run(
                    [sys.executable, "-c", code], capture_output=True,
                    text=True, env=env, cwd=REPO, timeout=3600,
                )
            if proc.returncode != 0:
                print(proc.stderr[-4000:], file=sys.stderr)
                section[label] = {"error": proc.stderr[-500:]}
            else:
                section[label] = json.loads(proc.stdout.strip().splitlines()[-1])
        base = section[f"local[{cores}]"]
        if "error" not in base:
            section["ratio_vs_single_jvm"] = {
                label: {q: round(v[q] / base[q], 2) for q in FLOORS if v.get(q) and base.get(q)}
                for label, v in section.items()
                if label != f"local[{cores}]" and "error" not in v
            }
    rec["queries"] = list(FLOORS)
    rec["protocol"] = (
        "per-master subprocess; bench.warm_median (single run past "
        f"{ONE_RUN_ABOVE}s); total cores constant within a section"
    )


# --- pipeline ---------------------------------------------------------------


def _pipeline_stages(spark, sf_dir):
    """pipeline_training_prep_v3 cut into its stages, each a function of
    earlier stages' materialized outputs: (name, fn, indices of inputs)."""
    from pyspark.sql import functions as F

    from quackspark.functions import text as T
    from quackspark.operators import components as CC
    from quackspark.operators import dedup as D
    from quackspark.queries.dedup import N_HASHES
    from quackspark.queries.pipeline import (
        _EST_THRESHOLD, _QUALITY_THRESHOLD, _STOPWORDS, _temperature_mix_rollup,
    )
    from quackspark.session import load_table

    d = load_table(spark, sf_dir, "documents")

    def exact_dedup():
        fp = F.md5(F.concat_ws(" ", T.tokens(F.lower(F.col("text")))))
        surv_ids = (
            d.select("doc_id", fp.alias("fp"))
            .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        return d.join(surv_ids, "doc_id", "left_semi")

    def span_scrub(surv):
        scrubbed = D.span_scrub(surv, "text", "doc_id", window_tokens=15)
        return scrubbed.join(
            surv.select(F.col("doc_id").alias("doc"), "lang", "source"), "doc"
        ).select(
            F.col("doc").alias("doc_id"), F.col("kept_text").alias("text"),
            "lang", "source", "n_tokens", "n_removed",
        )

    def lsh_pairs(sdocs):
        return D.minhash_lsh_pairs(
            sdocs, "text", "doc_id", k=3, n_hashes=N_HASHES, bands=8,
            threshold=_EST_THRESHOLD,
        )

    def components(pairs):
        return CC.connected_components(pairs, "d1", "d2")

    def survivor_and_gates(sdocs, cc):
        docs = sdocs.select(F.col("doc_id").alias("doc"), F.length("text").alias("len"))
        lab = docs.join(cc, docs["doc"] == cc["node"], "left").select(
            "doc", "len", F.coalesce("comp", "doc").alias("comp")
        )
        best = lab.groupBy("comp").agg(
            F.min(F.struct((-F.col("len")).alias("nl"), F.col("doc").alias("d"))).alias("b")
        )
        kept = sdocs.join(best.select(F.col("b.d").alias("doc_id")), "doc_id", "left_semi")
        return (
            kept.filter(F.col("lang") == "en")
            .withColumn("_toks", T.tokens(F.col("text")))
            .withColumn("quality", F.round(T.quality_score_toks(
                F.col("text"), F.col("_toks"), _STOPWORDS["en"]), 6))
            .filter(F.col("quality") >= _QUALITY_THRESHOLD)
            .select("doc_id", "source", "quality",
                    F.size(F.col("_toks")).alias("_ntok"), "n_removed")
        )

    def mix_rollup(gated):
        return _temperature_mix_rollup(gated, removed_col="n_removed")

    return [
        ("exact_dedup", exact_dedup, ()),
        ("span_scrub", span_scrub, (0,)),
        ("lsh_pairs", lsh_pairs, (1,)),
        ("connected_components", components, (2,)),
        ("survivor_and_gates", survivor_and_gates, (1, 3)),
        ("mix_rollup", mix_rollup, (4,)),
    ]


def _pipeline_tier(rec: dict, tag: str, sf_dir: str) -> None:
    import bench

    from quackspark.queries import all_oracles, all_queries
    from quackspark.session import load_table

    spark = _spark()
    fn = all_queries()["pipeline_training_prep_v3"]
    rec["oracle_cap_s"] = ORACLE_CAP_S
    row = tier_row(rec, tag, "sizes")
    row["docs"] = load_table(spark, sf_dir, "documents").count()
    with stage(row, "fused"):
        row["fused_spark_sec"] = spark_sec(spark, lambda: fn(spark, sf_dir))
    # each stage materialized against the previous stages' checkpoints,
    # so a stage that stops scaling is named, not inferred
    mats: list = []
    for name, fn_s, deps in _pipeline_stages(spark, sf_dir):
        with stage(row, name) as rec_s:
            df = fn_s(*[mats[i] for i in deps]).localCheckpoint(eager=True)
            rec_s["rows"] = df.count()
        mats.append(df)
        print(f"  {tag} {name}: {rec_s}", file=sys.stderr, flush=True)
    for df in mats:
        df.unpersist()
    bench._drop_persisted(spark)
    if tag == "sf10":  # the mid tier, where a profiled re-run is affordable
        with stage(row, "metric_breakdown"):
            keep = ("shuffleRecordsWritten", "shuffleBytesWritten",
                    "numOutputRows", "shuffle bytes written", "records read")
            row["sf10_metric_breakdown"] = {
                f"{cls}.{m}": v
                for cls, ms in breakdown(fn(spark, sf_dir)).items()
                for m, v in ms.items() if any(k in m for k in keep)
            }
        bench._drop_persisted(spark)
    with stage(row, "duckdb"), duck(sf_dir) as con:
        put_duck(row, "", row["fused_spark_sec"],
                 *duck_time(con, all_oracles()["pipeline_training_prep_v3"]))
    # the committed field, now the process tree's peak over the Spark
    # stages (the DuckDB oracle runs inside this process)
    row["jvm_peak_rss_gb"] = max(
        s["peak_rss_gb"] for n, s in row["stages"].items() if n != "duckdb"
    )


# --- duplicate spans --------------------------------------------------------

#: The parity oracles find first occurrences and duplicates with window
#: functions over the corpus-wide hash — fastest at the small tiers, but
#: the window operator materializes its whole per-partition sort
#: workspace: at 5 M docs (206 M windows) it took 108 GB RSS and a 72 GB
#: spill disk under a 64 GB limit. A DuckDB user at that scale would
#: rewrite to the group-by + semi-join form below (identical rows; first
#: occurrence as a packed BIGINT min — a struct min measured ~7× slower),
#: so the sf100-equivalent tier times THAT as the DuckDB column and says
#: so. The window-free CTEs are not materialized on purpose: streaming
#: tok→pos→win twice costs CPU, but the only state held is the
#: distinct-hash aggregate and the dup-hash join build.
_LEAN_HEAD = r"""
    WITH tok AS (
        SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS t
        FROM documents
    ), pos AS (
        SELECT doc, t, unnest(range(0, len(t) - 15 + 1)) AS pos
        FROM tok WHERE len(t) >= 15
    ), win AS (
        SELECT doc, pos, md5(array_to_string(t[pos + 1 : pos + 15], ' ')) AS h
        FROM pos
    ), """
_LEAN_ISLANDS = r"""
    brk AS (
        SELECT doc, pos,
               CASE WHEN pos > coalesce(max(pos + 14) OVER (
                   PARTITION BY doc ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS brk
        FROM {src}
    ), isl AS (
        SELECT doc, pos,
               sum(brk) OVER (PARTITION BY doc ORDER BY pos) AS island
        FROM brk
    )"""
LEAN_ORACLES = {
    "dedup_duplicate_spans": _LEAN_HEAD + r"""hstat AS (
        SELECT h, count(*) AS c FROM win GROUP BY h
    ), dup AS (
        SELECT w.doc, w.pos FROM win w JOIN hstat g USING (h) WHERE g.c > 1
    ), """ + _LEAN_ISLANDS.format(src="dup") + r"""
    SELECT doc, min(pos) AS span_start, max(pos) + 14 AS span_end,
           count(*) AS n_windows
    FROM isl GROUP BY doc, island
    ORDER BY doc, span_start
""",
    "dedup_span_scrub": _LEAN_HEAD + r"""hstat AS (
        SELECT h, min(doc * 1048576 + pos) AS fkey, count(*) AS c
        FROM win GROUP BY h
    ), marked AS (
        SELECT w.doc, w.pos FROM win w JOIN hstat g USING (h)
        WHERE g.c > 1 AND w.doc * 1048576 + w.pos <> g.fkey
    ), """ + _LEAN_ISLANDS.format(src="marked") + r""", sp AS (
        SELECT doc, min(pos) AS s, max(pos) + 14 AS e
        FROM isl GROUP BY doc, island
    ), removed AS (
        SELECT doc, sum(e - s + 1) AS n_removed FROM sp GROUP BY doc
    ), toki AS (
        SELECT doc, t, unnest(range(0, len(t))) AS i FROM tok
    ), kept AS (
        SELECT y.doc, string_agg(y.t[y.i + 1], ' ' ORDER BY y.i) AS kept_text
        FROM toki y
        WHERE NOT EXISTS (
            SELECT 1 FROM sp
            WHERE sp.doc = y.doc AND y.i BETWEEN sp.s AND sp.e
        )
        GROUP BY y.doc
    ), scr AS (
        SELECT t.doc, CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
               coalesce(k.kept_text, '') AS kept_text
        FROM tok t
        LEFT JOIN removed r ON r.doc = t.doc
        LEFT JOIN kept k ON k.doc = t.doc
    )
    SELECT doc, n_tokens, n_removed, kept_text FROM scr ORDER BY doc
""",
}


def _dupspans_tier(rec: dict, tag: str, sf_dir: str) -> None:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from quackspark.operators import dedup as D
    from quackspark.queries import all_oracles, all_queries
    from quackspark.session import load_table

    spark, qs, osql = _spark(), all_queries(), all_oracles()
    docs = load_table(spark, sf_dir, "documents")
    row = tier_row(rec, tag, "sizes")
    row["docs"] = docs.count()
    # the volume of the operator's two shuffles: all windows, then the
    # duplicated ones
    with stage(row, "windows"):
        k = D._window_hash_kernel(15)
        windows = docs.select(
            F.col("doc_id").alias("doc"), F.explode(k(F.col("text"))).alias("w")
        ).select("doc", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
        row["windows"] = windows.count()
        row["windows_per_doc"] = round(row["windows"] / max(row["docs"], 1), 1)
        row["dup_windows"] = (
            windows.withColumn("c", F.count(F.lit(1)).over(W.partitionBy("h")))
            .filter(F.col("c") > 1).count()
        )
        row["dup_fraction"] = round(row["dup_windows"] / max(row["windows"], 1), 4)
    lean = tag == EXTENSION
    for name in ("dedup_duplicate_spans", "dedup_span_scrub"):
        with stage(row, name):
            s = row[f"{name}_spark_sec"] = spark_sec(spark, lambda: qs[name](spark, sf_dir))
        with stage(row, f"{name}_duckdb"), duck(sf_dir) as con:
            put_duck(row, f"{name}_", s,
                     *duck_time(con, LEAN_ORACLES[name] if lean else osql[name]))
            if lean:
                row[f"{name}_duckdb_form"] = (
                    "lean group-by rewrite (parity window form: "
                    "OOM >108GB / >72GB spill at this tier)"
                )
            if tag == "sf10":
                # the lean form's cost where both forms complete, so the
                # sf100-equivalent column is readable
                row[f"{name}_duckdb_lean_sec"] = duck_time(con, LEAN_ORACLES[name])[0]
            if tier_sf(tag) <= 0.1:
                # where diffing is cheap: lean rewrite == parity oracle
                a = con.execute(osql[name]).fetchall()
                b = con.execute(LEAN_ORACLES[name]).fetchall()
                assert a == b, f"lean rewrite diverges for {name}"
                row[f"{name}_lean_equivalent"] = True


# --- semantic dedup ---------------------------------------------------------


def _pair_budget(e, k: int) -> tuple[int, int, int]:
    """(Σ c(c−1)/2, max cluster, clusters over the banding knee): the
    no-banding upper bound from raw cluster sizes."""
    from pyspark.sql import functions as F

    from quackspark.operators import kmeans as KM
    from quackspark.operators import simsearch as S

    r = (
        KM.kmeans_assign(e, k=k, iters=2)
        .groupBy("cluster").agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.expr("c * (c - 1) / 2")).alias("pairs"),
            F.max("c").alias("mx"),
            F.sum((F.col("c") > S.SEM_BAND_CLUSTER_ROWS).cast("int")).alias("over"),
        )
        .collect()[0]
    )
    return int(r["pairs"]), int(r["mx"]), int(r["over"])


def _semdedup_run(e, n: int, mode: str) -> dict:
    from quackspark.operators import simsearch as S

    k = S.semantic_k(n) if mode == "adaptive" else 8
    pairs, mx, over = _pair_budget(e, k)
    admitted = S.semantic_pair_budget(e, n_rows=n, k=k)
    t0 = time.perf_counter()
    dups = S.semantic_dedup(e, n_rows=n, k=k).filter("dup_of IS NOT NULL").count()
    return {"n": n, "mode": mode, "k": k, "cand_pairs_exact": pairs,
            "pairs_per_row": round(pairs / n, 1), "max_cluster": mx,
            "clusters_over_knee": over, "banding_fired": over > 0,
            "admitted": admitted, "wall_s": round(time.perf_counter() - t0, 2),
            "dups": dups}


def sampled_recall(corpus, *, n: int, k: int, sample_per_class: int = 5_000,
                   threshold: float = 0.45) -> dict:
    """Sampled exact-neighbor recall where the full exact quadratic is
    infeasible.

    Run the shipped banded dedup once (localCheckpoint pins cluster
    assignment AND decisions), draw a deterministic md5-ordered sample of
    ``sample_per_class`` dropped + ``sample_per_class`` kept rows, and
    decide each sampled row exactly (∃ lower-id cluster-mate at cos ≥ τ,
    the operator's rule) by joining the broadcast sample against the full
    membership — Σ cluster-size-per-sample compares, not n². Admitted
    pairs are exact-verified, so dropped rows are true dups; the unknown
    is the kept-side miss fraction f_k, and recall = D / (D + f_k · K)
    with D/K the dropped/kept totals. The dropped sample is exact-checked
    too, as a subset sanity row (expect all exact)."""
    from pyspark.sql import functions as F

    from quackspark.operators import simsearch as S

    res = S.semantic_dedup(corpus, n_rows=n, k=k).localCheckpoint()
    by_kept = {r["kept"]: r["cnt"] for r in
               res.groupBy("kept").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    D, K = by_kept.get(False, 0), by_kept.get(True, 0)

    def draw(kept: bool):  # a distributed TopK, no full sort
        return (
            res.filter(F.col("kept") == kept)
            .orderBy(F.md5(F.col("vec_id").cast("string")))
            .limit(sample_per_class)
            .select("vec_id", "cluster", "kept")
        )

    samp = draw(True).unionByName(draw(False)).localCheckpoint()
    vecs = corpus.select(
        "vec_id", F.col("embedding").alias("vec"),
        S.norm(F.col("embedding")).alias("nrm"),
    )
    members = res.select("vec_id", "cluster").join(vecs, "vec_id")
    hits = (
        members.alias("m")
        .join(
            F.broadcast(samp.join(vecs, "vec_id")).alias("s"),
            (F.col("s.cluster") == F.col("m.cluster"))
            & (F.col("m.vec_id") < F.col("s.vec_id")),
        )
        .select(
            F.col("s.vec_id").alias("vec_id"),
            (F.round(S.dot_arrow(F.col("s.vec"), F.col("m.vec"))
                     / (F.col("s.nrm") * F.col("m.nrm")), 6)
             >= F.lit(threshold)).alias("hit"),
        )
        .groupBy("vec_id").agg(F.max("hit").alias("exact_dup"))
    )
    per = {
        r["kept"]: r
        for r in samp.join(hits, "vec_id", "left_outer")
        .na.fill({"exact_dup": False})
        .groupBy("kept")
        .agg(F.count(F.lit(1)).alias("n_samp"),
             F.sum(F.col("exact_dup").cast("int")).alias("n_exact_dup"))
        .collect()
    }
    n_kept = max(per[True]["n_samp"], 1)
    f_k = per[True]["n_exact_dup"] / n_kept
    se = math.sqrt(max(f_k * (1 - f_k), 1e-12) / n_kept)
    return {
        "n": n, "k": k, "dropped_total": D, "kept_total": K,
        "sample_per_class": sample_per_class,
        "kept_miss_fraction": round(f_k, 6),
        "kept_miss_fraction_se": round(se, 6),
        "est_missed_dups": int(f_k * K),
        "recall": round(D / max(D + f_k * K, 1), 5),
        "recall_low_2se": round(D / max(D + (f_k + 2 * se) * K, 1), 5),
        "dropped_sample_all_exact": per.get(False) is None
        or per[False]["n_exact_dup"] == per[False]["n_samp"],
    }


def _semdedup_tier(rec: dict, tag: str, sf_dir: str) -> None:
    from quackspark.operators import simsearch as S
    from quackspark.session import load_table

    rec.update(target_cluster=S.SEM_TARGET_CLUSTER, k_cap=S.SEM_K_CAP,
               band_knee_rows=S.SEM_BAND_CLUSTER_ROWS,
               split_rounds=S.SEM_SPLIT_ROUNDS, split_bits=S.SEM_SPLIT_BITS)
    e = load_table(_spark(), sf_dir, "embeddings")
    n = e.count()
    row = tier_row(rec, tag)
    with stage(row, "adaptive"):
        row.update(_semdedup_run(e, n, "adaptive"))
    if tag != EXTENSION:
        # fixed k=8 at the sf10 tier is only feasible because the banding
        # knee fires (25k-row clusters): this is the banding demonstration
        with stage(row, "fixed8"):
            row["fixed8"] = _semdedup_run(e, n, "fixed8")
    if tag == "sf10":
        # the largest tier where the exact path is feasible: banded dups
        # are a subset of exact dups (every admitted pair is a true pair),
        # so recall = dups_banded / dups_exact
        with stage(row, "recall_exact") as st:
            exact = (S.semantic_dedup(e, n_rows=n, k=row["k"], band=False)
                     .filter("dup_of IS NOT NULL").count())
        row["recall_200k"] = {
            "dups_exact": exact, "dups_banded": row["dups"],
            "recall": round(row["dups"] / max(exact, 1), 4),
            "exact_wall_s": st["sec"],
        }
    if tag == EXTENSION:
        # a 25% id-slice spans all ten perturbed copies, so the near-dup
        # family structure survives the cut
        row["recall_sampled"] = {}
        for label, corpus in (("500k", e.filter("vec_id % 4 = 0")), ("2M", e)):
            with stage(row, f"recall_sampled {label}") as st:
                m = corpus.count()
                r = sampled_recall(corpus, n=m, k=S.semantic_k(m))
            row["recall_sampled"][label] = dict(r, wall_s=st["sec"])


# --- BPE --------------------------------------------------------------------

BPE_MERGES = 32


def _bpe_row(df, row: dict) -> list:
    """Corpus size touches only the first pass (the word-frequency
    groupBy); every merge runs on the bounded distinct-word table, so the
    per-merge cost stays ~flat as the corpus grows."""
    from quackspark.operators.bpe import train_bpe, word_frequencies

    row["docs"] = df.count()
    with stage(row, "word_freq") as wf:
        row["distinct_words"] = word_frequencies(df, "text").count()
    with stage(row, "train") as tr:
        merges = train_bpe(df, "text", BPE_MERGES)
    # training includes its own first corpus pass; subtracting the
    # word-frequency wall isolates the merge loop
    loop = max(0.0, tr["sec"] - wf["sec"])
    row.update(word_freq_pass_s=wf["sec"], train_total_s=tr["sec"],
               merge_loop_s=round(loop, 3),
               per_merge_s=round(loop / max(1, len(merges)), 4),
               n_merges=len(merges),
               merges_head=["".join(m) for m in merges[:8]])
    return merges


def _bpe_tier(rec: dict, tag: str, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from quackspark.session import table_path

    rec["merges_requested"] = BPE_MERGES
    df = _spark().read.parquet(table_path(sf_dir, "documents"))
    merges = _bpe_row(df, tier_row(rec, tag))
    if tier_sf(tag) <= 0.1:
        # the tests' sequential oracle, replayed on the tier's corpus
        from tests.test_bpe import ref_train

        texts = [r["text"] for r in df.select("text").collect()]
        key = "matches_sequential_reference_" + tag.replace(".", "")
        rec[key] = ref_train(texts, BPE_MERGES) == merges
    if tag == "sf1":
        # pure replication keeps relative frequencies: identical merges
        rep = df.withColumn("r", F.explode(F.sequence(F.lit(1), F.lit(8)))).drop("r")
        rec["replication_preserves_merges"] = _bpe_row(rep, tier_row(rec, "sf1x8")) == merges


#: operator → (record, the fixture table a tier needs, tier function);
#: a tier function measures one tier into the record
OPERATORS = {
    "tpch_sf10": ("SCALE_TPCH_SF10.json", "lineitem", functools.partial(
        _queries_tier, TPCH_WEAK, native=True, breakdowns=TPCH_BREAKDOWN,
        # the formerly-exchange-bound queries the bucketed layout de-shuffles
        raw_layout=TPCH_BREAKDOWN + ("q21_waiting_supplier", "json_group_rollup"),
        # the settled month-major A/B: that layout is retired
        carried=("sort_ab", "sort_ab_reverse_order"),
    )),
    "json_events": ("SCALE_JSON_EVENTS.json", "events", functools.partial(
        _queries_tier, ("json_extract_scalar", "json_group_rollup"))),
    "sf10_demo": ("SCALE_SF10_DEMO.json", "lineitem", functools.partial(
        _queries_tier, DEMO, spark_only=("sim_embedding_neardup",),
        ratio_key="ratio_spark_vs_duckdb")),
    "executors": ("SCALE_EXECUTORS.json", "lineitem", _executors_tier),
    "pipeline": ("SCALE_PIPELINE.json", "documents", _pipeline_tier),
    "dupspans": ("SCALE_DUPSPANS.json", "documents", _dupspans_tier),
    "semdedup": ("SCALE_SEMDEDUP.json", "embeddings", _semdedup_tier),
    "bpe": ("SCALE_BPE.json", "documents", _bpe_tier),
}


def run(name: str, tags=()) -> dict:
    """Measure ``tags`` (default: the ladder) of one operator into its
    record, written after every tier so a failed large tier keeps the
    rest, and return the record."""
    from quackspark.session import table_path

    record, table, tier = OPERATORS[name]
    tags = list(tags) or list(LADDER)
    if EXTENSION in tags and tier_dir("sf10"):
        ensure_sf100()
    path = os.path.join(RECORD_DIR, record)
    rec: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            rec = json.load(f)
    rec["tool"] = f"tools/scale.py {name}"
    for tag in tags:
        sf_dir = tier_dir(tag)
        if sf_dir is None or not os.path.exists(table_path(sf_dir, table)):
            print(f"skip {tag}: no fixture", file=sys.stderr)
            continue
        tier(rec, tag, sf_dir)
        with open(path, "w") as f:
            json.dump(rec, f, indent=1)
        print(tag, "done", file=sys.stderr, flush=True)
    return rec


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in OPERATORS:
        print(__doc__, file=sys.stderr)
        return 2
    run(argv[0], argv[1:])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
