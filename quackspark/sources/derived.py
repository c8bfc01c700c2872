"""Derived storage layout — the engine's default physical table format.

The reference gets its fact-table speed from its own storage layer:
row-group zone maps, per-column compression, and decimals stored as
integers (duckdb-internal.hpp:3999-4002; DECIMAL physical types
duckdb.hpp:914). Spark reads whatever parquet it is handed, so the
equivalent engineering lever is the LAYOUT the engine writes for itself.
This module materializes, once per (sf_dir, table), a *derived twin* of
the hot fixture tables and `session.load_table` transparently substitutes
it — queries and their DuckDB oracles are unchanged, the twin is purely a
physical-plan win:

- ``lineitem`` / ``orders``: hash-bucketed on orderkey
  (sources/bucketing.py rationale) so every lineitem⋈orders join and
  per-order aggregation plans with NO exchange on the fact side — the
  r6 "bucketed twin" side-evidence promoted to the mainline path, and
  re-measured as the default at sf10 (SCALE_TPCH_SF10.json r7: q3
  11.6×→4.2×, q9 7.9×→3.8×, q10 4.0×→1.9×, q21 5.9×→2.2× vs single-node
  DuckDB, with a raw-layout A/B column). At 100 TB this is the
  pay-the-shuffle-once answer for a key joined by every query. r8:
  within each bucket rows sort by the table's DATE filter column first
  (shipdate resp. orderdate, then orderkey) — hash joins never exploit
  the within-bucket order, so it is free to spend on zone maps: with a
  materialized ``*_d`` DATE twin column (Spark cannot push TIMESTAMP_NTZ
  predicates — see the SPECS note) every date range predicate skips
  whole row groups/pages, the reference's min/max pruning
  (duckdb-internal.hpp:3999-4002) re-expressed on the engine-owned
  layout (measured sf10 same-session A/B: q6 0.63→0.23 s).
- ``lineitem`` additionally carries materialized micro-unit BIGINT
  columns for the money expressions every TPC-H-shaped query re-derives
  per row (`round(expr*1e6)::long` — exactly the order-independent
  exact-sum term `_util.dsum` computes). Summing a stored long is a pure
  whole-stage-codegen column scan; the per-row multiply + Round
  (BigDecimal on doubles in Spark) disappears from the hot loop, the
  same way the reference's DECIMAL arithmetic runs on stored int64.
- ``events``: the JSON payload is shredded at write (`props_k` =
  ``get_json_object(props,'$.k')``) so extraction queries read a
  columnar string instead of parsing JSON per access — the Spark-side
  analog of DuckDB's vectorized JSON reader + typed shredding
  (duckdb-7.cpp:4405 JSON extension surface).

Layout twins live under ``<repo>/localdata/derived/<tag>/<table>`` with a
``_QS_SPEC.json`` sidecar written LAST (the completeness marker; a dir
without it is a torn build and is rebuilt). Builds go to a pid-suffixed
temp dir then ``os.rename`` into place, so concurrent builders race
benignly. ``QUACKSPARK_DERIVED=0`` disables the whole mechanism (raw
parquet reads, for layout A/B measurements and plan tests).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LAYOUT_VERSION = 6

#: parquet row-group size for bucketed fact twins. Small enough that a
#: sub-100 MB bucket file still holds several row groups — min/max
#: row-group pruning (the reference's zone maps,
#: duckdb-internal.hpp:3999-4002) needs MULTIPLE groups per file to have
#: anything to skip; the within-bucket date sort makes their date ranges
#: disjoint. 16 MB ≈ DuckDB's 120k-row row-group granularity at TPC-H
#: widths, and at cluster scale buckets are ≥128 MB so the trade against
#: scan throughput stays small.
_FACT_ROW_GROUP_BYTES = 16 << 20

#: serializes twin builds within this process: the 16 MB
#: parquet.block.size below mutates the JVM-GLOBAL hadoopConfiguration
#: for the duration of the write, so two concurrent builds (or a build
#: racing a user parquet write on another thread) must not interleave
#: (ADVICE r8 #4). Cross-thread USER writes outside quackspark are not
#: covered — single-driver bench posture, documented here.
_BLOCKSIZE_LOCK = threading.Lock()

_SCALE = 1_000_000

#: repo-local root for derived twins (gitignored, like localdata/sf1)
DERIVED_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "localdata",
    "derived",
)


def _u(expr: F.Column) -> F.Column:
    """Micro-unit long term — identical to `_util.dsum`'s long-mode
    per-row term, so a stored column sums bit-identically to the
    query-time expression."""
    return F.round(expr * _SCALE).cast("long")


def _lineitem_derived_cols() -> dict[str, F.Column]:
    price, disc, tax = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    rev = price * (1 - disc)
    return {
        "l_qty_u": _u(F.col("l_quantity")),
        "l_eprice_u": _u(price),
        "l_disc_u": _u(disc),
        "l_rev_u": _u(rev),
        "l_charge_u": _u(rev * (1 + tax)),
        "l_edisc_u": _u(price * disc),
        "l_shipdate_d": F.col("l_shipdate").cast("date"),
        "l_ship_ym": _ym(F.col("l_shipdate")),
    }


def _ym(ts: F.Column) -> F.Column:
    """Month-granularity sort key (yyyy*100+mm INT) for the 'ym' sort
    policy. Kept as a materialized column under EVERY policy (the spec
    schema is policy-independent and the column is 4 bytes/row), but the
    r10 same-session sf10 A/B retired it as the default sort: month-major
    lost all seven measured queries to key-major (SCALE_TPCH_SF10.json
    `sort_ab`; see sort_policy's docstring). The r7/r8 measurements that
    motivated it (q6 0.63→0.23 s date-sorted) did not replicate under
    the same-JVM protocol — superseded per VERDICT r8 next #1."""
    return (F.year(ts) * 100 + F.month(ts)).cast("int")


def _orders_derived_cols() -> dict[str, F.Column]:
    return {
        "o_orderdate_d": F.col("o_orderdate").cast("date"),
        "o_order_ym": _ym(F.col("o_orderdate")),
    }


def _events_derived_cols() -> dict[str, F.Column]:
    return {"props_k": F.get_json_object(F.col("props"), "$.k")}


#: table → (bucket key or None, 'ym'-policy within-bucket sort columns,
#: derived-column factory or None). Under the DEFAULT 'key' policy the
#: sort is just the bucket key — the r10 same-session sf10 A/B showed
#: the date-leading sort loses every measured query (see sort_policy);
#: the ym columns stay materialized so the 'ym' policy remains one env
#: var away and the spec schema is policy-independent.
SPECS: dict[str, tuple[str | None, tuple[str, ...], object]] = {
    "lineitem": (
        "l_orderkey",
        ("l_ship_ym", "l_orderkey"),
        _lineitem_derived_cols,
    ),
    "orders": (
        "o_orderkey",
        ("o_order_ym", "o_orderkey"),
        _orders_derived_cols,
    ),
    "events": (None, (), _events_derived_cols),
}

#: NOTE on the `*_d` DATE twins of the timestamp filter columns: Spark's
#: parquet predicate pushdown has NO TimestampNTZType support (measured
#: this round: a pushed NTZ range filter over date-sorted 1 MB row groups
#: still scans every row; the identical INT32 DATE filter reads only the
#: matching pages), and the fixture stores its dates as timestamp[µs]
#: NTZ. A cast-on-read would kill pushdown and an LTZ rewrite would
#: change wall values in non-UTC sessions, so the layout materializes the
#: session-independent wall DATE alongside — queries add a redundant
#: SUPERSET date predicate next to the exact timestamp one
#: (queries/_util.day_bound), which is what actually reaches the zone
#: maps.

def bucket_count(sf_dir: str) -> int:
    """Bucket count for one sf_dir's fact tables — sized from the raw
    lineitem bytes so every bucketed table in the dir agrees (co-located
    joins require equal counts). Small fixtures get few buckets: a bucket
    is one unsplittable scan task, and 32 sub-MB files cost more in task
    scheduling than they buy in parallelism (measured: q9 at sf0.1 +0.4 s
    with 32 buckets vs raw's 3 packed splits). On a real cluster the same
    policy lands at hundreds of ~128 MB+ buckets."""
    try:
        li = os.path.join(sf_dir, "lineitem.parquet")
        size = (
            os.path.getsize(li)
            if os.path.isfile(li)
            else sum(
                os.path.getsize(os.path.join(li, f)) for f in os.listdir(li)
            )
        )
    except OSError:
        return 32
    # measured A/B (this repo, local[32]): 8 buckets beats 32 at sf1
    # (110 MB lineitem: q21 0.94 s vs 1.27 s, q10 0.76 s vs 1.09 s) — the
    # per-bucket work is still sub-second so fewer, fuller buckets win;
    # at sf10 (1.1 GB) 32 buckets carries the measured SCALE record
    return 32 if size >= 512 << 20 else 8


def enabled() -> bool:
    return os.environ.get("QUACKSPARK_DERIVED", "1") != "0"


def sort_policy() -> str:
    """Within-bucket sort policy for the fact tables: 'key'
    (bucket-key-major — the v6 DEFAULT) or 'ym' (the v5 ordering —
    month-major (date_ym, key)). QUACKSPARK_SORT_POLICY flips it; twins
    of different policies live in separate dirs/tables so a single
    session can A/B them.

    Why 'key' is the default (r10, VERDICT r8 next #1): the same-session
    sf10 A/B (SCALE_TPCH_SF10.json `sort_ab`) shows month-major LOSES
    every measured query — the join family hard (q3 +76%, q21 +63%,
    q1 +52%) and even the date-filter "wins" it was built for (q6 +25%,
    q5 +32%, q10 +36%). The fixture's dates are uncorrelated with
    orderkeys, so month-major scatters each order's lines across the
    bucket (every per-order agg/join pays it), while its pruning payoff
    never materializes at these absolutes — worse, pruning CONCENTRATES
    the surviving row groups on few of the 32 fixed-parallelism tasks
    where the unsorted scan decodes on all of them. Out-of-range date
    predicates (q6's 1994 window on the 1995+ fixture) still prune via
    footer min/max regardless of sort order — plan-asserted in
    tests/test_derived_layout.py."""
    return os.environ.get("QUACKSPARK_SORT_POLICY", "key")


def layout_tag(sf_dir: str) -> str:
    tag = re.sub(r"[^A-Za-z0-9]+", "_", os.path.realpath(sf_dir)).strip("_")
    pol = sort_policy()
    return tag if pol == "key" else f"{tag}__{pol}"


def derived_path(sf_dir: str, name: str) -> str:
    return os.path.join(DERIVED_ROOT, layout_tag(sf_dir), name)


def _spec_path(path: str) -> str:
    return os.path.join(path, "_QS_SPEC.json")


def _source_fingerprint(sf_dir: str, name: str) -> str:
    """(size, mtime) digest of the raw parquet — a regenerated fixture
    (tools/make_sf1.py rewrites localdata/sf1 in place) must invalidate
    its twin, or load_table would silently serve stale data."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isfile(p):
            st = os.stat(p)
            return f"{st.st_size}:{st.st_mtime_ns}"
        parts = sorted(
            (f, os.stat(os.path.join(p, f)))
            for f in os.listdir(p)
            if not f.startswith(".")
        )
        return ";".join(f"{f}:{st.st_size}:{st.st_mtime_ns}" for f, st in parts)
    except OSError:
        return "missing"


def _read_spec(path: str, expect_fingerprint: str | None = None) -> dict | None:
    try:
        with open(_spec_path(path)) as f:
            spec = json.load(f)
        if spec.get("version") != LAYOUT_VERSION:
            return None
        if (
            expect_fingerprint is not None
            and spec.get("source_fingerprint") != expect_fingerprint
        ):
            return None  # raw fixture regenerated under the twin — rebuild
        if spec.get("bucket_key") and spec.get("sort_policy") != sort_policy():
            # belt-and-braces beyond the per-policy dir split: a twin
            # built under another sort policy must never be served as
            # this one's (the catalog SORTED BY claim would be wrong)
            return None
        return spec
    except (OSError, ValueError):
        return None


def _table_name(sf_dir: str, name: str) -> str:
    return f"qs_drv_{layout_tag(sf_dir)}_{name}".lower()


def _build(
    spark: SparkSession,
    raw: DataFrame,
    sf_dir: str,
    name: str,
    unit: str,
    key: str | None,
    col_factory,
    sort_cols: tuple[str, ...] = (),
) -> dict:
    """Materialize one layout unit (a table twin or a projection of it)
    atomically; returns the spec it wrote."""
    df = raw
    if col_factory is not None:
        for cname, cexpr in col_factory().items():
            df = df.withColumn(cname, cexpr)
    final = derived_path(sf_dir, unit)
    tmp = f"{final}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    n_buckets = bucket_count(sf_dir)
    if key is None:
        df.write.mode("overwrite").parquet(tmp)
    else:
        sort_cols = sort_cols or (key,)
        tmp_table = f"qs_drv_build_{os.getpid()}_{name}"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
        # parquet.block.size must go through the hadoop conf — a
        # DataFrameWriter .option is not forwarded on the saveAsTable
        # path (measured: a 30 MB bucket came back as one 753k-row group)
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        with _BLOCKSIZE_LOCK:
            prev_block = hconf.get("parquet.block.size")
            hconf.setInt("parquet.block.size", _FACT_ROW_GROUP_BYTES)
            try:
                (
                    df.repartition(n_buckets, F.col(key))
                    .write.mode("overwrite")
                    .bucketBy(n_buckets, key)
                    .sortBy(*sort_cols)
                    .option("path", tmp)
                    .format("parquet")
                    .saveAsTable(tmp_table)
                )
            finally:
                if prev_block is None:
                    hconf.unset("parquet.block.size")
                else:
                    hconf.set("parquet.block.size", prev_block)
        # external table: DROP removes only the catalog entry, files stay
        spark.sql(f"DROP TABLE {tmp_table}")
    spec = {
        "version": LAYOUT_VERSION,
        "table": name,
        "bucket_key": key,
        "buckets": n_buckets if key else None,
        "sort_cols": list(sort_cols) if key else [],
        "sort_policy": sort_policy() if key else None,
        "orig_cols": list(raw.columns),
        "schema_ddl": df._jdf.schema().toDDL(),
        "source_fingerprint": _source_fingerprint(sf_dir, name),
        # storage accounting for the projection budget (SCALE.md "Known
        # scale limits"; r7 verdict "what's wrong" #2: every twin /
        # secondary projection is a full table copy and its cost must be
        # visible in the spec sidecar)
        "storage_bytes": _dir_bytes(tmp),
    }
    with open(_spec_path(tmp), "w") as f:
        json.dump(spec, f)
    _swap_into_place(tmp, final, spec["source_fingerprint"])
    return _read_spec(final) or spec


def _swap_into_place(tmp: str, final: str, expect_fp: str) -> None:
    """Publish a fully-built unit dir atomically, replacing a stale or
    torn `final` without ever deleting a concurrent FRESH build: the only
    dir this function rmtree's is one it first renamed aside to a private
    trash name, so a fresh twin another process renamed into place between
    our spec check and the delete can never be the delete target (r7
    ADVICE: the old invalidate-then-build path rmtree'd `final` directly
    and could vanish a just-published twin under a registered catalog
    table)."""
    try:
        os.rename(tmp, final)
        return
    except OSError:
        pass
    if _read_spec(final, expect_fp) is not None:
        # concurrent builder published an up-to-date twin — use theirs
        shutil.rmtree(tmp, ignore_errors=True)
        return
    trash = f"{final}.stale.{os.getpid()}"
    shutil.rmtree(trash, ignore_errors=True)
    try:
        os.rename(final, trash)
    except OSError:
        pass  # someone else moved/removed it between the check and here
    else:
        if _read_spec(trash, expect_fp) is not None:
            # ADVICE r8 #3: what we renamed aside is a CONCURRENT FRESH
            # build published between our spec check and the rename —
            # re-check the fingerprint on the trash dir before any
            # rmtree and put theirs back instead of deleting it
            try:
                os.rename(trash, final)
            except OSError:
                shutil.rmtree(trash, ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
            return
        shutil.rmtree(trash, ignore_errors=True)
    try:
        os.rename(tmp, final)
    except OSError:
        # lost the final race to another fresh build — theirs is equivalent
        shutil.rmtree(tmp, ignore_errors=True)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _register(spark: SparkSession, sf_dir: str, unit: str, spec: dict) -> DataFrame:
    """Catalog-register (bucketed) or plain-read (unbucketed) a built unit."""
    path = derived_path(sf_dir, unit)
    if spec["bucket_key"] is None:
        return spark.read.parquet(path)
    tbl = _table_name(sf_dir, unit)
    if not spark.catalog.tableExists(tbl):
        key, n = spec["bucket_key"], spec["buckets"]
        # SORTED BY must state the ACTUAL file order (date-leading) — a
        # catalog claim of a different order would license sort-free
        # merge plans over unsorted-for-that-key data
        sort = ", ".join(spec.get("sort_cols") or [key])
        spark.sql(
            f"CREATE TABLE {tbl} ({spec['schema_ddl']}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({sort}) INTO {n} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(tbl)


def _ensure_unit(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    unit: str,
    key: str | None,
    col_factory,
    raw: DataFrame,
    sort_cols: tuple[str, ...] = (),
) -> DataFrame:
    path = derived_path(sf_dir, unit)
    spec = _read_spec(path, _source_fingerprint(sf_dir, name))
    if spec is None:
        if os.path.exists(path):
            # stale version / torn build: deregister the catalog entry
            # (schema may change across layout versions); the stale DIR is
            # replaced only after the fresh build is complete
            # (_swap_into_place), so concurrent readers of the old twin
            # lose it for microseconds, not for the build duration
            spark.sql(f"DROP TABLE IF EXISTS {_table_name(sf_dir, unit)}")
        spec = _build(
            spark, raw, sf_dir, name, unit, key, col_factory, sort_cols
        )
    return _register(spark, sf_dir, unit, spec), spec


def ensure_projection(
    spark: SparkSession, sf_dir: str, name: str, key: str, raw: DataFrame
) -> DataFrame | None:
    """A *projection* of `name`: the same rows persisted bucketed+sorted
    on a DIFFERENT key (C-Store/Vertica projections; the reference's ART
    index on a secondary column plays this role, duckdb-internal.hpp ART
    surface). Built on first use next to the primary twin as
    ``<name>__by_<key>``; None when disabled or on any failure."""
    if not enabled():
        return None
    try:
        full, _ = _ensure_unit(
            spark, sf_dir, name, f"{name}__by_{key}", key, None, raw
        )
        return full
    except Exception as exc:  # pragma: no cover - defensive fallback
        print(
            f"quackspark: projection {name} by {key} unavailable ({exc})",
            file=sys.stderr,
        )
        return None


def ensure_derived(
    spark: SparkSession, sf_dir: str, name: str, raw: DataFrame
) -> tuple[DataFrame, DataFrame] | None:
    """Return ``(original_surface_df, full_twin_df)`` for `name`, building
    the twin on first use. None when the mechanism is disabled, the table
    has no layout spec, or anything fails (callers fall back to raw —
    layout must never break correctness)."""
    if not enabled() or name not in SPECS:
        return None
    try:
        key, sort_cols, col_factory = SPECS[name]
        if key and sort_policy() == "key":
            sort_cols = (key,)  # the v6 default: bucket-key-major
        full, spec = _ensure_unit(
            spark, sf_dir, name, name, key, col_factory, raw, sort_cols
        )
        surface = full.select(*spec["orig_cols"])
        return surface, full
    except Exception as exc:  # pragma: no cover - defensive fallback
        print(f"quackspark: derived layout for {name} unavailable ({exc}); "
              f"reading raw parquet", file=sys.stderr)
        return None
