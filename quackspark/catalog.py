"""Catalog introspection table functions (reference: `duckdb_tables()`,
`duckdb_views()`, `duckdb_schemas()`, `duckdb_columns()`, `duckdb_functions()`
and SQLite-compat `pragma_table_info`, duckdb-6.cpp:14150-14176) mapped onto
`spark.catalog`, returned as DataFrames so they compose with any query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import AnalysisException

from quackspark.session import local_frame


def _list_tables(spark: SparkSession) -> list[tuple]:
    """``spark.catalog.listTables()`` as (catalog, schema, name, type,
    temporary) rows. A commit-log table reads through a temp view over its
    snapshot (quackspark/versioned.py) but is a base table: it lists as a
    ``MANAGED`` table of the default schema."""
    from quackspark import versioned

    rows = []
    for t in spark.catalog.listTables():
        if t.isTemporary and versioned.registered_version(t.name) is not None:
            rows.append(("spark_catalog", "default", t.name, "MANAGED", False))
        else:
            rows.append((t.catalog, t.namespace[0] if t.namespace else None,
                         t.name, t.tableType, t.isTemporary))
    return rows


def duckdb_tables(spark: SparkSession) -> DataFrame:
    """Tables/views visible in the current catalog."""
    rows = _list_tables(spark)
    return local_frame(
        spark,
        rows,
        "catalog_name string, schema_name string, table_name string, "
        "table_type string, temporary boolean",
    )


def duckdb_views(spark: SparkSession) -> DataFrame:
    return duckdb_tables(spark).filter("temporary OR table_type = 'VIEW'")


def duckdb_schemas(spark: SparkSession) -> DataFrame:
    rows = [(d.catalog, d.name) for d in spark.catalog.listDatabases()]
    return local_frame(spark, rows, "catalog_name string, schema_name string")


def duckdb_columns(spark: SparkSession, table: str) -> DataFrame:
    """Column metadata for one table (the reference's duckdb_columns filtered,
    also pragma table_info)."""
    rows = [
        (table, i, c.name, c.dataType, c.nullable)
        for i, c in enumerate(spark.catalog.listColumns(table))
    ]
    return local_frame(
        spark,
        rows,
        "table_name string, column_index int, column_name string, "
        "data_type string, is_nullable boolean",
    )


def duckdb_constraints(spark: SparkSession) -> DataFrame:
    """The reference's ``duckdb_constraints()`` over the r6 enforcement
    registries: one row per enforced constraint (PRIMARY KEY / UNIQUE /
    NOT NULL / CHECK / FOREIGN KEY) with its column/expression text."""
    from quackspark.ddl import (
        TABLE_CHECKS,
        TABLE_FKEYS,
        TABLE_NOTNULL,
        TABLE_PKEYS,
        TABLE_UNIQUES,
    )

    rows: list[tuple[str, str, str]] = []
    for t, cols in TABLE_NOTNULL.items():
        rows.extend((t, "NOT NULL", c) for c in cols)
    for t, sets in TABLE_UNIQUES.items():
        pk = TABLE_PKEYS.get(t)
        for i, ks in enumerate(sets):
            kind = "PRIMARY KEY" if i == 0 and pk == ks else "UNIQUE"
            rows.append((t, kind, ", ".join(ks)))
    for t, exprs in TABLE_CHECKS.items():
        rows.extend((t, "CHECK", e) for e in exprs)
    for t, fks in TABLE_FKEYS.items():
        for fk in fks:
            pcols = fk["pcols"] or TABLE_PKEYS.get(fk["parent"], [])
            rows.append((
                t,
                "FOREIGN KEY",
                f"{', '.join(fk['cols'])} -> {fk['parent']}({', '.join(pcols)})",
            ))
    return local_frame(
        spark,
        sorted(rows),
        "table_name string, constraint_type string, constraint_text string",
    )


def duckdb_sequences(spark: SparkSession) -> DataFrame:
    """The reference's ``duckdb_sequences()`` (duckdb-6.cpp:14150-14176
    catalog family) over the sequence registry: name, bounds, increment,
    cycle flag and the next-dispensed value (last_value is NULL until the
    first nextval, like the engine)."""
    from quackspark.sqlfront import _SEQUENCES

    rows = [
        (
            name,
            s["start"],
            s.get("min", 1 if s["inc"] > 0 else -(2**63 - 1)),
            s.get("max", 2**63 - 1 if s["inc"] > 0 else -1),
            s["inc"],
            bool(s.get("cycle", False)),
            s["last"],
        )
        for name, s in sorted(_SEQUENCES.items())
    ]
    return local_frame(
        spark,
        rows,
        "sequence_name string, start_value long, min_value long, "
        "max_value long, increment_by long, cycle boolean, last_value long",
    )


def duckdb_functions(spark: SparkSession) -> DataFrame:
    """Registered function inventory (built-ins + ours)."""
    rows = [(f.name, f.isTemporary) for f in spark.catalog.listFunctions()]
    return local_frame(spark, rows, "function_name string, temporary boolean")


def duck_type_name(dt) -> str:
    """Render a Spark DataType in DuckDB's type spelling (the names
    DESCRIBE prints — duckdb.hpp LogicalType::ToString): INTEGER /
    BIGINT / VARCHAR / DOUBLE / FLOAT[] / STRUCT(a INTEGER, …) …"""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return f"{duck_type_name(dt.elementType)}[]"
    if isinstance(dt, T.MapType):
        return (
            f"MAP({duck_type_name(dt.keyType)}, "
            f"{duck_type_name(dt.valueType)})"
        )
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {duck_type_name(f.dataType)}" for f in dt.fields
        )
        return f"STRUCT({inner})"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    return {
        "byte": "TINYINT",
        "short": "SMALLINT",
        "int": "INTEGER",
        "integer": "INTEGER",
        "long": "BIGINT",
        "bigint": "BIGINT",
        "float": "FLOAT",
        "double": "DOUBLE",
        "string": "VARCHAR",
        "boolean": "BOOLEAN",
        "binary": "BLOB",
        "date": "DATE",
        "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP",
        "void": '"NULL"',
    }.get(dt.simpleString(), dt.simpleString().upper())


def describe_frame(df: DataFrame) -> DataFrame:
    """``DESCRIBE SELECT …``: the query's output schema in DESCRIBE's
    six-column shape — null is YES and key/default/extra are NULL, as
    the reference prints for derived relations."""
    spark = df.sparkSession
    rows = [
        (f.name, duck_type_name(f.dataType), "YES", None, None, None)
        for f in df.schema.fields
    ]
    return local_frame(
        spark,
        rows,
        "column_name string, column_type string, null string, "
        "key string, default string, extra string",
    )


def describe_relation(spark: SparkSession, table: str) -> DataFrame:
    """``DESCRIBE t`` / ``SHOW t`` (the vendored PG grammar maps both
    spellings onto the same table function, duckdb-libpg_query.cpp):
    column_name / column_type / null / key / default / extra, with
    null='NO' for PRIMARY KEY or NOT NULL columns, key='PRI'/'UNI',
    and the raw DEFAULT text — all read from the ddl.py enforcement
    registries, so tables created through the frontend describe exactly
    like the reference's."""
    from quackspark import ddl

    key = table.lower()
    if key not in ddl.TABLE_PKEYS and key not in ddl.TABLE_NOTNULL:
        key = key.split(".")[-1]
    pk = set(ddl.TABLE_PKEYS.get(key, []))
    nn = set(ddl.TABLE_NOTNULL.get(key, []))
    uq = {
        c
        for ks in ddl.TABLE_UNIQUES.get(key, [])
        if ks != ddl.TABLE_PKEYS.get(key)
        for c in ks
    }
    defaults = ddl.TABLE_DEFAULTS.get(key, {})

    def _default_text(raw):
        # DuckDB's DESCRIBE prints the BOUND default, which normalizes
        # boolean literals through a cast ('false' → CAST('f' AS
        # BOOLEAN)); numeric/string/NULL literals print as written
        # (pinned by the fuzz_ddl DESCRIBE probe against live DuckDB)
        if raw is None:
            return None
        low = raw.strip().lower()
        if low == "true":
            return "CAST('t' AS BOOLEAN)"
        if low == "false":
            return "CAST('f' AS BOOLEAN)"
        return raw.strip()

    rows = []
    for f in spark.table(table).schema.fields:
        c = f.name.lower()
        rows.append(
            (
                f.name,
                duck_type_name(f.dataType),
                "NO" if c in pk or c in nn else "YES",
                "PRI" if c in pk else ("UNI" if c in uq else None),
                _default_text(defaults.get(c)),
                None,
            )
        )
    return local_frame(
        spark,
        rows,
        "column_name string, column_type string, null string, "
        "key string, default string, extra string",
    )


#: engine-internal table-name prefix (the derived-layout twin tables,
#: sources/derived.py) — hidden from SHOW output the way the reference
#: hides its internal storage tables
_INTERNAL_PREFIX = "qs_drv_"


def show_all_tables(spark: SparkSession) -> DataFrame:
    """``SHOW ALL TABLES`` / bare ``DESCRIBE``: one row per visible
    table with its column name/type lists (reference output: database,
    schema, name, column_names, column_types, temporary)."""
    rows = []
    for catalog, schema, name, _, temporary in _list_tables(spark):
        if name.startswith(_INTERNAL_PREFIX):
            continue
        try:
            fields = spark.table(name).schema.fields
        except AnalysisException:
            # a dangling temp view (its underlying table was dropped)
            # still LISTS in the reference's SHOW ALL TABLES — keep the
            # entry visible with empty column lists rather than
            # silently dropping it (ADVICE r11)
            fields = []
        rows.append(
            (
                catalog or "spark_catalog",
                schema or "main",
                name,
                [f.name for f in fields],
                [duck_type_name(f.dataType) for f in fields],
                bool(temporary),
            )
        )
    rows.sort(key=lambda r: (r[0], r[1], r[2]))
    return local_frame(
        spark,
        rows,
        "database string, schema string, name string, "
        "column_names array<string>, column_types array<string>, "
        "temporary boolean",
    )


def pragma_table_info(spark: SparkSession, table: str) -> DataFrame:
    """SQLite-compat `PRAGMA table_info('t')` (registered by the reference
    at duckdb-6.cpp:14150-14176): cid, name, type, notnull, dflt_value, pk.
    Spark has no column defaults or primary keys on views — those render
    NULL/false like the reference does for tables without them."""
    rows = [
        (i, c.name, c.dataType, not c.nullable, None, False)
        for i, c in enumerate(spark.catalog.listColumns(table))
    ]
    return local_frame(
        spark,
        rows,
        "cid int, name string, type string, notnull boolean, "
        "dflt_value string, pk boolean",
    )


def summarize(df: DataFrame, exact_distinct: bool = False) -> DataFrame:
    """`SUMMARIZE rel` (reference `summary` table function,
    duckdb-6.cpp:9489-9496): per-column min / max / unique-count /
    null-count / row-count profile.

    One distributed aggregation pass over the input (single global agg →
    one reduce to a 1-row frame), then a `stack` unpivot — no per-column
    jobs, no driver materialization of data rows. `exact_distinct=False`
    uses HyperLogLog approx_count_distinct, matching the reference's
    approx_unique choice and the only sane option at 100 TB."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    fields = df.schema.fields
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, f in enumerate(fields):
        c = F.col(f.name)
        orderable = not isinstance(
            f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
        )
        countable = not isinstance(f.dataType, T.MapType)
        mn = F.min(c).cast("string") if orderable else F.lit(None).cast("string")
        mx = F.max(c).cast("string") if orderable else F.lit(None).cast("string")
        if countable:
            uq = (
                F.countDistinct(c) if exact_distinct else F.approx_count_distinct(c)
            ).cast("long")
        else:
            uq = F.lit(None).cast("long")
        aggs += [
            mn.alias(f"__min_{i}"),
            mx.alias(f"__max_{i}"),
            uq.alias(f"__uq_{i}"),
            F.sum(c.isNull().cast("long")).alias(f"__nul_{i}"),
        ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{f.name}', '{f.dataType.simpleString()}', "
        f"`__min_{i}`, `__max_{i}`, `__uq_{i}`, `__nul_{i}`"
        for i, f in enumerate(fields)
    )
    return row.select(
        F.expr(
            f"stack({len(fields)}, {stack_args}) AS "
            "(column_name, column_type, min, max, approx_unique, null_count)"
        ),
        F.col("__n").alias("count"),
    )


#: last explain_analyze result rows, surfaced via
#: PRAGMA last_profiling_output (reference pragma_last_profiling_output,
#: duckdb-6.cpp:14156-14157)
_LAST_PROFILE: list[tuple] = []


def explain_analyze(df: DataFrame, run: bool = True) -> DataFrame:
    """Profiled execution: run ``df`` and return one row per
    (operator, metric) from Spark's SQLMetrics — the portability surface
    for the reference's ``PRAGMA last_profiling_output``
    (duckdb-6.cpp:14156-14157): operator-level row counts, timings,
    memory and shuffle volumes, rather than plan text.

    Columns: ``op_id`` (preorder position), ``depth`` (tree depth, AQE
    stages flattened), ``operator`` (physical node name), ``metric``,
    ``value`` (long; SQLMetric raw value — times are in the metric's
    native unit, ns for shuffle write, ms for most timings).

    The walk descends into AdaptiveSparkPlan's executed plan and each
    materialized QueryStage, so post-AQE reality is reported, not the
    initial plan. Metrics accumulate on THIS DataFrame's query execution;
    ``run=False`` reports whatever a previous action already populated
    (zeros if never executed)."""
    if run:
        # execute THIS DataFrame's queryExecution without collecting rows
        # to the driver (df.count()/collect() would profile fine too, but
        # toRdd().count() keeps the result distributed — 100 TB safe)
        df._jdf.queryExecution().toRdd().count()
    node = df._jdf.queryExecution().executedPlan()
    rows: list[tuple] = []
    seq = [0]

    def walk(n, depth: int) -> None:
        name = n.nodeName()
        op = seq[0]
        seq[0] += 1
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            rows.append((op, depth, name, kv._1(), int(kv._2().value())))
        if name == "AdaptiveSparkPlan":
            walk(n.executedPlan(), depth + 1)
            return
        if "QueryStage" in name:
            walk(n.plan(), depth + 1)
            return
        ch = n.children()
        for i in range(ch.size()):
            walk(ch.apply(i), depth + 1)
        # a broadcast-exchange feeding a reused subtree appears once;
        # ReusedExchange nodes intentionally keep their single metric set

    walk(node, 0)
    global _LAST_PROFILE
    _LAST_PROFILE = rows
    return local_frame(
        df.sparkSession,
        rows,
        "op_id int, depth int, operator string, metric string, value long",
    )


def last_profiling_output(spark: SparkSession) -> DataFrame:
    """The most recent explain_analyze result (PRAGMA
    last_profiling_output)."""
    return local_frame(
        spark, _LAST_PROFILE or [(0, 0, "<none>", "<no profiled query>", 0)],
        "op_id int, depth int, operator string, metric string, value long",
    )


def pragma_version(spark: SparkSession) -> DataFrame:
    """`PRAGMA version` / `FROM pragma_version()` (reference
    duckdb-6.cpp:14150-14176): (library_version, source_id). Reports this
    engine's own identity — faking the reference's version string would
    mislead version-gated client code."""
    import pyspark

    return local_frame(
        spark, [(f"quackspark (spark {pyspark.__version__})", "quackspark")],
        "library_version string, source_id string",
    )


def pragma_platform(spark: SparkSession) -> DataFrame:
    """`FROM pragma_platform()`: the reference's <os>_<arch> spelling."""
    import platform as _pf

    os_ = _pf.system().lower()
    arch = {"x86_64": "amd64", "aarch64": "arm64"}.get(
        _pf.machine(), _pf.machine()
    )
    return local_frame(spark, [(f"{os_}_{arch}",)], "platform string")


def pg_timezone_names(spark: SparkSession) -> DataFrame:
    """`FROM pg_timezone_names()` (reference ICU extension surface):
    (name, abbrev, utc_offset, is_dst) for every zone in the session's
    tz database (IANA via zoneinfo — the reference uses ICU's list; the
    shared names agree, each engine also carries catalog-only aliases)."""
    import datetime as _dt
    import zoneinfo

    now = _dt.datetime.now(_dt.timezone.utc)
    rows = []
    for name in sorted(zoneinfo.available_timezones()):
        try:
            tz = zoneinfo.ZoneInfo(name)
            loc = now.astimezone(tz)
            off = loc.utcoffset() or _dt.timedelta(0)
            dst = loc.dst() or _dt.timedelta(0)
            rows.append((name, loc.tzname() or name, off,
                         dst != _dt.timedelta(0)))
        except Exception:
            continue
    return local_frame(
        spark,
        rows,
        "name string, abbrev string, utc_offset interval day to second, "
        "is_dst boolean",
    )


def parquet_file_metadata(spark: SparkSession, path: str) -> DataFrame:
    """`FROM parquet_file_metadata('p')` (reference parquet extension):
    file-level footer facts via pyarrow — column names and order match
    the reference's."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    return local_frame(
        spark,
        [(
            path,
            md.created_by,
            md.num_rows,
            md.num_row_groups,
            int(str(md.format_version).split(".")[0]),
            None,
            None,
        )],
        "file_name string, created_by string, num_rows bigint, "
        "num_row_groups bigint, format_version bigint, "
        "encryption_algorithm string, footer_signing_key_metadata string",
    )


def parquet_metadata(spark: SparkSession, path: str) -> DataFrame:
    """`FROM parquet_metadata('p')`: one row per (row group × column
    chunk) with stats/encodings/offsets — the reference's column set,
    filled from pyarrow's footer view (fields pyarrow does not expose —
    distinct counts, legacy stats blobs — are NULL, as they commonly are
    in the reference too)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    rows = []
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            st = col.statistics
            rows.append((
                path, rg_i, rg.num_rows, rg.num_columns, rg.total_byte_size,
                c_i, col.file_offset, col.num_values,
                ".".join(col.path_in_schema.split(".")),
                str(col.physical_type),
                None, None,
                st.null_count if st and st.has_null_count else None,
                st.distinct_count if st and st.has_distinct_count else None,
                str(st.min) if st and st.has_min_max else None,
                str(st.max) if st and st.has_min_max else None,
                str(col.compression),
                ", ".join(str(e) for e in col.encodings),
                None,
                col.dictionary_page_offset,
                col.data_page_offset,
                col.total_compressed_size,
                col.total_uncompressed_size,
                {},
            ))
    return local_frame(
        spark,
        rows,
        "file_name string, row_group_id bigint, row_group_num_rows bigint, "
        "row_group_num_columns bigint, row_group_bytes bigint, "
        "column_id bigint, file_offset bigint, num_values bigint, "
        "path_in_schema string, type string, stats_min string, "
        "stats_max string, stats_null_count bigint, "
        "stats_distinct_count bigint, stats_min_value string, "
        "stats_max_value string, compression string, encodings string, "
        "index_page_offset bigint, dictionary_page_offset bigint, "
        "data_page_offset bigint, total_compressed_size bigint, "
        "total_uncompressed_size bigint, "
        "key_value_metadata map<string,string>",
    )


def duckdb_indexes(spark: SparkSession) -> DataFrame:
    """`FROM duckdb_indexes()`: the CREATE INDEX shim registry (indexes
    are recorded no-ops — SURVEY §7: broadcast joins + secondary
    projections are the honest ART analog). Reference column set; oids
    and comments NULL like a fresh in-memory catalog."""
    from quackspark import ddl

    rows = [
        (
            "spark_catalog", None, "main", None, name, None,
            info["table"], None, None, {}, bool(info["unique"]), False,
            None, info["sql"],
        )
        for name, info in sorted(ddl.INDEXES.items())
    ]
    return local_frame(
        spark,
        rows,
        "database_name string, database_oid bigint, schema_name string, "
        "schema_oid bigint, index_name string, index_oid bigint, "
        "table_name string, table_oid bigint, comment string, "
        "tags map<string,string>, is_unique boolean, is_primary boolean, "
        "expressions string, sql string",
    )


def duckdb_databases(spark: SparkSession) -> DataFrame:
    """`FROM duckdb_databases()` (reference catalog TVF,
    duckdb-6.cpp:14150-14176): the attached catalogs with the
    reference's column set — on Spark that is the session catalog plus
    any ATTACHed databases (sources/duckfile registers them as
    schemas)."""
    names = [c.name for c in spark.catalog.listCatalogs()] or ["spark_catalog"]
    rows = [
        (n, None, None, None, {}, n != "spark_catalog", "spark", False)
        for n in sorted(set(names))
    ]
    return local_frame(
        spark,
        rows,
        "database_name string, database_oid bigint, path string, "
        "comment string, tags map<string,string>, internal boolean, "
        "type string, readonly boolean",
    )


def duckdb_keywords(spark: SparkSession) -> DataFrame:
    """`FROM duckdb_keywords()`: the grammar's keyword classes
    (functions/_keywords.py — static table of the vendored PG grammar's
    kwlist, duckdb-libpg_query.cpp)."""
    from quackspark.functions._keywords import KEYWORDS

    return local_frame(
        spark, list(KEYWORDS), "keyword_name string, keyword_category string"
    )


def duckdb_settings(spark: SparkSession) -> DataFrame:
    """`FROM duckdb_settings()` (reference duckdb-6.cpp:12687
    DuckDBSettingsFunction): the settings registry with the reference's
    column set.  The name/description/input_type/scope rows come from the
    static registry (functions/_settings.py, data parity); the VALUE
    column is live where this engine actually maps the setting — threads
    (Spark default parallelism), TimeZone/timezone
    (spark.sql.session.timeZone), and any key the user routed into the
    Spark session conf via SET / assignment-form PRAGMA (sqlfront routes
    both verbatim).  Unmapped settings show their reference default."""
    from quackspark.functions._settings import SETTINGS

    tz = None
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        pass
    rows = []
    for name, default, desc, input_type, scope in SETTINGS:
        value = default
        if name == "threads":
            value = str(spark.sparkContext.defaultParallelism)
        elif name.lower() in ("timezone", "time_zone") and tz:
            value = tz
        else:
            try:
                got = spark.conf.get(name)
                if got is not None and got != f"<undefined> {name}":
                    # Spark's SET parser keeps literal quotes (PRAGMA
                    # memory_limit='2GB' stores "'2GB'") — display bare
                    if len(got) >= 2 and got[0] == got[-1] == "'":
                        got = got[1:-1]
                    value = got
            except Exception:
                pass
        rows.append((name, value, desc, input_type, scope))
    return local_frame(
        spark,
        rows,
        "name string, value string, description string, "
        "input_type string, scope string",
    )


def duckdb_types(spark: SparkSession) -> DataFrame:
    """`FROM duckdb_types()` (reference duckdb-6.cpp:14150-14176
    DuckDBTypesFunction): the built-in type catalog with the reference's
    column set — one row per type name (the reference repeats each name
    per schema; this engine has one type namespace).  Spark-side
    carriers differ (SURVEY.md §1.2) but the name/logical-type/category
    surface an introspection script reads is identical.  User-defined
    ENUM types (CREATE TYPE … AS ENUM) are appended with internal=false
    like the reference."""
    from quackspark.functions._types import TYPES

    rows = [
        ("spark_catalog", None, "main", None, None, n, sz, lt, cat,
         None, {}, True, None)
        for n, lt, cat, sz in TYPES
    ]
    try:
        from quackspark.sqlfront import _ENUM_TYPES  # CREATE TYPE … AS ENUM

        for name, labels in sorted(_ENUM_TYPES.items()):
            rows.append(
                ("spark_catalog", None, "main", None, None, name, None,
                 "ENUM", "COMPOSITE", None, {}, False, list(labels))
            )
    except Exception:
        pass
    return local_frame(
        spark,
        rows,
        "database_name string, database_oid bigint, schema_name string, "
        "schema_oid bigint, type_oid bigint, type_name string, "
        "type_size bigint, logical_type string, type_category string, "
        "comment string, tags map<string,string>, internal boolean, "
        "labels array<string>",
    )


#: per-type value cycle [min, max, NULL] for test_vector_types (reference
#: duckdb-6.cpp:14135 TestVectorTypesFun; values pinned against the
#: oracle: FROM test_vector_types(NULL::T) emits flat[min,max,NULL] +
#: constant[min]*3 + dictionary[max,NULL] + sequence — (3,5,7) for
#: integer types, the value cycle again otherwise)
_TVT_CYCLES: dict[str, tuple] = {
    "tinyint": ((-128, 127, None), True, "tinyint"),
    "int1": ((-128, 127, None), True, "tinyint"),
    "smallint": ((-32768, 32767, None), True, "smallint"),
    "int2": ((-32768, 32767, None), True, "smallint"),
    "short": ((-32768, 32767, None), True, "smallint"),
    "integer": ((-2147483648, 2147483647, None), True, "int"),
    "int": ((-2147483648, 2147483647, None), True, "int"),
    "int4": ((-2147483648, 2147483647, None), True, "int"),
    "signed": ((-2147483648, 2147483647, None), True, "int"),
    "bigint": (
        (-9223372036854775808, 9223372036854775807, None), True, "bigint",
    ),
    "int8": (
        (-9223372036854775808, 9223372036854775807, None), True, "bigint",
    ),
    "long": (
        (-9223372036854775808, 9223372036854775807, None), True, "bigint",
    ),
    "float": (
        (-3.4028234663852886e+38, 3.4028234663852886e+38, None),
        False, "float",
    ),
    "real": (
        (-3.4028234663852886e+38, 3.4028234663852886e+38, None),
        False, "float",
    ),
    "double": (
        (-1.7976931348623157e+308, 1.7976931348623157e+308, None),
        False, "double",
    ),
    "float8": (
        (-1.7976931348623157e+308, 1.7976931348623157e+308, None),
        False, "double",
    ),
    "boolean": ((False, True, None), False, "boolean"),
    "bool": ((False, True, None), False, "boolean"),
    "varchar": (("\U0001F986" * 6, "goo\x00se", None), False, "string"),
    "string": (("\U0001F986" * 6, "goo\x00se", None), False, "string"),
    "text": (("\U0001F986" * 6, "goo\x00se", None), False, "string"),
}


def test_vector_types(spark: SparkSession, type_names: list[str]) -> DataFrame:
    """`FROM test_vector_types(NULL::T, …)` (reference duckdb-6.cpp:14135):
    the 11-row boundary-value fixture per argument type — columns named
    test_vector, test_vector2, … like the reference.  Vector ENCODINGS
    (flat/constant/dictionary/sequence) are Tungsten's concern on Spark;
    the VALUES those encodings carry are what a test consumes, and they
    are pinned exactly against the oracle.  DATE/TIMESTAMP extremes
    (year ±290k/5.8M) exceed Spark's representable range → pointed
    refusal rather than silent clamping."""
    from quackspark.sqlfront import UnsupportedSQL

    cycles, spark_types = [], []
    for t in type_names:
        tl = t.strip().lower()
        if tl not in _TVT_CYCLES:
            raise UnsupportedSQL(
                f"test_vector_types({t}): only "
                f"integer/float/boolean/varchar prototypes are supported "
                f"(DATE/TIMESTAMP extremes exceed Spark's range)"
            )
        cyc, is_int, st = _TVT_CYCLES[tl]
        cycles.append((cyc, is_int))
        spark_types.append(st)
    if not cycles:
        raise UnsupportedSQL("test_vector_types needs at least one argument")
    rows = []
    # flat [0,1,2] + constant [0,0,0] + dictionary [1,2] + sequence
    for idx in (0, 1, 2, 0, 0, 0, 1, 2):
        rows.append(tuple(cyc[idx] for cyc, _ in cycles))
    for k, seqval in enumerate((3, 5, 7)):
        rows.append(tuple(
            seqval if is_int else cyc[k] for cyc, is_int in cycles
        ))
    names = ["test_vector"] + [
        f"test_vector{i + 2}" for i in range(len(cycles) - 1)
    ]
    schema = ", ".join(f"{n} {t}" for n, t in zip(names, spark_types))
    return local_frame(spark, rows, schema)
