"""Round-5 pinned regressions for the advisor findings (ADVICE.md r4):

1. Re-ATTACHing a .duckdb alias after the source table SHRANK must not
   mix stale part files into the recreated external table.
2. .duckdb table names that need quoting (spaces, reserved words) attach
   and read correctly.
3. fingerprint_arrow ≡ expression form ≡ DuckDB oracle for a non-BMP
   (astral plane) first character — all three use full codepoints.
4. embedding_neardup_pairs(wide=...) pins the construction explicitly;
   narrow-pinned equals auto below the knee.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from quackspark.sqlfront import sql


def test_reattach_after_shrink_drops_stale_parts(spark, tmp_path):
    """Bug: _stream_table_to_parquet appended next to old part files, so
    a shrunken re-attach read old+new rows mixed."""
    p = str(tmp_path / "shrink.duckdb")
    con = duckdb.connect(p)
    # big enough for several part files (BATCH_ROWS splits at 64k rows,
    # rollover at 4 batches) — use >300k rows to get ≥2 files
    con.execute("CREATE TABLE t AS SELECT range AS i FROM range(300000)")
    con.close()
    sql(spark, f"ATTACH '{p}' AS shrinkdb")
    assert sql(spark, "SELECT count(*) FROM shrinkdb.t").collect()[0][0] == 300000
    sql(spark, "DETACH shrinkdb")

    con = duckdb.connect(p)
    con.execute("DELETE FROM t WHERE i >= 10")
    con.close()
    sql(spark, f"ATTACH '{p}' AS shrinkdb")
    assert sql(spark, "SELECT count(*) FROM shrinkdb.t").collect()[0][0] == 10
    sql(spark, "DETACH shrinkdb")


def test_attach_quoted_table_names(spark, tmp_path):
    p = str(tmp_path / "quoted.duckdb")
    con = duckdb.connect(p)
    con.execute('CREATE TABLE "my table" (x INTEGER)')
    con.execute('INSERT INTO "my table" VALUES (1), (2)')
    # a reserved word as a table name is legal in DuckDB when quoted
    con.execute('CREATE TABLE "order" (y INTEGER)')
    con.execute('INSERT INTO "order" VALUES (7)')
    con.close()
    from quackspark.sources.duckfile import attach_duckdb_file

    names = attach_duckdb_file(spark, p, "quoteddb")
    # spaces sanitize to _, reserved words survive via backticks
    assert set(names) == {"my_table", "order"}
    assert (
        spark.sql("SELECT count(*) AS n FROM quoteddb.my_table").collect()[0][0]
        == 2
    )
    assert (
        spark.sql("SELECT y FROM quoteddb.`order`").collect()[0][0] == 7
    )
    spark.sql("DROP DATABASE quoteddb CASCADE")


def test_fingerprint_astral_first_char(spark):
    """U+1F600 first char: kernel ord(), Spark ascii(), DuckDB ascii()
    must all fold the same full codepoint into rk_fp."""
    from quackspark.functions import text as T

    doc = "\U0001F600grin normal tokens here"
    df = spark.createDataFrame([(1, doc)], "doc_id int, text string")
    kern = (
        df.select(T.fingerprint_arrow(F.col("text")).alias("fp"))
        .select("fp.rk_fp").collect()[0][0]
    )
    expr = df.select(
        T.rolling_hash(T.tokens(F.col("text"))).alias("rk")
    ).collect()[0][0]
    duck = duckdb.sql(
        """
        SELECT CAST(list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                     list_filter(string_split_regex(trim(t), '\\s+'),
                                 x -> x <> ''),
                     t -> CAST(length(t) * 31 + ascii(t) AS BIGINT))),
                 (a, b) -> (a * 131 + b) % 1000000007) AS BIGINT)
        FROM (VALUES ('""" + doc + """')) v(t)
        """
    ).fetchone()[0]
    assert kern == expr == duck


def test_neardup_wide_param_pins_construction(spark):
    from quackspark.operators.simsearch import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    auto = sorted(
        tuple(r) for r in embedding_neardup_pairs(emb).collect()
    )
    narrow = sorted(
        tuple(r) for r in embedding_neardup_pairs(emb, wide=False).collect()
    )
    assert auto == narrow  # below the knee, auto == narrow exactly
    wide = embedding_neardup_pairs(emb, wide=True)
    rows = wide.collect()
    # wide mode still returns only threshold-passing verified pairs
    assert all(r["cos"] >= 0.45 for r in rows)
