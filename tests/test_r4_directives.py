"""Round-4 directive pins (VERDICT r3 #4, #5): PIVOT distinct-value cap
and automatic k-means corpus caching above 2 Lloyd rounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quackspark import sqlfront
from quackspark.operators import kmeans as KM
from quackspark.queries._util import load_table
from quackspark.sqlfront import UnsupportedSQL, sql

SF = "/root/testdata/sf0.001"


def test_pivot_high_cardinality_capped(spark, monkeypatch):
    # shrink the cap so the test doesn't need a 10k-distinct column
    monkeypatch.setattr(sqlfront, "PIVOT_MAX_VALUES", 5)
    spark.range(0, 50).selectExpr(
        "id % 2 AS g", "CAST(id AS STRING) AS wide", "id AS v"
    ).createOrReplaceTempView("pv_wide")
    with pytest.raises(UnsupportedSQL, match="distinct"):
        sql(spark, "PIVOT pv_wide ON wide USING sum(v) GROUP BY g")


def test_pivot_within_cap_still_works(spark):
    spark.range(0, 50).selectExpr(
        "id % 2 AS g", "CAST(id % 3 AS STRING) AS k", "id AS v"
    ).createOrReplaceTempView("pv_ok")
    out = sql(spark, "PIVOT pv_ok ON k USING sum(v) GROUP BY g ORDER BY g")
    assert out.columns == ["g", "0", "1", "2"]
    assert out.count() == 2


def _reference_fit(vecs, k, iters):
    """Uncached explicit Lloyd rounds — what kmeans_fit must equal."""
    cents = (
        vecs.orderBy("vec_id").limit(k)
        .select(F.col("vec_id").cast("int").alias("cluster"),
                F.col("embedding").alias("cent"))
    )
    for _ in range(iters - 1):
        cents = KM._update(KM._assign(vecs, cents))
    return cents


def test_kmeans_deep_iteration_cached_and_identical(spark):
    emb = load_table(spark, SF, "embeddings")
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    got = sorted(
        (r["cluster"], tuple(round(x, 9) for x in r["cent"]))
        for r in KM.kmeans_fit(emb, k=4, iters=4).collect()
    )
    vecs = emb.select(F.col("vec_id"), F.col("embedding"))
    want = sorted(
        (r["cluster"], tuple(round(x, 9) for x in r["cent"]))
        for r in _reference_fit(vecs, 4, 4).collect()
    )
    assert got == want
    # the corpus cache is eagerly released; only the tiny localCheckpoint
    # blocks of per-round centroids (K rows each) may remain
    after = spark.sparkContext._jsc.getPersistentRDDs()
    big = [r for r in after.values() if r.name() and "embeddings" in str(r.name())]
    assert not big
    for r in after.values():
        r.unpersist()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) <= before


def test_kmeans_deep_round_reads_cache_not_source(spark):
    """Plan assertion: with the corpus persisted (what kmeans_fit does for
    iters > 2), an assign round contains an InMemoryTableScan and NO
    parquet scan — one source scan total per fit, not per round."""
    emb = load_table(spark, SF, "embeddings")
    vecs = emb.select("vec_id", "embedding").persist()
    try:
        vecs.count()
        cents = vecs.orderBy("vec_id").limit(4).select(
            F.col("vec_id").cast("int").alias("cluster"),
            F.col("embedding").alias("cent"),
        )
        plan = KM._assign(vecs, cents)._sc._jvm.PythonSQLUtils.explainString(
            KM._assign(vecs, cents)._jdf.queryExecution(), "formatted"
        )
        assert "InMemoryTableScan" in plan
        assert "Scan parquet" not in plan.split("InMemoryTableScan")[0]
    finally:
        vecs.unpersist()


def test_concurrent_writer_fails_loudly(spark, monkeypatch):
    """VERDICT r3 #6: a second live writer on the same table must not
    silently last-write-win. A foreign commit landing between a
    statement's read and its commit raises the retryable CommitConflict
    (the reference's TransactionException): the table keeps the foreign
    commit and none of the statement's, and the retried statement
    succeeds."""
    from quackspark.session import local_frame
    from quackspark.sources.commitlog import CommitConflict, VersionedTable

    sql(spark, "CREATE OR REPLACE TABLE cw_t (k INTEGER, v VARCHAR)")
    sql(spark, "INSERT INTO cw_t VALUES (1, 'a'), (2, 'b')")
    real = VersionedTable.rewrite

    def foreign_commit_first(self, df, read_version, **kw):
        monkeypatch.setattr(VersionedTable, "rewrite", real)  # only once
        # another session's handle on the same log appends a row
        VersionedTable(self.path).append(local_frame(spark, [(3, "c")], "k int, v string"))
        return real(self, df, read_version, **kw)

    monkeypatch.setattr(VersionedTable, "rewrite", foreign_commit_first)
    with pytest.raises(CommitConflict, match="re-read and retry"):
        sql(spark, "UPDATE cw_t SET v = 'x' WHERE k = 1")

    def rows():
        return sorted(tuple(r) for r in sql(spark, "SELECT * FROM cw_t").collect())

    assert rows() == [(1, "a"), (2, "b"), (3, "c")]
    sql(spark, "UPDATE cw_t SET v = 'x' WHERE k = 1")
    assert rows() == [(1, "x"), (2, "b"), (3, "c")]
    sql(spark, "DROP TABLE cw_t")


def test_neardup_adaptive_banding_scales_and_keeps_neardups(spark):
    """r4 scale fix: above WIDE_BAND_ROWS vectors, embedding_neardup_pairs
    switches to occupancy-targeted wide bands (fixed 4-bit bands made
    candidate pairs quadratic in corpus size — 3 s → 211 s for 2 k → 20 k).
    Pins: (1) every emitted pair truly verifies cos ≥ threshold,
    (2) true near-duplicates (perturbed replicas, cos ≈ 1) are all found,
    (3) the sub-knee corpus still uses the oracle-mirrored narrow path
    (covered by sim_embedding_neardup parity)."""
    from quackspark.operators import simsearch as S

    emb = load_table(spark, SF.replace("0.001", "0.01"), "embeddings")
    # 12 perturbed replicas per vector → > WIDE_BAND_ROWS rows, with known
    # intra-cluster near-dup pairs
    reps = emb.selectExpr(
        "explode(sequence(0, 11)) AS i", "vec_id", "embedding"
    ).selectExpr(
        "vec_id + i * 1000000 AS vec_id",
        "transform(embedding, (x, j) -> CAST(x + i * 0.0005 AS FLOAT)) AS embedding",
    )
    n = reps.count()
    assert n > S.WIDE_BAND_ROWS
    pairs = S.embedding_neardup_pairs(reps, threshold=0.45)
    rows = pairs.collect()
    # (1) verification is exact on every emitted pair
    assert all(r["cos"] >= 0.45 for r in rows)
    # (2) replica pairs (same base id) are near-identical vectors: recall
    # on the near-dup regime must be ~total (allow a whisker for vectors
    # that are near a hyperplane on EVERY band)
    base = lambda v: v % 1000000
    found_rep = sum(1 for r in rows if base(r["d1"]) == base(r["d2"]))
    n_base = emb.count()
    expected_rep = n_base * 66  # 12 replicas choose 2 per base id
    assert found_rep >= 0.97 * expected_rep, (found_rep, expected_rep)
