"""Hot-shingle skew guard (operators/dedup.drop_hot_shingles): a shingle
present in more than max_df documents must vanish before the blocking join,
and with no hot shingles the guard must be a no-op (same pairs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from quackspark.operators import dedup as D


def _toy_corpus(spark, n=40):
    """n docs, each with unique content plus one universal boilerplate
    phrase — the synthetic hot shingle ('common boilerplate footer' appears
    in every doc)."""
    rows = [
        (i, f"unique{i}a unique{i}b unique{i}c common boilerplate footer")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_guard_drops_hot_shingle(spark):
    df = _toy_corpus(spark)
    sh = D._exploded_shingles(df, "text", "doc_id", 3)
    guarded = D.drop_hot_shingles(sh, max_df=10)
    left = {r["sh"] for r in guarded.select("sh").distinct().collect()}
    # every doc contains 'common boilerplate footer' (and the two bridge
    # shingles into it are unique per doc) — only the universal one dies
    assert "common boilerplate footer" not in left
    assert any("unique0a" in s for s in left)


def test_guard_noop_below_cutoff(spark):
    # near-identical docs (one token differs) → guaranteed band collisions
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta tail{i}")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # cutoff above every DF → identical pair sets with and without guard
    with_guard = {
        tuple(r)
        for r in D.minhash_lsh_pairs(
            df, "text", "doc_id", threshold=0.0, max_shingle_df=100
        ).collect()
    }
    without = {
        tuple(r)
        for r in D.minhash_lsh_pairs(
            df, "text", "doc_id", threshold=0.0, max_shingle_df=None
        ).collect()
    }
    assert with_guard == without and len(with_guard) > 0


def test_guard_sampled_path_catches_hot_shingle(spark):
    """With max_df >= GUARD_SAMPLE_MIN_DF the DF pass runs on the 1/20 doc
    sample with a scaled cutoff: a truly hot shingle (every doc) must
    still be caught, unique shingles must survive."""
    df = _toy_corpus(spark, n=3000)
    sh = D._exploded_shingles(df, "text", "doc_id", 3)
    guarded = D.drop_hot_shingles(sh, max_df=1000)  # sampled: cutoff 50 on ~150 docs
    left = {r["sh"] for r in guarded.select("sh").distinct().collect()}
    assert "common boilerplate footer" not in left
    assert any("unique0a" in s for s in left)


def test_guard_sampled_vs_exact_same_verdict(spark):
    """On the documents fixture the sampled guard and the exact guard must
    both be inert (max DF 7 ≪ 1000) — identical surviving shingle sets."""
    from quackspark.queries._util import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    sh = D._exploded_shingles(d, "text", "doc_id", 3)
    sampled = D.drop_hot_shingles(sh, max_df=1000)
    exact = D.drop_hot_shingles(sh, max_df=1000, sample_mod=1)
    assert sampled.count() == exact.count() == sh.count()


def test_guard_bounds_candidate_pairs(spark):
    """With the hot shingle gone, ngram blocking must produce no pair for
    docs that share ONLY boilerplate — the d² blowup disappears."""
    df = _toy_corpus(spark, n=30)
    pairs = D.ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.0, max_shingle_df=10
    )
    assert pairs.count() == 0  # only-boilerplate overlap → no block → no pair
    unguarded = D.ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.0, max_shingle_df=None
    )
    assert unguarded.count() == (30 * 29) // 2  # every pair met in the hot block


def test_lazy_guard_keeps_unique_shingles(spark):
    """The guard is a broadcast anti-join against the hot frame: with a
    hot shingle present only the boilerplate shingle goes and every
    other shingle row survives; on a hot-free corpus nothing goes."""
    hot = "common boilerplate footer"
    for n, cutoff in ((40, 10), (3, 10)):
        sh = D._exploded_shingles(_toy_corpus(spark, n=n), "text", "doc_id", 3)
        expected = sorted(
            tuple(r) for r in sh.collect() if n <= cutoff or r["sh"] != hot
        )
        got = sorted(tuple(r) for r in D.drop_hot_shingles(sh, max_df=cutoff).collect())
        assert got == expected
        assert len({r[0] for r in got}) == n  # every doc keeps its unique shingles
    # plan proof: detection is a broadcast anti-join, not a collect
    sh = D._exploded_shingles(_toy_corpus(spark, n=40), "text", "doc_id", 3)
    plan = (
        D.drop_hot_shingles(sh, max_df=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in plan, plan


def test_lazy_guard_starts_no_job(spark):
    """Why the in-plan guard replaced collect-then-isin: building the
    guarded frame runs no Spark job (the collect form paid a blocking
    detection job per query at construction time)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sh = D._exploded_shingles(_toy_corpus(spark, n=40), "text", "doc_id", 3)
    gid = "hot-shingle-guard-construction"
    sc.setJobGroup(gid, "guard construction", False)
    try:
        guarded = D.drop_hot_shingles(sh, max_df=10)
        bus.waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
        guarded.count()  # control: the tracker does see the group's jobs
        bus.waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(gid))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
