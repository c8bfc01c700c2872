"""Occupancy-adaptive SemDeDup (VERDICT r8 next #2): codebook size
scales with the corpus, per-cluster pair work is bounded by within-
cluster SRP banding above the pair budget, and the oracle replays the
chosen k. Growth evidence lives in SCALE_SEMDEDUP.json
(`tools/scale.py semdedup`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quackspark.operators import simsearch as S
from quackspark.queries.simsearch import THRESHOLD, _load

SF = "/root/testdata/sf0.01"


def test_semantic_k_scaling():
    assert S.semantic_k(100) == 8  # floor
    assert S.semantic_k(500) == 8  # sf0.01 → unchanged vs the r8 record
    assert S.semantic_k(10_000) == 156
    assert S.semantic_k(64 * 256) == 256
    assert S.semantic_k(10**9) == 256  # cap (past it banding bounds pairs)


def test_semantic_dedup_band_false_matches_default_at_small_scale(spark):
    """At sf0.01 no cluster exceeds the pair budget, so the auto split
    sends everything through the exact path: band=False is identical."""
    e = _load(spark, SF)
    auto = S.semantic_dedup(e, threshold=THRESHOLD).orderBy("vec_id")
    exact = S.semantic_dedup(e, threshold=THRESHOLD, band=False).orderBy(
        "vec_id"
    )
    assert auto.collect() == exact.collect()


def test_semantic_dedup_banded_is_subset(spark):
    """Forced banding can only LOSE candidate pairs (a pair must also
    share an SRP band), so banded dup marks ⊆ exact dup marks, and every
    shared mark has the identical dup_of ancestor or a higher one."""
    e = _load(spark, SF)
    exact = {
        r["vec_id"]: r["dup_of"]
        for r in S.semantic_dedup(e, threshold=THRESHOLD, band=False)
        .filter(F.col("dup_of").isNotNull())
        .collect()
    }
    banded = {
        r["vec_id"]: r["dup_of"]
        for r in S.semantic_dedup(e, threshold=THRESHOLD, band=True)
        .filter(F.col("dup_of").isNotNull())
        .collect()
    }
    assert set(banded) <= set(exact)
    for vid, anc in banded.items():
        # the banded min-ancestor can only be ≥ the exact one
        assert anc >= exact[vid]


def test_semantic_dedup_row_per_input_and_kept_consistency(spark):
    e = _load(spark, SF)
    out = S.semantic_dedup(e, threshold=THRESHOLD).collect()
    assert len(out) == e.count()
    for r in out:
        assert r["kept"] == (r["dup_of"] is None)


def test_semantic_dedup_pinned_k_overrides(spark):
    """k= pins the codebook size (the oracle-replay contract is on the
    DEFAULT; explicit k is the power-user path)."""
    e = _load(spark, SF)
    out = S.semantic_dedup(e, threshold=THRESHOLD, k=16)
    assert out.select(F.countDistinct("cluster")).collect()[0][0] <= 16
    assert out.select(F.max("cluster")).collect()[0][0] >= 8


# --- recursive bucket refinement (VERDICT r10 next #2) ----------------


def _synth_vecs(spark, n: int, spread: float, seed_salt: int = 0):
    """n deterministic 64-dim vectors: a unit base direction plus
    per-row pseudo-random noise scaled by `spread` (spread=0 → all
    identical)."""
    import hashlib
    import struct

    import pandas as pd

    rows = []
    for i in range(n):
        vec = []
        for d in range(S.DIM):
            h = hashlib.md5(f"{seed_salt}:{i}:{d}".encode()).digest()
            u = struct.unpack("<Q", h[:8])[0] / 2**64  # [0,1)
            base = 1.0 if d == 0 else 0.0
            vec.append(base + spread * (u - 0.5))
        rows.append((i, vec))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )


def _one_bucket(df):
    """Stage a frame the refiner accepts: one cluster, one first-level
    band — the worst case (every row in the same starting bucket)."""
    return df.select(
        "vec_id",
        F.lit(0).alias("cluster"),
        F.col("embedding").alias("vec"),
        S.norm(F.col("embedding")).alias("nrm"),
        F.lit("0:0").alias("qs_band"),
    )


def test_refine_splits_diverse_over_knee_bucket(spark):
    """3000 diverse vectors in ONE starting bucket: the first 8-bit
    split round alone yields ≤256-way fan-out with expected occupancy
    ~12 — every final bucket must land under the knee, nothing
    saturates, and the admitted pair budget collapses from c²/2."""
    df = _one_bucket(_synth_vecs(spark, 3000, spread=2.0))
    ref = S.refine_over_knee(df)
    sizes = (
        ref.groupBy("cluster", "qs_band")
        .agg(F.count(F.lit(1)).alias("c"), F.max(F.col("qs_sat").cast("int")).alias("sat"))
        .collect()
    )
    assert max(r["c"] for r in sizes) <= S.SEM_REFINE_TARGET_ROWS
    assert all(r["sat"] == 0 for r in sizes)
    pairs = sum(r["c"] * (r["c"] - 1) // 2 for r in sizes)
    assert pairs < 3000 * (3000 - 1) // 2 / 10  # ≥10× under all-pairs


def test_refine_saturates_identical_vectors(spark):
    """1500 identical vectors: no hyperplane splits them — the bucket
    must survive all rounds intact and come back flagged saturated
    (the rep-compare path), never silently quadratic."""
    df = _one_bucket(_synth_vecs(spark, 1500, spread=0.0))
    ref = S.refine_over_knee(df)
    out = ref.select("qs_sat").distinct().collect()
    assert [r["qs_sat"] for r in out] == [True]
    # and the key never grew past the rounds budget
    depth = ref.select(
        F.max(F.size(F.split("qs_band", r"\|"))).alias("d")
    ).collect()[0]["d"]
    assert depth == S.SEM_SPLIT_ROUNDS + 1


def test_refine_noop_below_knee(spark):
    """Under-knee buckets keep their key untouched (oracle parity for
    sub-knee corpora depends on this)."""
    df = _one_bucket(_synth_vecs(spark, 50, spread=2.0))
    ref = S.refine_over_knee(df)
    keys = ref.select("qs_band").distinct().collect()
    assert [r["qs_band"] for r in keys] == ["0:0"]
    assert ref.filter(F.col("qs_sat")).count() == 0


def test_semantic_dedup_saturated_bucket_links_to_representative(spark):
    """End-to-end through semantic_dedup: a corpus of 1500 identical
    vectors (forced banded) saturates, and every non-min row is marked
    dup_of the min id — linear work, same answer the exact quadratic
    path would give."""
    e = _synth_vecs(spark, 1500, spread=0.0)
    out = S.semantic_dedup(
        e, threshold=0.9, band=True, k=8, n_rows=1500
    ).collect()
    assert len(out) == 1500
    for r in out:
        if r["vec_id"] == 0:
            assert r["kept"] and r["dup_of"] is None
        else:
            assert r["dup_of"] == 0 and not r["kept"]
