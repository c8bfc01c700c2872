"""Adversarial inputs for the size-gated driver fast paths.

Connected components, k-means and the neardup score table each take a
driver path when :func:`session.small_collect` (or, for the score table,
the corpus count) finds the input small. Here every operator's default
call is pinned equal to its forced-distributed call (cap ``0``) on NULL,
NaN, inf, duplicate-id, self-loop and large-magnitude inputs, and where a
probe must refuse the input it is pinned to return ``None``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quackspark.operators import components as CC
from quackspark.operators import kmeans as KM
from quackspark.operators import simsearch as S
from quackspark.session import small_collect


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_small_collect(spark):
    df = spark.range(5)
    assert list(small_collect(df, 5)["id"]) == [0, 1, 2, 3, 4]
    assert small_collect(df, 4) is None
    assert len(small_collect(df.where("id < 0"), 1)) == 0
    # a cap of 0 or less runs no job: this frame fails when evaluated
    boom = spark.range(1).select(F.raise_error(F.lit("evaluated")))
    assert small_collect(boom, 0) is None
    assert small_collect(boom, -1) is None


BIG = 2**62
CC_GRAPHS = {
    "null_endpoints": [(1, None), (None, 2), (None, None), (1, 2), (3, 4)],
    "all_null": [(None, 1), (2, None), (None, None)],
    "self_loops": [(5, 5), (5, 6), (7, 7), (6, 6)],
    "repeated_reversed": [(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (4, 4)],
    "extreme_ids": [(BIG, -BIG), (-BIG, 0), (BIG - 1, BIG), (-BIG + 1, 7)],
}


@pytest.mark.parametrize("case", list(CC_GRAPHS))
def test_components_driver_equals_distributed(spark, case):
    e = spark.createDataFrame(CC_GRAPHS[case], "d1 bigint, d2 bigint")
    assert small_collect(e, 100) is not None  # the driver path is taken
    drv = _rows(CC.connected_components(e, "d1", "d2"))
    dist = _rows(CC.connected_components(e, "d1", "d2", driver_cap=0))
    assert drv == dist


KM_BASE = [(i, [(-1) ** i * (i + 0.25), i % 3 - 1.5]) for i in range(12)]
#: (rows, k) the probe must refuse; both entry points then run, and equal,
#: the distributed loop
KM_REFUSED = {
    "nan_in_seed": ([(i, [float("nan") if i == 0 else v[0], v[1]]) for i, v in KM_BASE], 3),
    "inf": ([(i, [v[0], float("inf") if i == 5 else v[1]]) for i, v in KM_BASE], 3),
    "neg_inf": ([(i, [float("-inf") if i == 11 else v[0], v[1]]) for i, v in KM_BASE], 3),
    "null_element": ([(i, [None if i == 7 else v[0], v[1]]) for i, v in KM_BASE], 3),
    "ids_past_int32": ([(i + 2**31 - 6, v) for i, v in KM_BASE], 3),
    # id 1 twice, with different vectors, inside the 4-vector seed: the
    # distributed update merges the two seeds into one cluster
    "duplicate_ids_in_seed": (
        KM_BASE[:2] + [(1, KM_BASE[2][1])] + [(i + 1, v) for i, v in KM_BASE[3:]],
        4,
    ),
    # id 3 twice at the 4-vector seed's boundary; equal vectors, so either
    # copy is the same seed
    "duplicate_ids_at_seed_boundary": (KM_BASE[:4] + [KM_BASE[3]] + KM_BASE[4:], 4),
    "duplicate_ids_past_seed": (KM_BASE + [(9, [2.0, 2.0]), (11, [-3.0, 0.5])], 4),
}
#: micro-unit products (x·1e6, what the exact mean sums) at 2^40 and 2^52
KM_ACCEPTED = {
    "micro_2p40": [(i, [x * 2.0**40 / 1e6 for x in v]) for i, v in KM_BASE],
    "micro_2p52": [(i, [v[0] * 2.0**52 / 1e6, v[1] + 2.0**52 / 1e6]) for i, v in KM_BASE],
}


def _kmeans_pin(spark, rows, k):
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    for fn in (KM.kmeans_assign, KM.kmeans_fit):
        drv = _rows(fn(df, k=k, iters=2))
        dist = _rows(fn(df, k=k, iters=2, driver_cap=0))
        assert drv == dist, fn.__name__
    return df


@pytest.mark.parametrize("case", list(KM_REFUSED))
def test_kmeans_probe_refuses(spark, case):
    df = _kmeans_pin(spark, *KM_REFUSED[case])
    assert KM._driver_probe(df, 100) is None


@pytest.mark.parametrize("case", list(KM_ACCEPTED))
@pytest.mark.parametrize("k", [2, 4])
def test_kmeans_driver_equals_distributed(spark, case, k):
    df = _kmeans_pin(spark, KM_ACCEPTED[case], k=k)
    assert KM._driver_probe(df, 100) is not None  # the driver path is taken


#: id 1 twice inside a 4-vector seed and id 3 twice at its boundary, the
#: copies of each with different vectors
KM_TIED_SEED = (
    KM_BASE[:2] + [(1, KM_BASE[2][1])] + KM_BASE[3:] + [(3, [4.625, -5.25])]
)


def test_kmeans_distributed_seed_ignores_row_order(spark):
    """The distributed seed breaks ties between copies of one id on the
    vector, not on partition order: the same rows in two orders give the
    same codebook."""
    cents = []
    for rows in (KM_TIED_SEED, KM_TIED_SEED[::-1]):
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        assert df.rdd.getNumPartitions() > 1
        cents.append(_rows(KM.kmeans_fit(df, k=4, iters=2, driver_cap=0)))
    assert cents[0] == cents[1]


def _corpus(n=40, dim=S.DIM):
    """Deterministic vectors with many near-duplicates: five base
    directions plus small per-row offsets."""
    out = []
    for i in range(n):
        base = [((j * (i % 5 + 1)) % 7) - 3.0 for j in range(dim)]
        out.append((i, [x + 0.01 * ((i * 31 + j) % 11) for j, x in enumerate(base)]))
    return out


NEARDUP = {
    "nan_element": [(i, [float("nan")] + v[1:] if i == 4 else v) for i, v in _corpus()],
    "null_element": [(i, [None] + v[1:] if i == 9 else v) for i, v in _corpus()],
    "duplicate_ids": [(i % 30, v) for i, v in _corpus()],
    "scale_2p52": [(i, [x * 2.0**52 for x in v]) for i, v in _corpus()],
}


@pytest.mark.parametrize("case", list(NEARDUP))
def test_neardup_table_equals_join(spark, case):
    e = spark.createDataFrame(NEARDUP[case], "vec_id bigint, embedding array<double>")
    table = _rows(S.embedding_neardup_pairs(e, threshold=0.45))
    joins = _rows(S.embedding_neardup_pairs(e, threshold=0.45, score_table_cap=0))
    assert table == joins
    assert len(table) > 0  # the band join found candidates


def test_neardup_table_refuses_duplicate_ids(spark):
    rows = NEARDUP["duplicate_ids"]
    assert S._pair_score_table(spark, [r[0] for r in rows], [r[1] for r in rows]) is None
