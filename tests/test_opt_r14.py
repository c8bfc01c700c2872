"""r14 optimization-round equivalence pins.

- Driver Lloyd fast path (operators/kmeans) vs the distributed
  assign/update loop — bit-identical assignments, distances, and
  trained codebooks, including the exact-mean micro-unit rounding and
  the round(d2, 6) output rounding.
- The numpy HALF_UP rounding twins vs the Spark expressions they
  replicate, on adversarial .5-boundary values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quackspark.operators import kmeans as KM
from tests.conftest import SF_ORACLE


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


@pytest.mark.parametrize("iters,k", [(2, 8), (3, 16)])
def test_kmeans_driver_equals_distributed(spark, iters, k):
    from quackspark.session import load_table

    e = load_table(spark, SF_ORACLE, "embeddings")
    drv = _rows(KM.kmeans_assign(e, k=k, iters=iters), "vec_id")
    dist = _rows(KM.kmeans_assign(e, k=k, iters=iters, driver_cap=0), "vec_id")
    assert drv == dist
    assert len(drv) > 0
    fd = _rows(KM.kmeans_fit(e, k=k, iters=iters), "cluster")
    fx = _rows(KM.kmeans_fit(e, k=k, iters=iters, driver_cap=0), "cluster")
    assert fd == fx


def test_kmeans_driver_boundary_micro_values(spark):
    """Negative values and micro-products near .5 boundaries — the cells
    where a naive floor(x+0.5) diverges from Spark's BigDecimal HALF_UP."""
    rows = [
        (i, [(-1) ** i * (0.0000005 + i * 0.1234565), 0.5e-6, -2.5e-6])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    drv = _rows(KM.kmeans_assign(df, k=4, iters=2), "vec_id")
    dist = _rows(KM.kmeans_assign(df, k=4, iters=2, driver_cap=0), "vec_id")
    assert drv == dist


def test_kmeans_probe_fallbacks(spark):
    """NULL vectors, NULL/NaN/inf elements, non-long ids, ragged vectors
    and a cap below the corpus size all fall back to the distributed
    loop (probe returns None)."""
    ok = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    assert KM._driver_probe(ok, 10) is not None
    assert KM._driver_probe(ok, 1) is None  # corpus bigger than cap
    assert KM._driver_probe(ok, 0) is None  # cap 0 disables
    nulls = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)], "vec_id bigint, embedding array<double>"
    )
    assert KM._driver_probe(nulls, 10) is None
    intid = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id int, embedding array<double>"
    )
    assert KM._driver_probe(intid, 10) is None
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0])], "vec_id bigint, embedding array<double>"
    )
    assert KM._driver_probe(ragged, 10) is None
    # NULL / NaN / inf ELEMENTS inside otherwise well-formed vectors: the
    # probe refuses them, and both entry points still equal the
    # distributed loop (they fall back to it)
    for bad in (None, float("nan"), float("inf")):
        df = spark.createDataFrame(
            [(i, [float(i), bad if i == 3 else 1.0]) for i in range(8)],
            "vec_id bigint, embedding array<double>",
        )
        assert KM._driver_probe(df, 10) is None, bad
        drv = _rows(KM.kmeans_assign(df, k=2, iters=2), "vec_id")
        dist = _rows(KM.kmeans_assign(df, k=2, iters=2, driver_cap=0), "vec_id")
        assert drv == dist, bad
        fd = _rows(KM.kmeans_fit(df, k=2, iters=2), "cluster")
        fx = _rows(KM.kmeans_fit(df, k=2, iters=2, driver_cap=0), "cluster")
        assert fd == fx, bad


def test_round_micro_twin_matches_spark(spark):
    """_round_micro_half_away == round(x * 1e6) cast long (dsum's long
    mode) and _round_6_half_away == round(x, 6), on values engineered to
    sit at and within an ulp of .5 boundaries, both signs."""
    import numpy as np

    vals = [
        0.0000005, -0.0000005, 1.2345675e-6, -1.2345675e-6,
        0.1234565, -0.1234565, 0.9999995, -0.9999995,
        2.5e-6, -2.5e-6, 0.49999999999999994e-6, 1.5e-6,
        123.4567895, -123.4567895, 0.0, 7.000000049999999,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    exp = df.select(
        F.round(F.col("x") * 1_000_000).cast("long").alias("micro"),
        F.round("x", 6).alias("r6"),
    ).collect()
    arr = np.array(vals, dtype=np.float64)
    got_micro = KM._round_micro_half_away(arr * 1_000_000.0)
    got_r6 = KM._round_6_half_away(arr)
    for i, row in enumerate(exp):
        assert int(got_micro[i]) == row["micro"], vals[i]
        assert float(got_r6[i]) == row["r6"], vals[i]


def test_round_twins_match_spark_at_2p52_scale(spark):
    """At and above 2^52 the double's ulp is >= 1, so the ``x+0.5`` fast
    path itself rounds (to even) — both twins must treat those cells as
    suspects and still equal the Spark expressions."""
    import numpy as np

    vals = [
        (2**52 + 1) / 1e6, (2**52 + 3) / 1e6, -(2**52 + 1) / 1e6,
        4503599627.3705, 9007199254.740993, 123456789012.3456785,
        2**60 / 1e6 + 0.5, 1.5e20, -7.25e25,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    exp = df.select(
        F.round(F.col("x") * 1_000_000).cast("long").alias("micro"),
        F.round("x", 6).alias("r6"),
    ).collect()
    arr = np.array(vals, dtype=np.float64)
    got_r6 = KM._round_6_half_away(arr)
    for i, row in enumerate(exp):
        assert float(got_r6[i]) == row["r6"], vals[i]
    # the micro twin's domain is |x·1e6| < 2^63 (the probe's gate)
    small = np.abs(arr) * 1e6 < 2.0**63
    got_micro = KM._round_micro_half_away(arr[small] * 1_000_000.0)
    want = [row["micro"] for row, ok in zip(exp, small) if ok]
    assert [int(x) for x in got_micro] == want


def test_kmeans_driver_2p52_scale_values(spark):
    """Vectors whose micro-unit products sit above 2^52 (and whose d2
    values do too) keep the driver path and equal the distributed loop;
    vectors whose micro-unit sums would leave int64 fall back."""
    base = (2**52 + 1) / 1e6
    rows = [
        (i, [base * (1 + i % 5), (-1) ** i * (base + i * 1.000001e-6), 0.5e-6])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    assert KM._driver_probe(df, 100) is not None  # the driver path is exercised
    drv = _rows(KM.kmeans_assign(df, k=4, iters=2), "vec_id")
    dist = _rows(KM.kmeans_assign(df, k=4, iters=2, driver_cap=0), "vec_id")
    assert drv == dist
    fd = _rows(KM.kmeans_fit(df, k=4, iters=2), "cluster")
    fx = _rows(KM.kmeans_fit(df, k=4, iters=2, driver_cap=0), "cluster")
    assert fd == fx

    huge = spark.createDataFrame(
        [(i, [1e13 * (i + 1), 1.0]) for i in range(8)],
        "vec_id bigint, embedding array<double>",
    )
    assert KM._driver_probe(huge, 100) is None
    drv = _rows(KM.kmeans_assign(huge, k=2, iters=2), "vec_id")
    dist = _rows(KM.kmeans_assign(huge, k=2, iters=2, driver_cap=0), "vec_id")
    assert drv == dist
