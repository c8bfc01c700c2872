"""Distributed Lloyd k-means over an embedding column — the codebook
trainer the IVF index (operators/simsearch.py::ivf_topk) slots in, and
the corpus-bucketing primitive for embedding-space data curation
(cluster-then-sample, domain balancing).

The reference has no clustering operator; its users export vectors and
cluster outside the engine. Here each Lloyd round is two shuffles,
both partial-agg friendly:
  1. assignment: corpus ⨯ broadcast(K centroids) → argmin squared-L2
     (min-of-struct, tie → lowest centroid id) — a map-side projection
     plus one groupBy(vec) min;
  2. update: posexplode to (cluster, dim) cells → order-independent
     exact mean (queries/_util.davg long-scaled path) → rebuild the
     centroid arrays with an array_sort(collect_list(struct)) — K×DIM
     rows total, trivially small however large the corpus.

Determinism contract (what lets the DuckDB oracle replay it
bit-for-bit): seed centroids are the K smallest-id vectors; distances
fold left in dimension order (same shape as simsearch._sql_dot); means
go through the scaled-long exact path; ties break on centroid id.

At 100 TB: the corpus is scanned once per round; above 2 rounds
kmeans_fit automatically persists the projected (id, vec) frame (and
cuts centroid lineage per round), eagerly unpersisting before return.
The only all-data shuffle is the per-vector argmin groupBy, keyed by
vec id — uniform by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from quackspark.queries._util import EXACT_SUM_MODE, davg
from quackspark.session import small_collect

__all__ = ["sqdist", "kmeans_fit", "kmeans_assign"]

#: row-count gate for the driver Lloyd fast path (r14, VERDICT r13 #4):
#: a corpus at or under this size is collected once (~51 MB at the cap
#: for 64-dim float vectors — the same order as an AQE runtime
#: broadcast) and the whole 2-round Lloyd iteration plus the final
#: assignment runs in numpy, replacing 3 driver-synchronized job rounds
#: (seed collect, per-round assign+update collect, final action) whose
#: fixed cost dominated sim_kmeans at sf0.1 (measured: 0.10 + 0.58 +
#: 0.47 s warm for ~2000 vectors). Above the gate the distributed
#: arrow-assign/exact-mean-update loop runs unchanged — the 100 TB path
#: is untouched; smallness is MEASURED with a limit-probe, never
#: assumed (the operators/components.py CC_DRIVER_EDGE_CAP pattern).
KMEANS_DRIVER_ROW_CAP = 100_000


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2, folded left in dimension order (float jitter-free
    across engines: identical op sequence)."""
    d = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)


def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, embedding) ⨯ broadcast(cluster, cent) → per-vector
    argmin; keeps the embedding for the next update step.

    Expression form — kept as the reference implementation the Arrow path
    is pinned against (tests/test_kmeans_fts.py). The hot path is
    :func:`_assign_arrow`: the crossJoin+groupBy costs K interpreted
    64-step folds per vector plus a corpus shuffle, where the kernel is
    one map-only numpy pass (measured 6.9× vs DuckDB at sf1 → ~1×)."""
    j = vecs.crossJoin(F.broadcast(cents))
    j = j.withColumn("d2", sqdist(F.col("embedding"), F.col("cent")))
    return (
        j.groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("d2").alias("d"), F.col("cluster").alias("c"))).alias(
                "m"
            ),
            F.first("embedding").alias("embedding"),
        )
        .select(
            "vec_id",
            "embedding",
            F.col("m.c").alias("cluster"),
            F.col("m.d").alias("d2"),
        )
    )


def _assign_arrow(vecs: DataFrame, cent_rows: list) -> DataFrame:
    """Map-only argmin assignment: centroids arrive as collected rows
    (K×DIM driver metadata — the same bounded round-trip the broadcast
    made anyway) and one Arrow kernel computes every distance in numpy,
    replaying the exact IEEE op sequence of :func:`sqdist` (cast to
    float64, per-dimension (x−y)·(x−y), left-fold ascending over
    dimensions) so distances — and therefore assignments, tie-breaks
    (lowest cluster id), and the DuckDB oracle — match the expression
    form bit-for-bit. ZERO shuffle: the crossJoin and the groupBy(vec)
    min disappear."""
    import numpy as np
    import pandas as pd

    ordered = sorted(cent_rows, key=lambda r: r["cluster"])
    ids = np.array([r["cluster"] for r in ordered], dtype=np.int64)
    C = np.array([[float(x) for x in r["cent"]] for r in ordered])  # K × DIM

    @F.pandas_udf("struct<cluster: int, d2: double>")
    def _arg(col):
        a = np.vstack(col.to_numpy()).astype(np.float64)  # n × DIM
        best, d2 = _argmin_sqdist(a, C)
        return pd.DataFrame(
            {"cluster": ids[best].astype(np.int32), "d2": d2}
        )

    return vecs.select(
        "vec_id", "embedding", _arg(F.col("embedding")).alias("m")
    ).select(
        "vec_id", "embedding", F.col("m.cluster").alias("cluster"),
        F.col("m.d2").alias("d2"),
    )


def _argmin_sqdist(a, C):
    """(n × DIM float64, K × DIM float64) → (argmin index, d2) with the
    exact IEEE op sequence of :func:`sqdist`: per dimension, in-place
    (x−y)·(x−y) then add (identical to the allocating form, ~2× less
    memory traffic — at k in the hundreds the n×k temporaries were the
    dominant cost of the whole dedup, SCALE_SEMDEDUP.json r10). Shared
    by the distributed Arrow kernel and the driver fast path so the two
    paths are the same arithmetic by construction. First minimum →
    lowest centroid-row index (rows arrive sorted by cluster id)."""
    import numpy as np

    n = a.shape[0]
    acc = np.zeros((n, C.shape[0]))
    buf = np.empty_like(acc)
    for i in range(a.shape[1]):
        np.subtract(a[:, i : i + 1], C[:, i], out=buf)
        np.multiply(buf, buf, out=buf)
        acc += buf
    best = np.argmin(acc, axis=1)
    return best, acc[np.arange(n), best]


def _round_micro_half_away(prod):
    """int64 replication of Spark's ``round(double)`` on a float64 array
    (the micro-unit term of queries/_util.dsum's long mode): HALF_UP —
    half away from zero — on the double's SHORTEST decimal repr
    (Catalyst rounds scala BigDecimal(double), which goes through
    java.math.BigDecimal.valueOf → Double.toString; Python ``repr`` is
    the same shortest-round-trip decimal). Vectorized
    floor(x+0.5)/ceil(x−0.5) fast path; the rare cells within 1e-6 of a
    .5 boundary — where fp addition or shortest-repr could cross — and
    every cell at or above 2^52, where the ulp is ≥ 1 so ``x+0.5`` itself
    rounds, are re-done exactly with Decimal(repr(x)). Cells must be
    finite and below 2^63 (the driver probe guarantees both). Pinned
    against the Spark expression by tests/test_opt_r14.py."""
    import numpy as np

    fast = np.where(prod >= 0, np.floor(prod + 0.5), np.ceil(prod - 0.5))
    frac = np.abs(prod - np.trunc(prod))
    suspect = (np.abs(frac - 0.5) < 1e-6) | (np.abs(prod) >= 2.0**52)
    if suspect.any():
        from decimal import ROUND_HALF_UP, Decimal

        flat = fast.reshape(-1)
        pflat = prod.reshape(-1)
        for j in np.nonzero(suspect.reshape(-1))[0]:
            flat[j] = float(
                Decimal(repr(float(pflat[j]))).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
    return fast.astype("int64")


def _round_6_half_away(vals):
    """float64 replication of Spark's ``round(double, 6)``: HALF_UP on
    the double's shortest decimal repr scaled EXACTLY by 10^6 (no double
    multiply in the Spark path — BigDecimal(value).setScale(6)).
    Vectorized product fast path (the double product is within ~ulp of
    the exact scaling, so only cells within 1e-6 of a .5 boundary can
    diverge, plus every product at or above 2^52, where ``prod+0.5``
    itself rounds); suspects re-done with Decimal(repr(value)).quantize
    at a precision wide enough for any finite double."""
    import numpy as np

    prod = vals * 1_000_000.0
    fast = np.where(prod >= 0, np.floor(prod + 0.5), np.ceil(prod - 0.5))
    out = fast / 1_000_000.0
    frac = np.abs(prod - np.trunc(prod))
    suspect = (np.abs(frac - 0.5) < 1e-6) | (np.abs(prod) >= 2.0**52)
    if suspect.any():
        from decimal import ROUND_HALF_UP, Context, Decimal

        q = Decimal("0.000001")
        ctx = Context(prec=400)
        flat = out.reshape(-1)
        vflat = vals.reshape(-1)
        for j in np.nonzero(suspect.reshape(-1))[0]:
            flat[j] = float(
                Decimal(repr(float(vflat[j]))).quantize(
                    q, rounding=ROUND_HALF_UP, context=ctx
                )
            )
    return out


def _driver_lloyd(ids, A, k: int, iters: int):
    """Driver twin of the distributed Lloyd loop over a fully-collected
    corpus: seed = k smallest-id vectors, :func:`_argmin_sqdist`
    assignment, exact-mean update replaying queries/_util.davg's long
    mode — sum(round(x·1e6) as int64) / 1e6 / count, empty clusters
    dropped like the distributed groupBy drops them. Returns
    (clusters int64[K'], C float64[K'×DIM], best_idx, d2) for the FINAL
    assignment round."""
    import numpy as np

    order = np.argsort(ids, kind="stable")
    seed = order[:k]
    clusters = ids[seed]
    C = A[seed]
    micro = None
    for _ in range(iters - 1):
        best, _ = _argmin_sqdist(A, C)
        if micro is None:  # per-cell micro units are round-invariant
            micro = _round_micro_half_away(A * 1_000_000.0)
        present = np.unique(best)  # ascending index == ascending id
        newC = np.empty((len(present), A.shape[1]))
        for row, ci in enumerate(present):
            mask = best == ci
            s = micro[mask].sum(axis=0, dtype=np.int64)
            n = np.float64(mask.sum())
            newC[row] = (s.astype(np.float64) / 1_000_000.0) / n
        clusters = clusters[present]
        C = newC
    best, d2 = _argmin_sqdist(A, C)
    return clusters, C, best, d2


def _driver_probe(vecs: DataFrame, cap: int):
    """Size probe for the driver fast path: :func:`session.small_collect`
    of the (vec_id, embedding) rows. Returns (ids int64[n], A
    float64[n×DIM]) when the corpus fits and is clean (no NULL vectors or
    elements, unique ids, rectangular, finite, micro-unit sums inside
    int64), else None —
    conservative, never wrong. Long-sum mode only: the decimal exact-sum
    mode would need a different update replication."""
    if EXACT_SUM_MODE != "long":
        return None
    from pyspark.sql.types import DoubleType, FloatType, LongType

    # the driver twin replays LongType ids and float/double vectors; any
    # other shape falls back to the distributed loop (never wrong)
    id_type = vecs.schema["vec_id"].dataType
    vec_type = vecs.schema["embedding"].dataType
    if not isinstance(id_type, LongType):
        return None
    if not isinstance(
        getattr(vec_type, "elementType", None), (FloatType, DoubleType)
    ):
        return None
    head = small_collect(vecs, cap)
    if head is None or len(head) == 0:
        return None
    if head["vec_id"].isna().any() or head["embedding"].isna().any():
        return None
    # a repeated id can put two seed rows under one cluster id, which the
    # distributed update's groupBy(cluster) merges and the driver twin
    # keeps apart
    if head["vec_id"].duplicated().any():
        return None
    # the distributed seed casts vec_id to int BEFORE ordering clusters;
    # ids outside int32 would wrap there — fall back rather than model it
    if (head["vec_id"] < 0).any() or (head["vec_id"] > 2**31 - 1).any():
        return None
    dims = {len(v) for v in head["embedding"]}
    if len(dims) != 1 or 0 in dims:
        return None
    import numpy as np

    A = np.vstack([np.asarray(v, dtype=np.float64) for v in head["embedding"]])
    # NULL elements arrive as NaN. Non-finite cells, and per-dimension
    # micro-unit sums that dsum's long mode would overflow (Spark wraps
    # or raises there; 2^62 leaves margin for the float estimate), have
    # no faithful driver twin.
    if not np.isfinite(A).all() or (np.abs(A).sum(axis=0) * 1e6 >= 2.0**62).any():
        return None
    return head["vec_id"].to_numpy().astype(np.int64), A


def _update(assigned: DataFrame) -> DataFrame:
    """New centroid = exact per-dimension mean of the members."""
    cells = assigned.select(
        "cluster", F.posexplode("embedding").alias("i", "x")
    )
    # cast BEFORE the scaled-long mean: float*int stays float otherwise,
    # and the two engines' float rounding would diverge
    means = cells.groupBy("cluster", "i").agg(
        davg(F.col("x").cast("double")).alias("m")
    )
    return means.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
        ).alias("cent")
    )


def kmeans_fit(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
    driver_cap: int = KMEANS_DRIVER_ROW_CAP,
) -> DataFrame:
    """Train the codebook: `iters` Lloyd rounds from the deterministic
    seed (the K smallest-id vectors). Returns (cluster, cent) — the
    centroids the final assignment runs against (feed this straight
    into simsearch.ivf_topk's `codebook=`).

    ``driver_cap`` gates the small-corpus driver fast path (see
    KMEANS_DRIVER_ROW_CAP); ``0`` forces the distributed loop (tests pin
    driver == distributed on the same corpus)."""
    vecs = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    probe = _driver_probe(vecs, driver_cap) if iters >= 2 else None
    if probe is not None:
        import numpy as np

        ids, A = probe
        clusters, C, _, _ = _driver_lloyd(ids, A, k, iters)
        import pandas as pd
        from pyspark.sql.types import (
            ArrayType, DoubleType, IntegerType, StructField, StructType,
        )

        out = pd.DataFrame(
            {
                "cluster": clusters.astype(np.int32),
                "cent": [list(map(float, row)) for row in C],
            }
        )
        schema = StructType(
            [
                StructField("cluster", IntegerType()),
                StructField("cent", ArrayType(DoubleType())),
            ]
        )
        return df.sparkSession.createDataFrame(out, schema=schema)
    # deep iteration (> 2 rounds): cache the projected (id, vec) frame so
    # every Lloyd round reads the corpus from memory instead of rescanning
    # the source, and cut the centroid lineage per round (the plan would
    # otherwise grow a full assign+update subtree per iteration). Eagerly
    # unpersisted before returning; the 2-round benched path is untouched.
    deep = iters > 2
    if deep:
        vecs = vecs.persist()
    cents = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").cast("int").alias("cluster"),
            F.col("embedding").alias("cent"),
        )
    )
    for _ in range(iters - 1):
        # per-round driver round-trip is K×DIM centroid metadata (the same
        # payload the broadcast shipped); collecting it also resets the
        # logical plan each round, so lineage stays O(1) in iterations
        cents = _update(_assign_arrow(vecs, cents.collect()))
        if deep:
            cents = cents.localCheckpoint(eager=True)  # K rows
    if deep:
        vecs.unpersist()
    return cents


def kmeans_assign(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
    driver_cap: int = KMEANS_DRIVER_ROW_CAP,
) -> DataFrame:
    """Run `iters` Lloyd rounds and return (vec_id, cluster, d2) — the
    final assignment with its squared distance.

    Small corpora (see KMEANS_DRIVER_ROW_CAP) run entirely on the
    driver: one collect replaces the seed collect, the per-round
    assign+update collect, and the final distributed assignment —
    identical arithmetic by construction (shared numpy kernels), pinned
    driver == distributed by tests/test_opt_r14.py. ``driver_cap=0``
    forces the distributed path."""
    vecs = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    probe = _driver_probe(vecs, driver_cap) if iters >= 2 else None
    if probe is not None:
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import (
            DoubleType, IntegerType, LongType, StructField, StructType,
        )

        ids, A = probe
        clusters, _, best, d2 = _driver_lloyd(ids, A, k, iters)
        out = pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": clusters.astype(np.int32)[best],
                "d2": _round_6_half_away(d2),
            }
        )
        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("cluster", IntegerType()),
                StructField("d2", DoubleType()),
            ]
        )
        return df.sparkSession.createDataFrame(out, schema=schema)
    cents = kmeans_fit(
        df, vec_col=vec_col, id_col=id_col, k=k, iters=iters, driver_cap=0
    )
    return _assign_arrow(vecs, cents.collect()).select(
        "vec_id", "cluster", F.round("d2", 6).alias("d2")
    )
