"""Sequence packing — the batch-assembly stage of a training-data
pipeline: assign documents to fixed-size token windows ("packs") so a
trainer can stream pack_id-partitioned shards.

Packing strategy: contiguous fill in a deterministic document order —
pack_id = floor(tokens_before_this_doc / target). Documents spanning a
boundary belong to the pack where they start (the trainer truncates or
continues at read time); every assignment is a pure function of the
exclusive prefix sum, so the operator is exactly oracle-checkable and
reproducible across reruns and retries.

Scale posture: the prefix sum uses the same three-step distributed
enumerate as operators/positional.py — range-sort (parallel), per-
partition window keyed by spark_partition_id (parallel), plus a
numPartitions-row offset table collected driver-side (AQE-stats-sized)
and broadcast back. The naive `sum() OVER (ORDER BY …)` with no
partition funnels 100 TB through one task; this form never does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from quackspark.session import local_frame


def with_global_cumsum(
    df: DataFrame,
    order_by: list[Column | str],
    value_col: str,
    out_col: str = "cum_before",
) -> DataFrame:
    """Append the EXCLUSIVE global prefix sum of ``value_col`` following
    ``order_by`` order (sum of all earlier rows; 0 for the first)."""
    # localCheckpoint pins the range-sort partitioning: the per-partition
    # totals collect below and the broadcast join after it replay the SAME
    # lineage, and a task retry / speculative re-execution re-running the
    # range sampling could otherwise assign rows to different partitions
    # between the two jobs. Checkpointing makes the invariant structural
    # rather than incidental (deterministic inputs + seeded sampling).
    sdf = (
        df.orderBy(*order_by)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = sdf.withColumn(
        "__local_cum", F.coalesce(F.sum(value_col).over(w), F.lit(0))
    )
    part_sums = sorted(
        local.groupBy("__pid").agg(F.sum(value_col).alias("s")).collect()
    )
    offsets, acc = [], 0
    for row in part_sums:
        offsets.append((row["__pid"], acc))
        acc += row["s"] or 0
    spark = df.sparkSession
    off = local_frame(spark, offsets or [(0, 0)], "__pid int, __off long")
    return (
        local.join(F.broadcast(off), "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__local_cum")).cast("long"))
        .drop("__pid", "__local_cum", "__off")
    )


def pack_sequences(
    df: DataFrame,
    n_tokens_col: str,
    id_col: str,
    target_tokens: int,
) -> DataFrame:
    """Assign each row to a pack: pack_id = cum_before // target,
    offset_in_pack = cum_before % target. Input needs a per-row token
    count (``n_tokens_col``); rows are packed in ``id_col`` order."""
    cum = with_global_cumsum(df, [id_col], n_tokens_col)
    return cum.select(
        id_col,
        n_tokens_col,
        (F.col("cum_before") / target_tokens).cast("long").alias("pack_id"),
        (F.col("cum_before") % target_tokens).alias("offset_in_pack"),
    )
