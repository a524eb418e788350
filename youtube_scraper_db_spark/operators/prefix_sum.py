"""Distributed cumulative sum — the scale-safe replacement for
``SUM(x) OVER (ORDER BY k)``.

A global ordered window collapses the whole dataset into ONE reducer
(Spark plans ``Exchange SinglePartition`` + a single sorted partition) —
the canonical scale-killer for running totals, interval sweeps, and
cumulative distributions. The classic two-phase formulation instead:

1. cut the key domain into contiguous buckets at approximate quantiles
   (one ``percentile_approx`` pass) and range-shuffle on the bucket id;
2. running sum WITHIN each bucket (``Window.partitionBy(bucket)`` — no
   cross-bucket ordering, so no single-reducer exchange);
3. per-bucket totals (one row per bucket — thousands of rows at most)
   aggregated on the driver into exclusive prefix offsets, joined back
   as a broadcast.

Total cost: one quantile pass + one range shuffle of the data + one
broadcast of #buckets rows, with every stage at full parallelism. The
sweep-line queries built on this (interval stabbing counts, cumulative
revenue) inherit the same scaling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def distributed_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = running sum of ``value_col`` in ``order_col``
    order, without a single-partition exchange.

    ``order_col`` must be unique per row (a total order) — pre-aggregate
    to one row per key first; with duplicate keys split across a range
    boundary the within-key ordering would be partition-dependent."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Materialize the (pre-aggregated, one-row-per-key) input ONCE: the
    # quantile pass, the bucket totals and the final join all read it and
    # would otherwise each recompute the full upstream lineage.
    # Storage is auto-released by the ContextCleaner when the RDD is GC'd.
    df = df.localCheckpoint(eager=True)
    # The bucket is a function of the key alone, computed from bounds
    # fixed here. ``spark_partition_id()`` after a range shuffle on the key
    # is not: the range partitioner samples with a seed taken from the RDD
    # id, so the totals job and the final job can draw different bounds.
    qs = [i / n for i in range(1, n)]
    bounds = df.agg(F.percentile_approx(order_col, qs)).first()[0] if qs else None
    bucket = sum(
        ((F.col(order_col) > F.lit(b)).cast("int") for b in bounds or []), F.lit(0)
    )
    rp = df.withColumn("_pid", bucket).repartitionByRange(n, "_pid")
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = rp.withColumn("_local", F.sum(value_col).over(w))
    # One row per bucket: (pid, bucket total). Driver-side exclusive
    # prefix — O(#partitions), the only non-distributed step, by design.
    totals = sorted(
        (r["_pid"], r["_tot"])
        for r in local.groupBy("_pid").agg(F.sum(value_col).alias("_tot")).collect()
    )
    offsets, acc = [], 0
    for pid, tot in totals:
        offsets.append((pid, acc))
        acc += tot or 0
    if not offsets:  # empty input: nothing to offset
        return local.withColumn(out_col, F.col("_local")).drop("_pid", "_local")
    off_df = df.sparkSession.createDataFrame(offsets, ["_pid", "_offset"])
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.col("_local") + F.col("_offset"))
        .drop("_pid", "_local", "_offset")
    )
