"""Distributed running sums: the two-pass prefix-sum.

``SUM(x) OVER (PARTITION BY g ORDER BY o ROWS UNBOUNDED PRECEDING)``
executes each group's window in ONE task — a single giant group
serializes the whole stage (q131's token-budget fill is the motivating
case: one dominant source = one straggler task at 100 TB).

The classic fix is two passes:

1. range-partition rows by ``(group, order)`` so each task holds a
   contiguous slice of every group it sees, and compute the ordinary
   per-task running sum plus each task's per-group subtotal;
2. prefix-sum the (tasks × groups)-sized subtotal table — tiny — and
   broadcast it back as each slice's starting offset.

Row values are IDENTICAL to the single-window form (sums are
associative; the range partitioner only decides where slices are cut),
which the test asserts directly against the window form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ipes_data_pipeline_spark.operators.util import cut


def grouped_running_sum(
    df: DataFrame,
    group_col: str,
    order_col: str,
    val_col: str,
    out_col: str = "running_sum",
    num_shards: int | None = None,
) -> DataFrame:
    """``df`` + ``out_col`` = running sum of ``val_col`` per
    ``group_col`` in ``order_col`` order, without ever materializing a
    whole group in one task.

    ``order_col`` must be unique per group (it is the sort key; a
    non-unique key would make "running" ill-defined). Sums are computed
    exactly as BIGINT — cast upstream for decimals. With
    ``spark.ipes.reliableCuts`` set, the mandatory shard materialization
    goes through a reliable checkpoint (see
    :func:`~...operators.util.cut`) so a multi-hour run survives
    executor loss.
    """
    parts = num_shards or df.sparkSession.sparkContext.defaultParallelism
    # MATERIALIZE the sharded frame: both passes below consume it, and
    # without the cut Catalyst compiles two column-pruned copies of the
    # range exchange that sample boundaries INDEPENDENTLY — pass 1 and
    # pass 2 then disagree on spark_partition_id and the offsets attach
    # to the wrong slices (verified: 44k/60k wrong rows on a payload-
    # carrying input). The checkpoint pins ONE shard assignment.
    sliced = cut(
        df.repartitionByRange(parts, group_col, order_col).withColumn(
            "__shard", F.spark_partition_id()
        )
    )
    # pass 1: running sum WITHIN each (group, shard) slice — every
    # slice is one task's contiguous piece, so no single group
    # serializes more than its largest slice
    w_slice = (
        W.partitionBy(group_col, "__shard")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = sliced.withColumn("__local", F.sum(val_col).over(w_slice))
    # pass 2: per-slice subtotals (tasks × groups rows — tiny), prefix
    # over shards per group, broadcast back as starting offsets
    w_prior = (
        W.partitionBy(group_col)
        .orderBy("__shard")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = (
        sliced.groupBy(group_col, "__shard")
        .agg(F.sum(val_col).alias("__subtotal"))
        .withColumn(
            "__offset", F.coalesce(F.sum("__subtotal").over(w_prior), F.lit(0))
        )
        .select(group_col, "__shard", "__offset")
    )
    return (
        local.join(F.broadcast(offsets), [group_col, "__shard"])
        .withColumn(out_col, F.col("__local") + F.col("__offset"))
        .drop("__shard", "__local", "__offset")
    )
