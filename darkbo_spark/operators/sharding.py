"""Token-budget shard packing — the step between a filtered corpus and
the tokenizer: assign documents (in a stable global order) to output
shards of ~`budget` tokens each, so every training shard is the same
size regardless of document-length skew.

The naive Spark form — `SUM(weight) OVER (ORDER BY key)` with no
PARTITION BY — executes as `Exchange SinglePartition` + one window task:
the whole corpus funnels through ONE core. This operator implements the
textbook DISTRIBUTED PREFIX SUM instead:

1. range-partition by the order key (`repartitionByRange` — already the
   sort Spark would do anyway);
2. per-partition running totals via a window PARTITIONED BY the physical
   partition id (parallel);
3. per-partition totals are collected (one tiny row per partition),
   prefix-offset on the driver, and broadcast back as a join.

The global cumulative sum is then `offset(partition) + local_running`,
exact integer math — and the plan contains NO SinglePartition exchange
(gated in docs/PLANS.md). shard_id = floor((cumsum - weight) / budget):
a document starts in the shard its first token lands in; shards are
contiguous in the global order, so downstream writers can
`partitionBy("shard_id")`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pack_shards(
    df: DataFrame,
    budget: int,
    num_range_partitions: int | None = None,
) -> DataFrame:
    """→ input columns + (cum_tokens, shard_id). `n_tokens` must be a
    non-negative integral column; `doc_id` must be unique (a total
    order) for the assignment to be deterministic."""
    parts = num_range_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, F.col("doc_id")).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # MATERIALIZE before anything consumes this twice: repartitionByRange
    # SAMPLES to place its boundaries, so a recomputation can assign rows
    # to different partitions than the run that measured the totals —
    # the offsets would then be prefixed against the wrong partitioning
    # (caught by the sf0.1 driver-oracle hash; sf0.01 was small enough to
    # resample identically). localCheckpoint pins ONE partitioning for
    # both the totals collect and the final plan.
    local = ranged.withColumn(
        "_local_cum", F.sum(F.col("n_tokens").cast("bigint")).over(w)
    ).localCheckpoint(eager=True)
    # one tiny row per partition → driver prefix-sum → broadcast join.
    # (_pid, min order key) also fixes the partition ORDER explicitly
    # instead of trusting partition-id assignment order.
    totals = (
        local.groupBy("_pid")
        .agg(
            F.max("_local_cum").alias("_ptotal"),
            F.min("doc_id").alias("_pmin"),
        )
        .collect()
    )
    offs = []
    acc = 0
    for r in sorted(totals, key=lambda r: r._pmin):
        offs.append((r._pid, acc))
        acc += r._ptotal
    spark = df.sparkSession
    import pandas as pd

    # explicit schema: an EMPTY input yields zero offset rows, and a
    # schema-less createDataFrame over an all-object empty pandas frame
    # fails inference (the join below then correctly produces zero rows)
    pdf = (
        pd.DataFrame(offs, columns=["_pid", "_off"])
        if offs
        else pd.DataFrame(
            {"_pid": pd.Series(dtype="int64"), "_off": pd.Series(dtype="int64")}
        )
    )
    off_df = F.broadcast(spark.createDataFrame(pdf, schema="_pid int, _off bigint"))
    return (
        local.join(off_df, "_pid")
        .withColumn("cum_tokens", (F.col("_off") + F.col("_local_cum")).cast("bigint"))
        .withColumn(
            "_start", F.col("cum_tokens") - F.col("n_tokens").cast("bigint")
        )
        # exact integer division spelled as (d - d%B)/B: the numerator is an
        # exact multiple of B, so the double division is exact in IEEE —
        # bit-identical in Spark and DuckDB (a bare floor(d/B) can flip at
        # boundaries for huge d)
        .withColumn(
            "shard_id",
            (
                (F.col("_start") - F.pmod(F.col("_start"), F.lit(budget)))
                / F.lit(budget)
            ).cast("bigint"),
        )
        .drop("_pid", "_local_cum", "_off", "_start")
    )
