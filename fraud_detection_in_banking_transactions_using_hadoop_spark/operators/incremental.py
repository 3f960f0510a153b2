"""Incremental aggregate maintenance: the materialized-view pattern.

A 100 TB fact table is never re-aggregated from scratch per batch; the
engine keeps per-key PARTIAL aggregates (count/sum/min/max + HLL
sketches -- all mergeable) and folds each new batch in with one
key-partitioned merge. avg/distinct are DERIVED from the partials at
read time, never stored (a stored avg cannot be merged).

State lives in a keyed Parquet table behind the crash-safe swap
(operators/merge.py), so batch replays are idempotent when driven from
foreachBatch with checkpointing -- the same exactly-once story as the
streaming lookup merge.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.merge import (
    atomic_overwrite,
    recover_table,
)

PARTIAL_COLS = ("n", "sum_v", "min_v", "max_v", "hll_v")


def partials_of(batch: DataFrame, key: str, value_col: str) -> DataFrame:
    """Per-key mergeable partials of one batch: count, sum, min, max,
    and an HLL sketch of distinct values (Apache DataSketches via
    hll_sketch_agg -- mergeable, ~const size per key)."""
    v = F.col(value_col)
    return batch.groupBy(key).agg(
        F.count(v).cast("bigint").alias("n"),
        F.sum(v).alias("sum_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        # sketch the string form: hll_sketch_agg takes int/long/string/
        # binary only, and distinct-count semantics survive any injective
        # encoding
        F.hll_sketch_agg(v.cast("string")).alias("hll_v"),
    )


def merge_partials(state: DataFrame, delta: DataFrame, key: str) -> DataFrame:
    """Fold a batch's partials into the state: each component merges by
    its own monoid (sum+sum, min(min), max(max), hll_union). Outer join
    on the key -- one shuffle, or zero when both sides are bucketed."""
    s, d = state.alias("s"), delta.alias("d")
    joined = s.join(d, key, "full_outer")

    def pick(col, combine):
        a, b = F.col(f"s.{col}"), F.col(f"d.{col}")
        return (
            F.when(a.isNull(), b).when(b.isNull(), a).otherwise(combine(a, b))
        ).alias(col)

    return joined.select(
        F.col(key),
        pick("n", lambda a, b: a + b),
        pick("sum_v", lambda a, b: a + b),
        pick("min_v", F.least),
        pick("max_v", F.greatest),
        pick("hll_v", lambda a, b: F.hll_union(a, b)),
    )


def finalize(state: DataFrame) -> DataFrame:
    """Derive the user-facing aggregates from the stored partials."""
    return state.select(
        *[c for c in state.columns if c not in PARTIAL_COLS],
        F.col("n"),
        F.col("sum_v"),
        (F.col("sum_v") / F.col("n")).alias("avg_v"),
        F.col("min_v"),
        F.col("max_v"),
        F.hll_sketch_estimate("hll_v").cast("bigint").alias("approx_distinct_v"),
    )


def fold_state(
    spark: SparkSession,
    state_path: str,
    step: Callable[[DataFrame | None], DataFrame],
    token: str,
) -> None:
    """One carried-state step behind the crash-safe swap: heal an
    interrupted swap, hand the previous state to `step` (None on the
    first batch, when no table, staging or backup exists yet), and
    publish what it returns. Any other error -- a failed rename, a bad
    merge -- propagates and fails the batch, so the checkpoint replays
    it instead of committing a state that lost earlier batches."""
    try:
        recover_table(spark, state_path)
    except FileNotFoundError:
        prev = None
    else:
        prev = spark.read.parquet(state_path)
    atomic_overwrite(step(prev), state_path, token)


def replay_files(
    spark: SparkSession,
    src_glob: str,
    schema: T.StructType,
    fold: Callable[[DataFrame, int], None],
) -> None:
    """Replay the parquet files matched by `src_glob` as a stream, one
    file per micro-batch (oldest first), through `fold(batch_df,
    batch_id)`; return once every file is consumed. A batch whose fold
    raises stops the query and re-raises here."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_glob)
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_agg_update(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    key: str,
    value_col: str,
    token: str = "aggstate",
) -> None:
    """Fold one batch into the persisted aggregate state (create on
    first batch) behind the crash-safe swap."""
    delta = partials_of(batch, key, value_col)
    fold_state(
        spark,
        state_path,
        lambda state: delta if state is None else merge_partials(state, delta, key),
        token,
    )
