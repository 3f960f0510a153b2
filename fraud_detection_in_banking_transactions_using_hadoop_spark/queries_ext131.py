"""Extension batch 131 (round 6): streaming EWMA maintenance -- the
first CARRIED-RECURSION fold in the streaming tier.

Every prior live fold (CMS, HLL, Bloom, minhash bands) merges an
ASSOCIATIVE sketch. EWMA state is not associative -- it is a linear
recursion s' = a*x + (1-a)*s -- but each micro-batch folds in closed
form: s_end = r^m * s_prev + sum_j a * x_j * r^(m-j) over the batch's
m in-order values (r = 1-a). The per-key state table carries
(ewma, seen) across batches behind the crash-safe swap, and the final
states equal the batch single-pass unroll (which is exactly what the
DuckDB oracle computes), so the live pipeline sits under the hash
gate.

Scale notes: per batch the work is one partitioned window (user key)
+ one groupBy -- state is one row per key, the standard keyed-state
footprint; the closed-form fold is what lets a 1-second trigger keep
up regardless of how long the stream has been running.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_ALPHA = 0.2
_R = 1 - _ALPHA


@register(
    "streaming_ewma_replay",
    f"""
    WITH seq AS (
      SELECT user_id, value,
             CAST(row_number() OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts), event_id) AS INTEGER) AS i,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      FROM events WHERE event_type = 'purchase'),
    scaled AS (
      SELECT user_id, n,
             CASE WHEN i = 1 THEN value / power({_R}, 1)
                  ELSE {_ALPHA} * value / power({_R}, i) END AS u
      FROM seq)
    SELECT user_id, n AS n_purchases,
           round(power({_R}, n) * sum(u), 6) AS ewma_value
    FROM scaled GROUP BY user_id, n
    """,
    tags=("streaming", "state", "ewma"),
)
def q_streaming_ewma_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of purchase values maintained OVER A STREAM with
    CARRIED state: purchases replay in four in-order micro-batches;
    each foreachBatch computes its per-key closed-form increment
    (r^m * s_prev + sum a x_j r^(m-j), first-ever value seeding the
    recursion at full weight) and swaps the (user, ewma, seen) state
    table. Unlike the sketch folds this state is NOT associative --
    the carried-recursion pattern is what session-state engines do
    under the hood, expressed as a deterministic closed form. Final
    states == the batch unroll (the oracle), to 1 ulp of power()
    re-association, far inside round(6)."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="ewma_stream_"))
    src, state = base / "src", base / "state"
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", "value", F.unix_micros("ts").alias("us"), "event_id")
    )
    # 4 contiguous in-order segments (streams deliver per-key order)
    parts = ev.select(
        "*",
        F.ntile(4).over(Window.orderBy("us", "event_id")).alias("pt"),
    )
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    def fold(batch_df, batch_id):
        w = Window.partitionBy("user_id").orderBy("us", "event_id")
        seq = batch_df.select(
            "user_id",
            "value",
            F.row_number().over(w).cast("int").alias("j"),
            F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("m"),
        )
        # inc_new: recursion seeded by this batch's first value;
        # inc_old: pure increment assuming carried state exists
        inc_old = seq.groupBy("user_id", "m").agg(
            F.sum(
                _ALPHA * F.col("value") * F.pow(F.lit(_R), F.col("m") - F.col("j"))
            ).alias("inc_o"),
            F.sum(
                F.when(
                    F.col("j") == 1,
                    F.col("value") * F.pow(F.lit(_R), F.col("m") - 1),
                ).otherwise(
                    _ALPHA
                    * F.col("value")
                    * F.pow(F.lit(_R), F.col("m") - F.col("j"))
                )
            ).alias("inc_n"),
        )

        def advance(prev):
            if prev is None:
                return inc_old.select(
                    "user_id",
                    F.col("inc_n").alias("ewma"),
                    F.col("m").cast("bigint").alias("seen"),
                )
            return inc_old.join(prev, "user_id", "full_outer").select(
                "user_id",
                F.when(
                    F.col("m").isNull(), F.col("ewma")  # no new data
                )
                .when(
                    F.col("ewma").isNull(), F.col("inc_n")  # new key
                )
                .otherwise(
                    F.pow(F.lit(_R), F.col("m")) * F.col("ewma")
                    + F.col("inc_o")
                )
                .alias("ewma"),
                (
                    F.coalesce(F.col("seen"), F.lit(0))
                    + F.coalesce(F.col("m"), F.lit(0))
                )
                .cast("bigint")
                .alias("seen"),
            )

        fold_state(spark, str(state), advance, f"ewma{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    final = spark.read.parquet(str(state))
    return final.select(
        "user_id",
        F.col("seen").alias("n_purchases"),
        F.round("ewma", 6).alias("ewma_value"),
    )
