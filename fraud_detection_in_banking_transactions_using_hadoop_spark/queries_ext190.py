"""Extension batch 190 (round 7): streaming_lindley_replay -- the 23rd
live structured-streaming replay, and the first whose carried state
includes a CROSS-BATCH ROW DEPENDENCY.

The Lindley waiting-time recursion W_i = max(0, W_{i-1} + S - A_i)
(fixed 45 s service, A_i the interarrival gap, queue resets each day)
is the same reset-at-zero max-plus monoid as streaming_cusum_replay --
but unlike every prior replay, its per-row increment D_i = S - gap_i
depends on the PREVIOUS row's timestamp, which may live in the
previous micro-batch. The carried per-day state therefore holds
(w, peak, last_us, seen): each batch computes its in-batch max-plus
quadruple per day over the rows whose lag-gap is in-batch, and the one
boundary row per (day x batch) is stitched exactly from state.last_us
before the quadruple composes. Spark's NULL-ignoring greatest() gives
the empty-quadruple (single-row day-batch) case for free.

The oracle never sees batches: the whole-sequence per-day window
identity (W_end = max(0, max suffix sum), peak = max(0, Kadane))
must equal the 4-batch live fold exactly -- integer micros end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_SERVICE_US = 45_000_000  # fixed 45 s service per arrival


@register(
    "streaming_lindley_replay",
    f"""
    WITH seq AS (
      SELECT CAST(ts AS DATE) AS day, event_id,
             {_SERVICE_US} - (epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY CAST(ts AS DATE)
               ORDER BY ts, event_id)) AS d,
             row_number() OVER (PARTITION BY CAST(ts AS DATE)
               ORDER BY ts, event_id) AS i
      FROM events),
    rows_d AS (SELECT day, d, i FROM seq WHERE d IS NOT NULL),
    pre0 AS (
      SELECT day, d, i,
             sum(d) OVER (PARTITION BY day ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref
      FROM rows_d),
    pre AS (
      SELECT day, d, pref,
             least(0, coalesce(min(pref) OVER (PARTITION BY day ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               AS minpref_excl,
             sum(d) OVER (PARTITION BY day) - pref + d AS t_minus
      FROM pre0),
    perday AS (
      SELECT day,
             CAST(greatest(0, max(t_minus)) AS BIGINT) AS w_end,
             CAST(greatest(0, max(pref - minpref_excl)) AS BIGINT) AS peak
      FROM pre GROUP BY day),
    counts AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS seen
      FROM events GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(c.seen) AS BIGINT) AS n_arrivals,
           round(CAST(max(coalesce(p.peak, 0)) AS DOUBLE) / 1000000.0, 3)
             AS max_peak_wait_s,
           round(CAST(max(coalesce(p.w_end, 0)) AS DOUBLE) / 1000000.0, 3)
             AS max_end_backlog_s,
           CAST(sum(CASE WHEN coalesce(p.w_end, 0) > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_days_open_backlog
    FROM counts c LEFT JOIN perday p ON p.day = c.day
    """,
    tags=("streaming", "state", "queueing", "max-plus"),
)
def q_streaming_lindley_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live Lindley queue over four in-order micro-batches: per day,
    W_i = max(0, W_{i-1} + 45s - gap_i). The in-batch rows compose as
    the max-plus quadruple (total, max-prefix, max-suffix, Kadane); the
    one row per (day, batch) whose lag-gap crosses the batch boundary
    is stitched from the carried last_us BEFORE composing -- the first
    replay whose state carries a row-level dependency, not just an
    aggregate. Final per-day states must equal the oracle's
    whole-sequence window identity exactly (integer micros)."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="lindley_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    parts = ev.select(
        "*", F.ntile(4).over(Window.orderBy("us", "event_id")).alias("pt")
    )
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    def fold(batch_df, batch_id):
        w = Window.partitionBy("day").orderBy("us", "event_id")
        wcum = w.rowsBetween(Window.unboundedPreceding, 0)
        wexcl = w.rowsBetween(Window.unboundedPreceding, -1)
        d = batch_df.select(
            "day",
            "us",
            "event_id",
            (F.lit(_SERVICE_US) - (F.col("us") - F.lag("us").over(w))).alias(
                "d"
            ),
        )
        rows_d = d.where(F.col("d").isNotNull()).select(
            "day",
            "d",
            "us",
            "event_id",
            F.sum("d").over(wcum).alias("pref"),
        )
        pre = rows_d.select(
            "day",
            "d",
            "pref",
            F.least(
                F.lit(0), F.coalesce(F.min("pref").over(wexcl), F.lit(0))
            ).alias("minpref_excl"),
            (
                F.sum("d").over(Window.partitionBy("day"))
                - F.col("pref")
                + F.col("d")
            ).alias("t_minus"),
        )
        quad = pre.groupBy("day").agg(
            F.sum("d").cast("bigint").alias("total"),
            F.max("pref").cast("bigint").alias("maxpref"),
            F.max("t_minus").cast("bigint").alias("maxsuffix"),
            F.max(F.col("pref") - F.col("minpref_excl"))
            .cast("bigint")
            .alias("kad"),
        )
        bounds = batch_df.groupBy("day").agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.min("us").cast("bigint").alias("first_us"),
            F.max("us").cast("bigint").alias("batch_last_us"),
        )
        agg = bounds.join(quad, "day", "left")

        def advance(prev):
            if prev is None:
                return agg.select(
                    "day",
                    F.greatest(
                        F.lit(0).cast("bigint"),
                        F.coalesce(F.col("maxsuffix"), F.lit(0)),
                    )
                    .cast("bigint")
                    .alias("w"),
                    F.greatest(
                        F.lit(0).cast("bigint"),
                        F.coalesce(F.col("kad"), F.lit(0)),
                    )
                    .cast("bigint")
                    .alias("peak"),
                    F.col("batch_last_us").cast("bigint").alias("last_us"),
                    F.col("m").cast("bigint").alias("seen"),
                )
            joined = agg.join(prev, "day", "full_outer")
            # boundary wait: the first batch row of a day already in
            # state gets its increment stitched from state.last_us;
            # a brand-new day's first arrival waits 0
            w1b = F.when(
                F.col("last_us").isNotNull(),
                F.greatest(
                    F.lit(0),
                    F.col("w")
                    + (
                        F.lit(_SERVICE_US)
                        - (F.col("first_us") - F.col("last_us"))
                    ),
                ),
            ).otherwise(F.lit(0))
            return joined.select(
                "day",
                F.when(F.col("m").isNull(), F.col("w"))
                .otherwise(
                    F.greatest(
                        F.lit(0),
                        F.col("maxsuffix"),
                        w1b + F.coalesce(F.col("total"), F.lit(0)),
                    )
                )
                .cast("bigint")
                .alias("w"),
                F.when(F.col("m").isNull(), F.col("peak"))
                .otherwise(
                    F.greatest(
                        F.coalesce(F.col("peak"), F.lit(0)),
                        w1b,
                        F.col("kad"),
                        w1b + F.col("maxpref"),
                    )
                )
                .cast("bigint")
                .alias("peak"),
                F.when(F.col("m").isNull(), F.col("last_us"))
                .otherwise(F.col("batch_last_us"))
                .cast("bigint")
                .alias("last_us"),
                (
                    F.coalesce(F.col("seen"), F.lit(0))
                    + F.coalesce(F.col("m"), F.lit(0))
                )
                .cast("bigint")
                .alias("seen"),
            )

        fold_state(spark, str(state), advance, f"lindley{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    final = spark.read.parquet(str(state))
    return final.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("seen").cast("bigint").alias("n_arrivals"),
        F.round(F.max("peak").cast("double") / 1000000.0, 3).alias(
            "max_peak_wait_s"
        ),
        F.round(F.max("w").cast("double") / 1000000.0, 3).alias(
            "max_end_backlog_s"
        ),
        F.sum(F.when(F.col("w") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_days_open_backlog"),
    )
