"""Extension batch 48: a live streaming median monitor and the
turning-point randomness test.

Scale notes (the 100 TB story per query):
- streaming_median_monitor maintains a value histogram over the
  stream (foreachBatch integer-count fold behind the atomic swap --
  the PSI/CMS pattern) and reads the median off the folded histogram
  exactly like the batch spine computation. Histogram merge is
  integer addition, so the streamed median EQUALS the batch median
  bit-for-bit and the whole query sits under the hash gate: the
  "p50 updated every minute" dashboard, provably consistent with
  nightly batch.
- turning_point_test is the third classical randomness screen (runs
  test: signs; permutation test: magnitudes; turning points: local
  extrema): count days that are strict local maxima or minima of the
  revenue series, z against E[T] = 2(n-2)/3, Var = (16n-29)/90.
  Exact integer counts on the bounded spine, one closing float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"


# ---------------------------------------------------------------------------
# Streaming median monitor: histogram fold == batch spine median.
# ---------------------------------------------------------------------------
@register(
    "streaming_median_monitor",
    """
    WITH vals AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS v FROM events
    ),
    spine AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY v),
    cum AS (
      SELECT v, sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM spine),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST((sum(c) + 1) // 2 AS BIGINT) AS r FROM spine)
    SELECT (SELECT n FROM tot) AS n_events,
           CAST(min(CASE WHEN cum.cc >= (SELECT r FROM tot) THEN cum.v END)
                AS BIGINT) AS median_cents
    FROM cum
    """,
    tags=("streaming", "quantile", "monitoring"),
)
def q_streaming_median_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median maintained over a 4-micro-batch replay: each foreachBatch
    folds its per-value counts into the parquet histogram state
    (atomic swap); the final median is the first folded value whose
    cumulative count reaches (n+1)/2 -- identical to the batch spine
    median the oracle computes, because histogram merge is exact
    integer addition."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="median_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select(
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("v")
    )
    ev.repartition(4).write.parquet(str(src))

    def fold(batch_df, batch_id):
        cur = batch_df.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))

        def advance(prev):
            if prev is None:
                return cur
            return (
                prev
                .unionByName(cur)
                .groupBy("v")
                .agg(F.sum("c").cast("bigint").alias("c"))
            )

        fold_state(spark, str(state), advance, f"med{batch_id}")

    replay_files(spark, str(src), ev.schema, fold)

    spine = spark.read.parquet(str(state))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = spine.select("v", F.sum("c").over(wv).alias("cc"))
    tot = spine.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.expr("CAST((sum(c) + 1) DIV 2 AS BIGINT)").alias("r"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").alias("n_events"),
            F.min(F.when(F.col("cc") >= F.col("r"), F.col("v")))
            .cast("bigint")
            .alias("median_cents"),
        )
        .select(F.col("n_events").cast("bigint").alias("n_events"), "median_cents")
    )


# ---------------------------------------------------------------------------
# Turning-point test on the daily revenue series.
# ---------------------------------------------------------------------------
@register(
    "turning_point_test",
    f"""
    WITH days AS (
      SELECT o_orderdate AS d, CAST(sum({_CENTS}) AS BIGINT) AS c
      FROM orders GROUP BY o_orderdate
    ),
    tri AS (
      SELECT lag(c) OVER (ORDER BY d) AS a, c AS b,
             lead(c) OVER (ORDER BY d) AS e
      FROM days
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN (b > a AND b > e) OR (b < a AND b < e)
                      THEN 1 ELSE 0 END) AS BIGINT) AS t,
             CAST(count(*) + 2 AS BIGINT) AS n
      FROM tri WHERE a IS NOT NULL AND e IS NOT NULL
    )
    SELECT n AS n_days, t AS n_turning_points,
           round(2.0 * (n - 2) / 3, 6) AS expected_t,
           round((t - 2.0 * (n - 2) / 3)
                 / sqrt((16.0 * n - 29) / 90), 6) AS z_score
    FROM agg
    """,
    tags=("stats", "randomness", "timeseries"),
)
def q_turning_point_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count strict local maxima/minima of the daily revenue series
    (interior days only); under randomness E[T] = 2(n-2)/3 with
    Var = (16n-29)/90. Exact integer counts on the bounded spine; too
    FEW turning points means trend/seasonality, too many means
    oscillation."""
    orders = read_table(spark, sf_dir, "orders")
    days = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.expr(_CENTS)).cast("bigint").alias("c")
    )
    w = Window.orderBy("d")
    tri = days.select(
        F.lag("c").over(w).alias("a"),
        F.col("c").alias("b"),
        F.lead("c").over(w).alias("e"),
    ).where(F.col("a").isNotNull() & F.col("e").isNotNull())
    agg = tri.agg(
        F.sum(
            F.when(
                ((F.col("b") > F.col("a")) & (F.col("b") > F.col("e")))
                | ((F.col("b") < F.col("a")) & (F.col("b") < F.col("e"))),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("t"),
        (F.count(F.lit(1)) + 2).cast("bigint").alias("n"),
    )
    nd = F.col("n").cast("double")
    et = 2.0 * (nd - 2) / 3
    return agg.select(
        F.col("n").alias("n_days"),
        F.col("t").alias("n_turning_points"),
        F.round(et, 6).alias("expected_t"),
        F.round((F.col("t") - et) / F.sqrt((16.0 * nd - 29) / 90), 6).alias("z_score"),
    )
