"""Extension batch 144 (round 6): the first TWO-STATE carried-
recursion streaming fold -- per-user Holt (level, trend) smoothing
maintained across micro-batches -- plus the SES alpha grid scan that
picks the smoothing constant by one-step backtest SSE.

streaming_ewma_replay carries a 1-dimensional linear recursion in
closed form (r^m scaling). Holt state is a COUPLED 2-vector recursion
[l; b] <- A [l; b] + y v, so there is no scalar closed form -- instead
each micro-batch folds its in-order values sequentially (Spark
`aggregate` lambda, seeded from the carried state joined in), and the
state table swap carries (l, b, seen) forward. Because the per-batch
fold performs the IDENTICAL double-op sequence the full-series fold
would, the final states are bit-for-bit equal to the batch unroll --
stronger than the EWMA fold's 1-ulp power() re-association note.

Oracle: the same recursion unrolled as a per-user recursive CTE
(DuckDB list_reduce cannot carry coupled struct state -- CLAUDE.md).

Scale notes: per batch one partitioned sort + groupBy per key; state
is one row per key. ses_alpha_scan runs a 9-point alpha grid over the
CALENDAR-bounded last-56-day array -- 9 x 56 fold steps, constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_HA = 0.3   # holt level alpha
_HB = 0.1   # holt trend beta
_ALPHAS = tuple(round(0.1 * k, 1) for k in range(1, 10))


def _holt_step_sql(l: str, b: str, y: str) -> tuple[str, str]:
    a, be = repr(_HA), repr(_HB)
    new_l = f"({a} * {y} + (1.0 - {a}) * ({l} + {b}))"
    new_b = f"({be} * ({new_l} - {l}) + (1.0 - {be}) * {b})"
    return new_l, new_b


_NL, _NB = _holt_step_sql("r.l", "r.b", "a.ys[r.i + 1]")

@register(
    "streaming_holt_replay",
    f"""
    WITH RECURSIVE base AS (
      SELECT user_id, CAST(value AS DOUBLE) AS y, epoch_us(ts) AS us, event_id
      FROM events WHERE event_type = 'purchase'),
    arrs AS MATERIALIZED (
      SELECT user_id, list(y ORDER BY us, event_id) AS ys,
             CAST(count(*) AS BIGINT) AS m
      FROM base GROUP BY user_id),
    rec AS (
      SELECT user_id, 1 AS i, ys[1] AS l, CAST(0.0 AS DOUBLE) AS b
      FROM arrs
      UNION ALL
      SELECT r.user_id, r.i + 1, {_NL}, {_NB}
      FROM rec r JOIN arrs a ON a.user_id = r.user_id
      WHERE r.i < a.m)
    SELECT a.user_id, a.m AS n_purchases,
           round(r.l, 6) AS level_value,
           round(r.b, 6) + 0.0 AS trend_per_purchase
    FROM rec r JOIN arrs a ON a.user_id = r.user_id AND r.i = a.m
    """,
    tags=("streaming", "state", "forecast"),
)
def q_streaming_holt_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt (level, trend) over purchase values maintained
    ACROSS four in-order micro-batches with carried 2-state: each
    foreachBatch sorts its per-key values, folds them through the
    coupled recursion seeded from the carried (l, b) (first-ever value
    seeds l = y1, b = 0), and swaps the state table crash-safely.
    The concatenated per-batch folds execute the exact double-op
    sequence of the full-series fold, so final states == the batch
    unroll bit-for-bit (the oracle's per-user recursive CTE)."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="holt_stream_"))
    src, state = base / "src", base / "state"
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("value").cast("double").alias("y"),
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
    )
    parts = ev.select(
        "*", F.ntile(4).over(Window.orderBy("us", "event_id")).alias("pt")
    )
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    a, be = repr(_HA), repr(_HB)
    new_l = f"({a} * x + (1.0 - {a}) * (acc.l + acc.b))"
    step = (
        f"(acc, x) -> named_struct('l', {new_l},"
        f" 'b', {be} * ({new_l} - acc.l) + (1.0 - {be}) * acc.b)"
    )

    def fold(batch_df, batch_id):
        arrs = (
            batch_df.groupBy("user_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(us, event_id, y))),"
                    " p -> p.y)"
                ).alias("ys"),
                F.count(F.lit(1)).cast("bigint").alias("m"),
            )
        )

        def advance(prev):
            if prev is None:
                return arrs.select(
                    "user_id",
                    F.expr(
                        "aggregate(slice(ys, 2, cast(m AS INT) - 1),"
                        " named_struct('l', ys[0], 'b', CAST(0.0 AS DOUBLE)),"
                        f" {step})"
                    ).alias("st"),
                    F.col("m").cast("bigint").alias("seen"),
                ).select(
                    "user_id",
                    F.col("st.l").alias("l"),
                    F.col("st.b").alias("b"),
                    "seen",
                )
            return arrs.join(prev, "user_id", "full_outer").select(
                "user_id",
                F.expr(
                    "CASE WHEN m IS NULL THEN named_struct('l', l, 'b', b) "
                    "WHEN l IS NULL THEN aggregate("
                    f"  slice(ys, 2, cast(m AS INT) - 1),"
                    f"  named_struct('l', ys[0], 'b', CAST(0.0 AS DOUBLE)),"
                    f"  {step}) "
                    "ELSE aggregate(ys,"
                    f"  named_struct('l', l, 'b', b), {step}) END"
                ).alias("st"),
                (
                    F.coalesce(F.col("seen"), F.lit(0))
                    + F.coalesce(F.col("m"), F.lit(0))
                )
                .cast("bigint")
                .alias("seen"),
            ).select(
                "user_id",
                F.col("st.l").alias("l"),
                F.col("st.b").alias("b"),
                "seen",
            )

        fold_state(spark, str(state), advance, f"holt{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    final = spark.read.parquet(str(state))
    return final.select(
        "user_id",
        F.col("seen").alias("n_purchases"),
        F.round("l", 6).alias("level_value"),
        (F.round("b", 6) + F.lit(0.0)).alias("trend_per_purchase"),
    )


_SES_ALPHA_LIST = ", ".join(f"CAST({a!r} AS DOUBLE)" for a in _ALPHAS)


@register(
    "ses_alpha_scan",
    f"""
    WITH RECURSIVE daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_orderdate),
    win AS (
      SELECT d, CAST(cents AS DOUBLE) AS y FROM daily
      WHERE d > (SELECT max(d) - INTERVAL 56 DAY FROM daily)),
    arr AS MATERIALIZED (
      SELECT list(y ORDER BY d) AS ys, CAST(count(*) AS BIGINT) AS n FROM win),
    grid AS (SELECT unnest([{_SES_ALPHA_LIST}]) AS alpha),
    rec AS (
      SELECT g.alpha, 1 AS i, a.ys[1] AS s, CAST(0.0 AS DOUBLE) AS sse
      FROM grid g CROSS JOIN arr a
      UNION ALL
      SELECT r.alpha, r.i + 1,
             r.alpha * a.ys[r.i + 1] + (1.0 - r.alpha) * r.s,
             r.sse + (a.ys[r.i + 1] - r.s) * (a.ys[r.i + 1] - r.s)
      FROM rec r CROSS JOIN arr a
      WHERE r.i < a.n)
    SELECT r.alpha,
           round(sqrt(r.sse / (a.n - 1)) / 100.0, 2) AS rmse_1step_dollars
    FROM rec r CROSS JOIN arr a
    WHERE r.i = a.n
    ORDER BY r.alpha
    """,
    tags=("timeseries", "forecast", "fold"),
)
def q_ses_alpha_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-exponential-smoothing alpha selection: for each alpha in
    0.1..0.9, fold the last-56-day revenue series through s' = a*y +
    (1-a)*s (seed s = y_1) accumulating one-step-ahead SSE, and report
    the backtest RMSE per alpha -- the grid row with the minimum is
    the fitted smoothing constant. Spark folds with an `aggregate`
    lambda per grid row; the oracle unrolls the identical recursion as
    a recursive CTE (list_reduce struct rebinding, CLAUDE.md), so the
    double streams match bit-for-bit."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    maxd = daily.agg(F.max("d").alias("mx"))
    win = (
        daily.crossJoin(F.broadcast(maxd))
        .where(F.col("d") > F.expr("mx - INTERVAL 56 DAY"))
        .select("d", F.col("cents").cast("double").alias("y"))
    )
    arr = win.agg(
        F.expr("transform(array_sort(collect_list(struct(d, y))), p -> p.y)")
        .alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(a) for a in _ALPHAS])).alias("alpha")
    )
    folded = grid.crossJoin(F.broadcast(arr)).select(
        "alpha",
        "n",
        F.expr(
            "aggregate(slice(transform(ys, y -> named_struct("
            "  's', y, 'sse', CAST(0.0 AS DOUBLE))), 2, size(ys) - 1),"
            " named_struct('s', ys[0], 'sse', CAST(0.0 AS DOUBLE)),"
            " (acc, x) -> named_struct("
            "   's', alpha * x.s + (1.0 - alpha) * acc.s,"
            "   'sse', acc.sse + (x.s - acc.s) * (x.s - acc.s)))"
        ).alias("st"),
    )
    return folded.select(
        "alpha",
        F.round(
            F.sqrt(F.col("st.sse") / (F.col("n") - 1).cast("double")) / 100.0, 2
        ).alias("rmse_1step_dollars"),
    ).orderBy("alpha")
