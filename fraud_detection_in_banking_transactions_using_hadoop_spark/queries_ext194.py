"""Extension batch 194 (round 7): streaming_kalman_replay -- the 24th
live structured-streaming replay: a per-user 1-D Kalman filter (local
level) whose carried state is the full (x, P, K) Riccati triple.

The batch twin (ext187's kalman_local_level) folds the daily series;
this replay folds each user's PURCHASE VALUES across four in-order
micro-batches with the streaming_holt_replay discipline: each
foreachBatch sorts its per-key values, folds them through the
predict/gain/update recursion SEEDED FROM THE CARRIED (x, P) (a user's
first-ever value seeds x = y1, P = R), and swaps the state table
crash-safely. Because the concatenated per-batch folds execute the
exact double-op sequence of the whole-series fold, final states equal
the oracle's per-user recursive CTE bit-for-bit -- including the
posterior variance P, which converges toward the same Riccati fixed
point for every user regardless of how the batch boundaries split
their history (the invariant test's law).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_KQ = 10.0   # state-noise variance per purchase (value units^2)
_KR = 100.0  # observation-noise variance

_GAIN = f"((acc.p + {_KQ!r}) / (acc.p + {_KQ!r} + {_KR!r}))"
_STEP = (
    f"(acc, x) -> named_struct("
    f"  'x', acc.x + {_GAIN} * (x - acc.x),"
    f"  'p', (1.0 - {_GAIN}) * (acc.p + {_KQ!r}),"
    f"  'k', {_GAIN})"
)

_SQL_NX = (
    f"r.x + ((r.p + {_KQ!r}) / (r.p + {_KQ!r} + {_KR!r}))"
    f" * (a.ys[r.i + 1] - r.x)"
)
_SQL_NP = (
    f"(1.0 - (r.p + {_KQ!r}) / (r.p + {_KQ!r} + {_KR!r}))"
    f" * (r.p + {_KQ!r})"
)
_SQL_NK = f"(r.p + {_KQ!r}) / (r.p + {_KQ!r} + {_KR!r})"


@register(
    "streaming_kalman_replay",
    f"""
    WITH RECURSIVE base AS (
      SELECT user_id, CAST(value AS DOUBLE) AS y, epoch_us(ts) AS us,
             event_id
      FROM events WHERE event_type = 'purchase'),
    arrs AS MATERIALIZED (
      SELECT user_id, list(y ORDER BY us, event_id) AS ys,
             CAST(count(*) AS BIGINT) AS m
      FROM base GROUP BY user_id),
    rec AS (
      SELECT user_id, 1 AS i, ys[1] AS x, CAST({_KR!r} AS DOUBLE) AS p,
             CAST(0.0 AS DOUBLE) AS k
      FROM arrs
      UNION ALL
      SELECT r.user_id, r.i + 1, {_SQL_NX}, {_SQL_NP}, {_SQL_NK}
      FROM rec r JOIN arrs a ON a.user_id = r.user_id
      WHERE r.i < a.m)
    SELECT a.user_id, a.m AS n_purchases,
           round(r.x, 6) AS level_value,
           round(r.p, 6) AS p_posterior,
           round(r.k, 6) AS gain_final
    FROM rec r JOIN arrs a ON a.user_id = r.user_id AND r.i = a.m
    """,
    tags=("streaming", "state", "filter"),
)
def q_streaming_kalman_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 1-D Kalman filter (local level, Q=10, R=100) over
    purchase values, maintained LIVE across four in-order micro-batches
    with the carried (x, P, K) triple: predict P+Q, gain
    K = Pp/(Pp+R), update x += K*(y-x), P = (1-K)*Pp, seeded x = first
    value, P = R. Concatenated per-batch folds replay the identical
    double-op sequence of the whole-series fold, so every user's final
    state equals the oracle's recursive-CTE unroll bit-for-bit."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="kalman_stream_"))
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

    def fold(batch_df, batch_id):
        arrs = batch_df.groupBy("user_id").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(us, event_id, y))),"
                " q -> q.y)"
            ).alias("ys"),
            F.count(F.lit(1)).cast("bigint").alias("m"),
        )

        def advance(prev):
            if prev is None:
                return arrs.select(
                    "user_id",
                    F.expr(
                        "aggregate(slice(ys, 2, cast(m AS INT) - 1),"
                        f" named_struct('x', ys[0], 'p', CAST({_KR!r} AS DOUBLE),"
                        "   'k', CAST(0.0 AS DOUBLE)),"
                        f" {_STEP})"
                    ).alias("st"),
                    F.col("m").cast("bigint").alias("seen"),
                ).select(
                    "user_id",
                    F.col("st.x").alias("x"),
                    F.col("st.p").alias("p"),
                    F.col("st.k").alias("k"),
                    "seen",
                )
            return (
                arrs.join(prev, "user_id", "full_outer")
                .select(
                    "user_id",
                    F.expr(
                        "CASE WHEN m IS NULL THEN"
                        "  named_struct('x', x, 'p', p, 'k', k) "
                        "WHEN x IS NULL THEN aggregate("
                        "  slice(ys, 2, cast(m AS INT) - 1),"
                        f" named_struct('x', ys[0],"
                        f"   'p', CAST({_KR!r} AS DOUBLE),"
                        "    'k', CAST(0.0 AS DOUBLE)),"
                        f" {_STEP}) "
                        "ELSE aggregate(ys,"
                        f"  named_struct('x', x, 'p', p, 'k', k), {_STEP})"
                        " END"
                    ).alias("st"),
                    (
                        F.coalesce(F.col("seen"), F.lit(0))
                        + F.coalesce(F.col("m"), F.lit(0))
                    )
                    .cast("bigint")
                    .alias("seen"),
                )
                .select(
                    "user_id",
                    F.col("st.x").alias("x"),
                    F.col("st.p").alias("p"),
                    F.col("st.k").alias("k"),
                    "seen",
                )
            )

        fold_state(spark, str(state), advance, f"kalman{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    final = spark.read.parquet(str(state))
    return final.select(
        "user_id",
        F.col("seen").alias("n_purchases"),
        F.round(F.col("x"), 6).alias("level_value"),
        F.round(F.col("p"), 6).alias("p_posterior"),
        F.round(F.col("k"), 6).alias("gain_final"),
    )
