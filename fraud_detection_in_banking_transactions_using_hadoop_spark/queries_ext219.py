"""Extension batch 219 (round 9): cross-batch Markov-transition
stitching as the 29th live streaming replay, and the split-transaction
round-total reconstruction screen.

- streaming_transition_replay: per-user event-type transition counts
  where the carried state is each user's LAST EVENT -- the transition
  that straddles a micro-batch boundary exists in neither batch alone,
  so the replay is only correct if the boundary stitch is: final
  counts must equal the batch lag() computation exactly (shared
  oracle). This is the carried-state shape every sessionizing /
  journey pipeline needs.
- split_transaction_reconstruction: same-user same-day payment PAIRS
  whose cent total lands on an exact $10 multiple while NEITHER leg is
  one -- the deliberate-splitting signature (structuring_detection
  finds near-threshold amounts; this finds engineered round TOTALS).
  The pair join is an equi-join on the (user, day) cell -- bounded
  fan-in, never all-pairs -- and the chance baseline n_pairs/1000
  turns the count into a lift the analyst can threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_TRANS_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev
      FROM events),
    cnt AS (
      SELECT prev AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type), 6) AS row_share
    FROM cnt
"""


def _events_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
    )


@register(
    "streaming_transition_replay",
    _TRANS_ORACLE,
    tags=("streaming", "markov", "stateful", "replay"),
)
def q_streaming_transition_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Live per-user transition counting over four in-order
    micro-batches (29th replay): the carried state is each user's last
    event type, so the boundary transition (last event of batch k ->
    first event of batch k+1 for the same user) is counted exactly
    once. Final transition matrix must equal the one-shot lag()
    computation (the shared oracle) -- a replay that dropped or
    double-counted boundary transitions hash-mismatches instantly."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="trans_stream_"))
    src, last_state, cnt_state = (
        base / "src",
        base / "last",
        base / "cnt",
    )
    ev = _events_typed(spark, sf_dir)
    # Checkpoint BEFORE the 4-way filter loop: `parts` is referenced
    # once per split file and would otherwise re-run the global ntile
    # window (a full sort of the fact table) four times.
    parts = ev.select(
        "*", F.ntile(4).over(Window.orderBy("us", "event_id")).alias("pt")
    ).localCheckpoint(eager=True)
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    # Per-batch fold, entirely JVM-side (r12: the r11 CRC-replay lesson
    # applied -- the old per-user applyInPandas stitch paid Python
    # per-group overhead on ~20k single-user groups per batch, 53 s at
    # sf0.1). Within-batch transitions come from a lag() window; the
    # boundary transition is a broadcast equi-join of the carried
    # (user -> last_type) state against each user's FIRST in-batch
    # event; the new carried state is each user's LAST in-batch event
    # unioned with untouched users. Bit-identical to the sequential
    # stitch: within-batch pairs + exactly one boundary pair per user
    # with prior state.
    def fold(batch_df, batch_id):
        w = Window.partitionBy("user_id").orderBy("us", "event_id")
        seq = batch_df.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev"),
        ).localCheckpoint(eager=True)
        within = (
            seq.where(F.col("prev").isNotNull())
            .groupBy(
                F.col("prev").alias("from_type"),
                F.col("event_type").alias("to_type"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        ends = batch_df.groupBy("user_id").agg(
            F.expr("min_by(event_type, struct(us, event_id))").alias(
                "first_type"
            ),
            F.expr("max_by(event_type, struct(us, event_id))").alias(
                "last_type"
            ),
        ).localCheckpoint(eager=True)
        starts = ends.select("user_id", "first_type")
        lasts = ends.select("user_id", "last_type")

        # The count fold runs inside the last-event fold, so it sees the
        # previous last-event state before that table is swapped. With
        # no last-event state this is the first batch: counts restart.
        def advance_last(prev_last):
            def advance_cnt(prev_cnt):
                if prev_last is None:
                    return within
                boundary = (
                    F.broadcast(
                        prev_last.withColumnRenamed("last_type", "prev_type")
                    )
                    .join(starts, "user_id")
                    .groupBy(
                        F.col("prev_type").alias("from_type"),
                        F.col("first_type").alias("to_type"),
                    )
                    .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
                )
                new_cnt = within.unionByName(boundary)
                if prev_cnt is not None:
                    new_cnt = new_cnt.unionByName(prev_cnt)
                return new_cnt.groupBy("from_type", "to_type").agg(
                    F.sum("n").cast("bigint").alias("n")
                )

            fold_state(spark, str(cnt_state), advance_cnt, f"tc{batch_id}")
            if prev_last is None:
                return lasts
            return lasts.unionByName(
                prev_last.join(starts.select("user_id"), "user_id", "left_anti")
            )

        fold_state(spark, str(last_state), advance_last, f"tl{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    cnt = spark.read.parquet(str(cnt_state))
    w = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w), 6
        ).alias("row_share"),
    )


@register(
    "split_transaction_reconstruction",
    """
    WITH p AS (
      SELECT event_id AS k, user_id AS u, CAST(ts AS DATE) AS d,
             CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events),
    pr AS (
      SELECT a.u, a.d, a.c AS ca, b.c AS cb, a.c + b.c AS tot
      FROM p a JOIN p b ON a.u = b.u AND a.d = b.d AND a.k < b.k),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN tot % 1000 = 0
                  AND ca % 1000 <> 0 AND cb % 1000 <> 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_round
      FROM pr),
    hits AS (
      SELECT u, strftime(d, '%Y-%m-%d') AS day, ca, cb, tot
      FROM (SELECT u, d, least(ca, cb) AS ca, greatest(ca, cb) AS cb, tot
            FROM pr
            WHERE tot % 1000 = 0 AND ca % 1000 <> 0 AND cb % 1000 <> 0) h
      ORDER BY tot DESC, u, day, ca LIMIT 10)
    SELECT h.u AS user_id, h.day, h.ca AS cents_a, h.cb AS cents_b,
           h.tot AS total_cents,
           s.n_pairs, s.n_round,
           round(CAST(s.n_pairs AS DOUBLE) / 1000.0, 6)
             AS expected_by_chance,
           CASE WHEN s.n_pairs = 0 THEN NULL
                ELSE round(CAST(s.n_round AS DOUBLE) * 1000.0 / s.n_pairs,
                           6)
           END AS lift
    FROM hits h CROSS JOIN stats s
    """,
    tags=("fraud", "aml", "structuring", "exact-arith"),
)
def q_split_transaction_reconstruction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-total reconstruction: same-user same-day payment pairs
    whose total is an exact $10 multiple while neither leg is -- the
    engineered-split signature (near-threshold structuring's cousin;
    the legs look innocuous, only the SUM is round). Pair generation
    is an equi-join on the (user, day) cell, so fan-in bounds the
    work; the chance baseline n_pairs/1000 makes the count a lift.
    Top-10 reconstructed pairs with the global stats alongside."""
    p = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"),
        F.col("user_id").alias("u"),
        F.col("ts").cast("date").alias("d"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("c"),
    )
    a = p.select("u", "d", F.col("k").alias("ka"), F.col("c").alias("ca"))
    b = p.select("u", "d", F.col("k").alias("kb"), F.col("c").alias("cb"))
    pr = (
        a.join(b, ["u", "d"])
        .where(F.col("ka") < F.col("kb"))
        .select("u", "d", "ca", "cb", (F.col("ca") + F.col("cb")).alias("tot"))
    )
    is_hit = (
        (F.col("tot") % 1000 == 0)
        & (F.col("ca") % 1000 != 0)
        & (F.col("cb") % 1000 != 0)
    )
    stats = pr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(is_hit, 1).otherwise(0)).cast("bigint").alias("n_round"),
    )
    # top-10 via TakeOrdered (deterministic total order) -- no global
    # window over the data-sized hit set
    hits = (
        pr.where(is_hit)
        .select(
            "u",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.least("ca", "cb").alias("ca"),
            F.greatest("ca", "cb").alias("cb"),
            "tot",
        )
        .orderBy(F.col("tot").desc(), "u", "day", "ca")
        .limit(10)
    )
    return hits.crossJoin(F.broadcast(stats)).select(
        F.col("u").alias("user_id"),
        "day",
        F.col("ca").alias("cents_a"),
        F.col("cb").alias("cents_b"),
        F.col("tot").alias("total_cents"),
        "n_pairs",
        "n_round",
        F.round(F.col("n_pairs").cast("double") / 1000.0, 6).alias(
            "expected_by_chance"
        ),
        F.when(F.col("n_pairs") == 0, F.lit(None).cast("double")).otherwise(
            F.round(
                F.col("n_round").cast("double") * 1000.0 / F.col("n_pairs"),
                6,
            )
        ).alias("lift"),
    )
