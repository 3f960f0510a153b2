"""Extension batch 31: pass@k estimation, expected calibration error,
and a live streaming HLL distinct-count fold.

Scale notes (the 100 TB story per query):
- pass_at_k is the unbiased Codeforces/HumanEval estimator
  pass@k = 1 - C(n-c, k)/C(n, k), computed per task from one groupBy
  and closed-form factor chains ((n-c-i)/(n-i), identical literal
  text in both engines, left-associative product of deterministic
  doubles -- a zero factor handles the c > n-k case exactly). The
  eval-suite roll-up is three tiny aggregates over the task table.
- ece_reliability is the reliability diagram behind "is the model
  calibrated": confidence per value-band fitted on the even-event_id
  half, realized accuracy measured on the odd half (the ts-monotone
  parity split), each |acc - conf| band term weighted and rounded to
  an e9 integer before the sum. One groupBy to <=13 band rows.
- streaming_hll_replay maintains per-type DISTINCT-user sketches over
  a stream: each micro-batch builds its own HLL sketches and
  hll_union_agg-folds them into parquet state behind the atomic swap.
  Sketch union is associative/idempotent, so the folded estimate
  EQUALS the single-shot batch estimate (pytest-pinned); the oracle
  checks exact distincts plus the 5% error contract (PARTIAL oracle,
  approx_distinct_union pattern). This is the shape of every
  "distinct users today, updated every minute" dashboard at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


def _ratio_chain(k: int) -> str:
    """Shared SQL text of C(n-c,k)/C(n,k) as a left-assoc double factor
    chain; a zero factor makes the n-c < k case exact."""
    return " * ".join(
        f"(CAST(n - c - {i} AS DOUBLE) / (n - {i}))" for i in range(k)
    )


_KS = (1, 5, 10)

_PASS_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT CAST({k} AS INTEGER) AS k,
           CAST(count(*) AS BIGINT) AS n_tasks,
           CAST(sum(CAST(round(1000000000.0 * (1 - {_ratio_chain(k)}), 0)
                    AS BIGINT)) // count(*) AS BIGINT) AS mean_pass_e9
    FROM tasks WHERE n >= {k}
    """
    for k in _KS
)


@register(
    "pass_at_k",
    f"""
    WITH tasks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM events GROUP BY user_id
    )
    {_PASS_SQL}
    ORDER BY k
    """,
    tags=("ml", "eval", "pass-at-k"),
)
def q_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user is a 'task' with n attempts and c successes
    (purchase > 150); pass@k via the unbiased estimator with the
    factor-chain product -- identical literal expression text in both
    engines, per-task e9 rounding, integer mean. Tasks with n < k are
    excluded (estimator undefined)."""
    ev = read_table(spark, sf_dir, "events")
    tasks = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
    )
    outs = []
    for k in _KS:
        pass_e9 = F.expr(
            f"CAST(round(1000000000.0 * (1 - {_ratio_chain(k)}), 0) AS BIGINT)"
        )
        outs.append(
            tasks.where(F.col("n") >= k)
            .select(pass_e9.alias("p"))
            .agg(
                F.lit(k).cast("integer").alias("k"),
                F.count(F.lit(1)).cast("bigint").alias("n_tasks"),
                F.expr("CAST(sum(p) DIV count(*) AS BIGINT)").alias("mean_pass_e9"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("k")


# ---------------------------------------------------------------------------
# Expected calibration error: band confidence from the even half,
# realized accuracy from the odd half.
# ---------------------------------------------------------------------------
@register(
    "ece_reliability",
    """
    WITH binned AS (
      SELECT least(CAST(floor(value / 20.0) AS BIGINT), 12) AS bin,
             CAST(event_id % 2 AS INTEGER) AS half,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    per AS (
      SELECT bin,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
             CAST(sum(CASE WHEN half = 0 THEN y ELSE 0 END) AS BIGINT) AS k_tr,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ev,
             CAST(sum(CASE WHEN half = 1 THEN y ELSE 0 END) AS BIGINT) AS k_ev
      FROM binned GROUP BY bin
      HAVING sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) > 0
    ),
    tot AS (SELECT CAST(sum(n_ev) AS BIGINT) AS ne FROM per)
    SELECT p.bin, p.n_tr, p.k_tr, p.n_ev, p.k_ev,
           CAST(round(1000000000.0 * (CAST(p.n_ev AS DOUBLE) / t.ne)
                * abs(CAST(p.k_ev AS DOUBLE) / p.n_ev
                      - CAST(p.k_tr AS DOUBLE) / p.n_tr), 0) AS BIGINT)
             AS ece_term_e9
    FROM per p CROSS JOIN tot t
    """,
    tags=("ml", "calibration", "monitoring"),
)
def q_ece_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram over value bands: 'confidence' = purchase
    rate fitted on even event_ids, realized accuracy on odd event_ids
    (deterministic interleaved split); ECE = sum(ece_term_e9)/1e9.
    Bands with an empty half drop (both engines). One groupBy to <=13
    rows; the eval total broadcasts."""
    ev = read_table(spark, sf_dir, "events")
    binned = ev.select(
        F.least(F.floor(F.col("value") / 20.0).cast("bigint"), F.lit(12).cast("bigint")).alias(
            "bin"
        ),
        (F.col("event_id") % 2).cast("integer").alias("half"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per = (
        binned.groupBy("bin")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("bigint").alias("n_tr"),
            F.sum(F.when(F.col("half") == 0, F.col("y")).otherwise(0)).cast("bigint").alias("k_tr"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("bigint").alias("n_ev"),
            F.sum(F.when(F.col("half") == 1, F.col("y")).otherwise(0)).cast("bigint").alias("k_ev"),
        )
        .where((F.col("n_tr") > 0) & (F.col("n_ev") > 0))
    )
    tot = per.agg(F.sum("n_ev").cast("bigint").alias("ne"))
    term = F.round(
        F.lit(1000000000.0)
        * (F.col("n_ev").cast("double") / F.col("ne"))
        * F.abs(
            F.col("k_ev").cast("double") / F.col("n_ev")
            - F.col("k_tr").cast("double") / F.col("n_tr")
        ),
        0,
    ).cast("bigint")
    return per.crossJoin(F.broadcast(tot)).select(
        "bin", "n_tr", "k_tr", "n_ev", "k_ev", term.alias("ece_term_e9")
    )


# ---------------------------------------------------------------------------
# Streaming HLL fold: per-type distinct users maintained over a
# 4-batch replay; folded estimate == batch estimate.
# ---------------------------------------------------------------------------
def fold_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the 4-micro-batch replay fold and return the folded per-type
    estimates (event_type, est). Shared by the registry query and the
    fold==batch equality pytest."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="hll_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    ev.repartition(4).write.parquet(str(src))

    def fold(batch_df, batch_id):
        sk = batch_df.groupBy("event_type").agg(
            F.expr("hll_sketch_agg(user_id)").alias("sk")
        )

        def advance(prev):
            if prev is None:
                return sk
            return (
                prev
                .unionByName(sk)
                .groupBy("event_type")
                .agg(F.expr("hll_union_agg(sk)").alias("sk"))
            )

        fold_state(spark, str(state), advance, f"hll{batch_id}")

    replay_files(spark, str(src), ev.schema, fold)

    return spark.read.parquet(str(state)).select(
        "event_type", F.expr("hll_sketch_estimate(sk)").cast("bigint").alias("est")
    )


@register(
    "streaming_hll_replay",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS est_ok
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "hll", "approx"),
)
def q_streaming_hll_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user sketches per event type maintained over a
    4-micro-batch replay: each foreachBatch hll_sketch_aggs its rows
    and hll_union_aggs into the parquet state behind the atomic swap.
    Union is associative and idempotent, so the folded sketch equals
    the single-shot batch sketch (pytest asserts estimate equality);
    the PARTIAL oracle pins exact distincts and the 5% error contract
    (approx_distinct_union pattern)."""
    est = fold_hll_stream(spark, sf_dir)
    ev = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("est_ok"),
        )
    )
