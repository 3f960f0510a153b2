"""Extension batch 235 (round 11): Maximum Mean Discrepancy (MMD)
two-sample drift with a degree-3 polynomial kernel -- the modern
kernel two-sample statistic next to the tier's energy distance (ext),
PSI, and KS-type screens, chosen in the kernel family whose MMD
FACTORIZES EXACTLY.

For k(u, v) = (1 + uv/c)^3, the V-statistic expansion
  (1/n^2) sum_ij k(x_i, x_j) = 1 + 3 mu1^2/c + 3 mu2^2/c^2 + mu3^2/c^3
collapses every double sum into RAW MOMENT MEANS, so
  MMD^2 = 3/c (mu1x - mu1y)^2 + 3/c^2 (mu2x - mu2y)^2
        + 1/c^3 (mu3x - mu3y)^2
-- kernel MMD with this kernel IS moment matching up to degree 3, and
the whole statistic computes from six grouped sums with no pair
enumeration (the semivariogram_moments pattern applied to a kernel
two-sample test; 100 TB cost = one aggregation).

Exact-arithmetic discipline: amounts in whole DOLLARS (the r10
kurtosis-width lesson: cents^3 sums would crowd HUGEINT at scale),
moment means quantized to e6 integers with DECIMAL(38,0) casts BEFORE
the 1e6 multiply (the r10 Spark-LONG-accumulator lesson), squares
taken in DECIMAL(38,0)/HUGEINT, and the final statistic scaled back
to BIGINT by an exact integer division. Both engines share every
literal; DIV/​// truncation agrees (r7 note).

streaming_mmd_replay is the 33rd live replay: the carried state is
the per-group moment-sum vector (n, S1, S2, S3) -- a pure additive
monoid -- folded across four micro-batches; the final MMD row must
equal the one-shot statistic bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

# group = first vs second half of the event month (a drift screen)
_SPLIT_SQL = "CASE WHEN CAST(strftime(ts, '%d') AS INTEGER) <= 15 THEN 'h1' ELSE 'h2' END"
_SPLIT_SPARK = "CASE WHEN dayofmonth(ts) <= 15 THEN 'h1' ELSE 'h2' END"

_MMD_ORACLE = f"""
    WITH u AS (
      SELECT {_SPLIT_SQL} AS grp,
             CAST(round(value * 100, 0) AS BIGINT) // 100 AS d
      FROM events),
    mom AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS s1,
             CAST(sum(d * d) AS BIGINT) AS s2,
             CAST(sum(CAST(d AS HUGEINT) * d * d) AS HUGEINT) AS s3
      FROM u GROUP BY grp),
    q AS (
      SELECT grp, n, s1, s2,
             (1000000 * CAST(s1 AS HUGEINT)) // n AS m1,
             (1000000 * CAST(s2 AS HUGEINT)) // n AS m2,
             (1000000 * s3) // n AS m3
      FROM mom),
    gaps AS (
      SELECT a.n AS n_h1, b.n AS n_h2,
             CAST(a.m1 - b.m1 AS HUGEINT) AS d1,
             CAST(a.m2 - b.m2 AS HUGEINT) AS d2,
             CAST(a.m3 - b.m3 AS HUGEINT) AS d3
      FROM q a, q b WHERE a.grp = 'h1' AND b.grp = 'h2')
    SELECT n_h1, n_h2,
           CAST(d1 AS BIGINT) AS mu1_gap_e6,
           CAST(d2 AS BIGINT) AS mu2_gap_e6,
           CAST(d3 AS BIGINT) AS mu3_gap_e6,
           CAST((3 * CAST(1000000000000 AS HUGEINT) * d1 * d1
                 + 3 * CAST(1000000 AS HUGEINT) * d2 * d2
                 + d3 * d3) // CAST(1000000000000 AS HUGEINT)
                AS BIGINT) AS mmd2_e12
    FROM gaps
"""


def _moments(spark_df: DataFrame) -> DataFrame:
    """(grp, n, s1, s2, s3) moment sums -- the additive monoid the
    streaming replay carries. s3 in DECIMAL(38,0) (r10 width lesson)."""
    return spark_df.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("s1"),
        F.sum(F.expr("d * d")).cast("bigint").alias("s2"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0)) * d * d"))
        .cast("decimal(38,0)")
        .alias("s3"),
    )


def _emit_from_moments(mom: DataFrame) -> DataFrame:
    """Shared tail: e6 moment means, gaps, exact-integer MMD^2."""
    q = mom.select(
        "grp",
        "n",
        F.expr("(1000000 * CAST(s1 AS DECIMAL(38,0))) DIV n").alias("m1"),
        F.expr("(1000000 * CAST(s2 AS DECIMAL(38,0))) DIV n").alias("m2"),
        F.expr("(1000000 * s3) DIV n").alias("m3"),
    )
    a = q.where("grp = 'h1'").select(
        F.col("n").alias("n_h1"),
        F.col("m1").alias("a1"),
        F.col("m2").alias("a2"),
        F.col("m3").alias("a3"),
    )
    b = q.where("grp = 'h2'").select(
        F.col("n").alias("n_h2"),
        F.col("m1").alias("b1"),
        F.col("m2").alias("b2"),
        F.col("m3").alias("b3"),
    )
    return a.crossJoin(b).select(
        "n_h1",
        "n_h2",
        F.expr("CAST(a1 - b1 AS BIGINT)").alias("mu1_gap_e6"),
        F.expr("CAST(a2 - b2 AS BIGINT)").alias("mu2_gap_e6"),
        F.expr("CAST(a3 - b3 AS BIGINT)").alias("mu3_gap_e6"),
        F.expr(
            "CAST((3 * CAST(1000000000000 AS DECIMAL(38,0))"
            " * CAST(a1 - b1 AS DECIMAL(38,0)) * CAST(a1 - b1 AS DECIMAL(38,0))"
            " + 3 * CAST(1000000 AS DECIMAL(38,0))"
            " * CAST(a2 - b2 AS DECIMAL(38,0)) * CAST(a2 - b2 AS DECIMAL(38,0))"
            " + CAST(a3 - b3 AS DECIMAL(38,0)) * CAST(a3 - b3 AS DECIMAL(38,0)))"
            " DIV CAST(1000000000000 AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("mmd2_e12"),
    )


def _events_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        F.expr(_SPLIT_SPARK).alias("grp"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT) DIV 100").alias("d"),
    )


@register(
    "mmd_poly_drift",
    _MMD_ORACLE,
    tags=("two-sample", "kernel", "drift", "exact-arith"),
)
def q_mmd_poly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-3 polynomial-kernel MMD between first- and second-half
    amounts (module docstring): the kernel double sums factor into six
    grouped moment sums, so the statistic is one aggregation -- no
    pair scan at any scale."""
    return _emit_from_moments(_moments(_events_d(spark, sf_dir)))


@register(
    "streaming_mmd_replay",
    _MMD_ORACLE,
    tags=("streaming", "two-sample", "stateful", "replay"),
)
def q_streaming_mmd_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """33rd live replay -- streaming drift monitor: the per-group
    (n, S1, S2, S3) moment vector is carried as state and ADDED per
    micro-batch (a pure additive monoid); the final MMD row equals
    the one-shot statistic bit-for-bit (same oracle)."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )
    from pyspark.sql import Window

    base = Path(tempfile.mkdtemp(prefix="mmd_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.expr(_SPLIT_SPARK).alias("grp"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT) DIV 100").alias("d"),
    )
    parts = ev.select(
        "*", F.ntile(4).over(Window.orderBy("us", "event_id")).alias("pt")
    )
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    def fold(batch_df, batch_id):
        mom = _moments(batch_df.select("grp", "d"))

        def advance(prev):
            if prev is None:
                return mom
            return (
                mom.unionByName(prev)
                .groupBy("grp")
                .agg(
                    F.sum("n").cast("bigint").alias("n"),
                    F.sum("s1").cast("bigint").alias("s1"),
                    F.sum("s2").cast("bigint").alias("s2"),
                    F.sum("s3").cast("decimal(38,0)").alias("s3"),
                )
            )

        fold_state(spark, str(state), advance, f"mmd{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    return _emit_from_moments(spark.read.parquet(str(state)))
