"""Extension batch 233 (round 11): PCSA / Flajolet-Martin distinct
sketch -- the classic 1985 probabilistic counter, and the cleanest
MERGEABLE-MONOID story in the sketch tier: the state is 64 bitmap
registers combined by BITWISE OR, so shard/batch merges are exact by
construction (unlike KMV's bottom-K or HLL's max-register, both
already shipped, OR needs no tie reasoning at all).

Per element: a 60-bit md5-derived hash (15 hex chars, the engine-
identical conv both repos of this codebase already use) splits into
bucket = h % 64 and rest = h // 64; rho = position of rest's lowest
SET bit; register[bucket] |= 1 << rho. The estimate reads each
register's lowest ZERO bit R_j ((x+1) & (-x-1) isolates it;
bit_count(y-1) gives its position -- pure BIGINT in both engines) and
computes (m/phi) * 2^(S/m) with S = sum R_j, m = 64, phi = 0.77351.

EXACT-ARITHMETIC DISCIPLINE for the 2^(S/64) irrational: S mod 64
takes one of 64 values, so the fractional power folds into a
64-entry INTEGER literal table L[k] = floor((64/phi) * 2^(k/64) * 1e6
+ 0.5) generated at import and shared verbatim by both engines; the
estimate is then the exact integer (1 << (S // 64)) * L[S % 64] //
1e6 -- no pow(), no cross-engine libm surface anywhere.

streaming_pcsa_replay is the 32nd live replay: four in-order
micro-batches carry the 64-register table as state and OR-merge each
batch's registers in; the final estimate row must equal the one-shot
batch sketch bit-for-bit (the monoid law, live).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_M = 64
_PHI = 0.77351

# 64-entry shared literal: L[k] = floor((m/phi) * 2^(k/64) * 1e6 + 0.5)
_L = [
    math.floor((_M / _PHI) * (2.0 ** (k / _M)) * 1e6 + 0.5) for k in range(_M)
]
_L_CASE = "CASE ({S}) % 64 " + " ".join(
    f"WHEN {k} THEN CAST({v} AS BIGINT)" for k, v in enumerate(_L)
) + " END"


def _est_sql(s: str) -> str:
    """Exact-integer PCSA estimate from the register rank sum `s`."""
    lcase = _L_CASE.replace("{S}", s)
    return (
        f"((CAST(1 AS BIGINT) << CAST(({s}) // 64 AS INTEGER))"
        f" * ({lcase})) // 1000000"
    )


_PCSA_ORACLE = f"""
    WITH el AS (
      SELECT CAST(ts AS DATE) AS day, user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events),
    hb AS (
      SELECT day, h % 64 AS bucket, h // 64 AS rest FROM el),
    regs AS (
      SELECT day, bucket,
             bit_or(CAST(1 AS BIGINT) << CAST(
               CASE WHEN rest = 0 THEN 54
                    ELSE bit_count((rest & -rest) - 1) END AS INTEGER))
               AS reg
      FROM hb GROUP BY day, bucket),
    spine AS (
      SELECT d.day, b.bucket, coalesce(r.reg, CAST(0 AS BIGINT)) AS reg
      FROM (SELECT DISTINCT day FROM el) d
      CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) b
      LEFT JOIN regs r ON r.day = d.day AND r.bucket = b.bucket),
    ranks AS (
      SELECT day,
             CAST(sum(bit_count(((reg + 1) & (-reg - 1)) - 1)) AS BIGINT)
               AS s
      FROM spine GROUP BY day),
    truth AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS true_users
      FROM events GROUP BY day)
    SELECT strftime(t.day, '%Y-%m-%d') AS day,
           t.true_users,
           r.s AS rank_sum,
           CAST({{est}} AS BIGINT) AS est_users,
           CAST((({{est}}) - t.true_users) * 1000000 // t.true_users
                AS BIGINT) AS err_ppm
    FROM truth t JOIN ranks r ON r.day = t.day
""".format(est=_est_sql("r.s"))


def _spark_regs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, bucket, reg) PCSA registers -- the shuffle-friendly form:
    one partial bit_or per (day, bucket), map-side combinable."""
    ev = read_table(spark, sf_dir, "events")
    el = ev.select(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        "user_id",
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)"
            " AS BIGINT)"
        ).alias("h"),
    )
    hb = el.select(
        "day",
        F.expr("h % 64").alias("bucket"),
        F.expr("h DIV 64").alias("rest"),
    )
    return hb.groupBy("day", "bucket").agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST("
            "CASE WHEN rest = 0 THEN 54"
            " ELSE bit_count((rest & -rest) - 1) END AS INT)))"
        ).alias("reg")
    )


def _emit_from_regs(spark: SparkSession, sf_dir: str, regs: DataFrame) -> DataFrame:
    """Shared tail: 64-bucket spine, rank sum, exact-integer estimate,
    error vs the true per-day distinct count."""
    ev = read_table(spark, sf_dir, "events")
    days = regs.select("day").distinct()
    spine = (
        days.crossJoin(
            spark.range(_M).select(F.col("id").cast("bigint").alias("bucket"))
        )
        .join(regs, ["day", "bucket"], "left")
        .select("day", "bucket", F.coalesce("reg", F.lit(0)).alias("reg"))
    )
    ranks = spine.groupBy("day").agg(
        F.expr(
            "CAST(sum(bit_count(((reg + 1) & (-reg - 1)) - 1)) AS BIGINT)"
        ).alias("s")
    )
    truth = ev.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    ).agg(F.countDistinct("user_id").cast("bigint").alias("true_users"))
    est = _est_sql("s").replace("//", "DIV")
    lcase_spark = est
    return (
        truth.join(ranks, "day")
        .select(
            "day",
            "true_users",
            F.col("s").alias("rank_sum"),
            F.expr(f"CAST({lcase_spark} AS BIGINT)").alias("est_users"),
            F.expr(
                f"CAST((({lcase_spark}) - true_users) * 1000000"
                " DIV true_users AS BIGINT)"
            ).alias("err_ppm"),
        )
    )


@register(
    "pcsa_distinct_sketch",
    _PCSA_ORACLE,
    tags=("sketch", "distinct", "mergeable", "exact-arith"),
)
def q_pcsa_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day PCSA/FM distinct-user sketch (module docstring): OR-ed
    bitmap registers (map-side combinable bit_or), lowest-zero rank
    readout, exact-integer estimate via the shared 64-entry power
    table; emitted against the true distinct count."""
    return _emit_from_regs(
        spark, sf_dir, _spark_regs(spark, sf_dir)
    )


@register(
    "streaming_pcsa_replay",
    _PCSA_ORACLE,
    tags=("streaming", "sketch", "stateful", "replay"),
)
def q_streaming_pcsa_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32nd live replay: the PCSA register table carried as streaming
    state across four in-order micro-batches, OR-merged per batch --
    the mergeable-monoid law run live; final estimate row equals the
    one-shot sketch bit-for-bit (same oracle)."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )
    from pyspark.sql import Window

    base = Path(tempfile.mkdtemp(prefix="pcsa_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        "user_id",
    )
    parts = ev.select(
        "*", F.ntile(4).over(Window.orderBy("us", "event_id")).alias("pt")
    )
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    def fold(batch_df, batch_id):
        regs = (
            batch_df.select(
                "day",
                F.expr(
                    "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
                    " 16, 10) AS BIGINT)"
                ).alias("h"),
            )
            .select(
                "day",
                F.expr("h % 64").alias("bucket"),
                F.expr("h DIV 64").alias("rest"),
            )
            .groupBy("day", "bucket")
            .agg(
                F.expr(
                    "bit_or(shiftleft(CAST(1 AS BIGINT), CAST("
                    "CASE WHEN rest = 0 THEN 54"
                    " ELSE bit_count((rest & -rest) - 1) END AS INT)))"
                ).alias("reg")
            )
        )

        def advance(prev):
            if prev is None:
                return regs
            return (
                regs.unionByName(prev)
                .groupBy("day", "bucket")
                .agg(F.expr("bit_or(reg)").alias("reg"))
            )

        fold_state(spark, str(state), advance, f"pcsa{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    final_regs = spark.read.parquet(str(state))
    return _emit_from_regs(spark, sf_dir, final_regs)
