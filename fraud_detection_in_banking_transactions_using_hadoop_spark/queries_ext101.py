"""Extension batch 101: a LIVE streaming SPRT fold, k-fold CV
stability, and the Chow structural-break test.

- streaming_sprt_replay: sprt_replay decided from batch data; here
  the SAME decision state (per-day trial/success counts) is
  maintained over a live 4-micro-batch stream via the
  crash-safe-rename fold (integer addition = exact merge), and the
  closing scan replays the boundary walk. Because the fold equals
  the batch daily aggregate, the DuckDB all-batch SQL hash-checks a
  genuinely LIVE streaming run -- the T2 pattern of the streaming
  suite extended to sequential testing.
- kfold_cv_variance: deterministic hash folds (no rand()) and the
  between-fold variance of the fold means -- the stability number a
  cross-validated metric should always ship with.
- chow_test: is the daily revenue trend ONE line or two? Pooled vs
  split-at-1996 regressions, all three RSS values from exact moment
  closed forms (no residual materialization), F with (2, n-4) df.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_SPRT_P0, _SPRT_P1, _SPRT_ALPHA = 0.19, 0.21, 0.05
_KFOLDS = 5
_CHOW_BREAK = "1996-01-01"


# ---------------------------------------------------------------------------
# LIVE streaming SPRT fold on the purchase share.
# ---------------------------------------------------------------------------
@register(
    "streaming_sprt_replay",
    f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS dt,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1),
    consts AS (
      SELECT CAST(floor(1e9 * ln({_SPRT_P1} / {_SPRT_P0}) + 0.5) AS BIGINT)
               AS c1,
             CAST(floor(1e9 * ln((1.0 - {_SPRT_P1}) / (1.0 - {_SPRT_P0})) + 0.5)
                  AS BIGINT) AS c2,
             CAST(floor(1e9 * ln((1.0 - {_SPRT_ALPHA}) / {_SPRT_ALPHA}) + 0.5)
                  AS BIGINT) AS bnd),
    walk AS (
      SELECT dt,
             sum(k * c.c1 + (n - k) * c.c2) OVER (ORDER BY dt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr_e9,
             c.bnd
      FROM d CROSS JOIN consts c),
    firstx AS (
      SELECT dt, CASE WHEN llr_e9 > bnd THEN 'h1' ELSE 'h0' END AS hit
      FROM walk WHERE llr_e9 > bnd OR llr_e9 < -bnd
      ORDER BY dt LIMIT 1),
    lastw AS (SELECT llr_e9 FROM walk ORDER BY dt DESC LIMIT 1)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_days,
           coalesce((SELECT hit FROM firstx), 'continue') AS decision,
           (SELECT strftime(dt, '%Y-%m-%d') FROM firstx) AS decision_date,
           round((SELECT llr_e9 FROM lastw) / 1e9, 6) AS final_llr
    """,
    tags=("streaming", "sequential", "T2"),
)
def q_streaming_sprt_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT with its state maintained over a LIVE stream: four
    micro-batches fold per-day (trials, successes) into the
    crash-safe state table (integer addition = exact merge), and the
    closing scan replays the e9-integer LLR walk to the first
    boundary crossing. The fold IS the batch daily aggregate, so the
    DuckDB all-batch formulation hash-checks a genuinely live
    sequential monitor -- always-on testing as a streaming job."""
    import math
    import tempfile
    from pathlib import Path

    from pyspark.sql import Window

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="sprt_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select("ts", "event_type")
    ev.repartition(4).write.parquet(str(src))

    def fold(batch_df, batch_id):
        cur = (
            batch_df.select(
                F.col("ts").cast("date").alias("dt"),
                F.when(F.col("event_type") == "purchase", 1)
                .otherwise(0)
                .alias("hit"),
            )
            .groupBy("dt")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("hit").cast("bigint").alias("k"),
            )
        )

        def advance(prev):
            if prev is None:
                return cur
            return (
                prev.unionByName(cur)
                .groupBy("dt")
                .agg(
                    F.sum("n").cast("bigint").alias("n"),
                    F.sum("k").cast("bigint").alias("k"),
                )
            )

        fold_state(spark, str(state), advance, f"sprt{batch_id}")

    replay_files(spark, str(src), ev.schema, fold)

    c1 = math.floor(1e9 * math.log(_SPRT_P1 / _SPRT_P0) + 0.5)
    c2 = math.floor(1e9 * math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) + 0.5)
    bnd = math.floor(1e9 * math.log((1 - _SPRT_ALPHA) / _SPRT_ALPHA) + 0.5)
    d = spark.read.parquet(str(state))
    w = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, 0)
    walk = d.select(
        "dt",
        F.sum(F.col("k") * F.lit(c1) + (F.col("n") - F.col("k")) * F.lit(c2))
        .over(w)
        .alias("llr_e9"),
    )
    firstx = (
        walk.where((F.col("llr_e9") > bnd) | (F.col("llr_e9") < -bnd))
        .agg(
            F.min("dt").alias("fdt"),
            F.expr(
                f"min_by(CASE WHEN llr_e9 > {bnd} THEN 'h1' ELSE 'h0' END, dt)"
            ).alias("fhit"),
        )
    )
    lastw = walk.orderBy(F.col("dt").desc()).limit(1).select(
        F.round(F.col("llr_e9") / 1e9, 6).alias("final_llr")
    )
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        nd.crossJoin(F.broadcast(lastw))
        .crossJoin(F.broadcast(firstx))
        .select(
            "n_days",
            F.coalesce(F.col("fhit"), F.lit("continue")).alias("decision"),
            F.date_format("fdt", "yyyy-MM-dd").alias("decision_date"),
            "final_llr",
        )
    )


# ---------------------------------------------------------------------------
# K-fold CV stability of the mean order value.
# ---------------------------------------------------------------------------
@register(
    "kfold_cv_variance",
    f"""
    WITH vals AS (
      SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))::BIGINT
               % {_KFOLDS} AS fold,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders),
    per AS (
      SELECT fold, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS HUGEINT) AS s
      FROM vals GROUP BY fold),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS ntot,
             CAST(sum(s) AS HUGEINT) AS stot,
             CAST(sum(CAST(floor(1e4 * (CAST(s AS DOUBLE) / n) + 0.5)
                           AS BIGINT)) AS HUGEINT) AS sm_e4,
             CAST(sum(CAST(floor(1e4 * (CAST(s AS DOUBLE) / n) + 0.5) AS HUGEINT)
                      * CAST(floor(1e4 * (CAST(s AS DOUBLE) / n) + 0.5)
                             AS BIGINT)) AS HUGEINT) AS sm2_e8
      FROM per)
    SELECT CAST(k AS INTEGER) AS n_folds,
           round(CAST(stot AS DOUBLE) / ntot / 100.0, 2) AS overall_mean_dollars,
           round((CAST(k AS DOUBLE) * sm2_e8 - CAST(sm_e4 AS DOUBLE) * sm_e4)
                 / (CAST(k AS DOUBLE) * (k - 1)) / 1e8 / 1e4, 4)
             AS between_fold_var_dollars2,
           round(sqrt((CAST(k AS DOUBLE) * sm2_e8
                       - CAST(sm_e4 AS DOUBLE) * sm_e4)
                      / (CAST(k AS DOUBLE) * (k - 1)) / 1e8) / 1e2 / sqrt(5.0),
                 4) AS cv_se_dollars
    FROM agg
    """,
    tags=("ml", "cross-validation", "exact-arith"),
)
def q_kfold_cv_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation stability of the mean order value:
    folds are DETERMINISTIC (md5-prefix buckets, identical both engines, no rand()), per-fold
    means floor to e4 integers before the between-fold variance, and
    cv_se = sd(fold means)/sqrt(k) is the error bar a cross-validated
    metric should always carry. The harness every 'CV accuracy'
    number silently needs."""
    orders = read_table(spark, sf_dir, "orders")
    vals = orders.select(
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10
            ).cast("bigint")
            % _KFOLDS
        ).alias("fold"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v"),
    )
    per = vals.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast(_DEC).alias("s"),
    )
    m_e4 = F.floor(
        F.lit(1e4) * (F.col("s").cast("double") / F.col("n")) + 0.5
    ).cast("bigint")
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("ntot"),
        F.sum("s").cast(_DEC).alias("stot"),
        F.sum(m_e4).cast(_DEC).alias("sm_e4"),
        F.sum(m_e4.cast(_DEC) * m_e4.cast(_DEC)).cast(_DEC).alias("sm2_e8"),
    )
    kd = F.col("k").cast("double")
    var_e8 = (
        kd * F.col("sm2_e8").cast("double")
        - F.col("sm_e4").cast("double") * F.col("sm_e4")
    ) / (kd * (F.col("k") - 1))
    return agg.select(
        F.col("k").cast("int").alias("n_folds"),
        F.round(
            F.col("stot").cast("double") / F.col("ntot") / 100.0, 2
        ).alias("overall_mean_dollars"),
        F.round(var_e8 / 1e8 / 1e4, 4).alias("between_fold_var_dollars2"),
        F.round(F.sqrt(var_e8 / 1e8) / 1e2 / F.sqrt(F.lit(5.0)), 4).alias(
            "cv_se_dollars"
        ),
    )


# ---------------------------------------------------------------------------
# Chow structural-break test on the daily revenue trend.
# ---------------------------------------------------------------------------
def _rss_sql(alias: str, cond: str) -> str:
    return f"""
    {alias} AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS HUGEINT) AS st,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
             CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM seq {cond})"""


# exact-integer RSS (dollars^2): RSS = (Cyy*Ctt - Cty^2) / (Ctt*n) as
# ONE integer floor-division -- the r10 sf0.1 sweep caught the double
# form drifting: DuckDB's optimizer reassociates (a - b/c)/n, and
# round(x, 2) at ~1.26e16 magnitude is past 2^53 on DuckDB's
# multiply-nearbyint path. Integer RSS has neither problem.
_RSS_EXPR = (
    "CAST(((n * syy - sy * sy) * (n * stt - st * st)"
    " - (n * sty - st * sy) * (n * sty - st * sy))"
    " // ((n * stt - st * st) * n) AS BIGINT)"
)


@register(
    "chow_test",
    f"""
    WITH d AS (
      SELECT o_orderdate AS dt,
             CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT) // 100 AS y
      FROM orders GROUP BY o_orderdate),
    seq AS (
      SELECT dt, CAST(row_number() OVER (ORDER BY dt) AS BIGINT) AS t, y
      FROM d),
    {_rss_sql("all_m", "")},
    {_rss_sql("pre_m", f"WHERE dt < DATE '{_CHOW_BREAK}'")},
    {_rss_sql("post_m", f"WHERE dt >= DATE '{_CHOW_BREAK}'")},
    r AS (
      SELECT (SELECT {_RSS_EXPR} FROM all_m) AS rss_p,
             (SELECT {_RSS_EXPR} FROM pre_m) AS rss_1,
             (SELECT {_RSS_EXPR} FROM post_m) AS rss_2,
             (SELECT n FROM all_m) AS n),
    f AS (
      SELECT n, rss_p, rss_1, rss_2,
             CAST(rss_p - rss_1 - rss_2 AS HUGEINT) * (n - 4) AS fnum,
             2 * CAST(rss_1 + rss_2 AS HUGEINT) AS fden
      FROM r)
    SELECT CAST(n AS BIGINT) AS n_days,
           rss_p AS rss_pooled,
           rss_1 + rss_2 AS rss_split,
           round(CAST(fnum AS DOUBLE) / CAST(fden AS DOUBLE), 4) + 0.0
             AS chow_f,
           CASE WHEN fnum > 3 * fden THEN 'break' ELSE 'no-break' END
             AS verdict
    FROM f
    """,
    tags=("econometrics", "structural-break", "exact-arith"),
)
def q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test at the known 1996-01-01 candidate break: pooled vs
    two-regime daily-trend regressions, every RSS from the exact
    moment closed form RSS = (Cyy - Cty^2/Ctt)/n (n-scaled central
    moments, no residuals materialized), F = ((RSS_p - RSS_1 -
    RSS_2)/2) / ((RSS_1 + RSS_2)/(n-4)). The complement of
    pettitt/cusum: THOSE find an unknown break, Chow TESTS a
    hypothesized one with a calibrated F."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.expr(
            "CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT) DIV 100"
        ).alias("y")
    )
    seq = d.select(
        "dt",
        F.row_number().over(Window.orderBy("dt")).cast("bigint").alias("t"),
        "y",
    )
    brk = F.lit(_CHOW_BREAK).cast("date")

    def rss(df):
        mom = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("t").cast(_DEC).alias("st"),
            F.sum("y").cast(_DEC).alias("sy"),
            F.sum(F.col("t").cast(_DEC) * F.col("t").cast(_DEC))
            .cast(_DEC)
            .alias("stt"),
            F.sum(F.col("t").cast(_DEC) * F.col("y").cast(_DEC))
            .cast(_DEC)
            .alias("sty"),
            F.sum(F.col("y").cast(_DEC) * F.col("y").cast(_DEC))
            .cast(_DEC)
            .alias("syy"),
        )
        # exact-integer RSS via ONE floor division (mirrors _RSS_EXPR;
        # see the r10 reassociation note on the oracle text)
        return mom.selectExpr(
            "CAST(((n * syy - sy * sy) * (n * stt - st * st)"
            " - (n * sty - st * sy) * (n * sty - st * sy))"
            " DIV ((n * stt - st * st) * n) AS BIGINT) AS rss",
            "n",
        )

    rp = rss(seq).select(F.col("rss").alias("rss_p"), F.col("n").alias("n"))
    r1 = rss(seq.where(F.col("dt") < brk)).select(F.col("rss").alias("rss_1"))
    r2 = rss(seq.where(F.col("dt") >= brk)).select(F.col("rss").alias("rss_2"))
    r = rp.crossJoin(F.broadcast(r1)).crossJoin(F.broadcast(r2))
    f = r.selectExpr(
        "n",
        "rss_p",
        "rss_1",
        "rss_2",
        "CAST(rss_p - rss_1 - rss_2 AS DECIMAL(38,0)) * (n - 4) AS fnum",
        "2 * CAST(rss_1 + rss_2 AS DECIMAL(38,0)) AS fden",
    )
    return f.selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "rss_p AS rss_pooled",
        "rss_1 + rss_2 AS rss_split",
        "round(CAST(fnum AS DOUBLE) / CAST(fden AS DOUBLE), 4) + 0.0"
        " AS chow_f",
        "CASE WHEN fnum > 3 * fden THEN 'break' ELSE 'no-break' END"
        " AS verdict",
    )
