"""Extension batch 182 (round 6): the 22nd live streaming fold and
two market-structure classics -- per-user MAX DRAWDOWN of the signed
account balance (purchases credit, errors debit) maintained exactly
across micro-batches through the (total, max-prefix, min-prefix,
drawdown) max-plus monoid (dd(AB) = max(dd_A, dd_B, maxpref_A - t_A -
minpref_B): the same associativity that carried the CUSUM quadruple,
now measuring peak-to-trough collapse instead of reset-at-zero
excess), the Balassa revealed-comparative-advantage matrix over
nation x part-brand revenue (RCA > 1 decided by the EXACT integer
cross product x_nb * x > x_n * x_b before any division), and the
CR4/CR8 seller concentration ratios that complete the
Herfindahl / Pareto market-power family.

Cross-engine discipline: the drawdown fold is integer cents end to
end and its carried state equals the whole-sequence running-max
window identity the oracle computes; RCA emits the exact-integer
specialization count plus doubles derived only from exact integer
products; concentration shares emit exact ppm floor-divisions before
the rounded doubles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_DD_ALARM_CENTS = 20_000  # flag a peak-to-trough collapse >= $200


@register(
    "streaming_drawdown_replay",
    f"""
    WITH seq AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100, 0) AS BIGINT)
                  ELSE -CAST(round(value * 100, 0) AS BIGINT) END AS d,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS i
      FROM events WHERE event_type IN ('purchase', 'error')),
    pre AS (
      SELECT user_id, d, i,
             sum(d) OVER (PARTITION BY user_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref
      FROM seq),
    run AS (
      SELECT user_id, pref,
             greatest(0, max(pref) OVER (PARTITION BY user_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS runmax
      FROM pre)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(max(runmax) AS BIGINT) / 100.0, 2) AS peak_dollars,
           round(CAST(max(runmax - pref) AS BIGINT) / 100.0, 2)
             AS max_drawdown_dollars,
           CAST(max(runmax - pref) AS BIGINT) >= {_DD_ALARM_CENTS}
             AS alarm
    FROM run GROUP BY user_id
    """,
    tags=("streaming", "state", "drawdown"),
)
def q_streaming_drawdown_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user maximum drawdown of the signed balance (purchase
    cents credit, error cents debit; balance starts at 0 so the
    initial peak is 0) kept LIVE across four in-order micro-batches.
    Drawdown is not a sum -- but the (total, max-prefix, min-prefix,
    in-segment drawdown) quadruple is an associative max-plus monoid:
    dd_new = max(dd_prev, batch dd, runmax_prev - P_prev - batch
    min-prefix), runmax_new = max(runmax_prev, P_prev + batch
    max-prefix), P_new = P_prev + batch total. Carried state swaps
    per batch behind the crash-safe overwrite; the final state equals
    the running-max window identity the oracle computes -- exact
    integer cents. Alarm = collapse ever >= $200."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="dd_stream_"))
    src, state = base / "src", base / "state"
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "error"))
        .select(
            "user_id",
            F.when(F.col("event_type") == "purchase", cents)
            .otherwise(-cents)
            .alias("d"),
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
        w = Window.partitionBy("user_id").orderBy("us", "event_id")
        wcum = w.rowsBetween(Window.unboundedPreceding, 0)
        pre = batch_df.select(
            "user_id",
            "d",
            F.sum("d").over(wcum).alias("pref"),
            F.max(F.sum("d").over(wcum)).over(wcum).alias("runmax_nb"),
        )
        agg = pre.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("d").cast("bigint").alias("t"),
            F.max("pref").cast("bigint").alias("maxpref"),
            F.min("pref").cast("bigint").alias("minpref"),
            F.max(F.col("runmax_nb") - F.col("pref"))
            .cast("bigint")
            .alias("bdd"),
        )

        def advance(prev):
            if prev is None:
                return agg.select(
                    "user_id",
                    F.greatest(
                        F.col("bdd"), F.lit(0) - F.col("minpref"), F.lit(0)
                    )
                    .cast("bigint")
                    .alias("dd"),
                    F.greatest(F.lit(0), F.col("maxpref"))
                    .cast("bigint")
                    .alias("runmax"),
                    F.col("t").cast("bigint").alias("p"),
                    F.col("m").cast("bigint").alias("seen"),
                )
            return agg.join(prev, "user_id", "full_outer").select(
                "user_id",
                F.when(F.col("m").isNull(), F.col("dd"))
                .otherwise(
                    F.greatest(
                        F.coalesce(F.col("dd"), F.lit(0)),
                        F.col("bdd"),
                        F.coalesce(F.col("runmax"), F.lit(0))
                        - F.coalesce(F.col("p"), F.lit(0))
                        - F.col("minpref"),
                    )
                )
                .cast("bigint")
                .alias("dd"),
                F.when(F.col("m").isNull(), F.col("runmax"))
                .otherwise(
                    F.greatest(
                        F.coalesce(F.col("runmax"), F.lit(0)),
                        F.coalesce(F.col("p"), F.lit(0))
                        + F.col("maxpref"),
                    )
                )
                .cast("bigint")
                .alias("runmax"),
                (
                    F.coalesce(F.col("p"), F.lit(0))
                    + F.coalesce(F.col("t"), F.lit(0))
                )
                .cast("bigint")
                .alias("p"),
                (
                    F.coalesce(F.col("seen"), F.lit(0))
                    + F.coalesce(F.col("m"), F.lit(0))
                )
                .cast("bigint")
                .alias("seen"),
            )

        fold_state(spark, str(state), advance, f"dd{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    final = spark.read.parquet(str(state))
    return final.select(
        "user_id",
        F.col("seen").alias("n_events"),
        F.round(F.col("runmax") / 100.0, 2).alias("peak_dollars"),
        F.round(F.col("dd") / 100.0, 2).alias("max_drawdown_dollars"),
        (F.col("dd") >= _DD_ALARM_CENTS).alias("alarm"),
    )


@register(
    "balassa_rca",
    """
    WITH cell AS (
      SELECT c.c_nationkey AS nk, p.p_brand AS brand,
             CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
                  AS HUGEINT) AS xc
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY c.c_nationkey, p.p_brand),
    nm AS (
      SELECT nk, CAST(sum(xc) AS HUGEINT) AS xn FROM cell GROUP BY nk),
    bm AS (
      SELECT brand, CAST(sum(xc) AS HUGEINT) AS xb
      FROM cell GROUP BY brand),
    g AS (SELECT CAST(sum(xc) AS HUGEINT) AS x FROM cell),
    rca AS (
      SELECT c.nk, c.brand,
             CAST(c.xc * g.x AS DOUBLE)
               / CAST(n.xn * b.xb AS DOUBLE) AS rca_v,
             c.xc * g.x > n.xn * b.xb AS specialized
      FROM cell c
      JOIN nm n ON n.nk = c.nk
      JOIN bm b ON b.brand = c.brand
      CROSS JOIN g),
    cnt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(CASE WHEN specialized THEN 1 ELSE 0 END) AS BIGINT)
               AS n_specialized
      FROM rca),
    top AS (
      SELECT nk, brand, rca_v FROM rca
      ORDER BY rca_v DESC, nk, brand LIMIT 10)
    SELECT t.nk AS nationkey, t.brand,
           round(t.rca_v, 6) AS rca,
           c.n_cells, c.n_specialized
    FROM top t CROSS JOIN cnt c
    """,
    tags=("economics", "trade", "specialization"),
)
def q_balassa_rca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balassa revealed comparative advantage over the nation x
    part-brand revenue matrix: RCA = (x_nb/x_n)/(x_b/x) -- a nation
    is SPECIALIZED in a brand when its revenue share of that brand
    exceeds the brand's global share. The RCA > 1 verdict is decided
    on the EXACT integer cross product x_nb * x > x_n * x_b (no
    division, no float), the reported value from exact integer
    products cast to double once; the 10 most-specialized cells and
    the global specialization count summarize the matrix."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    part = read_table(spark, sf_dir, "part")
    cell = (
        lineitem.join(
            orders, orders.o_orderkey == lineitem.l_orderkey
        )
        .join(customer, customer.c_custkey == orders.o_custkey)
        .join(part, part.p_partkey == lineitem.l_partkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
            )
            .cast(_DEC)
            .alias("xc")
        )
    )
    nm = cell.groupBy("nk").agg(F.sum("xc").cast(_DEC).alias("xn"))
    bm = cell.groupBy("brand").agg(F.sum("xc").cast(_DEC).alias("xb"))
    g = cell.agg(F.sum("xc").cast(_DEC).alias("x"))
    rca = (
        cell.join(nm, on="nk")
        .join(bm, on="brand")
        .crossJoin(F.broadcast(g))
        .select(
            "nk",
            "brand",
            (
                (F.col("xc") * F.col("x")).cast("double")
                / (F.col("xn") * F.col("xb")).cast("double")
            ).alias("rca_v"),
            (F.col("xc") * F.col("x") > F.col("xn") * F.col("xb")).alias(
                "specialized"
            ),
        )
    )
    cnt = rca.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.when(F.col("specialized"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_specialized"),
    )
    top = (
        rca.orderBy(F.col("rca_v").desc(), "nk", "brand")
        .limit(10)
        .select(
            F.col("nk").alias("nationkey"),
            "brand",
            F.round(F.col("rca_v"), 6).alias("rca"),
        )
    )
    return top.crossJoin(F.broadcast(cnt)).select(
        "nationkey", "brand", "rca", "n_cells", "n_specialized"
    )


@register(
    "concentration_ratio",
    """
    WITH sup AS (
      SELECT l_suppkey AS sk,
             CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                  AS HUGEINT) AS cents
      FROM lineitem GROUP BY l_suppkey),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(cents) AS HUGEINT) AS s
      FROM sup),
    agg AS (
      SELECT (SELECT CAST(sum(cents) AS HUGEINT) FROM
                (SELECT cents FROM sup ORDER BY cents DESC, sk LIMIT 4))
               AS c4,
             (SELECT CAST(sum(cents) AS HUGEINT) FROM
                (SELECT cents FROM sup ORDER BY cents DESC, sk LIMIT 8))
               AS c8)
    SELECT t.n_suppliers,
           CAST(1000000 * a.c4 // t.s AS BIGINT) AS cr4_ppm,
           CAST(1000000 * a.c8 // t.s AS BIGINT) AS cr8_ppm,
           round(CAST(a.c4 AS DOUBLE) / CAST(t.s AS DOUBLE), 6) AS cr4,
           round(CAST(a.c8 AS DOUBLE) / CAST(t.s AS DOUBLE), 6) AS cr8
    FROM agg a CROSS JOIN tot t
    """,
    tags=("economics", "market", "concentration"),
)
def q_concentration_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CR4 / CR8 seller concentration: the revenue share of the top
    4 and top 8 suppliers -- the antitrust screen that complements
    the Herfindahl index (HHI weights every share quadratically; CRk
    reads the head of the distribution directly). Top-k selection is
    deterministic (revenue desc, supplier key); shares are emitted as
    exact ppm floor-divisions before the rounded doubles."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    sup = lineitem.groupBy(F.col("l_suppkey").alias("sk")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
        .cast(_DEC)
        .alias("cents")
    )
    tot = sup.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("cents").cast(_DEC).alias("s"),
    )
    top4 = (
        sup.orderBy(F.col("cents").desc(), "sk")
        .limit(4)
        .agg(F.sum("cents").cast(_DEC).alias("c4"))
    )
    top8 = (
        sup.orderBy(F.col("cents").desc(), "sk")
        .limit(8)
        .agg(F.sum("cents").cast(_DEC).alias("c8"))
    )
    agg = top4.crossJoin(F.broadcast(top8))
    return agg.crossJoin(F.broadcast(tot)).select(
        "n_suppliers",
        F.expr("CAST(1000000 * c4 DIV s AS BIGINT)").alias("cr4_ppm"),
        F.expr("CAST(1000000 * c8 DIV s AS BIGINT)").alias("cr8_ppm"),
        F.round(
            F.col("c4").cast("double") / F.col("s").cast("double"), 6
        ).alias("cr4"),
        F.round(
            F.col("c8").cast("double") / F.col("s").cast("double"), 6
        ).alias("cr8"),
    )
