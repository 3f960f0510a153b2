"""Extension batch 225 (round 10): nonlinear-dynamics reads of the
daily revenue series -- recurrence quantification and the horizontal
visibility graph.

- rqa_recurrence_daily: recurrence quantification analysis (m=1
  embedding, radius r = 0.2 * population sd as the exact BIGINT the
  sample_entropy_daily tier proved): RR = recurrent pair share, DET =
  share of recurrent points lying on diagonal lines of length >= 2
  (deterministic structure vs isolated recurrences), LMAX = longest
  diagonal line, and the line count. Diagonal runs are islands in
  (j - i, i) space -- one partitioned row_number per diagonal, the
  gaps-and-islands trick, no sequential scan. The pair join is the
  calendar-bounded |days|^2/2 template join (hoeffding_d_daily /
  sample_entropy precedent), never a fact-table pair join.
- horizontal_visibility_graph: Luque et al.'s HVG -- nodes are days,
  i ~ j iff every day strictly between is lower than min(y_i, y_j).
  Formulated as the pair frame with a per-i RUNNING MAX over the
  in-between values (partitioned window, no n^3 interval scan): edge
  iff j = i + 1 OR runmax < least(y_i, y_j). Output = the degree
  distribution in exact e6 shares against the iid-series law
  P(k) = (1/3)(2/3)^(k-2), inlined as EXACT integer rationals
  1e6 * 2^(k-2) / 3^(k-1) from a Python-generated literal table (pow()
  libm parity is not trusted for integer powers). Time-series ->
  graph-theory bridge: fat-tailed degree distributions flag structure
  an iid null cannot produce.

Both pair spines saturate with the calendar (walsh_sums growth class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext135 import _daily_indexed

_RQA_LMIN = 2

_DAILY_CENTS_SQL = """
    daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_orderdate),
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, cents
      FROM daily)
"""


@register(
    "rqa_recurrence_daily",
    f"""
    WITH {_DAILY_CENTS_SQL},
    mom AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sxx
      FROM daily),
    r_t AS (
      SELECT CAST(floor(0.2 * sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        / CAST(n AS DOUBLE)) AS BIGINT) AS r,
             CAST(n AS BIGINT) AS n
      FROM mom),
    rec AS (
      SELECT b.rn - a.rn AS diag, a.rn AS pos
      FROM s a JOIN s b ON a.rn < b.rn CROSS JOIN r_t r
      WHERE abs(a.cents - b.cents) <= r.r),
    isl AS (
      SELECT diag, pos,
             pos - row_number() OVER (PARTITION BY diag ORDER BY pos)
               AS island
      FROM rec),
    lines AS (
      SELECT diag, island, CAST(count(*) AS BIGINT) AS len
      FROM isl GROUP BY diag, island),
    agg AS (
      SELECT CAST(sum(len) AS BIGINT) AS n_rec,
             CAST(sum(CASE WHEN len >= {_RQA_LMIN} THEN len ELSE 0 END)
                  AS BIGINT) AS n_in_lines,
             CAST(max(len) AS BIGINT) AS lmax,
             CAST(sum(CASE WHEN len >= {_RQA_LMIN} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_lines
      FROM lines)
    SELECT r.n AS n_days, r.r AS r_cents,
           coalesce(a.n_rec, 0) AS recurrent_pairs,
           (coalesce(a.n_rec, 0) * 1000000)
             // (r.n * (r.n - 1) // 2) AS rr_ppm,
           CASE WHEN coalesce(a.n_rec, 0) = 0 THEN NULL
                ELSE (a.n_in_lines * 1000000) // a.n_rec END AS det_ppm,
           coalesce(a.lmax, 0) AS lmax,
           coalesce(a.n_lines, 0) AS n_lines
    FROM r_t r CROSS JOIN agg a
    """,
    tags=("timeseries", "nonlinear", "rqa", "exact-arith"),
)
def q_rqa_recurrence_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RQA over daily revenue (module docstring): exact integer radius,
    islands-per-diagonal run detection, ppm shares via integer
    division -- every output hash-exact."""
    s = _daily_indexed(spark, sf_dir).localCheckpoint(eager=True)
    mom = s.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "sxx"
        ),
    )
    r_t = mom.select(
        F.floor(
            0.2
            * F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
            )
            / F.col("n").cast("double")
        )
        .cast("bigint")
        .alias("r"),
        F.col("n").cast("bigint").alias("n"),
    ).localCheckpoint(eager=True)
    a = s.select(F.col("rn").alias("arn"), F.col("cents").alias("ac"))
    b = s.select(F.col("rn").alias("brn"), F.col("cents").alias("bc"))
    rec = (
        a.join(F.broadcast(b), F.col("arn") < F.col("brn"))
        .crossJoin(F.broadcast(r_t))
        .where(F.abs(F.col("ac") - F.col("bc")) <= F.col("r"))
        .select(
            (F.col("brn") - F.col("arn")).alias("diag"),
            F.col("arn").alias("pos"),
        )
    )
    isl = rec.select(
        "diag",
        "pos",
        (
            F.col("pos")
            - F.row_number().over(Window.partitionBy("diag").orderBy("pos"))
        ).alias("island"),
    )
    lines = isl.groupBy("diag", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    agg = lines.agg(
        F.sum("len").cast("bigint").alias("n_rec"),
        F.sum(F.when(F.col("len") >= _RQA_LMIN, F.col("len")).otherwise(0))
        .cast("bigint")
        .alias("n_in_lines"),
        F.max("len").cast("bigint").alias("lmax"),
        F.sum(F.when(F.col("len") >= _RQA_LMIN, 1).otherwise(0))
        .cast("bigint")
        .alias("n_lines"),
    )
    return (
        r_t.crossJoin(F.broadcast(agg))
        .selectExpr(
            "n AS n_days",
            "r AS r_cents",
            "coalesce(n_rec, 0) AS recurrent_pairs",
            "(coalesce(n_rec, 0) * 1000000)"
            " DIV (n * (n - 1) DIV 2) AS rr_ppm",
            "CASE WHEN coalesce(n_rec, 0) = 0 THEN NULL"
            " ELSE (n_in_lines * 1000000) DIV n_rec END AS det_ppm",
            "coalesce(lmax, 0) AS lmax",
            "coalesce(n_lines, 0) AS n_lines",
        )
    )


def _hvg_iid_literals(max_k: int = 24) -> list:
    """Exact e6 integers of the iid-HVG law P(k) = 2^(k-2) / 3^(k-1)
    for k = 2..max_k, computed in Python integers (pow() libm parity
    is not trusted)."""
    return [(k, 10**6 * 2 ** (k - 2) // 3 ** (k - 1)) for k in range(2, max_k + 1)]


@register(
    "horizontal_visibility_graph",
    f"""
    WITH {_DAILY_CENTS_SQL},
    pairs AS (
      SELECT a.rn AS i, b.rn AS j, a.cents AS yi, b.cents AS yj,
             max(b.cents) OVER (PARTITION BY a.rn ORDER BY b.rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS runmax
      FROM s a JOIN s b ON a.rn < b.rn),
    edges AS (
      SELECT i, j FROM pairs
      WHERE j = i + 1 OR runmax < least(yi, yj)),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS k FROM (
        SELECT i AS v FROM edges UNION ALL SELECT j FROM edges)
      GROUP BY v),
    dist AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY k),
    tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS n FROM dist),
    law AS (SELECT * FROM (VALUES
      {', '.join(f'({k}, CAST({v} AS BIGINT))' for k, v in _hvg_iid_literals())})
      AS t(k, iid_ppm))
    SELECT d.k AS degree, d.n_nodes,
           (d.n_nodes * 1000000) // t.n AS share_ppm,
           l.iid_ppm
    FROM dist d CROSS JOIN tot t
    LEFT JOIN law l ON l.k = d.k
    """,
    tags=("timeseries", "graph", "nonlinear", "exact-arith"),
)
def q_horizontal_visibility_graph(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HVG degree distribution (module docstring): the visibility test
    is ONE partitioned running max over the pair frame; exact ppm
    shares vs the exact-rational iid law."""
    s = _daily_indexed(spark, sf_dir).localCheckpoint(eager=True)
    a = s.select(F.col("rn").alias("i"), F.col("cents").alias("yi"))
    b = s.select(F.col("rn").alias("j"), F.col("cents").alias("yj"))
    pairs = a.join(F.broadcast(b), F.col("i") < F.col("j")).select(
        "i",
        "j",
        "yi",
        "yj",
        F.max("yj")
        .over(
            Window.partitionBy("i")
            .orderBy("j")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        .alias("runmax"),
    )
    edges = pairs.where(
        (F.col("j") == F.col("i") + 1)
        | (F.col("runmax") < F.least("yi", "yj"))
    ).select("i", "j")
    deg = (
        edges.select(F.col("i").alias("v"))
        .unionByName(edges.select(F.col("j").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    dist = deg.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    tot = dist.agg(F.sum("n_nodes").cast("bigint").alias("n"))
    law = spark.createDataFrame(
        _hvg_iid_literals(), "k long, iid_ppm long"
    )
    return (
        dist.crossJoin(F.broadcast(tot))
        .join(F.broadcast(law), "k", "left")
        .select(
            F.col("k").alias("degree"),
            "n_nodes",
            F.expr("(n_nodes * 1000000) DIV n").alias("share_ppm"),
            "iid_ppm",
        )
    )
