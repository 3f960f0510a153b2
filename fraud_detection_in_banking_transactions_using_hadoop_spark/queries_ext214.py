"""Extension batch 214 (round 9): the mergeable bounded-error quantile
sketch the approx tier lacked (r8 verdict item 5) -- a KMV/bottom-k
sample sketch, fully deterministic via md5 rank (no rand()), so every
output is hash-oracled exactly.

Design choice (vs KLL/GK): the bottom-K-by-md5 sample is ORDER- AND
PARTITION-INDEPENDENT -- bottomK(A union B) = bottomK(bottomK(A) union
bottomK(B)) holds exactly, which makes the merge a pure min-K monoid
(per-partition top-K -> TakeOrdered in Spark; the carried streaming
state is just the K rows). KLL compactors are order-sensitive and
randomized, so their cross-engine bit-reproducibility would need a
seeded-RNG contract; the bottom-k sketch buys exact reproducibility at
the cost of a wider (but still proven) error bound:

  DKW inequality on the K-point uniform sample: for all q
  simultaneously, |F_sample^{-1} -> F(est)| deviates from q by more
  than eps with probability <= 2 exp(-2 K eps^2) over the hash
  randomness. K = 1024, eps = 0.09 => failure prob < 6e-8. The query
  EMITS the realized rank error of every decile estimate in exact ppm
  integers and the within-bound flag -- the heavy_hitters_cms pattern
  (exact + estimate + bound, all hash-checked).

Arithmetic discipline: ranks, ppm errors, and bounds are pure BIGINT
(one integer division per ecdf); no float crosses engines.

queries:
- quantile_sketch_deciles: K=1024 sketch of lineitem price cents;
  per decile the estimate, its EXACT full-data rank, the realized
  ppm error, and the DKW flag.
- streaming_bottomk_quantile_replay (27th live replay): the same
  sketch carried as K-row streaming state across four micro-batches
  of the events stream -- the min-K monoid makes the carried state
  equal the one-shot batch sketch bit-for-bit, which the shared
  oracle hash-gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_K = 1024  # lineitem sketch size
_KS = 256  # streaming sketch size
_BOUND_PPM = 90_000  # DKW eps=0.09 at K=1024, delta < 6e-8


@register(
    "quantile_sketch_deciles",
    f"""
    WITH v AS (
      SELECT l_orderkey AS ok, l_linenumber AS ln,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
             md5(concat_ws(':', l_orderkey, l_linenumber,
                 CAST(round(l_extendedprice * 100, 0) AS BIGINT))) AS h
      FROM lineitem),
    samp AS (SELECT * FROM v ORDER BY h, ok, ln LIMIT {_K}),
    ranked AS (
      SELECT cents, row_number() OVER (ORDER BY cents, h, ok, ln) AS r
      FROM samp),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM samp),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    spine AS (SELECT unnest(range(1, 10)) AS i),
    tgt AS (
      SELECT CAST(s.i AS INTEGER) AS i, (s.i * m.m + 9) // 10 AS r
      FROM spine s CROSS JOIN m),
    est AS (
      SELECT t.i, r2.cents AS est_cents
      FROM tgt t JOIN ranked r2 ON r2.r = t.r),
    ex AS (
      SELECT e.i, e.est_cents,
             CAST(sum(CASE WHEN v.cents <= e.est_cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS exact_rank
      FROM v CROSS JOIN est e GROUP BY e.i, e.est_cents)
    SELECT x.i, CAST(x.i AS BIGINT) * 100000 AS q_ppm, x.est_cents,
           t.n, x.exact_rank,
           (1000000 * x.exact_rank) // t.n AS ecdf_ppm,
           abs((1000000 * x.exact_rank) // t.n
               - CAST(x.i AS BIGINT) * 100000) AS abs_err_ppm,
           CAST(abs((1000000 * x.exact_rank) // t.n
                    - CAST(x.i AS BIGINT) * 100000) <= {_BOUND_PPM}
                AS INTEGER) AS within_bound
    FROM ex x CROSS JOIN tot t
    """,
    tags=("sketch", "quantile", "mergeable", "exact-arith"),
)
def q_quantile_sketch_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-K quantile sketch (K=1024) of lineitem price cents:
    the K rows with smallest md5(row key) form a uniform sample whose
    empirical deciles estimate the true ones within eps=0.09 rank error
    (DKW, failure < 6e-8). Spark computes the sketch as TakeOrdered
    (per-partition bottom-K then merge -- the monoid IS the shuffle
    strategy, no global sort); every decile's estimate is then scored
    against its EXACT full-data rank in integer ppm, so the error
    CLAIM, not just the estimate, is hash-verified."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    ).select(
        "*",
        F.md5(F.concat_ws(":", "ok", "ln", "cents")).alias("h"),
    )
    # lazy TakeOrdered (per-partition bottom-K, merged): the sample is
    # tiny and re-derivable, so the query stays inside the plan gate
    samp = li.orderBy("h", "ok", "ln").limit(_K)
    ranked = samp.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "h", "ok", "ln"))
        .alias("r"),
    )
    m = samp.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    spine = spark.createDataFrame([(i,) for i in range(1, 10)], "i int")
    tgt = spine.crossJoin(F.broadcast(m)).select(
        "i", F.expr(f"(i * m + 9) DIV 10").alias("r")
    )
    est = tgt.join(ranked, "r").select("i", F.col("cents").alias("est_cents"))
    ex = (
        li.crossJoin(F.broadcast(est))
        .groupBy("i", "est_cents")
        .agg(
            F.sum(
                F.when(F.col("cents") <= F.col("est_cents"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("exact_rank"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    ecdf = F.expr("(1000000 * exact_rank) DIV n")
    err = F.abs(ecdf - F.col("i").cast("bigint") * 100000)
    return ex.select(
        "i",
        (F.col("i").cast("bigint") * 100000).alias("q_ppm"),
        "est_cents",
        "n",
        "exact_rank",
        ecdf.alias("ecdf_ppm"),
        err.alias("abs_err_ppm"),
        (err <= _BOUND_PPM).cast("int").alias("within_bound"),
    )


_EV_SKETCH_SQL = f"""
    WITH v AS (
      SELECT event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             md5(concat_ws(':', event_id,
                 CAST(round(value * 100, 0) AS BIGINT))) AS h
      FROM events),
    samp AS (SELECT * FROM v ORDER BY h, event_id LIMIT {_KS}),
    ranked AS (
      SELECT cents, row_number() OVER (ORDER BY cents, h, event_id) AS r
      FROM samp),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM samp),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    spine AS (SELECT unnest(range(1, 10)) AS i),
    tgt AS (
      SELECT CAST(s.i AS INTEGER) AS i, (s.i * m.m + 9) // 10 AS r
      FROM spine s CROSS JOIN m)
    SELECT t.i, CAST(t.i AS BIGINT) * 100000 AS q_ppm,
           r2.cents AS est_cents, x.n AS n_seen
    FROM tgt t JOIN ranked r2 ON r2.r = t.r CROSS JOIN tot x
    """


@register(
    "streaming_bottomk_quantile_replay",
    _EV_SKETCH_SQL,
    tags=("streaming", "sketch", "quantile", "replay"),
)
def q_streaming_bottomk_quantile_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Live bottom-K quantile sketch (27th replay): four in-order
    micro-batches of the events stream each merge their rows into the
    carried K-row (h, cents) state -- union then keep the K smallest
    hashes (the min-K monoid), n_seen accumulated alongside. Because
    the sketch is order/partition independent, the final state MUST
    equal the one-shot batch sketch over all events, which is exactly
    what the shared oracle computes; decile estimates are read off the
    final carried state."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="bkq_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    ).select(
        "event_id",
        "us",
        "cents",
        F.md5(F.concat_ws(":", "event_id", "cents")).alias("h"),
    )
    parts = ev.select(
        "*", F.ntile(4).over(Window.orderBy("us", "event_id")).alias("pt")
    )
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    def fold(batch_df, batch_id):
        batch = batch_df.select("h", "event_id", "cents")
        n_batch = batch.count()

        def advance(prev):
            if prev is None:
                return (
                    batch.orderBy("h", "event_id")
                    .limit(_KS)
                    .withColumn("n_seen", F.lit(n_batch).cast("bigint"))
                )
            n0 = prev.agg(F.max("n_seen")).collect()[0][0] or 0
            return (
                prev.select("h", "event_id", "cents")
                .unionByName(batch)
                .orderBy("h", "event_id")
                .limit(_KS)
                .withColumn("n_seen", F.lit(n0 + n_batch).cast("bigint"))
            )

        fold_state(spark, str(state), advance, f"bkq{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    fin = spark.read.parquet(str(state)).localCheckpoint(eager=True)
    ranked = fin.select(
        "cents",
        "n_seen",
        F.row_number()
        .over(Window.orderBy("cents", "h", "event_id"))
        .alias("r"),
    )
    m = fin.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    spine = spark.createDataFrame([(i,) for i in range(1, 10)], "i int")
    tgt = spine.crossJoin(F.broadcast(m)).select(
        "i", F.expr("(i * m + 9) DIV 10").alias("r")
    )
    return tgt.join(ranked, "r").select(
        "i",
        (F.col("i").cast("bigint") * 100000).alias("q_ppm"),
        F.col("cents").alias("est_cents"),
        F.col("n_seen").cast("bigint").alias("n_seen"),
    )
