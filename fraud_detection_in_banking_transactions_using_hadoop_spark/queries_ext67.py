"""Extension batch 67: two more LIVE streaming folds under the full
hash gate -- a Page-Hinkley drift monitor over folded daily sums, and a
deterministic weighted reservoir (A-ES top-k) maintained as mergeable
stream state.

Both follow the proven streaming_psi/hll/cms shape: the foreachBatch
fold maintains state whose merge is EXACT (integer addition for the
daily histogram; union + k-smallest for the reservoir, a pure
order-statistics merge), so the post-stream closing formula equals the
all-batch computation bit-for-bit and the DuckDB oracle can check the
live run. State persists behind the crash-safe atomic rename swap
(operators/merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_RES_K = 25


# ---------------------------------------------------------------------------
# Streaming Page-Hinkley monitor: fold daily sums, close the PH scan.
# ---------------------------------------------------------------------------
@register(
    "streaming_page_hinkley_replay",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS dt,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS HUGEINT) AS s
      FROM d),
    m AS (
      SELECT dt,
             CAST(t.n AS HUGEINT)
               * sum(CAST(x AS HUGEINT)) OVER (ORDER BY dt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - CAST(row_number() OVER (ORDER BY dt) AS HUGEINT) * t.s AS mt
      FROM d CROSS JOIN tot t),
    ph AS (
      SELECT dt,
             mt - min(mt) OVER (ORDER BY dt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph_n
      FROM m),
    peak AS (
      SELECT dt AS peak_date, ph_n AS max_ph_n
      FROM ph ORDER BY ph_n DESC, dt LIMIT 1)
    SELECT t.n AS n_days,
           CAST(p.max_ph_n // t.n AS BIGINT) AS max_ph_cents,
           strftime(p.peak_date, '%Y-%m-%d') AS peak_date
    FROM peak p CROSS JOIN tot t
    """,
    tags=("streaming", "drift", "T2"),
)
def q_streaming_page_hinkley_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley with its state maintained over a LIVE stream: four
    micro-batches fold per-day cent sums into a parquet state table
    (integer addition = exact merge, behind the atomic rename swap);
    the post-stream closing scan computes the n-scaled PH peak on the
    folded days. Because the fold is exactly the batch daily aggregate,
    the DuckDB all-batch formulation hash-checks the live run."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="ph_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select("ts", "value")
    ev.repartition(4).write.parquet(str(src))

    def fold(batch_df, batch_id):
        cur = (
            batch_df.select(
                F.col("ts").cast("date").alias("dt"),
                F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
            )
            .groupBy("dt")
            .agg(F.sum("cents").cast("bigint").alias("x"))
        )

        def advance(prev):
            if prev is None:
                return cur
            return (
                prev
                .unionByName(cur)
                .groupBy("dt")
                .agg(F.sum("x").cast("bigint").alias("x"))
            )

        fold_state(spark, str(state), advance, f"ph{batch_id}")

    replay_files(spark, str(src), ev.schema, fold)

    d = spark.read.parquet(str(state))
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast(_DEC).alias("s"),
    )
    wd = Window.orderBy("dt")
    wcum = wd.rowsBetween(Window.unboundedPreceding, 0)
    m = d.crossJoin(F.broadcast(tot)).select(
        "dt",
        "n",
        (
            F.col("n").cast(_DEC) * F.sum(F.col("x").cast(_DEC)).over(wcum)
            - F.row_number().over(wd).cast(_DEC) * F.col("s")
        ).alias("mt"),
    )
    ph = m.select("dt", "n", (F.col("mt") - F.min("mt").over(wcum)).alias("ph_n"))
    return (
        ph.orderBy(F.col("ph_n").desc(), "dt")
        .limit(1)
        .select(
            F.col("n").alias("n_days"),
            F.expr("CAST(ph_n DIV n AS BIGINT)").alias("max_ph_cents"),
            F.date_format("dt", "yyyy-MM-dd").alias("peak_date"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming deterministic weighted reservoir (A-ES) as mergeable state.
# ---------------------------------------------------------------------------
@register(
    "streaming_topk_sample_replay",
    f"""
    WITH keyed AS (
      SELECT event_id, value,
             -ln((('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                  + 1.0) / 4294967297.0)
               / greatest(value, 0.01) AS k
      FROM events),
    ranked AS (
      SELECT event_id, round(value, 2) AS value, round(k, 8) AS sample_key,
             CAST(row_number() OVER (ORDER BY k, event_id) AS INTEGER) AS rk
      FROM keyed)
    SELECT event_id, value, sample_key, rk FROM ranked WHERE rk <= {_RES_K}
    """,
    tags=("streaming", "sampling", "T2"),
)
def q_streaming_topk_sample_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir over a LIVE stream: each micro-batch computes
    A-ES keys (-ln(u)/w with md5-deterministic u) for its events and
    folds 'union previous reservoir + new candidates, keep k smallest'
    -- the exact mergeable order-statistics state that makes A-ES
    distributed- and stream-safe. Because keys are deterministic, the
    final reservoir equals the all-batch k-smallest selection, and the
    DuckDB batch SQL hash-checks the live run (the weighted_sample_topk
    contract, now under streaming state)."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="res_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    ev.repartition(4).write.parquet(str(src))

    u = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / 4294967297.0
    key = -F.log(u) / F.greatest(F.col("value"), F.lit(0.01))

    def fold(batch_df, batch_id):
        cand = batch_df.select(
            "event_id", "value", key.alias("k")
        ).orderBy("k", "event_id").limit(_RES_K)

        def advance(prev):
            if prev is None:
                return cand
            return (
                prev
                .unionByName(cand)
                .orderBy("k", "event_id")
                .limit(_RES_K)
            )

        fold_state(spark, str(state), advance, f"res{batch_id}")

    replay_files(spark, str(src), ev.schema, fold)

    res = spark.read.parquet(str(state))
    w = Window.orderBy("k", "event_id")
    return res.select(
        "event_id",
        F.round("value", 2).alias("value"),
        F.round("k", 8).alias("sample_key"),
        F.row_number().over(w).cast("int").alias("rk"),
    )
