"""Extension batch 27: multimodal frame sampling under the hash gate
and a live streaming PSI drift monitor.

Scale notes (the 100 TB story per query):
- multimodal_frame_sample drives the REAL Arrow mapInPandas frame
  sampler (operators/multimodal.frame_sample_stats): each synthetic
  'video' is 6 contiguous raw8 frames; every 2nd frame is decoded with
  numpy and summarized MAP-SIDE, so the binary payload never shuffles
  and only narrow per-sampled-frame rows leave the batch -- the shape
  a 100 TB video-corpus sampler must have. The DuckDB oracle re-derives
  every sampled byte from the same md5 hex, so the binary decode path
  itself is hash-checked cross-engine (raw8_stats precedent).
- streaming_psi_monitor maintains the current-population histogram of
  a PSI drift monitor INCREMENTALLY: odd events (the 'live' segment)
  replay in micro-batches and each foreachBatch folds its per-bin
  counts into a parquet state table behind the crash-safe atomic swap.
  Histogram merge is integer addition, so the folded counts equal the
  batch counts bit-for-bit and the closing PSI computation sits under
  the full hash gate (streaming_cms_replay pattern). This is the
  standard production shape: drift monitors run on the stream, not on
  nightly batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table, spread


# ---------------------------------------------------------------------------
# Frame-sampled multimodal stats: 6-frame raw8 "videos", every 2nd
# frame decoded and summarized by the Arrow sampler.
# ---------------------------------------------------------------------------
@register(
    "multimodal_frame_sample",
    """
    WITH h AS (
      SELECT doc_id AS media_id,
             md5(CAST(doc_id AS VARCHAR) || 'f0')
               || md5(CAST(doc_id AS VARCHAR) || 'f1')
               || md5(CAST(doc_id AS VARCHAR) || 'f2')
               || md5(CAST(doc_id AS VARCHAR) || 'f3')
               || md5(CAST(doc_id AS VARCHAR) || 'f4')
               || md5(CAST(doc_id AS VARCHAR) || 'f5')
               || md5(CAST(doc_id AS VARCHAR) || 'f6')
               || md5(CAST(doc_id AS VARCHAR) || 'f7')
               || md5(CAST(doc_id AS VARCHAR) || 'f8')
               || md5(CAST(doc_id AS VARCHAR) || 'f9')
               || md5(CAST(doc_id AS VARCHAR) || 'f10')
               || md5(CAST(doc_id AS VARCHAR) || 'f11')
               || md5(CAST(doc_id AS VARCHAR) || 'f12')
               || md5(CAST(doc_id AS VARCHAR) || 'f13')
               || md5(CAST(doc_id AS VARCHAR) || 'f14')
               || md5(CAST(doc_id AS VARCHAR) || 'f15')
               || md5(CAST(doc_id AS VARCHAR) || 'f16')
               || md5(CAST(doc_id AS VARCHAR) || 'f17') AS hex
      FROM documents),
    b AS (
      SELECT media_id,
             CAST(i // 48 AS BIGINT) AS frame_idx,
             ('0x' || substr(hex, i * 2 + 1, 2))::BIGINT AS v
      FROM h, (SELECT unnest(range(0, 288)) AS i) idx
      WHERE (i // 48) % 2 = 0)
    SELECT media_id, frame_idx,
           CAST(48 AS BIGINT) AS n_bytes,
           CAST(sum(v) AS BIGINT) AS byte_sum,
           round(avg(v), 6) AS mean_byte
    FROM b GROUP BY media_id, frame_idx
    """,
    tags=("multimodal", "arrow", "video"),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesizes a deterministic 288-byte 6-frame raw8 'video' per
    doc (18 md5 digests), then runs the REAL numpy frame sampler over
    mapInPandas: every 2nd 48-byte frame is decoded and reduced to
    (frame_idx, byte_sum, mean_byte) map-side. The oracle rebuilds the
    sampled bytes with hex arithmetic, hash-checking the binary
    decode + sampling path cross-engine."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        frame_sample_stats,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    d = F.col("doc_id").cast("string")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(
            F.concat(*[F.md5(F.concat(d, F.lit(f"f{i}"))) for i in range(18)])
        ).alias("content"),
    )
    stats = frame_sample_stats(media, frame_bytes=48, every_n=2)
    return stats.select(
        "media_id",
        "frame_idx",
        "n_bytes",
        "byte_sum",
        F.round("mean_byte", 6).alias("mean_byte"),
    )


# ---------------------------------------------------------------------------
# Streaming PSI drift monitor: live-segment histogram folded over
# micro-batches, PSI vs the static baseline segment.
# ---------------------------------------------------------------------------
_PSI_BIN_W = 20.0
_PSI_MAX_BIN = 12


@register(
    "streaming_psi_monitor",
    f"""
    WITH binned AS (
      SELECT event_id,
             least(CAST(floor(value / {_PSI_BIN_W}) AS BIGINT),
                   {_PSI_MAX_BIN}) AS bin
      FROM events
    ),
    per AS (
      SELECT bin,
             CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
             CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_curr
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n_base) AS BIGINT) AS tb,
                   CAST(sum(n_curr) AS BIGINT) AS tc,
                   CAST(count(*) AS BIGINT) AS nb FROM per)
    SELECT p.bin, p.n_base, p.n_curr,
           CAST(round(1000000000.0
             * (CAST(p.n_base + 1 AS DOUBLE) / (t.tb + t.nb)
                - CAST(p.n_curr + 1 AS DOUBLE) / (t.tc + t.nb))
             * ln((CAST(p.n_base + 1 AS DOUBLE) / (t.tb + t.nb))
                  / (CAST(p.n_curr + 1 AS DOUBLE) / (t.tc + t.nb))), 0)
             AS BIGINT) AS psi_term_e9
    FROM per p CROSS JOIN tot t
    """,
    tags=("streaming", "drift", "monitoring"),
)
def q_streaming_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift monitor with the CURRENT histogram maintained over a
    stream: odd-event_id events (event_id is ts-monotone, so parity is
    a deterministic interleaved 'live' segment) replay in four
    micro-batches; each foreachBatch folds per-bin counts into a
    parquet state table behind the crash-safe atomic swap. Because
    histogram merge is integer addition the folded counts equal the
    batch counts exactly, and the closing add-one-smoothed PSI (e9-int
    terms) is hash-checked against the all-batch DuckDB formulation."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="psi_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    ev.repartition(4).write.parquet(str(src))

    bin_col = F.least(
        F.floor(F.col("value") / _PSI_BIN_W).cast("bigint"),
        F.lit(_PSI_MAX_BIN).cast("bigint"),
    )

    def fold(batch_df, batch_id):
        cur = (
            batch_df.where(F.col("event_id") % 2 == 1)
            .select(bin_col.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_curr"))
        )

        def advance(prev):
            if prev is None:
                return cur
            return (
                prev
                .unionByName(cur)
                .groupBy("bin")
                .agg(F.sum("n_curr").cast("bigint").alias("n_curr"))
            )

        fold_state(spark, str(state), advance, f"psi{batch_id}")

    replay_files(spark, str(src), ev.schema, fold)

    cur = spark.read.parquet(str(state))
    baseline = (
        ev.where(F.col("event_id") % 2 == 0)
        .select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_base"))
    )
    per = (
        baseline.join(cur, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_curr", F.lit(0)).cast("bigint").alias("n_curr"),
        )
    )
    tot = per.agg(
        F.sum("n_base").cast("bigint").alias("tb"),
        F.sum("n_curr").cast("bigint").alias("tc"),
        F.count(F.lit(1)).cast("bigint").alias("nb"),
    )
    p = (F.col("n_base") + 1).cast("double") / (F.col("tb") + F.col("nb"))
    qq = (F.col("n_curr") + 1).cast("double") / (F.col("tc") + F.col("nb"))
    return per.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_base",
        "n_curr",
        F.round(F.lit(1000000000.0) * (p - qq) * F.log(p / qq), 0)
        .cast("bigint")
        .alias("psi_term_e9"),
    )
