"""Extension batch 115 (round 6): live streaming near-duplicate
detection -- the minhash/LSH band fold.

Closes the last batch-vs-streaming asymmetry in the dedup tier (r5
verdict item 5): the batch surface has exact/minhash/simhash dedup, and
the streaming surface had 13 live replays but no NEAR-dup operator.

Scale notes (the 100 TB story):
- streaming_minhash_replay maintains the LSH band-bucket state
  INCREMENTALLY: each micro-batch computes minhash signatures for ITS
  docs only (a doc's tokens arrive whole with its row, so per-batch
  signatures equal batch signatures), bands them map-side
  (operators/dedup.band_table), and appends the band rows to a
  persisted state table behind the crash-safe atomic swap. Band rows
  are per-doc facts, so the fold is a pure disjoint union -- the
  associativity that makes the sketch streamable. The hot-bucket cap
  and the bucketed self-join run ONCE on the final folded table (bucket
  sizes are only known globally), exactly like the batch operator --
  so the folded pipeline is row-identical to minhash_lsh_pairs and
  sits under the full DuckDB hash gate. At scale the state table is
  (docs x n_bands) narrow rows, the per-batch work is proportional to
  batch size, and the closing self-join is the standard LSH
  bucket-bounded join.

Reference parity: generalizes the reference's streaming micro-batch
maintenance loop (RTFraudScan.txt trigger model) from per-key counters
to a mergeable similarity sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_N_HASHES = 16
_BAND_SIZE = 4
_MAX_BUCKET = 64  # same hot-bucket guard as the batch query (queries_llm)


@register(
    "streaming_minhash_replay",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents),
    hashed AS (
      SELECT doc_id, i.i, min(substr(md5((i.i // 2) || ':' || tok), 1 + 16 * (i.i % 2), 16)) AS h
      FROM toks CROSS JOIN (SELECT unnest(range({_N_HASHES})) AS i) i
      GROUP BY doc_id, i.i),
    bands AS (
      SELECT doc_id, CAST(i // {_BAND_SIZE} AS INTEGER) AS band_id,
             md5(string_agg(h, '|' ORDER BY i)) AS band_hash
      FROM hashed GROUP BY doc_id, CAST(i // {_BAND_SIZE} AS INTEGER)),
    capped AS (
      SELECT doc_id, band_id, band_hash FROM (
        SELECT doc_id, band_id, band_hash,
               count(*) OVER (PARTITION BY band_id, band_hash) AS bsz
        FROM bands)
      WHERE bsz <= {_MAX_BUCKET}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b FROM pairs
    """,
    tags=("streaming", "dedup", "minhash", "lsh"),
)
def q_streaming_minhash_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash/LSH near-dup candidates maintained OVER A STREAM: the
    documents table replays in four micro-batches; each foreachBatch
    computes its docs' signatures + band rows and folds them into a
    parquet state table behind the crash-safe atomic swap
    (operators/merge). Because a doc's signature depends only on its
    own row, the folded band table is row-identical to the batch band
    table, and the closing (cap -> bucketed self-join) over the final
    state equals minhash_lsh_pairs -- which is exactly what the DuckDB
    oracle computes, so this live streaming pipeline sits under the
    full hash gate."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.dedup import (
        band_table,
        minhash_signatures,
    )
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="minhash_stream_"))
    src, state = base / "src", base / "state"
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(4).write.parquet(str(src))

    def fold(batch_df, batch_id):
        sigs = minhash_signatures(batch_df, "doc_id", "text", n_hashes=_N_HASHES)
        bands = band_table(sigs, "doc_id", n_hashes=_N_HASHES, band_size=_BAND_SIZE)

        def advance(prev):
            return bands if prev is None else prev.unionByName(bands)

        fold_state(spark, str(state), advance, f"mh{batch_id}")

    replay_files(spark, str(src), docs.schema, fold)

    banded = spark.read.parquet(str(state))
    w = Window.partitionBy("band_id", "band_hash")
    capped = (
        banded.withColumn("_bsz", F.count("*").over(w))
        .filter(F.col("_bsz") <= _MAX_BUCKET)
        .drop("_bsz")
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
