"""Extension batch 126 (round 6): streaming Bloom-filter maintenance --
the membership sketch folded live over micro-batches.

Closes the remaining batch-vs-streaming sketch asymmetry: CMS (counts),
HLL (distincts), minhash (near-dup), and now Bloom (membership) all
have LIVE foreachBatch folds that provably equal their batch builds.

Scale notes: bit-position set union is idempotent AND associative, so
the fold is replay-safe by construction; per batch the work is k=3
md5 projections + a distinct on (pos) -- the state table is bounded by
m = 65536 rows REGARDLESS of stream length, the property that makes
Bloom the membership answer at 100 TB. The probe stage is the batch
bloom machinery (ext106) against the folded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext106 import (
    _BLOOM_K,
    _BLOOM_M,
    _pos_col,
    _pos_sql,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


@register(
    "streaming_bloom_replay",
    f"""
    WITH members AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    probes AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'signup'
        AND user_id NOT IN (SELECT user_id FROM members)),
    bits AS (
      SELECT DISTINCT pos FROM (
        {" UNION ALL ".join(f"SELECT {_pos_sql(i, 'user_id')} AS pos FROM members" for i in range(_BLOOM_K))})),
    probe_pos AS (
      {" UNION ALL ".join(f"SELECT user_id, {_pos_sql(i, 'user_id')} AS pos FROM probes" for i in range(_BLOOM_K))}),
    hits AS (
      SELECT p.user_id, CAST(count(b.pos) AS BIGINT) AS n_hit
      FROM probe_pos p LEFT JOIN bits b ON b.pos = p.pos
      GROUP BY p.user_id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(coalesce(sum(CASE WHEN n_hit = {_BLOOM_K} THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_false_positives
    FROM hits
    """,
    tags=("streaming", "sketch", "bloom"),
)
def q_streaming_bloom_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter maintained OVER A STREAM: purchase events replay in
    four micro-batches; each foreachBatch projects its users' k=3 bit
    positions and folds the DISTINCT positions into a parquet state
    table behind the crash-safe atomic swap. Set union is associative
    and idempotent, so the folded bitset equals the batch build --
    which is what the DuckDB oracle computes -- and the state can
    never exceed m = 65536 rows. Probed with true non-members (signup
    users who never purchased) for the false-positive count."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="bloom_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    members_src = ev.where(F.col("event_type") == "purchase").select("user_id")
    members_src.repartition(4).write.parquet(str(src))

    def fold(batch_df, batch_id):
        bits = (
            batch_df.select(
                F.explode(
                    F.array(
                        *[_pos_col(i, F.col("user_id")) for i in range(_BLOOM_K)]
                    )
                ).alias("pos")
            )
            .distinct()
        )

        def advance(prev):
            return bits if prev is None else prev.unionByName(bits).distinct()

        fold_state(spark, str(state), advance, f"bloom{batch_id}")

    replay_files(spark, str(src), members_src.schema, fold)

    bits = spark.read.parquet(str(state))
    members = members_src.distinct()
    probes = (
        ev.where(F.col("event_type") == "signup")
        .select("user_id")
        .distinct()
        .join(members, "user_id", "left_anti")
    )
    probe_pos = probes.select(
        "user_id",
        F.explode(
            F.array(*[_pos_col(i, F.col("user_id")) for i in range(_BLOOM_K)])
        ).alias("pos"),
    )
    hits = (
        probe_pos.join(
            bits.select(F.col("pos"), F.lit(1).alias("b")), "pos", "left"
        )
        .groupBy("user_id")
        .agg(F.sum(F.coalesce(F.col("b"), F.lit(0))).alias("n_hit"))
    )
    n_members = members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set"))
    return (
        hits.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.coalesce(
                F.sum(F.when(F.col("n_hit") == _BLOOM_K, 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_false_positives"),
        )
        .crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(n_bits))
        .select("n_members", "n_bits_set", "n_probes", "n_false_positives")
    )
