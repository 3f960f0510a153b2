"""Extension batch 259 (round 12): the dedup ROI curve and the 36th
live streaming replay.

- dedup_threshold_sensitivity: the curation question every dedup run
  answers before committing -- "how much corpus does each similarity
  threshold cost?": exact 3-shingle Jaccard (integer ppm) on the
  banded-LSH candidate pairs, then for thresholds 0.5..0.9 the pair
  count, the flagged-doc count under the deterministic one-pass
  smaller-id-neighbor rule (the SemDeDup-style keep-first rule; NOT
  transitive-greedy -- a flagged doc's own neighbors are still
  flagged by it, documented), and the survivor count. One candidate
  scan, five threshold aggregates, all exact integers.

- streaming_forward_replay: the 36th live replay -- the scaled HMM
  forward pass (ext258) run over four in-order micro-batches of the
  daily sign feed. The carried state is (alpha0, alpha1, running
  log-likelihood, e9 occupancy sum, count): pure sequential float
  state with NO global dependence, so a mid-series batch cut must
  resume the recursion exactly (JSON round-trips the doubles
  losslessly); final row equals the one-shot fold -- it shares
  hmm_forward_filter's oracle verbatim.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext258 import (
    _fwd_oracle,
    hmm_forward_fold,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_graph import (
    _SHINGLE_PAIRS_CTE,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_THRESHOLDS = [500_000, 600_000, 700_000, 800_000, 900_000]

_SENS_SQL = f"""
    WITH {_SHINGLE_PAIRS_CTE},
    sh3 AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))))
               AS s
      FROM t),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
              FROM sh3 GROUP BY doc_id),
    common AS (
      SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS c
      FROM pairs p
      JOIN sh3 a ON a.doc_id = p.doc_a
      JOIN sh3 b ON b.doc_id = p.doc_b AND b.s = a.s
      GROUP BY p.doc_a, p.doc_b),
    jac AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b,
             CAST((1000000 * c.c) // (sa.n + sb.n - c.c) AS BIGINT)
               AS j_ppm
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM jac),
    th AS (SELECT unnest({_THRESHOLDS}) AS t)
    SELECT CAST(th.t AS BIGINT) AS threshold_ppm,
           np.n_cand AS n_candidate_pairs,
           CAST(coalesce(sum(CASE WHEN j.j_ppm >= th.t THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_pairs_ge,
           CAST(coalesce(count(DISTINCT CASE WHEN j.j_ppm >= th.t
                         THEN j.doc_b END), 0) AS BIGINT)
             AS n_docs_flagged,
           nd.n_docs
             - CAST(coalesce(count(DISTINCT CASE WHEN j.j_ppm >= th.t
                             THEN j.doc_b END), 0) AS BIGINT)
             AS n_survivors
    FROM th CROSS JOIN nd CROSS JOIN np LEFT JOIN jac j ON true
    GROUP BY th.t, nd.n_docs, np.n_cand
    ORDER BY threshold_ppm
    """


@register(
    "dedup_threshold_sensitivity",
    _SENS_SQL,
    tags=("llm", "dedup", "data-curation", "exact-arith"),
)
def q_dedup_threshold_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup ROI curve (module docstring): exact ppm Jaccard on the
    LSH candidate pairs, five thresholds, flagged docs under the
    one-pass smaller-id rule, survivors. The pair frame (doc_b is
    always the larger id in the shared candidate CTE) is scanned once
    and checkpointed."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_rows,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    # 8 hashes x 4 bands of 2 -- the exact parameterization of the
    # shared candidate CTE (queries_graph), so the candidate SET (not
    # just the downstream clusters) matches the oracle
    sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=8, shingle_w=3)
    pairs = lsh_candidate_pairs(sigs, "doc_id", n_hashes=8, band_size=2)
    sh3 = shingle_rows(docs, "doc_id", "text", w=3).distinct()
    sizes = sh3.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = sh3.select(F.col("doc_id").alias("doc_a"), F.col("tok").alias("s"))
    b = sh3.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("s"))
    common = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    jac = (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("sa")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("sb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST((1000000 * c) DIV (sa + sb - c) AS BIGINT)"
            ).alias("j_ppm"),
        )
        .localCheckpoint(eager=True)
    )
    n_cand = jac.count()
    rows = []
    for t in _THRESHOLDS:
        agg = jac.agg(
            F.sum(F.when(F.col("j_ppm") >= t, 1).otherwise(0))
            .cast("bigint")
            .alias("ge"),
            F.countDistinct(
                F.when(F.col("j_ppm") >= t, F.col("doc_b"))
            )
            .cast("bigint")
            .alias("flagged"),
        ).collect()[0]
        ge, flagged = int(agg["ge"] or 0), int(agg["flagged"] or 0)
        rows.append((t, n_cand, ge, flagged, n_docs - flagged))
    return spark.createDataFrame(
        rows,
        "threshold_ppm long, n_candidate_pairs long, n_pairs_ge long,"
        " n_docs_flagged long, n_survivors long",
    )


@register(
    "streaming_forward_replay",
    _fwd_oracle(),
    tags=("streaming", "hmm", "stateful", "replay"),
)
def q_streaming_forward_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Live scaled-forward HMM filtering over four in-order
    micro-batches of the daily sign feed (36th replay, module
    docstring): the carried (alpha, log-lik, occupancy) state resumes
    the recursion across batch cuts exactly; shares
    hmm_forward_filter's oracle."""
    import datetime
    import json
    import tempfile
    from pathlib import Path

    from pyspark.sql import Window

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )
    from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext187 import (
        _V_DAYS,
    )

    base = Path(tempfile.mkdtemp(prefix="fwd_stream_"))
    src, state = base / "src", base / "state"
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    maxd = daily.agg(F.max("d")).collect()[0][0]
    cutoff = maxd - datetime.timedelta(days=_V_DAYS)
    w = Window.orderBy("d")
    feed = (
        daily.where(F.col("d") > F.lit(cutoff))
        .select(
            "d",
            F.when(F.col("cents") > F.lag("cents").over(w), 1)
            .otherwise(0)
            .alias("s"),
            F.lag("cents").over(w).isNotNull().alias("ok"),
        )
        .where(F.col("ok"))
        .drop("ok")
    )
    parts = feed.select(
        "*", F.ntile(4).over(Window.orderBy("d")).alias("pt")
    ).localCheckpoint(eager=True)
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    def fold(batch_df, batch_id):
        signs = [
            int(r["s"]) for r in batch_df.orderBy("d").collect()
        ]
        if not signs:
            return

        def advance(prev):
            if prev is None:
                ll, a0, a1, bsum, n = hmm_forward_fold(signs)
            else:
                # resume the recursion from the carried alphas exactly
                st = json.loads(prev.first()["payload"])
                a0, a1 = st["a0"], st["a1"]
                ll, bsum, n = st["ll"], st["bsum"], st["n"]
                from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext258 import (
                    _E0_DN,
                    _E0_UP,
                    _E1_DN,
                    _E1_UP,
                    _T_STAY,
                    _T_SWITCH,
                )

                for s in signs:
                    e0 = _E0_UP if s == 1 else _E0_DN
                    e1 = _E1_UP if s == 1 else _E1_DN
                    n0 = (a0 * _T_STAY + a1 * _T_SWITCH) * e0
                    n1 = (a0 * _T_SWITCH + a1 * _T_STAY) * e1
                    c = n0 + n1
                    a0, a1 = n0 / c, n1 / c
                    ll = ll + math.log(c)
                    bsum += int(math.floor(a1 * 1e9 + 0.5))
                    n += 1
            payload = json.dumps(
                {"a0": a0, "a1": a1, "ll": ll, "bsum": bsum, "n": n}
            )
            return spark.createDataFrame([(payload,)], "payload string")

        fold_state(spark, str(state), advance, f"fwd{batch_id}")

    replay_files(spark, str(src / "part*"), feed.schema, fold)

    st = json.loads(spark.read.parquet(str(state)).first()["payload"])
    n_up = int(
        parts.agg(F.sum("s").cast("bigint").alias("u")).collect()[0]["u"]
    )
    row = (
        st["n"],
        n_up,
        int(math.floor(st["ll"] * 1e6 + 0.5)),
        int(math.floor(st["a1"] * 1e9 + 0.5)),
        st["bsum"] // st["n"],
    )
    return spark.createDataFrame(
        [row],
        "n_obs long, n_up_days long, log_lik_e6 long,"
        " p_bull_final_e9 long, avg_bull_e9 long",
    )
