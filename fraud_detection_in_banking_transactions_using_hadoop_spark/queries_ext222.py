"""Extension batch 222 (round 9): streaming Elo -- the 30th live
replay, and the first with DEFERRED-APPLICATION state.

Batch Elo applies a month's deltas from START-of-month ratings, so a
micro-batch boundary that cuts a month in half cannot apply anything
early: the carried state is (applied ratings vector, pending month id,
pending delta vector), and a batch that CONTINUES the pending month
keeps accumulating into the pending vector against the UNCHANGED
applied ratings. Only when a later month appears does the pending
vector fold in. Final ratings must equal the one-shot monthly fold --
the oracle is literally queries_ext221._elo_oracle() (the recursive-
CTE list replay), so an early application, a lost pending vector, or
a boundary double-count mismatches the hash gate instantly.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext221 import (
    _ELO_INIT,
    _ELO_K,
    _elo_oracle,
    _trunc_div_e6,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


def _game_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic monthly head-to-head feed, in (month, i, j)
    order -- the 'match results wire' the replay consumes."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    mrev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.date_format(
                F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM"
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
        # ~25 nations x ~84 months rows; pinned so the self-join below
        # doesn't run the orders aggregation twice (CLAUDE.md rule).
        .localCheckpoint(eager=True)
    )
    a, b = mrev.alias("a"), mrev.alias("b")
    return a.join(
        b,
        (F.col("a.m") == F.col("b.m"))
        & (F.col("a.nation") != F.col("b.nation"))
        & (F.col("a.rev") != F.col("b.rev")),
    ).select(
        F.col("a.m").alias("m"),
        F.col("a.nation").alias("i"),
        F.col("b.nation").alias("j"),
        F.when(F.col("a.rev") > F.col("b.rev"), 1).otherwise(0).alias("s"),
    )


def elo_stitch(r, mp, dp, games):
    """Fold an in-order game slice into deferred-application Elo state:
    r = ratings applied through the last COMPLETE month, mp = the
    pending month (or None), dp = the pending delta vector accumulated
    from r. Returns the new (r, mp, dp). Shared by the replay and its
    batch-cut pytest."""
    r = list(r)
    dp = list(dp)
    for m, i, j, s in games:
        if mp is not None and m != mp:
            r = [r[n] + dp[n] for n in range(25)]
            dp = [0] * 25
        mp = m
        e = 1.0 / (1.0 + math.pow(10.0, float(r[j] - r[i]) / 4.0e11))
        dp[i] += int(math.floor(_ELO_K * 1.0e9 * (float(s) - e) + 0.5))
    return r, mp, dp


@register(
    "streaming_elo_replay",
    _elo_oracle(),
    tags=("streaming", "ranking", "stateful", "replay"),
)
def q_streaming_elo_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live Elo over four in-order micro-batches of the monthly game
    feed (30th replay; first with DEFERRED-APPLICATION state): batch
    cuts land mid-month, so the carried state holds the pending
    month's delta vector UNAPPLIED until a later month arrives --
    applying early would change the start-of-month ratings the rest
    of the month's deltas must see. Final ratings == the one-shot
    monthly fold (same oracle as elo_ratings_nations)."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )

    base = Path(tempfile.mkdtemp(prefix="elo_stream_"))
    src, state = base / "src", base / "state"
    feed = _game_feed(spark, sf_dir)
    # r13: pin the partitioned feed ONCE -- the loop below writes four
    # slices, and without this each write re-ran the ntile window AND
    # the unpersisted mrev self-join behind it (~8x the orders agg).
    parts = feed.select(
        "*", F.ntile(4).over(Window.orderBy("m", "i", "j")).alias("pt")
    ).localCheckpoint(eager=True)
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    def fold(batch_df, batch_id):
        games = [
            (g["m"], g["i"], g["j"], g["s"])
            for g in batch_df.orderBy("m", "i", "j").collect()
        ]

        def advance(prev):
            if prev is None:
                r, mp, dp = [_ELO_INIT] * 25, None, [0] * 25
            else:
                st = json.loads(prev.first()["payload"])
                r, mp, dp = st["r"], st["mp"], st["dp"]
            r, mp, dp = elo_stitch(r, mp, dp, games)
            payload = json.dumps({"r": r, "mp": mp, "dp": dp})
            return spark.createDataFrame([(payload,)], "payload string")

        fold_state(spark, str(state), advance, f"elo{batch_id}")

    replay_files(spark, str(src / "part*"), feed.schema, fold)

    st = json.loads(spark.read.parquet(str(state)).first()["payload"])
    r = [st["r"][n] + st["dp"][n] for n in range(25)]  # flush pending
    order = sorted(range(25), key=lambda n: (-r[n], n))
    rank = {n: k + 1 for k, n in enumerate(order)}
    rows = [(n, _trunc_div_e6(r[n]), rank[n]) for n in range(25)]
    return spark.createDataFrame(
        rows, "nation int, rating_milli long, rank long"
    )
