"""Extension batch 203 (round 8): Misra-Gries heavy hitters -- the
classic deterministic frequent-items summary (k bounded counters; any
key with true frequency > n/(k+1) is GUARANTEED to survive) -- as a
per-day distributed fold over the purchase stream, plus its live
streaming replay (the 25th), whose carried state is the counter DICT
itself: the first replay with set-valued (not scalar/row) state.

MG is sequential and NOT a monoid (batch-merge summaries differ from
the one-pass result), so the exactness story is per-KEY sequential
folds run distributed across keys: Spark partitions by day and folds
each day's arrival sequence in order (applyInPandas); the DuckDB
oracle replays the identical per-day recursion as a recursive CTE
carrying a LIST<STRUCT(u, c)> state (the ADPCM/Kalman pattern with a
set-valued accumulator). The streaming twin stitches mid-day batch
boundaries by seeding each day's in-batch fold from the carried
counters -- final state must equal the one-pass fold bit-for-bit.

The invariant n = sum(final counters) + d*(k+1) (d = decrement events)
is exact and emitted as max_undercount = d: every key's true count is
within [counter, counter + d]."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_K = 4  # MG counters per day


def misra_gries_fold(users, state=None, k=_K):
    """One-pass Misra-Gries over an iterable of keys, optionally seeded
    from carried state (dict key -> count). Returns the counter dict.
    Update: present -> +1; room -> insert 1; else decrement ALL and
    drop zeros (the arrival itself is not counted)."""
    st = dict(state) if state else {}
    for u in users:
        u = int(u)
        if u in st:
            st[u] += 1
        elif len(st) < k:
            st[u] = 1
        else:
            st = {key: c - 1 for key, c in st.items() if c > 1}
    return st


_MG_ORACLE = f"""
    WITH RECURSIVE days AS MATERIALIZED (
      -- Per-day arrival sequence carried as ONE materialized LIST per
      -- day (r12, the r10 DGIM super-linearity fix): the recursion
      -- below joins this ~30-row table per level and indexes us[rn],
      -- instead of re-hashing the data-sized event table at every
      -- level (713 levels x 20k-row hash builds at sf0.1 was ~30 s;
      -- this is sub-second).
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
             list(user_id ORDER BY ts, event_id) AS us
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    fold AS (
      SELECT day, CAST(0 AS BIGINT) AS rn,
             CAST([] AS STRUCT(u BIGINT, c BIGINT)[]) AS st
      FROM days
      UNION ALL
      SELECT f.day, f.rn + 1,
        CASE
          WHEN len(list_filter(f.st,
                 s -> s.u = d.us[CAST(f.rn + 1 AS INTEGER)])) > 0
            THEN list_transform(f.st,
                   s -> CASE WHEN s.u = d.us[CAST(f.rn + 1 AS INTEGER)]
                   THEN struct_pack(u := s.u, c := s.c + 1) ELSE s END)
          WHEN len(f.st) < {_K}
            THEN list_append(f.st,
                   struct_pack(
                     u := CAST(d.us[CAST(f.rn + 1 AS INTEGER)] AS BIGINT),
                     c := CAST(1 AS BIGINT)))
          ELSE list_filter(
                 list_transform(f.st,
                   s -> struct_pack(u := s.u, c := s.c - 1)),
                 s -> s.c > 0)
        END
      FROM fold f JOIN days d ON d.day = f.day
      WHERE f.rn < d.n),
    fin AS (
      SELECT f.day, f.st, d.n FROM fold f
      JOIN days d ON d.day = f.day AND f.rn = d.n),
    ex AS (SELECT day, n, unnest(st) AS s FROM fin),
    sums AS (SELECT day, CAST(sum(s.c) AS BIGINT) AS sc
             FROM ex GROUP BY day)
    SELECT strftime(e.day, '%Y-%m-%d') AS day,
           CAST(row_number() OVER (PARTITION BY e.day
             ORDER BY e.s.c DESC, e.s.u) AS BIGINT) AS rank,
           CAST(e.s.u AS BIGINT) AS user_id,
           CAST(e.s.c AS BIGINT) AS counter,
           e.n AS n_events,
           (e.n - m.sc) // {_K + 1} AS max_undercount
    FROM ex e JOIN sums m ON m.day = e.day
"""

_OUT_SCHEMA = (
    "day STRING, rank LONG, user_id LONG, counter LONG,"
    " n_events LONG, max_undercount LONG"
)


def _fold_day(pdf):
    import pandas as pd

    pdf = pdf.sort_values(["us", "event_id"])
    st = misra_gries_fold(pdf["user_id"].to_list())
    n = len(pdf)
    d = (n - sum(st.values())) // (_K + 1)
    ranked = sorted(st.items(), key=lambda kv: (-kv[1], kv[0]))
    day = pdf["day"].iloc[0]
    return pd.DataFrame(
        {
            "day": [day] * len(ranked),
            "rank": [r + 1 for r in range(len(ranked))],
            "user_id": [u for u, _ in ranked],
            "counter": [c for _, c in ranked],
            "n_events": [n] * len(ranked),
            "max_undercount": [d] * len(ranked),
        }
    )


def _purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.where(F.col("event_type") == "purchase").select(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        "user_id",
    )


@register(
    "mg_heavy_hitters_daily",
    _MG_ORACLE,
    tags=("sketch", "heavy-hitters", "stateful", "exact-arith"),
)
def q_mg_heavy_hitters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Misra-Gries (k=4) over the purchase stream in arrival
    order: the surviving counters name every user who could dominate
    the day (guarantee: true count in [counter, counter + d] with
    d = (n - sum counters) DIV (k+1), emitted as max_undercount).
    Distributed across days, sequential within each day -- the
    canonical per-key-stateful shape; oracle = per-day recursive CTE
    carrying the LIST<STRUCT> counter state."""
    return _purchases(spark, sf_dir).groupBy("day").applyInPandas(
        _fold_day, schema=_OUT_SCHEMA
    )


@register(
    "streaming_misra_gries_replay",
    _MG_ORACLE,
    tags=("streaming", "sketch", "stateful", "replay"),
)
def q_streaming_misra_gries_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Live Misra-Gries over four in-order micro-batches (25th replay,
    the first with SET-VALUED carried state): each batch folds its
    per-day arrivals seeded from the carried counter dict, so mid-day
    batch boundaries resume the exact one-pass recursion. Final state
    must equal the whole-sequence fold (the batch query / oracle)
    exactly -- including days whose counters were decremented to
    different keys across the boundary."""
    import json
    import tempfile
    from pathlib import Path

    import pandas as pd

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )
    from pyspark.sql import Window

    base = Path(tempfile.mkdtemp(prefix="mg_stream_"))
    src, state = base / "src", base / "state"
    ev = _purchases(spark, sf_dir)
    parts = ev.select(
        "*", F.ntile(4).over(Window.orderBy("us", "event_id")).alias("pt")
    )
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    state_schema = "day STRING, counters STRING, n LONG"

    def fold(batch_df, batch_id):
        def seed_and_fold(pdf):
            sr = pdf[pdf["kind"] == "state"]
            seed, n0 = {}, 0
            if len(sr):
                seed = {
                    int(k): int(v)
                    for k, v in json.loads(sr["counters"].iloc[0]).items()
                }
                n0 = int(sr["n"].iloc[0])
            er = pdf[pdf["kind"] == "event"].sort_values(["us", "event_id"])
            st = misra_gries_fold(er["user_id"].to_list(), state=seed)
            return pd.DataFrame(
                {
                    "day": [pdf["day"].iloc[0]],
                    "counters": [json.dumps(st, sort_keys=True)],
                    "n": [n0 + len(er)],
                }
            )

        b = batch_df.select(
            "day", "us", "event_id", "user_id",
            F.lit("event").alias("kind"),
            F.lit(None).cast("string").alias("counters"),
            F.lit(None).cast("long").alias("n"),
        )

        def advance(prev):
            if prev is None:
                return b.groupBy("day").applyInPandas(
                    seed_and_fold, schema=state_schema
                )
            prev = prev.select(
                "day",
                F.lit(None).cast("long").alias("us"),
                F.lit(None).cast("long").alias("event_id"),
                F.lit(None).cast("long").alias("user_id"),
                F.lit("state").alias("kind"),
                "counters",
                "n",
            )
            return b.unionByName(prev).groupBy("day").applyInPandas(
                seed_and_fold, schema=state_schema
            )

        fold_state(spark, str(state), advance, f"mg{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    def emit(pdf):
        rows = []
        for _, r in pdf.iterrows():
            st = {
                int(k): int(v) for k, v in json.loads(r["counters"]).items()
            }
            n = int(r["n"])
            d = (n - sum(st.values())) // (_K + 1)
            for rank, (u, c) in enumerate(
                sorted(st.items(), key=lambda kv: (-kv[1], kv[0])), start=1
            ):
                rows.append((r["day"], rank, u, c, n, d))
        return pd.DataFrame(
            rows,
            columns=[
                "day", "rank", "user_id", "counter", "n_events",
                "max_undercount",
            ],
        )

    final = spark.read.parquet(str(state))
    return final.groupBy("day").applyInPandas(emit, schema=_OUT_SCHEMA)
