"""Extension batch 216 (round 9): DGIM (Datar-Gionis-Indyk-Motwani)
exponential-histogram sliding-window counting -- THE classic bounded-
memory answer to "how many error events in the last N positions of the
stream" -- as a per-day distributed fold plus its live streaming
replay (the 28th; carried state = the bucket LIST itself plus the
position offset, the first replay whose state is a time-decaying
interval structure).

DGIM keeps at most 2 buckets per power-of-two size (O(log^2 N) bits);
the window estimate counts every contributing bucket fully except the
oldest, which contributes half -- guaranteed relative error <= 50%.
Like Misra-Gries it is sequential, so the exactness story is the
per-KEY sequential fold: Spark partitions by day and folds each day's
arrival order (applyInPandas); the oracle replays the identical
recursion as ONE recursive CTE whose micro-steps interleave arrivals
with up to 12 cascade-merge steps (phase-encoded k = 13*position +
phase -- a cascade can ripple at most once per size level and sizes
cap at 2^12 > any day's ones-count here). Merge rule (mirrored
exactly): the two OLDEST buckets of the smallest tripled size merge
into one of double size stamped with the newer timestamp.

The emitted bound is the construction's own worst case
(greatest(oldest//2, oldest-1-oldest//2)) and the within_bound flag is
hash-checked -- the sketch's guarantee, not just its output, crosses
the oracle gate."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_WIN = 128  # sliding-window length in stream positions
_PH = 13  # micro-steps per arrival: 1 append + 12 cascade merges


def dgim_fold(bits, state=None, offset=0):
    """One-pass DGIM over an iterable of 0/1 bits, optionally seeded
    from carried state (list of (t, sz)) and a position offset.
    Returns (buckets, last_position). Merge: while any size has 3
    buckets, the two oldest of the smallest such size merge into one
    of double size stamped with the newer of the two timestamps --
    the exact rule the recursive-CTE oracle unrolls."""
    st = [tuple(x) for x in state] if state else []
    t = offset
    for b in bits:
        t += 1
        if not b:
            continue
        st.append((t, 1))
        merges = 0
        while True:
            cnt: dict[int, int] = {}
            for _, sz in st:
                cnt[sz] = cnt.get(sz, 0) + 1
            trip = sorted(s for s, c in cnt.items() if c >= 3)
            if not trip:
                break
            s = trip[0]
            olds = sorted(x for x in st if x[1] == s)[:2]
            t_new = max(olds[0][0], olds[1][0])
            st = [x for x in st if x not in olds]
            st.append((t_new, 2 * s))
            merges += 1
            assert merges <= _PH - 1  # the oracle's fixed unroll covers it
    return st, t


def dgim_estimate(st, n, win=_WIN):
    """Window estimate + worst-case bound from a final bucket list."""
    cutoff = n - win
    contrib = [x for x in st if x[0] > cutoff]
    if not contrib:
        return 0, 0, 0
    oldest_sz = min(contrib)[1]
    tot = sum(sz for _, sz in contrib)
    est = tot - oldest_sz // 2
    bound = max(oldest_sz // 2, oldest_sz - 1 - oldest_sz // 2)
    return est, bound, len(st)


# ---- oracle: bijective-base-2 closed form (round 11) ----
# The r9 oracle replayed the merge recursion as a phase-encoded CTE
# (13 micro-steps per one-bit); the r10 sf0.1 sweep showed those
# replays dominating the sweep wall (245 s + 242 s for the two DGIM
# queries). Round 11 replaces the replay with the construction's
# CLOSED FORM: one-at-a-time DGIM insertion is exactly a counter in
# BIJECTIVE BASE 2 -- append increments d_0, and "two oldest of a
# tripled size merge" is the carry d_s: 3 -> 1, d_{s+1} += 1 -- so
# after m ones the per-size bucket counts are the unique digits
# d_i in {1, 2} with m = sum d_i 2^i, and because merges always take
# the two OLDEST buckets, buckets partition the ones into consecutive
# runs (newest runs smallest) with each bucket stamped by its newest
# one's stream position. The oracle therefore builds the final list
# directly: extract the bijective digits of m (a <=13-level recursion
# over the 30 per-day rows, not 13*m levels over every arrival),
# unnest one row per bucket, index the per-day ones-position list at
# rank m - (cumulative newer sizes). test_ext216_invariants fuzzes
# this numeration theorem against the real merge recursion
# (dgim_fold) on thousands of random streams, so the oracle remains
# an independent check of the fold -- via the theorem rather than a
# step replay. 242 s -> sub-second at sf0.1.


_DGIM_ORACLE = f"""
    WITH RECURSIVE ev AS (
      SELECT CAST(ts AS DATE) AS day,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS bit,
             CAST(row_number() OVER (PARTITION BY CAST(ts AS DATE)
               ORDER BY ts, event_id) AS BIGINT) AS rn
      FROM events),
    days AS (SELECT day, CAST(count(*) AS BIGINT) AS n
             FROM ev GROUP BY day),
    tr AS (SELECT e.day,
                  CAST(sum(CASE WHEN e.rn > d.n - {_WIN}
                       THEN e.bit ELSE 0 END) AS BIGINT) AS true_ones
           FROM ev e JOIN days d ON d.day = e.day GROUP BY e.day),
    -- fold over ONES ONLY: a zero arrival never touches the bucket
    -- list (timestamps are the original stream positions rn), so the
    -- recursion needs 13 * ones_per_day levels, not 13 * n -- and the
    -- per-level join is against the 30-row per-day position LIST, not
    -- the full event table (the r10 sf0.1 sweep found the old
    -- ev-join-per-level form super-linear: 86k levels x 200k-row hash
    -- builds ran for hours).
    oi AS (
      SELECT day, rn,
             CAST(row_number() OVER (PARTITION BY day ORDER BY rn)
                  AS BIGINT) AS i
      FROM ev WHERE bit = 1),
    arr AS MATERIALIZED (
      SELECT day, list(rn ORDER BY i) AS ts1,
             CAST(count(*) AS BIGINT) AS m
      FROM oi GROUP BY day),
    -- bijective-base-2 digits of m, least significant first: the
    -- per-size bucket counts of the final DGIM state (see module
    -- comment; fuzz-proven equal to the merge recursion in pytest)
    digits AS (
      SELECT day, m AS mm, CAST(-1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS d
      FROM arr
      UNION ALL
      SELECT day, (mm - (((mm - 1) % 2) + 1)) // 2, i + 1,
             ((mm - 1) % 2) + 1
      FROM digits WHERE mm > 0),
    -- one row per bucket, newest-first within a day (size asc, and
    -- j=1 the newer of a doubled size); c = total size of all NEWER
    -- buckets, so the bucket's newest one has rank m - c and its
    -- timestamp is that one's stream position
    bk AS (
      SELECT g.day, g.i, j.j,
             ((CAST(1 AS BIGINT) << CAST(g.i AS INTEGER))) AS sz
      FROM digits g,
           LATERAL (SELECT unnest(range(1, g.d + 1)) AS j) j
      WHERE g.i >= 0),
    bk2 AS (
      SELECT day, sz,
             coalesce(sum(sz) OVER (PARTITION BY day ORDER BY i, j
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS c
      FROM bk),
    fin AS (
      SELECT d.day,
             coalesce(s.st, CAST([] AS STRUCT(t BIGINT, sz BIGINT)[]))
               AS st,
             d.n
      FROM days d LEFT JOIN (
        SELECT b.day,
               list(struct_pack(t := a.ts1[CAST(a.m - b.c AS INTEGER)],
                                sz := b.sz)) AS st
        FROM bk2 b JOIN arr a ON a.day = b.day
        GROUP BY b.day) s ON s.day = d.day),
    est AS (
      SELECT day, n,
             len(st) AS n_buckets,
             list_filter(st, b -> b.t > n - {_WIN}) AS contrib
      FROM fin),
    est2 AS (
      SELECT day, n, n_buckets,
             list_aggregate(list_transform(contrib, b -> b.t), 'min')
               AS o_t,
             CASE WHEN len(contrib) = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(list_aggregate(list_transform(
                         list_filter(contrib, b -> b.t = o_t),
                         b -> b.sz), 'min') AS BIGINT)
             END AS o_sz,
             CASE WHEN len(contrib) = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(list_aggregate(list_transform(contrib,
                         b -> b.sz), 'sum') AS BIGINT) - o_sz // 2
             END AS est_ones,
             CASE WHEN len(contrib) = 0 THEN CAST(0 AS BIGINT)
                  ELSE greatest(o_sz // 2, o_sz - 1 - o_sz // 2)
             END AS err_bound
      FROM est)
    SELECT strftime(e.day, '%Y-%m-%d') AS day,
           e.n AS n_events,
           CAST(e.n_buckets AS BIGINT) AS n_buckets,
           t.true_ones AS true_last{_WIN},
           e.est_ones AS est_last{_WIN},
           e.err_bound,
           CAST(abs(e.est_ones - t.true_ones) <= e.err_bound AS INTEGER)
             AS within_bound
    FROM est2 e JOIN tr t ON t.day = e.day
"""

_OUT_SCHEMA = (
    f"day STRING, n_events LONG, n_buckets LONG, true_last{_WIN} LONG,"
    f" est_last{_WIN} LONG, err_bound LONG, within_bound INT"
)


def _events_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("bit"),
    )


def _emit_day(day, st, n, true_ones):
    est, bound, n_buckets = dgim_estimate(st, n)
    return (
        day,
        n,
        n_buckets,
        true_ones,
        est,
        bound,
        int(abs(est - true_ones) <= bound),
    )


def _fold_day(pdf):
    import pandas as pd

    pdf = pdf.sort_values(["us", "event_id"])
    bits = pdf["bit"].to_list()
    st, n = dgim_fold(bits)
    true_ones = int(sum(bits[max(0, n - _WIN):]))
    return pd.DataFrame(
        [_emit_day(pdf["day"].iloc[0], st, n, true_ones)],
        columns=[c.split(" ")[0] for c in _OUT_SCHEMA.split(", ")],
    )


@register(
    "dgim_error_window_daily",
    _DGIM_ORACLE,
    tags=("sketch", "sliding-window", "stateful", "exact-arith"),
)
def q_dgim_error_window_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DGIM over the error-bit stream in arrival order: the
    final exponential histogram estimates the error count in the last
    128 positions within the guaranteed bound, and the flag proving
    the guarantee held is itself oracle-checked. Distributed across
    days, sequential within each day (the Misra-Gries shape); oracle =
    phase-encoded recursive CTE carrying the LIST<STRUCT(t, sz)>
    bucket state with the 12-step cascade unroll."""
    return _events_bits(spark, sf_dir).groupBy("day").applyInPandas(
        _fold_day, schema=_OUT_SCHEMA
    )


@register(
    "streaming_dgim_replay",
    _DGIM_ORACLE,
    tags=("streaming", "sketch", "stateful", "replay"),
)
def q_streaming_dgim_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live DGIM over four in-order micro-batches (28th replay): each
    batch folds its per-day arrivals seeded from the carried bucket
    list AND position offset, so mid-day batch cuts resume the exact
    sequential recursion -- including cascades whose merge partners
    arrived in an earlier batch. Final state must equal the one-pass
    fold bit-for-bit (same oracle as the batch query)."""
    import json
    import tempfile
    from pathlib import Path

    import pandas as pd

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )
    from pyspark.sql import Window

    base = Path(tempfile.mkdtemp(prefix="dgim_stream_"))
    src, state = base / "src", base / "state"
    ev = _events_bits(spark, sf_dir)
    parts = ev.select(
        "*", F.ntile(4).over(Window.orderBy("us", "event_id")).alias("pt")
    )
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    state_schema = "day STRING, buckets STRING, n LONG"

    def fold(batch_df, batch_id):
        def seed_and_fold(pdf):
            sr = pdf[pdf["kind"] == "state"]
            seed, n0 = [], 0
            if len(sr):
                seed = [tuple(x) for x in json.loads(sr["buckets"].iloc[0])]
                n0 = int(sr["n"].iloc[0])
            er = pdf[pdf["kind"] == "event"].sort_values(["us", "event_id"])
            st, n = dgim_fold(er["bit"].to_list(), state=seed, offset=n0)
            return pd.DataFrame(
                {
                    "day": [pdf["day"].iloc[0]],
                    "buckets": [json.dumps(sorted(st))],
                    "n": [n],
                }
            )

        b = batch_df.select(
            "day", "us", "event_id", "bit",
            F.lit("event").alias("kind"),
            F.lit(None).cast("string").alias("buckets"),
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
                F.lit(None).cast("int").alias("bit"),
                F.lit("state").alias("kind"),
                "buckets",
                "n",
            )
            return b.unionByName(prev).groupBy("day").applyInPandas(
                seed_and_fold, schema=state_schema
            )

        fold_state(spark, str(state), advance, f"dgim{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    true_df = (
        ev.select(
            "day",
            "bit",
            F.row_number()
            .over(
                Window.partitionBy("day").orderBy("us", "event_id")
            )
            .alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("day"))
            .alias("nd"),
        )
        .where(F.col("rn") > F.col("nd") - _WIN)
        .groupBy("day")
        .agg(F.sum("bit").cast("bigint").alias("true_ones"))
    )
    fin = spark.read.parquet(str(state))

    def emit(pdf):
        import pandas as pd

        rows = []
        for _, r in pdf.iterrows():
            st = [tuple(x) for x in json.loads(r["buckets"])]
            rows.append(
                _emit_day(r["day"], st, int(r["n"]), int(r["true_ones"]))
            )
        return pd.DataFrame(
            rows, columns=[c.split(" ")[0] for c in _OUT_SCHEMA.split(", ")]
        )

    return (
        fin.join(true_df, "day")
        .groupBy("day")
        .applyInPandas(
            lambda pdf: emit(pdf), schema=_OUT_SCHEMA
        )
    )
