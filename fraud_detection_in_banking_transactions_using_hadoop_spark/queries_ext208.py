"""Extension batch 208 (round 8): LZ78 dictionary-parse complexity --
the third carried-state SHAPE in the fold family (scalars: Holt/
Kalman; bounded counter dict: Misra-Gries; here a GROWING phrase
dictionary plus a partial-phrase accumulator).

Each day's event stream maps to a character sequence (one initial per
event type, arrival order); the LZ78 parse greedily extends the
current phrase while it is in the dictionary and emits + inserts it on
first mismatch. The phrase count is the Lempel-Ziv complexity -- the
compressibility reading the RLE/BWT tier approximates without actual
parsing; highly patterned days parse into few long phrases.

Spark: distributed across days, exact sequential parse within each day
(applyInPandas, the MG pattern). Oracle: per-day recursive CTE whose
state is (LIST<VARCHAR> dictionary, VARCHAR current phrase, counters).
The streaming twin (26th replay) carries BOTH the dictionary and the
in-flight partial phrase across micro-batch boundaries -- a
mid-phrase batch split must resume mid-phrase exactly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


def lz78_fold(chars, dictionary=None, cur=""):
    """LZ78 parse fold: returns (dictionary list, current phrase).
    Phrase count = len(dictionary) (+1 if a partial phrase remains)."""
    d = list(dictionary) if dictionary else []
    ds = set(d)
    for ch in chars:
        w = cur + ch
        if w in ds:
            cur = w
        else:
            d.append(w)
            ds.add(w)
            cur = ""
    return d, cur


_LZ_ORACLE = """
    WITH RECURSIVE ev AS (
      SELECT CAST(ts AS DATE) AS day,
             substr(event_type, 1, 1) AS ch,
             row_number() OVER (PARTITION BY CAST(ts AS DATE)
               ORDER BY ts, event_id) AS rn
      FROM events),
    days AS (SELECT day, CAST(count(*) AS BIGINT) AS n
             FROM ev GROUP BY day),
    strs AS MATERIALIZED (
      SELECT day, string_agg(ch, '' ORDER BY rn) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM ev GROUP BY day),
    -- VARIABLE-ADVANCE recursion (round 11): one level per PHRASE,
    -- not per character. The LZ78 dictionary (plus '') is
    -- prefix-closed -- every inserted phrase is an existing phrase
    -- plus one char -- so the greedy char-by-char extension reaches
    -- exactly the LONGEST dict word that prefixes the remaining
    -- text; the next phrase is that word plus one char. Each level
    -- finds bestlen by scanning the dict once, appends the phrase,
    -- and jumps pos by bestlen+1. Levels = n_phrases (~n/avg_len)
    -- instead of n, and the per-level join is the 30-row per-day
    -- string table, never the event table (the r10 DGIM super-
    -- linearity class). A day whose remainder is entirely a known
    -- phrase ends with that remainder as the in-flight partial cur,
    -- exactly like the char fold.
    -- Per-level cost fix (r12): the old inner filter ran substr(s,
    -- pos, len(w)) -- one ALLOCATION per dict entry per level, O(P^2)
    -- allocations per day (~10M at sf0.1, ~25 s). The remainder is now
    -- materialized ONCE per level (`rem`) and each dict entry does an
    -- allocation-free starts_with prefix compare instead.
    fold AS (
      SELECT day, CAST(1 AS BIGINT) AS pos,
             CAST([] AS VARCHAR[]) AS dict, '' AS cur
      FROM strs
      UNION ALL
      SELECT day,
             CASE WHEN bestlen = r THEN n + 1 ELSE pos + bestlen + 1 END,
             CASE WHEN bestlen = r THEN dict
                  ELSE list_append(dict,
                         substr(rem, 1, CAST(bestlen + 1 AS INTEGER))) END,
             CASE WHEN bestlen = r THEN rem ELSE '' END
      FROM (
        SELECT day, pos, dict, n, r, rem,
               coalesce(list_aggregate(list_transform(
                 list_filter(dict, w -> starts_with(rem, w)),
                 w -> len(w)), 'max'), 0) AS bestlen
        FROM (
          SELECT f.day, f.pos, f.dict, s.n,
                 s.n - f.pos + 1 AS r,
                 substr(s.s, CAST(f.pos AS INTEGER)) AS rem
          FROM fold f JOIN strs s ON s.day = f.day
          WHERE f.pos <= s.n))),
    fin AS (
      SELECT f.day, f.dict, f.cur, d.n FROM fold f
      JOIN days d ON d.day = f.day AND f.pos = d.n + 1)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           n AS n_events,
           CAST(len(dict) + CASE WHEN cur <> '' THEN 1 ELSE 0 END
                AS BIGINT) AS n_phrases,
           CAST(coalesce((SELECT max(len(p))
                          FROM unnest(dict) AS t(p)), 0) AS BIGINT)
             AS max_phrase_len,
           round(CAST(len(dict) + CASE WHEN cur <> '' THEN 1 ELSE 0 END
                      AS DOUBLE) * ln(CAST(n AS DOUBLE)) / n, 6)
             AS lz_complexity_rate
    FROM fin
"""

_OUT_SCHEMA = (
    "day STRING, n_events LONG, n_phrases LONG, max_phrase_len LONG,"
    " lz_complexity_rate DOUBLE"
)


def _emit_row(day, n, d, cur):
    import math

    nph = len(d) + (1 if cur else 0)
    mx = max((len(p) for p in d), default=0)
    return (day, n, nph, mx, round(nph * math.log(n) / n, 6))


def _events_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
    )


@register(
    "lz78_daily_complexity",
    _LZ_ORACLE,
    tags=("text", "compression", "stateful", "sketch"),
)
def q_lz78_daily_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day LZ78 parse of the event-type character stream: phrase
    count (Lempel-Ziv complexity, the partial in-flight phrase counts
    once), longest learned phrase, and the normalized complexity rate
    n_phrases * ln(n) / n (alphabet-dependent scale; LOWER = more
    compressible). Distributed across days; exact sequential parse
    within each."""
    import pandas as pd

    def fold_day(pdf):
        pdf = pdf.sort_values(["us", "event_id"])
        d, cur = lz78_fold(pdf["ch"].to_list())
        return pd.DataFrame(
            [_emit_row(pdf["day"].iloc[0], len(pdf), d, cur)],
            columns=[
                "day", "n_events", "n_phrases", "max_phrase_len",
                "lz_complexity_rate",
            ],
        )

    return _events_chars(spark, sf_dir).groupBy("day").applyInPandas(
        fold_day, schema=_OUT_SCHEMA
    )


@register(
    "streaming_lz78_replay",
    _LZ_ORACLE,
    tags=("streaming", "compression", "stateful", "replay"),
)
def q_streaming_lz78_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live LZ78 over four in-order micro-batches (26th replay): the
    carried state per day is the phrase DICTIONARY plus the IN-FLIGHT
    partial phrase, so a batch boundary that lands mid-phrase resumes
    the greedy extension exactly where it stopped. Final parse must
    equal the one-pass fold (the batch query / oracle) bit-for-bit."""
    import json
    import tempfile
    from pathlib import Path

    import pandas as pd

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )
    from pyspark.sql import Window

    base = Path(tempfile.mkdtemp(prefix="lz78_stream_"))
    src, state = base / "src", base / "state"
    ev = _events_chars(spark, sf_dir)
    parts = ev.select(
        "*", F.ntile(4).over(Window.orderBy("us", "event_id")).alias("pt")
    )
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    state_schema = "day STRING, dict STRING, cur STRING, n LONG"

    def fold(batch_df, batch_id):
        def seed_and_fold(pdf):
            sr = pdf[pdf["kind"] == "state"]
            d, cur, n0 = [], "", 0
            if len(sr):
                d = json.loads(sr["dict"].iloc[0])
                cur = sr["cur"].iloc[0]
                n0 = int(sr["n"].iloc[0])
            er = pdf[pdf["kind"] == "event"].sort_values(["us", "event_id"])
            d, cur = lz78_fold(er["ch"].to_list(), dictionary=d, cur=cur)
            return pd.DataFrame(
                {
                    "day": [pdf["day"].iloc[0]],
                    "dict": [json.dumps(d)],
                    "cur": [cur],
                    "n": [n0 + len(er)],
                }
            )

        b = batch_df.select(
            "day", "us", "event_id", "ch",
            F.lit("event").alias("kind"),
            F.lit(None).cast("string").alias("dict"),
            F.lit(None).cast("string").alias("cur"),
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
                F.lit(None).cast("string").alias("ch"),
                F.lit("state").alias("kind"),
                "dict",
                "cur",
                "n",
            )
            return b.unionByName(prev).groupBy("day").applyInPandas(
                seed_and_fold, schema=state_schema
            )

        fold_state(spark, str(state), advance, f"lz{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    def emit(pdf):
        rows = [
            _emit_row(
                r["day"], int(r["n"]), json.loads(r["dict"]), r["cur"]
            )
            for _, r in pdf.iterrows()
        ]
        return pd.DataFrame(
            rows,
            columns=[
                "day", "n_events", "n_phrases", "max_phrase_len",
                "lz_complexity_rate",
            ],
        )

    final = spark.read.parquet(str(state))
    return final.groupBy("day").applyInPandas(emit, schema=_OUT_SCHEMA)
