"""Extension batch 247 (round 11): two round-11 follow-ons.

- streaming_lru_replay (34th live replay, and a NEW carried-state
  shape: an ORDER-SENSITIVE recency list). The per-day LRU fold of
  ext244 runs live over four in-order micro-batches; the carried
  state is (recency list, hit count, positions seen), so a mid-day
  batch cut must resume with the exact cache ordering -- a shuffled
  list would change every subsequent hit/miss. Belady's OPT is
  CLAIRVOYANT (needs future accesses), so it cannot stream: the
  replay computes it batch-side from the full static trace, which is
  itself the point -- the emitted pair quantifies what clairvoyance
  buys over the streamable policy. Same oracle as the batch query;
  final rows must match bit-for-bit.

- incremental_hull_update: the incremental-maintenance family
  (dedup/IVF/LSH/CC deltas) extended to GEOMETRY via the
  hull-of-union law pinned in ext242: the persisted state is the old
  snapshot's hull VERTICES only (<= a few dozen points, never the
  corpus); folding a delta re-hulls state-vertices UNION delta
  points. Oracle = the one-shot hull over all points (the ext242
  construction on the 3-snapshot union) -- hash equality is the
  incremental == full equivalence proof, per-snapshot cost
  O(|hull| + |delta|)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.fold import collect_nonempty
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext242 import (
    _HULL_ORACLE,
    convex_hull_integer,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext244 import (
    _BIG,
    _CACHE_ORACLE,
    _OUT_SCHEMA,
    _PAGES,
    _TRACE,
    belady_fold,
)


@register(
    "streaming_lru_replay",
    _CACHE_ORACLE,
    tags=("streaming", "systems", "stateful", "replay"),
)
def q_streaming_lru_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """34th live replay (module docstring): the order-sensitive LRU
    recency list carried across four micro-batches; clairvoyant
    Belady computed batch-side from the static trace; output equals
    the one-shot batch query bit-for-bit."""
    import json
    import tempfile
    from pathlib import Path

    import pandas as pd

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )
    from pyspark.sql import Window

    base = Path(tempfile.mkdtemp(prefix="lru_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table_events(spark, sf_dir)
    parts = ev.select(
        "*", F.ntile(4).over(Window.orderBy("day", "rn")).alias("pt")
    )
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    state_schema = "day STRING, cache STRING, hits LONG, npos LONG"

    def fold(batch_df, batch_id):
        def seed_and_fold(pdf):
            sr = pdf[pdf["kind"] == "state"]
            cache, hits, npos = [], 0, 0
            if len(sr):
                cache = json.loads(sr["cache"].iloc[0])
                hits = int(sr["hits"].iloc[0])
                npos = int(sr["npos"].iloc[0])
            er = pdf[pdf["kind"] == "event"].sort_values("rn")
            for p in (int(x) for x in er["pg"]):
                if p in cache:
                    hits += 1
                    cache.remove(p)
                    cache.insert(0, p)
                else:
                    cache.insert(0, p)
                    if len(cache) > 8:
                        cache.pop()
            npos += len(er)
            return pd.DataFrame(
                {
                    "day": [pdf["day"].iloc[0]],
                    "cache": [json.dumps(cache)],
                    "hits": [hits],
                    "npos": [npos],
                }
            )

        b = batch_df.select(
            "day",
            "rn",
            "pg",
            F.lit("event").alias("kind"),
            F.lit(None).cast("string").alias("cache"),
            F.lit(None).cast("long").alias("hits"),
            F.lit(None).cast("long").alias("npos"),
        )

        def advance(prev):
            if prev is None:
                return b.groupBy("day").applyInPandas(
                    seed_and_fold, schema=state_schema
                )
            prev = prev.select(
                "day",
                F.lit(None).cast("int").alias("rn"),
                F.lit(None).cast("long").alias("pg"),
                F.lit("state").alias("kind"),
                "cache",
                "hits",
                "npos",
            )
            return b.unionByName(prev).groupBy("day").applyInPandas(
                seed_and_fold, schema=state_schema
            )

        fold_state(spark, str(state), advance, f"lru{batch_id}")

    replay_files(spark, str(src / "part*"), ev.schema, fold)

    fin = spark.read.parquet(str(state))

    # clairvoyant side from the full static trace (cannot stream)
    import pandas as pd

    from pyspark.sql import Window as W2

    nxt = ev.select(
        "*",
        F.coalesce(
            F.lead("rn").over(W2.partitionBy("day", "pg").orderBy("rn")),
            F.lit(_BIG),
        ).alias("nxt"),
    )

    def bel_day(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        pages = [int(x) for x in pdf["pg"]]
        nus = [int(x) for x in pdf["nxt"]]
        return pd.DataFrame(
            {
                "day": [pdf["day"].iloc[0]],
                "bel_h": [belady_fold(pages, nus)],
            }
        )

    bel = nxt.groupBy("day").applyInPandas(
        bel_day, schema="day STRING, bel_h LONG"
    )
    return (
        fin.join(bel, "day")
        .selectExpr(
            "day",
            "npos AS n_accesses",
            "hits AS lru_hits",
            "bel_h AS belady_hits",
            "CAST(bel_h >= hits AS INT) AS opt_dominates",
            "CAST(1000000 * hits DIV npos AS BIGINT) AS lru_hit_ppm",
            "CAST(1000000 * bel_h DIV npos AS BIGINT) AS belady_hit_ppm",
        )
    )


def read_table_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ext244 trace frame: (day, rn, pg) for each day's first
    {_TRACE} events."""
    from pyspark.sql import Window

    from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy(F.col("ts").cast("date")).orderBy("ts", "event_id")
    return (
        ev.select(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            F.expr(f"user_id % {_PAGES}").alias("pg"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= _TRACE)
    )


@register(
    "incremental_hull_update",
    _HULL_ORACLE,
    tags=("geometry", "incremental", "scale-path", "bounded-fold"),
)
def q_incremental_hull_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-snapshot incremental hull maintenance (module docstring):
    points arrive in three deterministic batches (label mod 3 of the
    (label, shard) centroid grid); each fold re-hulls old HULL
    VERTICES union the delta -- state is O(|hull|), never the corpus.
    Oracle = the one-shot hull over all centroids (same SQL as
    convex_hull_centroids); identical vertex walk required."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    pts_df = emb.groupBy(
        "label", F.expr("vec_id % 5").alias("shard")
    ).agg(
        F.expr(
            "CAST(sum(CAST(floor(1e6 * CAST(embedding[0] AS DOUBLE) + 0.5)"
            " AS BIGINT)) DIV count(*) AS BIGINT)"
        ).alias("cx"),
        F.expr(
            "CAST(sum(CAST(floor(1e6 * CAST(embedding[1] AS DOUBLE) + 0.5)"
            " AS BIGINT)) DIV count(*) AS BIGINT)"
        ).alias("cy"),
    )
    rows = collect_nonempty(
        pts_df.select("label", "cx", "cy"), "incremental hull centroids"
    )
    snaps: list[list[tuple[int, int]]] = [[], [], []]
    for r in rows:
        snaps[int(r["label"]) % 3].append((int(r["cx"]), int(r["cy"])))

    state: list[tuple[int, int]] = []
    for delta in snaps:
        lower, upper = convex_hull_integer(state + delta)
        state = lower + upper  # hull vertices only -- the O(|hull|) state

    lower, upper = convex_hull_integer(state)
    out = [("L", j + 1, x, y) for j, (x, y) in enumerate(lower)] + [
        ("U", j + 1, x, y) for j, (x, y) in enumerate(upper)
    ]
    return spark.createDataFrame(
        out, "ph string, pos long, x_e6 long, y_e6 long"
    )
