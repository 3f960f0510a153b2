"""Seeded inputs for the pipeline workloads, built from Spark SQL hash
expressions so generation runs in the JVM at scan speed.

Every value is a pure function of (seed, row index, field tag) through
``xxhash64``, so the same seed gives byte-identical tables and payloads
on any core count.

Time layout: history transactions of each card are spread over the 30
days before ``HIST_END``; payload event ``j`` is stamped ``PAYLOAD_T0 +
j * PAYLOAD_STEP_S``, after the whole history and increasing with the
index, so a replay never sees a non-positive dt against the lookup and
the lookup-advance path runs on every batch.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

CARD0 = 4_000_000_000          # card ids are CARD0 + card index
MEMBER0 = 7_000_000            # member ids are MEMBER0 + card index // 2
POS0 = 1_000_000_000           # payload pos_id = POS0 + event index (unique)

# The reference describes its tables' schemas but not their value
# distributions or its payload traffic, so only N_ZIPS has a source: the
# ~200-row zip_geo fixture subset of FIXTURES.md section 4 (the full
# GeoGraudData.csv has 17,409 rows). Every other constant below is an
# assumption of this benchmark, chosen so that each rule fires on some
# events and most events stay GENUINE.
N_ZIPS = 200
HIST_END = 1_704_067_200       # 2024-01-01 00:00:00 UTC
HIST_SPAN_S = 30 * 86_400      # assumption: 30 days of history per card
PAYLOAD_T0 = HIST_END + 86_400
PAYLOAD_STEP_S = 1             # assumption: one event per second overall
UNKNOWN_CARD_SHARE = 0.005     # assumption: payload events for cards absent from the lookup
SPIKE_SHARE = 0.03             # assumption: amounts 4x the card's usual, over its UCL
HOME_SHARE = 0.75              # assumption: events at the card's home zip
FRAUD_HISTORY_SHARE = 0.05     # assumption: FRAUD rows in the history
# Payload cards are drawn uniformly (assumption), so nearly every event of
# a batch is a different card: one group per event for the stateful
# backend. Runs report the median distinct cards per batch. A skewed card
# mix would give fewer, larger groups.


@dataclass(frozen=True)
class Shape:
    """Input size of one workload: cards, history rows per card, events per
    payload file (one file is one micro-batch)."""

    cards: int
    history_per_card: int
    events_per_batch: int


def _u(seed: int, tag: str, idx: str) -> str:
    """SQL for a uniform double in [0, 1) keyed by (seed, tag, idx)."""
    return f"(pmod(xxhash64({seed}L, '{tag}', {idx}), 1000000007L) / 1000000007.0D)"


def _pick(seed: int, tag: str, idx: str, n: int) -> str:
    return f"pmod(xxhash64({seed}L, '{tag}', {idx}), {n}L)"


def _zip(z: str) -> str:
    return f"(10000 + ({z}) * 37)"


def _card_base(seed: int, card_idx: str) -> str:
    return f"(20.0D + 480.0D * {_u(seed, 'base', card_idx)})"


def _home(seed: int, card_idx: str) -> str:
    return _zip(_pick(seed, "home", card_idx, N_ZIPS))


def _postcode(seed: int, card_idx: str, idx: str, tag: str) -> str:
    return (
        f"CAST(CASE WHEN {_u(seed, tag + 'h', idx)} < {HOME_SHARE} THEN {_home(seed, card_idx)} "
        f"ELSE {_zip(_pick(seed, tag + 'z', idx, N_ZIPS))} END AS INT)"
    )


def _ts(epoch_sql: str) -> str:
    return f"date_format(timestamp_seconds({epoch_sql}), 'yyyy-MM-dd HH:mm:ss')"


def zip_geo(spark: SparkSession, seed: int) -> DataFrame:
    """ZIP_GEO rows: N_ZIPS zips spread over the continental US box."""
    return spark.range(N_ZIPS).selectExpr(
        f"CAST({_zip('id')} AS STRING) AS zip",
        f"25.0D + 24.0D * {_u(seed, 'lat', 'id')} AS lat",
        f"-124.0D + 57.0D * {_u(seed, 'lon', 'id')} AS lon",
        "concat('city', id) AS city",
        "'ST' AS state",
        "CAST(id AS STRING) AS pos_id",
    )


def card_member(spark: SparkSession, seed: int, shape: Shape) -> DataFrame:
    return spark.range(shape.cards).selectExpr(
        f"{CARD0}L + id AS card_id",
        f"{MEMBER0}L + id DIV 2 AS member_id",
        "'2019-06-01 00:00:00' AS member_joining_dt",
        "'2020-01-15 00:00:00' AS card_purchase_dt",
        "'US' AS country",
        f"concat('city', {_pick(seed, 'city', 'id', N_ZIPS)}) AS city",
    )


def member_score(spark: SparkSession, seed: int, shape: Shape) -> DataFrame:
    return spark.range((shape.cards + 1) // 2).selectExpr(
        f"{MEMBER0}L + id AS member_id",
        f"CAST(150 + {_pick(seed, 'score', 'id', 750)} AS INT) AS score",
    )


def history(spark: SparkSession, seed: int, shape: Shape) -> DataFrame:
    """CARD_TRANSACTIONS rows: history_per_card per card, strictly
    increasing in time per card, ~5% FRAUD."""
    h = shape.history_per_card
    slot = HIST_SPAN_S // h
    return spark.range(shape.cards * h).selectExpr(
        f"id DIV {h} AS c", f"id % {h} AS k", "id"
    ).selectExpr(
        f"{CARD0}L + c AS card_id",
        f"{MEMBER0}L + c DIV 2 AS member_id",
        f"round({_card_base(seed, 'c')} * (0.6D + 0.8D * {_u(seed, 'hamt', 'id')}), 2) AS amount",
        f"{_postcode(seed, 'c', 'id', 'hpc')} AS postcode",
        "id AS pos_id",
        _ts(f"{HIST_END - HIST_SPAN_S}L + k * {slot}L + {_pick(seed, 'hjit', 'id', slot)}")
        + " AS transaction_dt",
        f"CASE WHEN {_u(seed, 'hst', 'id')} < {FRAUD_HISTORY_SHARE} THEN 'FRAUD' "
        "ELSE 'GENUINE' END AS status",
    )


def payload(spark: SparkSession, seed: int, shape: Shape, first: int, count: int) -> DataFrame:
    """TXN_PAYLOAD rows for events [first, first + count)."""
    c = (
        f"CASE WHEN {_u(seed, 'unk', 'id')} < {UNKNOWN_CARD_SHARE} "
        f"THEN {shape.cards}L + {_pick(seed, 'ucard', 'id', 997)} "
        f"ELSE {_pick(seed, 'pcard', 'id', shape.cards)} END"
    )
    spike = f"CASE WHEN {_u(seed, 'spk', 'id')} < {SPIKE_SHARE} THEN 4.0D ELSE 1.0D END"
    return spark.range(first, first + count).selectExpr("id", f"{c} AS c").selectExpr(
        f"{CARD0}L + c AS card_id",
        f"{MEMBER0}L + c DIV 2 AS member_id",
        f"round({_card_base(seed, 'c')} * (0.6D + 0.8D * {_u(seed, 'pamt', 'id')}) * {spike}, 2)"
        " AS amount",
        f"{POS0}L + id AS pos_id",
        f"{_postcode(seed, 'c', 'id', 'ppc')} AS postcode",
        _ts(f"{PAYLOAD_T0}L + id * {PAYLOAD_STEP_S}L") + " AS transaction_dt",
    )


def write_tables(spark: SparkSession, seed: int, shape: Shape, root: str) -> dict[str, str]:
    """Materialize the batch-layer inputs as parquet under ``root``;
    returns table name -> path."""
    paths = {}
    for name, df in (
        ("history", history(spark, seed, shape)),
        ("card_member", card_member(spark, seed, shape)),
        ("member_score", member_score(spark, seed, shape)),
        ("zip_geo", zip_geo(spark, seed)),
    ):
        paths[name] = os.path.join(root, name)
        df.write.mode("overwrite").parquet(paths[name])
    return paths


def stage_payload_files(
    spark: SparkSession, seed: int, shape: Shape, first_batch: int, n_batches: int,
    out_dir: str, mtime0: float,
) -> list[dict]:
    """Write payload batches [first_batch, first_batch + n_batches) as one
    JSON-lines file each, with strictly increasing mtimes (the file source
    orders new files by modification time). Files are written to a
    hidden name and renamed, so the stream never lists a partial file.
    Returns the staged events, each tagged with its file index."""
    b = shape.events_per_batch
    rows = payload(spark, seed, shape, first_batch * b, n_batches * b).collect()
    events = []
    for i in range(n_batches):
        k = first_batch + i
        chunk = [r.asDict() for r in rows[i * b:(i + 1) * b]]
        tmp = os.path.join(out_dir, f".b{k:05d}.json.tmp")
        with open(tmp, "w") as f:
            for ev in chunk:
                f.write(json.dumps(ev) + "\n")
        os.utime(tmp, (mtime0 + k, mtime0 + k))
        os.rename(tmp, os.path.join(out_dir, f"b{k:05d}.json"))
        events.extend(dict(ev, file=k) for ev in chunk)
    return events
