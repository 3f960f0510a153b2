"""Output checks, independent of the package under test except where
noted: a DuckDB transcription of the reference's lookup build and a
pure-Python replay of the speed layer's batch-granular semantics.

Each check returns the set of operations it found wrong, so a failure
lands on the micro-batch (or rebuild) that produced it."""

from __future__ import annotations

import glob
import math
from collections import defaultdict
from datetime import datetime

import duckdb

from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.stateful import fold_events

GENUINE, FRAUD = "GENUINE", "FRAUD"
SCORE_THRESHOLD = 200
SPEED_THRESHOLD_KMS = 0.25
EARTH_RADIUS_KM = 6371.0
TS_FMT = "%Y-%m-%d %H:%M:%S"

# FDProcBatch.txt:259-354: last ten GENUINE transactions per card, UCL =
# avg + 3 * stddev_pop over them, latest postcode/time, member score.
LOOKUP_SQL = """
WITH ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY card_id
      ORDER BY strptime(transaction_dt, '%Y-%m-%d %H:%M:%S') DESC,
               pos_id DESC, amount DESC) AS rn
  FROM read_parquet('{history}/*.parquet') WHERE upper(status) = 'GENUINE'),
last_ten AS (SELECT * FROM ranked WHERE rn <= 10),
card_ucl AS (
  SELECT card_id, avg(amount) + 3 * stddev_pop(amount) AS ucl
  FROM last_ten GROUP BY card_id),
card_zip AS (
  SELECT card_id, postcode, transaction_dt FROM last_ten WHERE rn = 1),
card_score AS (
  SELECT m.card_id, s.score
  FROM read_parquet('{card_member}/*.parquet') m
  JOIN read_parquet('{member_score}/*.parquet') s USING (member_id))
SELECT cs.card_id, u.ucl, z.postcode, z.transaction_dt, cs.score
FROM card_score cs
JOIN card_ucl u USING (card_id)
JOIN card_zip z USING (card_id)
"""


def _fetch(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def expected_lookup(tables: dict[str, str]) -> dict[int, tuple]:
    """card_id -> (ucl, postcode, transaction_dt, score) per the runbook."""
    return {r[0]: tuple(r[1:]) for r in _fetch(LOOKUP_SQL.format(**tables))}


def read_lookup(path: str) -> dict[int, tuple]:
    if not glob.glob(f"{path}/*.parquet"):
        return {}
    rows = _fetch(f"SELECT card_id, ucl, postcode, transaction_dt, score "
                  f"FROM read_parquet('{path}/*.parquet')")
    out = {}
    for r in rows:
        if r[0] in out:
            out[r[0]] = None  # duplicate key: never equal to an expected row
        else:
            out[r[0]] = tuple(r[1:])
    return out


def _same_row(a, b) -> bool:
    if a is None or b is None:
        return False
    (ua, *ra), (ub, *rb) = a, b
    if (ua is None) != (ub is None):
        return False
    if ua is not None and not math.isclose(ua, ub, rel_tol=1e-9, abs_tol=1e-9):
        return False
    return list(ra) == list(rb)


def lookup_mismatches(got: dict, exp: dict) -> int:
    keys = got.keys() | exp.keys()
    return sum(1 for k in keys if not _same_row(got.get(k), exp.get(k)))


def geo_table(path: str) -> dict[str, tuple[float, float]]:
    rows = _fetch(f"SELECT zip, lat, lon FROM read_parquet('{path}/*.parquet')")
    return {z: (lat, lon) for z, lat, lon in rows}


def _dist_km(a, b) -> float:
    if a == b:
        return 0.0
    p1, p2 = math.radians(a[0]), math.radians(b[0])
    c = math.sin(p1) * math.sin(p2) + math.cos(p1) * math.cos(p2) * math.cos(
        math.radians(a[1]) - math.radians(b[1]))
    return math.acos(max(-1.0, min(1.0, c))) * EARTH_RADIUS_KM


def _status(ev, st, geo) -> str:
    """The three rules (FinFraudGuard.java:82-83) with the package's null
    policy: a missing input cannot prove fraud; dt <= 0 is FRAUD."""
    if st is None:
        return GENUINE
    ucl, postcode, txn_dt, score = st
    if score is not None and score < SCORE_THRESHOLD:
        return FRAUD
    if ucl is not None and ev["amount"] > ucl:
        return FRAUD
    if txn_dt is None:
        return GENUINE
    dt = (datetime.strptime(ev["transaction_dt"], TS_FMT)
          - datetime.strptime(txn_dt, TS_FMT)).total_seconds()
    if dt <= 0:
        return FRAUD
    cur, last = geo.get(str(ev["postcode"])), geo.get(str(postcode))
    if cur is None or last is None:
        return GENUINE
    return FRAUD if _dist_km(cur, last) / dt > SPEED_THRESHOLD_KMS else GENUINE


def replay_lambda(events: list[dict], lookup: dict, geo: dict) -> tuple[dict, dict]:
    """Replay the speed layer batch by batch: every event of batch b sees
    the lookup as of the end of batch b-1; then each card's latest GENUINE
    event (by time, then pos_id) advances its postcode and time, and an
    unknown card enters with NULL ucl/score. Returns (pos_id -> status,
    final lookup)."""
    state = dict(lookup)
    by_batch = defaultdict(list)
    for ev in events:
        by_batch[ev["file"]].append(ev)
    statuses = {}
    for b in sorted(by_batch):
        latest = {}
        for ev in by_batch[b]:
            s = _status(ev, state.get(ev["card_id"]), geo)
            statuses[ev["pos_id"]] = s
            key = (ev["transaction_dt"], ev["pos_id"])
            if s == GENUINE and (ev["card_id"] not in latest or key > latest[ev["card_id"]][0]):
                latest[ev["card_id"]] = (key, ev)
        for card, (_, ev) in latest.items():
            ucl, _, _, score = state.get(card) or (None, None, None, None)
            state[card] = (ucl, ev["postcode"], ev["transaction_dt"], score)
    return statuses, state


def replay_exact(events: list[dict], lookup: dict, geo: dict) -> dict:
    """Expected statuses of the exact stateful scorer: each card's events
    folded in (time, pos_id) order by the package's own ``fold_events``,
    starting from empty state."""
    ucl_score = {c: (v[0], v[3]) for c, v in lookup.items()}
    per_card = defaultdict(list)
    for ev in events:
        per_card[ev["card_id"]].append(ev)
    statuses = {}
    for evs in per_card.values():
        evs.sort(key=lambda e: (e["transaction_dt"], e["pos_id"]))
        got, _ = fold_events(evs, (None, None), ucl_score, geo)
        statuses.update((e["pos_id"], s) for e, s in zip(evs, got))
    return statuses


def output_rows(pattern: str, hive: bool) -> list[tuple]:
    """(pos_id, status, batch) rows of a parquet output; batch is NULL
    unless the output is hive-partitioned by _batch_id. No files, no rows."""
    if not glob.glob(pattern):
        return []
    batch = "_batch_id" if hive else "NULL"
    return _fetch(f"SELECT pos_id, status, {batch} FROM read_parquet('{pattern}', "
                  f"hive_partitioning = {str(hive).lower()})")


def bad_batches(events: list[dict], rows: list[tuple], expected: dict, by_batch_id: bool) -> set:
    """Files (= micro-batches) with a missing, duplicated, misplaced or
    mis-scored event."""
    seen = defaultdict(list)
    for pos_id, status, b in rows:
        seen[pos_id].append((status, b))
    bad = set()
    for ev in events:
        out = seen.get(ev["pos_id"], [])
        ok = (
            len(out) == 1
            and out[0][0] == expected[ev["pos_id"]]
            and (not by_batch_id or out[0][1] == ev["file"])
        )
        if not ok:
            bad.add(ev["file"])
    staged = {ev["pos_id"] for ev in events}
    extra = [p for p in seen if p not in staged]
    if extra:
        bad.add(max(ev["file"] for ev in events))
    return bad
