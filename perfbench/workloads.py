"""The workloads: a batch-layer rebuild followed by a closed-loop
micro-batch replay through one of the package's speed layers.

Closed loop: the payload files of the measured batches are all staged
at once, ``maxFilesPerTrigger=1`` makes each file one micro-batch, and
the next batch starts when the previous one commits. One batch takes
longer than the reference's 1-s trigger on a few cores, so an open loop
at that rate would only measure a growing backlog.
"""

from __future__ import annotations

import os
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench import checks, gen, harness
from perfbench.gen import Shape

from fraud_detection_in_banking_transactions_using_hadoop_spark.plans import lookup as lookup_mod
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources import writers
from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming import scorer, stateful

REBUILD_WARMUP = 1  # first rebuilds, counted in setup_s and not measured
REBUILD_REPS = 3    # measured batch-layer rebuilds; rebuild_s is their median
WARMUP_BATCHES = 3  # first micro-batches, counted in setup_s and not measured
MIN_BATCHES, MAX_BATCHES = 3, 400


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    exact: bool  # True: streaming.stateful backend; False: streaming.scorer


WORKLOADS = {
    "lambda_large": Workload("lambda_large", Shape(25_000, 20, 2_000), exact=False),
    "stream_exact": Workload("stream_exact", Shape(10_000, 20, 1_000), exact=True),
}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)   # name -> (value, unit)
    info: dict = field(default_factory=dict)


def rebuild(spark, tables: dict, out: str) -> None:
    """The batch layer: lookup build (FDProcBatch.txt:259-354) written as
    the keyed lookup table."""
    lk = lookup_mod.build_lookup(
        spark.read.parquet(tables["history"]),
        spark.read.parquet(tables["card_member"]),
        spark.read.parquet(tables["member_score"]),
    )
    writers.overwrite_keyed_table(lk, out, key="card_id")


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _start_query(spark, wl: Workload, path: dict, lookup: dict, geo_path: str, geo: dict):
    stream = scorer.read_payload_file_stream(spark, path["payload"], max_files_per_trigger=1)
    if not wl.exact:
        return scorer.run_scorer(stream, path["lookup"], spark.read.parquet(geo_path),
                                 path["out"], path["ckpt"])
    sc = spark.sparkContext
    ucl_score = {card: (row[0], row[3]) for card, row in lookup.items()}
    return (
        stateful.score_stream_stateful(stream, sc.broadcast(ucl_score), sc.broadcast(geo))
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", path["ckpt"]).option("path", path["out"]).start()
    )


def _rebuilds(spark, tables: dict, out: str, expected: dict, tracer, res: Result) -> list[float | None]:
    """REBUILD_WARMUP + REBUILD_REPS batch-layer rebuilds. Each one is an
    operation: it fails if it raises or if the lookup it leaves differs
    from ``expected``. Returns each rebuild's time, None where it raised."""
    times = []
    for k in range(REBUILD_WARMUP + REBUILD_REPS):
        res.attempted += 1
        try:
            with tracer.job_group(spark, f"perfbench-rebuild-{k}"):
                times.append(_timed(lambda: rebuild(spark, tables, out)))
        except Exception:
            traceback.print_exc()
            times.append(None)
            res.failed += 1
            continue
        if checks.lookup_mismatches(checks.read_lookup(out), expected):
            res.failed += 1
    return times


def run(spark, wl: Workload, seed: int, seconds: float, work: str, tracer) -> Result:
    res, shape = Result(), wl.shape
    path = {k: os.path.join(work, k) for k in ("lookup", "payload", "out", "ckpt")}

    t0 = time.perf_counter()
    tables = gen.write_tables(spark, seed, shape, os.path.join(work, "inputs"))
    prep_s = time.perf_counter() - t0

    # Batch layer.
    expected = checks.expected_lookup(tables)
    rebuild_s = _rebuilds(spark, tables, path["lookup"], expected, tracer, res)
    geo = checks.geo_table(tables["zip_geo"])

    # Speed layer: warm-up batches, then the measured ones.
    os.makedirs(path["payload"])
    mtime0 = time.time() - 100_000
    prog = harness.add_listener(spark)
    t_warm = time.perf_counter()
    events = gen.stage_payload_files(spark, seed, shape, 0, WARMUP_BATCHES, path["payload"], mtime0)
    query, warmed = None, False
    try:
        query = _start_query(spark, wl, path, expected, tables["zip_geo"], geo)
        prog.run_id = str(query.runId)
        tracer.on_stream_start(spark, query)
        warmed = harness.wait_batches(query, prog, WARMUP_BATCHES, timeout=45)
    except Exception:
        traceback.print_exc()  # the unprocessed batches count as failed below
    n_meas, t_meas, cpu_meas = 0, 0.0, 0.0
    if warmed:
        last = prog.batches[max(prog.batches)]["durationMs"]["triggerExecution"]
        n_meas = max(MIN_BATCHES, min(MAX_BATCHES, round(seconds * 1000.0 / max(last, 1))))
        events += gen.stage_payload_files(
            spark, seed, shape, WARMUP_BATCHES, n_meas, path["payload"], mtime0)
        warmup_s = time.perf_counter() - t_warm
        tracer.mark("measure_start")
        cpu0, t0 = harness.tree_cpu_s(), time.perf_counter()
        harness.wait_batches(query, prog, WARMUP_BATCHES + n_meas, timeout=30 + 3 * seconds)
        t_meas = time.perf_counter() - t0
        cpu_meas = harness.tree_cpu_s() - cpu0
        tracer.mark("measure_end")
    else:
        warmup_s = time.perf_counter() - t_warm
    peak_rss = harness.tree_peak_rss_mb()
    if query is not None:
        query.stop()

    # Checks, outside every timed region.
    if wl.exact:
        exp_status = checks.replay_exact(events, expected, geo)
        rows = checks.output_rows(os.path.join(path["out"], "*.parquet"), hive=False)
        bad = checks.bad_batches(events, rows, exp_status, by_batch_id=False)
    else:
        exp_status, final = checks.replay_lambda(events, expected, geo)
        rows = checks.output_rows(os.path.join(path["out"], "*", "*.parquet"), hive=True)
        bad = checks.bad_batches(events, rows, exp_status, by_batch_id=True)
        if checks.lookup_mismatches(checks.read_lookup(path["lookup"]), final):
            bad.add(max(ev["file"] for ev in events))
    n_batches = WARMUP_BATCHES + n_meas
    res.attempted += n_batches
    res.failed += len(bad | set(range(prog.data_batches(), n_batches)))

    # Metrics. One that nothing was measured for is left out, not set to 0.
    data = [(b, p) for b, p in sorted(prog.batches.items()) if p["numInputRows"] > 0]
    warm = [p for b, p in data if b < WARMUP_BATCHES]
    measured = [p for b, p in data if b >= WARMUP_BATCHES]
    n_events = sum(p["numInputRows"] for p in measured)
    batch_ms = [p["durationMs"]["triggerExecution"] for p in measured]
    warm_rebuilds = [t for t in rebuild_s[:REBUILD_WARMUP] if t is not None]
    meas_rebuilds = [t for t in rebuild_s[REBUILD_WARMUP:] if t is not None]
    setup_s = tracer.get_spark_s + prep_s + sum(warm_rebuilds) + warmup_s
    res.metrics["setup_s"] = (setup_s, "s")
    if meas_rebuilds:
        res.metrics["rebuild_s"] = (harness.median(meas_rebuilds), "s")
    if n_events and t_meas:
        res.metrics["stream_events_per_s"] = (n_events / t_meas, "1/s")
        res.metrics["batch_p50_ms"] = (harness.median(batch_ms), "ms")
        res.metrics["cpu_ms_per_event"] = (1000.0 * cpu_meas / n_events, "ms")
    res.metrics["peak_rss_mb"] = (peak_rss, "MB")

    statuses = [exp_status[ev["pos_id"]] for ev in events]
    cards = defaultdict(set)
    for ev in events:
        cards[ev["file"]].add(ev["card_id"])
    res.info = {
        "cards": shape.cards,
        "history_rows": shape.cards * shape.history_per_card,
        "events_per_batch": shape.events_per_batch,
        "cards_per_batch_p50": harness.median([len(c) for c in cards.values()]),
        "measured_batches": len(measured),
        "measured_s": round(t_meas, 3),
        "fraud_share": round(statuses.count(checks.FRAUD) / len(statuses), 4),
        "prep_s": round(prep_s, 3),
        "rebuild_s": [None if t is None else round(t, 3) for t in rebuild_s],
        "warmup_s": round(warmup_s, 3),
        "batch_ms": batch_ms,
    }
    # Status counts over the warm-up batches: a fixed event set per seed.
    out_status = {pos_id: status for pos_id, status, _ in rows}
    warm_status = [out_status.get(ev["pos_id"]) for ev in events if ev["file"] < WARMUP_BATCHES]
    tracer.collect(res, wl, warm, measured, warm_status, len(rows), work)
    return res
