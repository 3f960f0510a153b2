"""Per-layer tracing for ``--trace 1`` runs, recorded from the benchmark's
own files: spans come from rebinding module attributes the pipeline
resolves at call time, phase times and state sizes from the streaming
progress events, job counts from ``statusTracker()`` and executor
totals from an uncompressed event log. Spans stay in memory until the
run ends. ``NullTracer`` is the untraced path and records nothing."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from datetime import datetime, timezone

from perfbench import harness
from perfbench.workloads import REBUILD_WARMUP

from fraud_detection_in_banking_transactions_using_hadoop_spark.plans import lookup as lookup_mod
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources import writers
from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming import scorer

# (module, attribute, span name). The scorer's foreachBatch closure looks
# these names up in its module globals on every batch.
TARGETS = [
    (scorer, "score_transactions", "scoring.score_transactions"),
    (scorer, "atomic_overwrite", "merge.atomic_overwrite"),
    (scorer, "recover_table", "merge.recover_table"),
    (lookup_mod, "build_lookup", "lookup.build_lookup"),
    (writers, "overwrite_keyed_table", "writers.overwrite_keyed_table"),
]
BATCH_CHILDREN = ("scoring.score_transactions", "merge.atomic_overwrite", "merge.recover_table")
PHASES = {
    "addBatch": "stream.add_batch_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "latestOffset": "stream.latest_offset_ms",
    "queryPlanning": "stream.query_planning_ms",
    "getBatch": "stream.get_batch_ms",
}

EXEC_UNITS = {
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.tasks": "count",
}


class NullTracer:
    get_spark_s = 0.0

    def install(self):
        pass

    def uninstall(self):
        pass

    @contextlib.contextmanager
    def job_group(self, spark, name):
        yield

    def on_stream_start(self, spark, query):
        pass

    def mark(self, name):
        pass

    def collect(self, res, wl, warm, measured, warm_status, n_out, work):
        pass

    def finish(self, res):
        pass


class Tracer(NullTracer):
    def __init__(self, event_log_dir: str):
        self.event_log_dir = event_log_dir
        self.spans: list[tuple[str, float, float]] = []
        self.marks: dict[str, float] = {}
        self.jobs_at: dict[str, int] = {}
        self.group_jobs: dict[str, int] = {}
        self.saved = []
        self.sc = None
        self.run_id = None
        self.measure_window = (0.0, 0.0)
        self.n_meas = 0
        self.rebuild_group = None

    def _wrap(self, name, fn):
        def traced(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append((name, t0, time.time()))
        return traced

    def install(self):
        for mod, attr, name in TARGETS:
            orig = getattr(mod, attr)
            self.saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(name, orig))

    def uninstall(self):
        for mod, attr, orig in reversed(self.saved):
            setattr(mod, attr, orig)
        self.saved.clear()

    @contextlib.contextmanager
    def job_group(self, spark, name):
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.group_jobs[name] = len(sc.statusTracker().getJobIdsForGroup(name))

    def on_stream_start(self, spark, query):
        self.sc = spark.sparkContext
        self.run_id = str(query.runId)

    def mark(self, name):
        self.marks[name] = time.time()
        self.jobs_at[name] = len(self.sc.statusTracker().getJobIdsForGroup(self.run_id))

    def collect(self, res, wl, warm, measured, warm_status, n_out, work):
        m = {f"traced.{k}": res.metrics[k]
             for k in ("setup_s", "rebuild_s", "stream_events_per_s", "batch_p50_ms")
             if k in res.metrics}
        res.metrics = m
        m["session.get_spark_s"] = (self.get_spark_s, "s")
        self.n_meas = len(measured)

        per_batch = defaultdict(list)
        for p in measured:
            start = _epoch(p["timestamp"])
            end = start + p["durationMs"]["triggerExecution"] / 1000.0
            child = defaultdict(float)
            for name, t0, t1 in self.spans:
                if name in BATCH_CHILDREN and start <= t0 and t1 <= end + 0.05:
                    child[name] += (t1 - t0) * 1000.0
            for name in BATCH_CHILDREN:
                per_batch[name + "_ms"].append(child[name])
            # The stateful backend has no foreachBatch body to split.
            self_ms = 0.0 if wl.exact else p["durationMs"].get("addBatch", 0) - sum(child.values())
            per_batch["scorer.self_ms"].append(self_ms)
            for phase, metric in PHASES.items():
                per_batch[metric].append(p["durationMs"].get(phase, 0))
        for name, xs in per_batch.items():
            m[name] = (harness.median(xs), "ms")

        for name in ("lookup.build_lookup", "writers.overwrite_keyed_table"):
            spans = [(t1 - t0) * 1000.0 for n, t0, t1 in self.spans if n == name]
            m[name + "_ms"] = (harness.median(spans[REBUILD_WARMUP:]), "ms")
        groups = sorted(self.group_jobs, key=lambda g: int(g.rsplit("-", 1)[1]))[REBUILD_WARMUP:]
        m["rebuild.jobs"] = (harness.median([self.group_jobs[g] for g in groups]), "count")
        self.rebuild_group = groups[-1]

        jobs = self.jobs_at.get("measure_end", 0) - self.jobs_at.get("measure_start", 0)
        m["stream.jobs_per_batch"] = (jobs / max(1, len(measured)), "count")

        # State size after the warm-up batches, a fixed event set per seed.
        states = warm[-1]["stateOperators"] if warm else []
        m["stateful.state_rows"] = (sum(s["numRowsTotal"] for s in states), "count")
        m["stateful.state_memory_bytes"] = (sum(s["memoryUsedBytes"] for s in states), "bytes")

        m["sink.bytes_per_event"] = (_dir_bytes(os.path.join(work, "out")) / max(1, n_out), "bytes")
        m["merge.lookup_bytes"] = (_dir_bytes(os.path.join(work, "lookup")), "bytes")

        m["stream.n_fraud"] = (warm_status.count("FRAUD"), "count")
        m["stream.n_genuine"] = (warm_status.count("GENUINE"), "count")
        self.measure_window = (self.marks.get("measure_start", 0.0), self.marks.get("measure_end", 0.0))

    def finish(self, res):
        """Reduce the event log (complete once Spark has stopped) to
        executor totals per measured batch and the rebuild's shuffle."""
        logs = [p for p in glob.glob(os.path.join(self.event_log_dir, "**"), recursive=True)
                if os.path.isfile(p)]
        stage_group, tasks = {}, []
        for path in logs:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append(ev)
        lo, hi = (x * 1000.0 for x in self.measure_window)
        tot = defaultdict(float)
        rebuild_shuffle = 0
        for ev in tasks:
            tm = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sw = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            if stage_group.get(ev.get("Stage ID")) == self.rebuild_group:
                rebuild_shuffle += sw
            if not (lo <= info.get("Launch Time", 0) and info.get("Finish Time", 0) <= hi):
                continue
            sr = tm.get("Shuffle Read Metrics") or {}
            tot["exec.run_ms"] += tm.get("Executor Run Time", 0)
            tot["exec.cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            tot["exec.gc_ms"] += tm.get("JVM GC Time", 0)
            tot["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["exec.shuffle_write_bytes"] += sw
            tot["exec.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            tot["exec.tasks"] += 1
        n = max(1, self.n_meas)
        for k, unit in EXEC_UNITS.items():
            res.metrics[k] = (tot[k] / n, unit)
        res.metrics["rebuild.shuffle_write_bytes"] = (rebuild_shuffle, "bytes")


def _epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC with milliseconds."""
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total
