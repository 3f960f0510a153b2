"""Process-level plumbing shared by the workloads: the Spark session under
benchmark settings, process-tree CPU and memory, and a closed-loop
driver for a file-source streaming query."""

from __future__ import annotations

import os
import shlex
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CLK = os.sysconf("SC_CLK_TCK")


def start_session(work: str, cpus: int, event_log_dir: str | None = None):
    """Start the package's SparkSession on local[cpus], with every scratch
    path (JVM tmpdir, Spark local dirs, Python tempfiles) inside ``work``
    and the checkout on the Python workers' PYTHONPATH. Returns
    (spark, seconds spent in ``session.get_spark``)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress=false",
    ]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{event_log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp
    from fraud_detection_in_banking_transactions_using_hadoop_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=cpus)
    return spark, time.perf_counter() - t0


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then the JVM it was launched in, and wait until every
    process this one started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, plus reaped children) of this process
    and every live descendant: the JVM and its Python workers."""
    total = 0.0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / _CLK
    return total


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and its live
    descendants."""
    kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


@dataclass
class Progress:
    """Per-batch progress of one streaming query, pushed by a listener."""

    run_id: str = ""
    batches: dict = field(default_factory=dict)   # batchId -> progress dict
    error: str | None = None
    cond: threading.Condition = field(default_factory=threading.Condition)

    def data_batches(self) -> int:
        return sum(1 for p in self.batches.values() if p["numInputRows"] > 0)


def add_listener(spark) -> Progress:
    from pyspark.sql.streaming import StreamingQueryListener

    prog = Progress()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if str(p.runId) != prog.run_id:
                return
            rec = {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "timestamp": p.timestamp,
                "durationMs": dict(p.durationMs),
                "stateOperators": [
                    {"numRowsTotal": s.numRowsTotal, "memoryUsedBytes": s.memoryUsedBytes}
                    for s in p.stateOperators
                ],
            }
            with prog.cond:
                prog.batches[p.batchId] = rec
                prog.cond.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with prog.cond:
                if event.exception:
                    prog.error = event.exception
                prog.cond.notify_all()

    spark.streams.addListener(_Listener())
    return prog


def wait_batches(query, prog: Progress, n: int, timeout: float) -> bool:
    """Block until ``n`` data-carrying batches have committed; False if the
    query died or the timeout passed first."""
    deadline = time.monotonic() + timeout
    with prog.cond:
        while prog.data_batches() < n:
            if prog.error is not None or not query.isActive:
                return False
            left = deadline - time.monotonic()
            if left <= 0:
                return False
            prog.cond.wait(min(left, 0.5))
    return True
