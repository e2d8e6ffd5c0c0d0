"""Measurements taken from outside the program: process memory, JVM GC,
Spark's status store, the streaming listener, and spans around the public
calls of each layer."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time
import traceback

from stats import Recorder, percentile


def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak RSS (VmHWM) of the Spark JVM and the Python workers under it,
    polled so that workers which exit early still count. Other children of
    the JVM are skipped: a short-lived helper it spawns briefly reports the
    JVM's own resident pages and would count them twice."""

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb: dict[int, int] = {}
        self.totals: list[tuple[float, int]] = []  # (time, summed VmRSS in kB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        workers = [p for p in descendants(self.jvm_pid) if _comm(p).startswith("python")]
        total = 0
        for pid in [self.jvm_pid] + workers:
            status = _status(pid)
            hwm, rss = status.get("VmHWM"), status.get("VmRSS")
            if hwm:
                kb = int(hwm.split()[0])
                self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)
            if rss:
                total += int(rss.split()[0])
        self.totals.append((time.perf_counter(), total))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return sum(self.peak_kb.values()) / 1024.0

    def median_mb(self, t0: float, t1: float) -> float:
        """Median of the summed RSS sampled between t0 and t1."""
        xs = [kb for t, kb in self.totals if t0 <= t <= t1]
        return percentile(xs, 0.5) / 1024.0 if xs else 0.0


def cpu_times() -> list[int]:
    """Machine-wide CPU time counters from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


class StageTotals:
    """Stage metrics from the status store, as totals over stages that
    completed after ``mark``."""

    FIELDS = ("numTasks", "executorRunTime", "shuffleWriteBytes", "inputBytes", "outputBytes")

    def __init__(self, spark):
        self.spark = spark
        self.before: set[int] = set()

    def _stages(self):
        jvm = self.spark._jvm
        store = self.spark.sparkContext._jsc.sc().statusStore()
        empty = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        it = store.stageList(None, False, False, empty, jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            yield it.next()

    def mark(self) -> None:
        self.before = {s.stageId() for s in self._stages()}

    def totals(self) -> dict[str, float]:
        out = dict.fromkeys(("stages",) + self.FIELDS, 0)
        for s in self._stages():
            if s.stageId() in self.before:
                continue
            out["stages"] += 1
            for f in self.FIELDS:
                out[f] += getattr(s, f)()
        return out


class ProgressLog:
    """StreamingQueryListener that keeps every progress event's durations."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with log._lock:
                    log.events.append((time.perf_counter(), p.numInputRows, dict(p.durationMs)))

            def onQueryTerminated(self, event):
                pass

        self.events: list[tuple[float, int, dict]] = []
        self._lock = threading.Lock()
        self._listener = _Listener()
        self.spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def overhead_ms(self) -> list[float]:
        keys = ("latestOffset", "queryPlanning", "walCommit", "commitOffsets")
        return [sum(d.get(k, 0) for k in keys) for _t, n, d in self.events if n]

    def add_batch_ms(self) -> list[float]:
        return [d.get("addBatch", 0) for _t, n, d in self.events if n]


FS_METHODS = ("exists", "is_dir", "listdir", "file_stamp", "list_sizes",
              "content_fingerprint", "mkdirs", "delete", "rename", "read_bytes",
              "write_bytes", "rename_all", "write_bytes_all")


def install_spans(rec: Recorder) -> None:
    """Wrap the public entry points of the layers the benchmark drives."""
    from substreams_sink_parquet_spark.fsio import HadoopFS
    from substreams_sink_parquet_spark.streaming.stream_sink import StreamingSink

    for m in FS_METHODS:
        rec.wrap(HadoopFS, m, f"fsio.{m}")
    rec.wrap(StreamingSink, "process_batch", "stream_sink.process_batch")
    rec.wrap(StreamingSink, "close", "stream_sink.close")


def layer_metrics(rec: Recorder) -> dict[str, float]:
    """Per-layer numbers derivable from the spans alone."""
    out = {f"fsio.calls.{m}": len(rec.durations(f"fsio.{m}")) for m in FS_METHODS}
    out["fsio.busy_s"] = rec.busy("fsio.")
    pb = rec.durations("stream_sink.process_batch")
    out["stream_sink.batches"] = len(pb)
    out["stream_sink.process_batch_busy_s"] = sum(pb)
    out["stream_sink.process_batch_p50_s"] = percentile(pb, 0.5) if pb else 0.0
    out["stream_sink.self_s"] = rec.self_time("stream_sink.process_batch")
    out["stream_sink.close_s"] = sum(rec.durations("stream_sink.close"))
    return out


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it and every
    process it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc is not None else []
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
        gateway.shutdown()
    except Exception:
        # a broken gateway must not leave the JVM running: report it and
        # fall through to closing its stdin and, if need be, killing it
        traceback.print_exc(file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            state = _status(pid).get("State", "")
            if state.startswith("Z"):
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and not _status(pid).get("State", "").startswith("Z"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
