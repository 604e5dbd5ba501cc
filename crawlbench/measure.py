"""Measurement helpers: process memory from /proc, Spark storage, the
Spark event log, the checkpoint-manifest watcher, the engine's verbose
phase lines, and summary statistics."""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time

# --- memory -------------------------------------------------------------


def _status_kb(pid: int, key: str, name: str = "status") -> int:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssPeak:
    """Peak resident memory of the Spark JVM and its Python workers over
    one operation: the JVM's VmHWM, reset at the start through
    ``clear_refs`` = 5, plus the largest summed proportional set size
    (Pss, so pages the forked workers share count once) of the JVM's
    descendant processes, sampled every 100 ms."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._stop = threading.Event()
        self._workers_kb = 0
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        while not self._stop.wait(0.1):
            kb = sum(_status_kb(p, "Pss:", "smaps_rollup")
                     for p in _descendants(self.jvm_pid))
            self._workers_kb = max(self._workers_kb, kb)

    def __enter__(self) -> "RssPeak":
        with open(f"/proc/{self.jvm_pid}/clear_refs", "w") as f:
            f.write("5")
        self._workers_kb = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def jvm_mb(self) -> float:
        return _status_kb(self.jvm_pid, "VmHWM:") / 1024.0

    @property
    def mb(self) -> float:
        return self.jvm_mb + self._workers_kb / 1024.0


def storage_mb(spark) -> float:
    """Memory + disk held by cached RDD blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


# --- Spark event log ----------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, list]:
    """Jobs, stages and tasks of the (uncompressed) event log in
    ``log_dir``; times are epoch milliseconds."""
    jobs, stages, tasks = [], [], []
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir)
             for f in fs if not f.startswith(".")]
    for path in paths:  # Spark 4 writes rolling files in a directory
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        stages.append(info["Submission Time"])
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    m = ev["Task Metrics"]
                    rd, wr = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                    tasks.append((
                        ev["Task Info"]["Launch Time"],
                        m["Executor Run Time"] / 1e3,
                        m["Executor CPU Time"] / 1e9,
                        m["JVM GC Time"] / 1e3,
                        (rd["Remote Bytes Read"] + rd["Local Bytes Read"]) / 2**20,
                        wr["Shuffle Bytes Written"] / 2**20,
                        (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 2**20,
                    ))
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


class EventLog:
    """An uncompressed Spark event log in ``log_dir``, written by a
    listener added to the running context and removed (after the
    listener bus has drained) on exit, so tracing needs no restart.
    Uncompressed because Spark 4 defaults to zstd, which the Python
    standard library cannot read."""

    def __init__(self, spark, log_dir: str):
        sc = spark.sparkContext
        self._sc, jvm = sc._jsc.sc(), sc._jvm
        os.makedirs(log_dir, exist_ok=True)
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            "crawlbench", jvm.scala.Option.apply(None), jvm.java.net.URI(f"file://{log_dir}"),
            self._sc.getConf().set("spark.eventLog.compress", "false"),
            self._sc.hadoopConfiguration())

    def __enter__(self) -> "EventLog":
        self._listener.start()
        self._sc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()


def window_stats(log: dict[str, list], t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Work whose submission (jobs, stages) or launch (tasks) falls in
    [t0_ms, t1_ms]. Attribution is by time window because jobs started
    from the engine's background threads carry no job description."""
    def inside(t):
        return t0_ms <= t <= t1_ms

    ts = [t for t in log["tasks"] if inside(t[0])]
    return {
        "jobs": sum(1 for t in log["jobs"] if inside(t)),
        "stages": sum(1 for t in log["stages"] if inside(t)),
        "tasks": len(ts),
        "exec_run_s": sum(t[1] for t in ts),
        "exec_cpu_s": sum(t[2] for t in ts),
        "gc_s": sum(t[3] for t in ts),
        "shuffle_read_mb": sum(t[4] for t in ts),
        "shuffle_write_mb": sum(t[5] for t in ts),
        "spill_mb": sum(t[6] for t in ts),
    }


# --- crawl round walls and phases ---------------------------------------


class ManifestWatcher:
    """Polls ``round=*/MANIFEST.json`` under a checkpoint directory and
    records when each round's manifest first appears."""

    def __init__(self, ckpt_dir: str):
        self.ckpt_dir = ckpt_dir
        self.seen: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while not self._stop.wait(0.01):
            self._scan()

    def _scan(self) -> None:
        now = time.perf_counter()
        for p in glob.glob(os.path.join(self.ckpt_dir, "round=*", "MANIFEST.json")):
            r = int(p.split("round=")[1].split(os.sep)[0])
            self.seen.setdefault(r, now)

    def __enter__(self) -> "ManifestWatcher":
        self.t0 = time.perf_counter()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._scan()

    def round_walls(self) -> list[float]:
        """Gaps between consecutive manifests, the first from the start."""
        out, prev = [], self.t0
        for r in sorted(self.seen):
            out.append(self.seen[r] - prev)
            prev = self.seen[r]
        return out


_ROUND_LINE = re.compile(r"\[crawl\] round (\d+): visited_total=\d+ [\d.]+s \| (.*)")


def phase_totals(verbose_text: str) -> dict[str, float]:
    """Per-phase seconds summed over the ``[crawl] round N`` lines that
    ``CrawlConfig.verbose`` prints."""
    out: dict[str, float] = {}
    for m in _ROUND_LINE.finditer(verbose_text):
        for kv in m.group(2).split():
            k, v = kv.split("=")
            out[k] = out.get(k, 0.0) + float(v)
    return out


# --- statistics ---------------------------------------------------------


def summarize(values: list[float]) -> dict[str, float | int | None]:
    """Median, quartiles, the highest percentile with at least ten
    samples beyond it (None below 11 samples), and the sample count."""
    n = len(values)
    s = sorted(values)
    q1, med, q3 = (statistics.quantiles(s, n=4) if n > 1 else [s[0]] * 3)
    hi = None
    if n > 10:
        p = 100.0 * (n - 10) / n
        hi = (round(p, 1), s[n - 11])
    return {"median": statistics.median(s), "q1": q1, "q3": q3, "p_hi": hi, "n": n}
