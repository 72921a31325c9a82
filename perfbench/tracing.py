"""Measurement from outside the package: spans around public calls, peak
RSS of the process tree from /proc, Spark's status store, and the
uncompressed event log of a traced run. Nothing here adds a job or a pass
over the data.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class Spans:
    """Wall-clock spans kept in memory; a no-op unless enabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.items: list[dict] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        start = time.time()
        try:
            yield
        finally:
            with self._lock:
                self.items.append(
                    {"name": name, "layer": layer, "start": start, "end": time.time()}
                )


def _union_ms(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total * 1000.0


def layer_self_ms(spans: list[dict]) -> dict[str, float]:
    """Per layer: span time minus the part covered by child spans. A
    span's parent is the shortest other span enclosing it, on any thread
    (the dimension load runs on the stream's thread inside the caller's
    ``process_available``)."""
    size = [(s["end"] - s["start"], i) for i, s in enumerate(spans)]
    kids: dict[int, list] = {i: [] for i in range(len(spans))}
    for i, s in enumerate(spans):
        enclosing = [
            j for j, p in enumerate(spans)
            if size[j] > size[i] and p["start"] <= s["start"] and s["end"] <= p["end"]
        ]
        if enclosing:
            kids[min(enclosing, key=lambda j: size[j])].append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = size[i][0] * 1000.0 - _union_ms(kids[i])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


class RssSampler:
    """Samples the RSS of this process, the JVM it launched and the
    PySpark Python workers from /proc; keeps the peak of their total and
    of the workers alone. Other descendants are skipped: the JVM's
    short-lived helper processes share its address space until they exec,
    so counting them would count the JVM twice."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_worker_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree() -> list[tuple[float, bool]]:
        me = os.getpid()
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [(me, None)]
        while todo:
            pid, parent = todo.pop()
            todo.extend((c, pid) for c in children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    argv = fh.read().split(b"\0")
                with open(f"/proc/{pid}/status") as fh:
                    rss = next((ln for ln in fh if ln.startswith("VmRSS:")), None)
            except OSError:
                continue
            worker = any(a in (b"pyspark.daemon", b"pyspark.worker") for a in argv)
            jvm = parent == me and os.path.basename(argv[0]) == b"java"
            if rss is not None and (pid == me or jvm or worker):
                out.append((int(rss.split()[1]) / 1024.0, worker))
        return out

    def sample(self) -> None:
        tree = self._tree()
        self.peak_mb = max(self.peak_mb, sum(r for r, _ in tree))
        self.peak_worker_mb = max(self.peak_worker_mb, sum(r for r, w in tree if w))

    def reset(self) -> None:
        self.peak_mb = self.peak_worker_mb = 0.0

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def stage_totals(spark) -> dict[str, float]:
    """Summed task metrics of every stage in Spark's status store (kept
    with the UI off): executor run/CPU time, GC and shuffle fetch wait."""
    sc = spark.sparkContext
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    tot = {"run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "fetch_wait_ms": 0.0}
    for i in range(stages.length()):
        st = stages.apply(i)
        tot["run_ms"] += st.executorRunTime()
        tot["cpu_ms"] += st.executorCpuTime() / 1e6
        tot["gc_ms"] += st.jvmGcTime()
        tot["fetch_wait_ms"] += st.shuffleFetchWaitTime()
    return tot


def heap_peak_mb(spark) -> float:
    """Sum of the peak use of the JVM's heap memory pools since it started
    (an upper bound of the heap's peak use)."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    heap = jvm.java.lang.management.MemoryType.HEAP
    return sum(
        p.getPeakUsage().getUsed() for p in pools if p.getType() == heap
    ) / (1024.0 * 1024.0)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


# -- event log ------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not path.endswith((".crc", ".inprogress.crc")):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def jobs_from_log(events: list[dict], spans: list[dict]) -> list[dict]:
    """One record per job: its interval, layer, batch id and summed task
    metrics. Call sites only read ``NativeMethodAccessorImpl.java:0``, so a
    job carrying ``streaming.sql.batchId`` (a ``foreachBatch`` job, run
    under the stream's job group) is ``streaming``; any other job belongs
    to the innermost span that was open when it started."""
    jobs, stage_job = {}, {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {
                "start": e["Submission Time"] / 1000.0, "end": None,
                "desc": props.get("spark.job.description") or "",
                "batch": props.get("streaming.sql.batchId"),
                "query": props.get("sql.streaming.queryId"),
                "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "fetch_wait_ms": 0.0,
                "shuffle_bytes": 0, "python_ms": 0.0, "python_bytes": 0,
            }
            for sid in e["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            tm = e.get("Task Metrics")
            if job is None or not tm:
                continue
            job["run_ms"] += tm["Executor Run Time"]
            job["cpu_ms"] += tm["Executor CPU Time"] / 1e6
            job["gc_ms"] += tm["JVM GC Time"]
            job["fetch_wait_ms"] += tm["Shuffle Read Metrics"]["Fetch Wait Time"]
            job["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for acc in e["Task Info"].get("Accumulables", ()):
                name = acc.get("Name")
                if name == "time to run Python workers":
                    job["python_ms"] += float(acc.get("Update", 0))
                elif name == "data sent to Python workers":
                    job["python_bytes"] += int(acc.get("Update", 0))
    spans = sorted(spans, key=lambda s: s["end"] - s["start"])
    out = []
    for jid, job in sorted(jobs.items()):
        if job["end"] is None:
            continue
        inner = next((s for s in spans if s["start"] <= job["start"] <= s["end"]), None)
        job["span"] = inner["name"] if inner else None
        if job["batch"] is not None:
            job["layer"] = "streaming"
        else:
            job["layer"] = inner["layer"] if inner else "unattributed"
        job["id"] = jid
        out.append(job)
    return out


def driver_gap_ms(add_batch_ms: float, jobs: list[dict]) -> float:
    """``addBatch`` wall time not covered by any running job."""
    return max(0.0, add_batch_ms - _union_ms((j["start"], j["end"]) for j in jobs))
