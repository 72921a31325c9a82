"""The benchmark's workloads. Each one generates its inputs from the seed,
drives the package's public entry points, and checks every output.

- ``cdc_tail`` (open loop): change-event files land at a fixed rate in a
  file-source directory and flow through ``build_cdc_pipeline`` with
  append sinks under ``StreamRegistry``. Micro-batches are tiny, so the
  per-batch fixed cost (jobs, planning, the per-batch dimension reload,
  commit logs, small-file writes) is nearly all of the latency.
- ``vector_dedup`` (closed loop): the vector queries run in sequence
  over a seeded embedding table with uneven label cells; the Arrow/Python
  kernels of ``operators.similarity`` do most of the work and no streaming
  machinery runs.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import check
import gen
from metrics import VECTOR_QUERIES
from tracing import Spans, driver_gap_ms, median

from spring_cloud_kafka_streams_dbz_etl_spark.queries import all_queries
from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import load_dimension
from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import (
    CdcPipelineConfig,
    build_cdc_pipeline,
)
from spring_cloud_kafka_streams_dbz_etl_spark.streaming.registry import StreamRegistry

N_CUSTOMERS = 15_000  # the dimension at sf0.1's customer count


@dataclass
class Ctx:
    seed: int
    seconds: float
    tiny: bool
    spans: Spans
    inject_wrong_row: bool
    threads: int


@dataclass
class Window:
    """What one timed window produced."""

    start: float
    end: float
    latencies_ms: list[float]  # one per operation
    latency_ms: float  # the run's p50 latency
    records_per_s: float
    late_ms: list[float] = field(default_factory=lambda: [0.0])
    attempted: int = 0
    failed: int = 0


def _duplicate_one_row(out_dir: str) -> None:
    """The injected wrong output: one output row written a second time."""
    import pyarrow.parquet as pq

    for path in sorted(glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True)):
        table = pq.read_table(path)
        if table.num_rows:
            pq.write_table(table.slice(0, 1), os.path.join(os.path.dirname(path), "part-injected.parquet"))
            return
    raise RuntimeError("no output row to duplicate")


def _sink_files(dirs: list[str], since: float) -> tuple[int, int]:
    n = size = 0
    for d in dirs:
        for path in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            st = os.stat(path)
            if st.st_mtime >= since:
                n, size = n + 1, size + st.st_size
    return n, size


def _checkpoint_commits(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """File name -> batch id from the file-source log, and batch id ->
    commit time from the commit log."""
    file_batch = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    file_batch[os.path.basename(entry["path"])] = int(entry["batchId"])
    commits_dir = os.path.join(ckpt, "commits")
    commits = {
        int(n): os.stat(os.path.join(commits_dir, n)).st_mtime
        for n in os.listdir(commits_dir)
        if n.isdigit()
    }
    return file_batch, commits


_PHASES = {
    "trigger_ms_p50": "triggerExecution",
    "add_batch_ms_p50": "addBatch",
    "query_planning_ms_p50": "queryPlanning",
    "latest_offset_ms_p50": "latestOffset",
    "get_batch_ms_p50": "getBatch",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
}


def _progress_ts(p: dict) -> float:
    """Trigger start of a progress event, as epoch seconds."""
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


def streaming_layer(progress: list[dict], jobs: list[dict]) -> dict[str, float]:
    """Per-batch metrics of the given data batches: phases from the
    progress events, jobs/CPU/shuffle/driver gap from the event log."""
    out = {"streaming.batches": float(len(progress))}
    if not progress:
        return out
    out["streaming.rows_per_batch_p50"] = median(p["numInputRows"] for p in progress)
    for name, phase in _PHASES.items():
        out[f"streaming.{name}"] = median(p["durationMs"].get(phase, 0) for p in progress)
    per_batch = []
    for p in progress:
        mine = [j for j in jobs if j["query"] == p["id"] and j["batch"] == str(p["batchId"])]
        per_batch.append(
            (
                len(mine),
                sum(j["cpu_ms"] for j in mine),
                sum(j["shuffle_bytes"] for j in mine),
                driver_gap_ms(p["durationMs"].get("addBatch", 0), mine),
            )
        )
    for i, name in enumerate(("jobs", "task_cpu_ms", "shuffle_bytes", "driver_gap_ms")):
        out[f"streaming.{name}_per_batch"] = median(b[i] for b in per_batch)
    return out


class CdcTail:
    name = "cdc_tail"
    # Keys and deletes as in the fixture (see gen.py). Assumptions, with no
    # source to take them from: one payload in 53 is corrupt (the package's
    # tests use 11 and 500), and 5% of the ids miss the dimension (FIXTURES.md
    # asks for absent ids but sets no share; the fixture has none).
    mix = gen.EventMix(corrupt_every=53, hot_keys=1500, miss=0.05)
    RATE = 4.0  # files/s: a batch takes ~5 files in ~1.2 s, so the backlog does not grow
    EVENTS = 2000  # per file: a few thousand, so the codec does little
    WARM_FILES = {True: 6, False: 2}  # a set-up that launches the JVM warms its JIT longer

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.reg: StreamRegistry | None = None
        self.spark = None

    def setup(self, spark, d: str, cold: bool) -> None:
        self.spark = spark
        events = 200 if self.ctx.tiny else self.EVENTS
        self.src, self.staging = os.path.join(d, "src"), os.path.join(d, "staging")
        os.makedirs(self.src)
        os.makedirs(self.staging)
        n_window = max(2, math.ceil(self.RATE * self.ctx.seconds))
        self.warm = [f"events_w{i}.parquet" for i in range(self.WARM_FILES[cold])]
        self.files = [f"events{i:05d}.parquet" for i in range(n_window)]
        with self.ctx.spans.span("benchmark.generate", "benchmark"):
            gen.write_customers(os.path.join(self.src, "customer.parquet"), N_CUSTOMERS, self.ctx.seed)
            es = gen.EventSource(self.ctx.seed, N_CUSTOMERS, self.mix)
            for name in self.warm + self.files:
                es.write(os.path.join(self.staging, name), events)
        self.events_per_file = events
        self.cfg = self._start(spark, d)
        for name in self.warm:
            self._land(name)
            self._drain()

    def _start(self, spark, run_dir: str) -> CdcPipelineConfig:
        spans, src = self.ctx.spans, self.src
        dim_source = None
        if spans.enabled:
            def dim_source():
                with spans.span("sources.load_dimension", "sources"):
                    return load_dimension(spark, f"{src}/customer.parquet")

        cfg = CdcPipelineConfig(
            sf_dir=src,
            out_path=os.path.join(run_dir, "out"),
            dlq_path=os.path.join(run_dir, "dlq"),
            checkpoint=os.path.join(run_dir, "ckpt"),
            corrupt_every=self.mix.corrupt_every,
            dim_source=dim_source,
        )
        with spans.span("streaming.build_cdc_pipeline", "streaming"):
            start = build_cdc_pipeline(spark, cfg)
        self.reg = StreamRegistry()
        with spans.span("streaming.register", "streaming"):
            self.reg.register(self.name, start, checkpoint=cfg.checkpoint)
        return cfg

    def _land(self, name: str) -> None:
        os.rename(os.path.join(self.staging, name), os.path.join(self.src, name))

    def _drain(self) -> None:
        with self.ctx.spans.span("streaming.process_available", "streaming"):
            self.reg.process_available(self.name)

    def stop(self) -> None:
        if self.reg is not None:
            with self.ctx.spans.span("streaming.stop", "streaming"):
                self.reg.stop(self.name)
            self.reg = None

    def measure(self) -> Window:
        # Each file lands at a random point of its own 1/RATE slot: on a
        # fixed lattice the arrivals lock onto the batch period, and the
        # latency jumps between modes as the batch time crosses a slot.
        slot = random.Random(self.ctx.seed).random
        t0 = time.time() + 0.05
        due, late = {}, []
        for i, name in enumerate(self.files):
            due[name] = t0 + (i + slot()) / self.RATE
            wait = due[name] - time.time()
            if wait > 0:
                time.sleep(wait)
            self._land(name)
            late.append((time.time() - due[name]) * 1000.0)
        self._drain()
        end = time.time()
        file_batch, commits = _checkpoint_commits(self.cfg.checkpoint)
        commit_of = {n: commits.get(file_batch.get(n)) for n in self.files}
        lat = [
            (commit_of[n] - due[n]) * 1000.0 if commit_of[n] is not None else math.inf
            for n in self.files
        ]
        done = [commit_of[n] for n in self.files if commit_of[n] is not None]
        records = self.events_per_file * len(done)
        self.due, self.file_batch = due, file_batch
        self.progress = self._progress()
        return Window(t0, end, lat, median(lat), records / (max(done) - t0) if done else 0.0, late)

    def _progress(self) -> list[dict]:
        """Progress events of the running query's data batches."""
        query = self.spark.streams.get(self.reg.status(self.name)["applicationId"])
        return [p for p in map(_as_dict, query.recentProgress) if p["numInputRows"]]

    def check(self, win: Window) -> None:
        landed = self.warm + self.files
        if self.ctx.inject_wrong_row:
            _duplicate_one_row(self.cfg.out_path)
        failed = check.cdc_failed_files(
            [os.path.join(self.src, n) for n in landed], os.path.join(self.src, "customer.parquet"),
            self.cfg.out_path, self.cfg.dlq_path, self.mix.corrupt_every, self.ctx.threads,
        )
        failed |= {n for n, lat in zip(self.files, win.latencies_ms) if math.isinf(lat)}
        win.attempted, win.failed = len(landed), len(failed)

    def layer_metrics(self, win: Window, jobs: list[dict], spans: list[dict]) -> dict[str, float]:
        batches = {self.file_batch[n] for n in self.files if n in self.file_batch}
        prog = [p for p in self.progress if p["batchId"] in batches]
        out = streaming_layer(prog, jobs)
        starts = {p["batchId"]: _progress_ts(p) for p in prog}
        out["streaming.queue_wait_ms_p50"] = median(
            (starts[self.file_batch[n]] - self.due[n]) * 1000.0
            for n in self.files if self.file_batch.get(n) in starts
        )
        out["streaming.backlog_files_max"] = float(max(
            (sum(1 for n in self.files if self.due[n] <= ts and self.file_batch.get(n, -1) >= b)
             for b, ts in starts.items()),
            default=0,
        ))
        n_files, n_bytes = _sink_files([self.cfg.out_path, self.cfg.dlq_path], win.start)
        out["sources.output_files_per_batch"] = n_files / max(1, len(prog))
        out["sources.output_bytes_per_batch"] = n_bytes / max(1, len(prog))
        out["sources.load_dimension_ms_p50"] = _span_ms_p50(spans, "sources.load_dimension", win)
        return out


class VectorDedup:
    name = "vector_dedup"
    # The fixture's size (2,000 vectors in 10 label cells). Its cells are
    # even; uneven ones are an assumption of this benchmark: the
    # label-blocked kernels cost sum(|cell|^2), so a few hot cells dominate.
    N, CELLS, SKEW = 2000, 10, 1.0
    WARM_SEQUENCES = {True: 2, False: 1}  # a set-up that launches the JVM warms its JIT longer

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.specs = all_queries()

    def _sequence(self, spark, sf_dir: str, calls: list | None) -> None:
        for q in VECTOR_QUERIES:
            t = time.perf_counter()
            with self.ctx.spans.span(f"queries.{q}", "queries"):
                df = self.specs[q].fn(spark, sf_dir)
                rows = df.collect()
            ms = (time.perf_counter() - t) * 1000.0
            if calls is not None:
                calls.append((q, check.row_set_hash(rows, df.columns), ms))

    def setup(self, spark, d: str, cold: bool) -> None:
        self.spark = spark
        n = 120 if self.ctx.tiny else self.N
        self.sf = os.path.join(d, "sf")
        warm = os.path.join(d, "warm")
        with self.ctx.spans.span("benchmark.generate", "benchmark"):
            gen.write_embeddings(os.path.join(self.sf, "embeddings.parquet"), n, self.ctx.seed,
                                 self.CELLS, self.SKEW)
            # The warm-up table has the measured one's size and another seed.
            gen.write_embeddings(os.path.join(warm, "embeddings.parquet"), n, self.ctx.seed + 1,
                                 self.CELLS, self.SKEW)
        self.n = n
        for _ in range(self.WARM_SEQUENCES[cold]):
            self._sequence(spark, warm, None)

    def measure(self) -> Window:
        """Runs the sequence until the window is over. The p50 latency of a
        sequence is the sum of each query's median call, which one slow
        call of one query cannot move."""
        start = time.time()
        self.calls = []
        while len(self.calls) < 2 * len(VECTOR_QUERIES) or time.time() - start < self.ctx.seconds:
            self._sequence(self.spark, self.sf, self.calls)
        k = len(VECTOR_QUERIES)
        walls = [sum(c[2] for c in self.calls[i : i + k]) for i in range(0, len(self.calls), k)]
        p50 = sum(median(ms for q, _, ms in self.calls if q == name) for name in VECTOR_QUERIES)
        return Window(start, time.time(), walls, p50, self.n * 1000.0 / p50)

    def stop(self) -> None:
        pass

    def check(self, win: Window) -> None:
        expected = check.oracle_hashes(
            {q: self.specs[q].oracle for q in VECTOR_QUERIES},
            os.path.join(self.sf, "embeddings.parquet"),
            self.ctx.threads,
        )
        hashes = [(q, h) for q, h, _ in self.calls]
        if self.ctx.inject_wrong_row:
            hashes[0] = (hashes[0][0], "wrong")
        win.attempted = len(hashes)
        win.failed = sum(1 for q, h in hashes if h != expected[q])

    def layer_metrics(self, win: Window, jobs: list[dict], spans: list[dict]) -> dict[str, float]:
        out = {}
        seqs = max(1, len(win.latencies_ms))
        in_win = [j for j in jobs if win.start <= j["start"] <= win.end]
        out["operators.python_ms"] = sum(j["python_ms"] for j in in_win) / seqs
        out["operators.python_bytes"] = sum(j["python_bytes"] for j in in_win) / seqs
        for q in VECTOR_QUERIES:
            mine = [j for j in in_win if j["span"] == f"queries.{q}"]
            out[f"queries.{q}_ms"] = _span_ms_p50(spans, f"queries.{q}", win)
            out[f"queries.{q}_jobs"] = len(mine) / seqs
            out[f"queries.{q}_shuffle_bytes"] = sum(j["shuffle_bytes"] for j in mine) / seqs
        return out


def _span_ms_p50(spans: list[dict], name: str, win: Window) -> float:
    return median(
        (s["end"] - s["start"]) * 1000.0
        for s in spans
        if s["name"] == name and win.start <= s["start"] <= win.end
    )


def _as_dict(progress) -> dict:
    return progress if isinstance(progress, dict) else json.loads(progress.json)


WORKLOADS = {w.name: w for w in (CdcTail, VectorDedup)}
