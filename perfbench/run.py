"""Benchmark of the CDC-ETL engine: one command per workload.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run launches a fresh JVM with a cold
``get_spark`` (timed alone: the cold start) and sets up on it (the seeded
inputs and a longer discarded warm-up). It then sets up twice more by
restarting the session in that JVM (session start, inputs, warm-up);
their median is ``setup_s``. It measures for ``--seconds`` on the last
session, checks every output against DuckDB, and prints a human-readable
report followed by one JSON line. With ``--trace 1`` it repeats all of
that in a second fresh JVM with the Spark event log on and spans recorded
around every public call, and prints the per-layer table and the tracing
overhead: traced minus untraced values, each taken on a JVM with the same
history.

The JVM runs under the package's own memory policy (``get_spark``'s
driver memory); the benchmark adds no heap option.

All scratch (inputs, checkpoints, sinks, event log, Spark local dirs,
warehouse, derby.log) lives under ``.perfbench_tmp/`` in the repository
and is removed when the run ends; spans and the per-layer table of a
traced run are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 2  # set-ups after the cold start; setup_s is their median
CPUS = min(4, os.cpu_count() or 4)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    ap.add_argument("--inject-wrong-row", action="store_true",
                    help="duplicate one output row before the check (smoke test)")
    return ap.parse_args(argv)


def _environment(tmp: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``tmp``; let Python workers import the package from the repo root."""
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    _submit_args(tmp, {})
    sys.path.insert(0, ROOT)
    os.chdir(tmp)  # derby.log, metastore_db


def _submit_args(tmp: str, confs: dict[str, str]) -> None:
    """Options of the next JVM launch."""
    confs = {
        "spark.local.dir": f"{tmp}/local",
        "spark.sql.warehouse.dir": f"{tmp}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        **confs,
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\" "
        + "".join(f"--conf {k}={v} " for k, v in confs.items())
        + "pyspark-shell"
    )


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it (and with it the Python
    workers), wait for the JVM to exit, and let the next ``get_spark``
    launch a fresh one."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _percentile(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 else values[0]


def _finite(x: float) -> float:
    return x if math.isfinite(x) else 1e12  # a never-committed file


def main(argv=None) -> int:
    args = _parse(argv)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    _environment(tmp)
    load_start = None
    spark = wl = rss = None
    try:
        import tracing as tr
        from metrics import END_TO_END, PER_LAYER, SPANNED_LAYERS
        from workloads import WORKLOADS, Ctx

        from spring_cloud_kafka_streams_dbz_etl_spark.session import get_spark

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        load_start = tr.loadavg_1m()
        ticks_start = tr.cpu_ticks()
        spans = tr.Spans(enabled=False)
        ctx = Ctx(args.seed, args.seconds, args.tiny, spans, args.inject_wrong_row, CPUS)
        wl = WORKLOADS[args.workload](ctx)
        rss = tr.RssSampler()
        rss.start()

        def session():
            with spans.span("session.get_spark", "session"):
                return get_spark(app_name="perfbench", cpus=CPUS)

        def setups(label: str) -> tuple[float, list[float]]:
            """Launch a fresh JVM with a cold ``get_spark`` (timed alone) and
            set up on it with a longer warm-up; then set up SETUP_REPS times
            by restarting the session in that JVM (each timed)."""
            nonlocal spark
            wl.stop()
            _stop_jvm(spark)
            rss.reset()  # the peak RSS of one JVM's set-ups and window
            t = time.perf_counter()
            spark = session()
            cold = time.perf_counter() - t
            wl.setup(spark, os.path.join(tmp, f"{label}0"), cold=True)
            times = []
            for rep in range(1, SETUP_REPS + 1):
                wl.stop()
                spark.stop()
                t = time.perf_counter()
                spark = session()
                wl.setup(spark, os.path.join(tmp, f"{label}{rep}"), cold=False)
                times.append(time.perf_counter() - t)
            return cold, times

        def timed_window(label: str):
            totals = tr.stage_totals(spark)
            win = wl.measure()
            after = tr.stage_totals(spark)
            delta = {k: after[k] - totals[k] for k in totals}
            peak = rss.peak_mb
            wl.stop()
            wl.check(win)
            print(f"[{label}] window {win.end - win.start:.2f} s, {win.attempted} ops checked, "
                  f"{win.failed} failed", flush=True)
            return win, delta, peak

        cold_start_s, setup_s = setups("rep")
        win, delta, peak = timed_window("untraced")
        e2e = {
            "setup_s": statistics.median(setup_s),
            "latency_p50_ms": _finite(win.latency_ms),
            "records_per_s": win.records_per_s,
        }
        attempted, failed = win.attempted, win.failed
        ticks_end = tr.cpu_ticks()
        stamps = {
            "run.loadavg_start": load_start,
            "run.steal_share": (ticks_end[0] - ticks_start[0]) / max(1, ticks_end[1] - ticks_start[1]),
            "spark.cpu_run_ratio": delta["cpu_ms"] / delta["run_ms"] if delta["run_ms"] else 0.0,
            "loadgen.late_ms_max": max(win.late_ms),
        }
        n = len(win.latencies_ms)
        tail_q = math.floor(100 * (n - 10) / n) if n >= 20 else None

        print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
              f"trace {args.trace}  cpus {CPUS}  set-ups {[round(s, 3) for s in setup_s]}")
        print("stamps  " + "  ".join(f"{k}={v:.4g}" for k, v in stamps.items()))
        print(f"{'metric':34} {'value':>14}  unit")
        for name, (unit, _) in END_TO_END.items():
            print(f"{name:34} {e2e[name]:14.4f}  {unit}")
        if tail_q:
            print(f"{f'latency_p{tail_q}_ms (n={n})':34} "
                  f"{_finite(_percentile(win.latencies_ms, tail_q)):14.4f}  ms")
        print(f"{f'latency samples':34} {n:14d}  count")
        print(f"{'error_rate':34} {failed / max(1, attempted):14.4f}  ratio")
        print(f"{'cold_start_s':34} {cold_start_s:14.4f}  s")
        print(f"{'peak_rss_mb':34} {peak:14.4f}  MB")

        metrics = {k: {"value": float(v), "unit": END_TO_END[k][0]} for k, v in e2e.items()}
        if args.trace:
            log_dir = os.path.join(tmp, "eventlog")
            os.makedirs(log_dir)
            _submit_args(tmp, {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            spans.enabled = True
            traced_start = time.time()
            _, traced_setup_s = setups("traced")
            twin, tdelta, _ = timed_window("traced")
            attempted, failed = attempted + twin.attempted, failed + twin.failed
            heap_peak_mb = tr.heap_peak_mb(spark)
            _stop_jvm(spark)
            spark = None
            events = tr.read_event_log(log_dir)
            span_list = [s for s in spans.items if s["start"] >= traced_start]
            jobs = tr.jobs_from_log(events, span_list)
            layer = {k: 0.0 for k in PER_LAYER}
            layer.update(stamps)
            get_spark_ms = [(s["end"] - s["start"]) * 1000.0 for s in span_list if s["name"] == "session.get_spark"]
            layer["session.get_spark_ms"] = tr.median(get_spark_ms[1:])  # the restarts, not the cold start
            for name, ms in tr.layer_self_ms(span_list).items():
                if name in SPANNED_LAYERS:
                    layer[f"{name}.self_ms"] = ms
            for name in SPANNED_LAYERS[1:]:
                layer[f"{name}.jobs"] = float(sum(1 for j in jobs if j["layer"] == name))
            for key, src in (("start_ms", "streaming.register"), ("stop_ms", "streaming.stop")):
                layer[f"streaming.{key}"] = tr.median(
                    (s["end"] - s["start"]) * 1000.0 for s in span_list
                    if s["name"] == src and twin.start - 60 <= s["start"] <= twin.end + 60
                )
            layer["session.cold_start_ms"] = cold_start_s * 1000.0
            layer["run.peak_rss_mb"] = peak
            layer["spark.heap_peak_mb"] = heap_peak_mb
            layer["spark.gc_ms"] = tdelta["gc_ms"]
            layer["spark.fetch_wait_ms"] = tdelta["fetch_wait_ms"]
            layer["operators.python_worker_peak_rss_mb"] = rss.peak_worker_mb
            layer.update(wl.layer_metrics(twin, jobs, span_list))
            layer["trace.overhead_setup_s"] = statistics.median(traced_setup_s) - e2e["setup_s"]
            layer["trace.overhead_latency_p50_ms"] = _finite(twin.latency_ms) - e2e["latency_p50_ms"]
            layer["trace.overhead_records_per_s"] = twin.records_per_s - e2e["records_per_s"]
            print(f"{'per-layer metric':42} {'value':>14}  {'unit':6} moves")
            for name, (unit, _, moves) in PER_LAYER.items():
                print(f"{name:42} {layer[name]:14.4f}  {unit:6} {moves}")
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            with open(os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}.json"), "w") as fh:
                json.dump({"per_layer": layer, "spans": span_list,
                           "jobs": jobs}, fh)
            metrics = {k: {"value": float(layer[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}
        rss.stop()
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    except BaseException:
        traceback.print_exc()
        return 1
    finally:
        _shutdown(wl, spark, rss)
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return 0


def _shutdown(wl, spark, rss) -> None:
    """Stop streams, the session, the JVM and the RSS sampler."""
    for step in (
        lambda: wl.stop(),
        lambda: _stop_jvm(spark),
        lambda: rss.stop(),
    ):
        try:
            step()
        except Exception:
            pass


if __name__ == "__main__":
    sys.exit(main())
