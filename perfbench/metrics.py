"""The benchmark's metric catalogue. ``BENCHMARK.json`` lists the same
names; each per-layer metric also names the end-to-end metric and the
workload it is expected to move (``-`` = a validity stamp, moves nothing).
"""

from __future__ import annotations

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "records_per_s": ("1/s", "higher"),
}

VECTOR_QUERIES = (
    "q_knn_graph",
    "q_triangle_count",
    "q_embedding_cosine_dup",
)

# The package's layers are session, sources, streaming, operators and
# queries. The benchmark records spans around the calls it makes into the
# first four; ``operators`` is only called from inside a query, so from
# outside the package it shows through the Python SQL metrics instead.
SPANNED_LAYERS = ("session", "sources", "streaming", "queries")

_TAIL_LAT = "latency_p50_ms on cdc_tail"
_VECTOR = "records_per_s on vector_dedup"

# name -> (unit, better, moves)
PER_LAYER = {
    # The first get_spark of a process, which launches the JVM. Not an
    # end-to-end metric with a bound: on a shared host it varies more from
    # run to run (5-10 s) than any allowed bound.
    "session.cold_start_ms": ("ms", "lower", "-"),
    "session.get_spark_ms": ("ms", "lower", "setup_s on every workload"),
    **{f"{layer}.self_ms": ("ms", "lower", "span self time; the workloads that call it") for layer in SPANNED_LAYERS},
    **{f"{layer}.jobs": ("count", "lower", "jobs started in the layer") for layer in SPANNED_LAYERS[1:]},
    "sources.load_dimension_ms_p50": ("ms", "lower", _TAIL_LAT),
    "sources.output_files_per_batch": ("count", "lower", _TAIL_LAT),
    "sources.output_bytes_per_batch": ("B", "lower", _TAIL_LAT),
    "streaming.batches": ("count", "lower", _TAIL_LAT),
    "streaming.rows_per_batch_p50": ("count", "higher", _TAIL_LAT),
    "streaming.trigger_ms_p50": ("ms", "lower", _TAIL_LAT),
    "streaming.add_batch_ms_p50": ("ms", "lower", _TAIL_LAT),
    "streaming.query_planning_ms_p50": ("ms", "lower", _TAIL_LAT),
    "streaming.latest_offset_ms_p50": ("ms", "lower", _TAIL_LAT),
    "streaming.get_batch_ms_p50": ("ms", "lower", _TAIL_LAT),
    "streaming.wal_commit_ms_p50": ("ms", "lower", _TAIL_LAT),
    "streaming.commit_offsets_ms_p50": ("ms", "lower", _TAIL_LAT),
    "streaming.queue_wait_ms_p50": ("ms", "lower", _TAIL_LAT),
    "streaming.backlog_files_max": ("count", "lower", _TAIL_LAT),
    "streaming.start_ms": ("ms", "lower", "setup_s on cdc_tail"),
    "streaming.stop_ms": ("ms", "lower", "- (runs after the window)"),
    "streaming.jobs_per_batch": ("count", "lower", _TAIL_LAT),
    "streaming.task_cpu_ms_per_batch": ("ms", "lower", _TAIL_LAT),
    "streaming.shuffle_bytes_per_batch": ("B", "lower", _TAIL_LAT),
    "streaming.driver_gap_ms_per_batch": ("ms", "lower", _TAIL_LAT),
    "operators.python_ms": ("ms", "lower", _VECTOR),
    "operators.python_bytes": ("B", "lower", _VECTOR),
    "operators.python_worker_peak_rss_mb": ("MB", "lower", "run.peak_rss_mb on vector_dedup"),
    **{
        f"queries.{q}_{m}": (unit, "lower", _VECTOR)
        for q in VECTOR_QUERIES
        for m, unit in (("ms", "ms"), ("jobs", "count"), ("shuffle_bytes", "B"))
    },
    "spark.cpu_run_ratio": ("ratio", "higher", "-"),
    # Peak RSS of the process tree. Not an end-to-end metric with a bound:
    # the JVM heap grows under the collector's adaptive sizing, so its peak
    # (most of the RSS) varies more from run to run than any allowed bound.
    "run.peak_rss_mb": ("MB", "lower", "-"),
    "spark.heap_peak_mb": ("MB", "lower", "run.peak_rss_mb on every workload"),
    "spark.gc_ms": ("ms", "lower", "-"),
    "spark.fetch_wait_ms": ("ms", "lower", "-"),
    "loadgen.late_ms_max": ("ms", "lower", "-"),
    "run.loadavg_start": ("load", "lower", "-"),
    "run.steal_share": ("ratio", "lower", "-"),
    "trace.overhead_setup_s": ("s", "lower", "-"),
    "trace.overhead_latency_p50_ms": ("ms", "lower", "-"),
    "trace.overhead_records_per_s": ("1/s", "higher", "-"),
}
