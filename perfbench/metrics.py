"""Metric names and units the benchmark prints; ``BENCHMARK.json``
declares the same names (checked by ``test_perfbench.py``).

End-to-end metrics have one meaning per workload:

=============  ===================================  ======================================
metric         analyst_sf0.1                        alerts_stream
=============  ===================================  ======================================
setup_s        process start to ready: session start plus one warm-up operation at
               another path (input generation excluded, reported as
               ``generator.inputs_s``)
cold_s         first pass over an unseen corpus     query start to the lead-in file's
               path                                 micro-batch committed
warm_s         median warm pass                     median drain time of one flood block
                                                    (16k events; ``streaming.eps``)
p50_s          per-query p50 over warm passes       paced alert latency p50
tail_s         per-query p90 over warm passes       median over paced micro-batches
                                                    of the batch's longest alert
                                                    latency (p95 over all alerts is
                                                    ``streaming.latency_p95_s``)
=============  ===================================  ======================================

Peak resident memory is a per-layer metric (``process.peak_rss_mb``): it
spread by 20-60 % across seeds because the JVM heap grows with garbage
collection timing, wider than any bound the benchmark could hold.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "p50_s": "s",
    "tail_s": "s",
}

#: name -> (unit, better).  A workload reports 0 for a layer it does not
#: run (no micro-batches on the analyst workload, no registry builds on
#: the stream).
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "registry.build_s": ("s", "lower"),
    "registry.build_jobs": ("count", "lower"),
    "registry.memo_hit_ratio": ("1", "higher"),
    "sources.scan_bytes": ("bytes", "lower"),
    "sources.parquet_scans": ("count", "lower"),
    "sources.cached_scans": ("count", "higher"),
    "operators.exec_s": ("s", "lower"),
    "operators.jobs": ("count", "lower"),
    "operators.stages": ("count", "lower"),
    "operators.tasks": ("count", "lower"),
    "operators.deser_s": ("s", "lower"),
    "operators.idle_core_s": ("s", "lower"),
    "operators.task_s": ("s", "lower"),
    "operators.gc_s": ("s", "lower"),
    "operators.spill_bytes": ("bytes", "lower"),
    "operators.shuffle_read_bytes": ("bytes", "lower"),
    "operators.shuffle_write_bytes": ("bytes", "lower"),
    "operators.python_s": ("s", "lower"),
    "operators.python_bytes": ("bytes", "lower"),
    "operators.python_boot_s": ("s", "lower"),
    "operators.failed_tasks": ("count", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.empty_batches": ("count", "lower"),
    "streaming.trigger_p50_s": ("s", "lower"),
    "streaming.trigger_p95_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.planning_s": ("s", "lower"),
    "streaming.offsets_s": ("s", "lower"),
    "streaming.commit_s": ("s", "lower"),
    "streaming.rows_per_batch": ("rows", "higher"),
    "streaming.state_rows": ("rows", "lower"),
    "streaming.state_bytes": ("bytes", "lower"),
    "streaming.state_commit_s": ("s", "lower"),
    "streaming.python_s": ("s", "lower"),
    "streaming.late_dropped": ("count", "lower"),
    "streaming.dedup_dropped": ("count", "higher"),
    "streaming.backlog_files_max": ("count", "lower"),
    "streaming.latency_p95_s": ("s", "lower"),
    "streaming.eps": ("events/s", "higher"),
    "generator.lag_max_s": ("s", "lower"),
    "generator.inputs_s": ("s", "lower"),
    "check.mismatches": ("count", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "trace.coverage": ("1", "higher"),
    "trace.warm_s": ("s", "lower"),
}
