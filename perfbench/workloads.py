"""The benchmark's workloads and the per-layer metrics a traced run prints."""

# the Kneser-Ney 5-gram LM: word-shingle and n-gram kernels, 13 eager
# checkpoint build jobs and 36 exchanges a pass
CURATION_QUERIES = ["fivegram_surprisal_kn"]

WORKLOADS = {
    "curation_batch": {
        "kind": "batch", "queries": CURATION_QUERIES, "tables": ["documents"],
        "warmup_passes": 2,
        "min_warm_passes": 3,
    },
    "sensor_stream": {
        "kind": "stream", "nominal_eps": 5000, "warmup_s": 6.0,
        "ladder": [80000], "rung_s": 3.0,
    },
}

PER_LAYER = [
    ("core.session_s", "s"), ("core.scan_bytes", "bytes"), ("core.scan_rows", "count"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("plans.analysis_s", "s"), ("plans.optimize_s", "s"), ("plans.physical_s", "s"),
    ("plans.graft_rules_s", "s"), ("plans.exchanges", "count"),
    ("plans.codegen_stages", "count"),
    ("exec.s", "s"), ("exec.task_cpu_s", "s"), ("exec.task_run_s", "s"), ("exec.gc_s", "s"),
    ("exec.busy_frac", "ratio"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_overhead_s", "s"), ("exec.codegen_compiles", "count"),
    ("exec.codegen_compile_s", "s"), ("exec.speedup_vs_1core", "ratio"),
    ("functions.shingles_rows_per_s", "1/s"), ("functions.ngram_rows_per_s", "1/s"),
    ("functions.intersect_rows_per_s", "1/s"), ("functions.dot_rows_per_s", "1/s"),
    ("stream.trigger_ms_p50", "ms"), ("stream.addbatch_ms_p50", "ms"),
    ("stream.planning_ms_p50", "ms"), ("stream.walcommit_ms_p50", "ms"),
    ("stream.state_rows", "count"), ("stream.state_bytes", "bytes"),
    ("stream.state_commit_ms_p50", "ms"), ("stream.rows_per_batch_p50", "count"),
    ("stream.backlog_rows_max", "count"), ("stream.late_dropped", "count"),
    ("gen.lag_tail_ms", "ms"), ("trace.overhead_frac", "ratio"),
    ("trace.unaccounted_frac", "ratio"), ("counts.mismatch", "count"),
    ("failed_frac", "ratio"), ("host.load1_start", "load"), ("host.load1_end", "load"),
    ("host.steal_frac", "ratio"),
    ("cold.cpu_s", "s"), ("jit.cold_cpu_s", "s"), ("jit.warm_cpu_s", "s"),
    ("wall.cold_s", "s"), ("wall.warm_s", "s"), ("wall.lat_p50_ms", "ms"),
    ("wall.lat_tail_ms", "ms"), ("wall.throughput_per_s", "1/s"),
]
