"""The benchmark's metric catalogue: names, units and direction.

``BENCHMARK.json`` lists the same metrics; a test keeps the two equal.
Per-layer metrics that a workload does not exercise read 0 on it.
"""

from __future__ import annotations

# (name, unit, better, bound)
# bounds: the largest for set-up; the timing bounds allow for a 4-core
# host whose speed drifts by up to a fifth within minutes; with the young
# generation fixed, peak RSS varied by about 2% across ten seeds
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.24),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("rows_per_s", "1/s", "higher", 0.24),
    ("latency_p50_s", "s", "lower", 0.24),
    ("latency_p80_s", "s", "lower", 0.24),
]

BATCH_QUERIES = [
    "q01_pricing_summary",
    "q_connected_components",
    "q_recipe",
]

# public operator functions wrapped in spans, as module.function
OPS = [
    "dedup.minhash_lsh_pairs",
    "graphs.connected_components",
    "text.c4_filter",
    "dedup.dedup_lines_global",
    "bpe.bpe_encode",
    "packing.pack_no_straddle",
    "packing.materialize_sequences",
]

EXEC_FIELDS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("run_ms", "ms"), ("cpu_ms", "ms"), ("gc_ms", "ms"), ("deser_ms", "ms"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("input_bytes", "bytes"), ("cpu_util", "ratio"),
]

STREAM_FIELDS = [
    ("add_batch_ms_p50", "ms", "lower"),
    ("trigger_ms_p50", "ms", "lower"),
    ("planning_ms_p50", "ms", "lower"),
    ("wal_commit_ms_p50", "ms", "lower"),
    ("state_rows", "count", "lower"),
    ("snapshot_rows", "count", "lower"),
    ("log_rows", "count", "lower"),
    ("sink_bytes_written", "bytes", "lower"),
    ("jobs_per_batch", "count", "lower"),
    ("backlog_files_max", "count", "lower"),
    ("generator_lag_s", "s", "lower"),
]


def per_layer() -> list[tuple[str, str, str]]:
    out = [
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
    ]
    for q in BATCH_QUERIES:
        out += [(f"{q}.wall_s", "s", "lower"), (f"{q}.jobs", "count", "lower")]
    out += [("plan.build_s", "s", "lower"), ("plan.build_jobs", "count", "lower")]
    out += [
        (f"exec.{name}", unit, "higher" if name == "cpu_util" else "lower")
        for name, unit in EXEC_FIELDS
    ]
    out += [
        ("pyworker.run_ms", "ms", "lower"),
        ("pyworker.init_ms", "ms", "lower"),
        ("pyworker.bytes_sent", "bytes", "lower"),
        ("pyworker.bytes_returned", "bytes", "lower"),
    ]
    for op in OPS:
        out += [
            (f"op.{op}.s", "s", "lower"),
            (f"op.{op}.jobs", "count", "lower"),
            (f"op.{op}.cpu_ms", "ms", "lower"),
        ]
    out += [(f"stream.{n}", u, b) for n, u, b in STREAM_FIELDS]
    out += [
        ("lsh.recall.q_connected_components", "ratio", "higher"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.span_coverage", "ratio", "higher"),
    ]
    return out


def report(values: dict[str, float], catalogue) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for every catalogue metric; a metric
    the workload did not produce reads 0."""
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit, *_ in catalogue
    }
