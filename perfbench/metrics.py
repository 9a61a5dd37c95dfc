"""The benchmark's metric catalog.

`BENCHMARK.json` lists these names, units and directions; the test
suite checks that it does. Each per-layer metric names the module layer
it measures and the end-to-end metric and workload it should move.
Counters and times of the per-layer set are totals of one pass (every
workload key once), read in a separate traced run.
"""

from __future__ import annotations

# name -> (unit, better, bound, what it is)
END_TO_END = {
    "setup_s": (
        "s", "lower", 0.25,
        "session start + write-once prelude + one warm pass of every key",
    ),
    "query_p50_s": ("s", "lower", 0.25, "median operation latency in the window"),
    "query_tail_s": (
        "s", "lower", 0.25,
        "highest percentile with >= 10 samples above it, never below p50",
    ),
    "queries_per_min": ("1/min", "higher", 0.25, "operations completed per minute"),
    "ok_frac": (
        "frac", "higher", 0.01,
        "operations that neither raised nor failed their oracle check",
    ),
    "peak_rss_mb": (
        "MB", "lower", 0.25,
        "peak memory (PSS) of the driver JVM plus its Python workers",
    ),
}

# name -> (unit, better, layer, moves: end-to-end metric on workload)
PER_LAYER = {
    "session.start_s": ("s", "lower", "session.get_spark", "setup_s, all"),
    "session.warm_s": ("s", "lower", "prelude + warm pass", "setup_s, all"),
    "build.s": (
        "s", "lower", "registry callables",
        "query_tail_s, queries_per_min on llm_curation; query_p50_s on cdc_ingest",
    ),
    "build.jobs": (
        "count", "lower", "registry callables",
        "queries_per_min on llm_curation; stream.microbatch_p50_s on cdc_ingest",
    ),
    "build.share": (
        "frac", "lower", "registry callables", "queries_per_min, all",
    ),
    "plan.s": ("s", "lower", "Catalyst", "query_p50_s, all"),
    "plan.exchanges": ("count", "lower", "Catalyst", "query_p50_s, all"),
    "plan.sort_merge_joins": ("count", "lower", "Catalyst", "query_p50_s, all"),
    "plan.broadcast_joins": ("count", "higher", "Catalyst", "query_p50_s, all"),
    "plan.python_nodes": ("count", "lower", "Catalyst", "queries_per_min on llm_curation"),
    "sched.jobs": ("count", "lower", "scheduler", "query_p50_s, all"),
    "sched.stages": ("count", "lower", "scheduler", "query_p50_s, all"),
    "sched.tasks": ("count", "lower", "scheduler", "query_p50_s, all"),
    "sched.tasks_per_mb": ("1/MB", "lower", "scheduler", "query_p50_s, all"),
    "sched.idle_frac": ("frac", "lower", "scheduler", "query_p50_s, all"),
    "exec.run_s": ("s", "lower", "executor", "query_tail_s on llm_curation"),
    "exec.cpu_s": ("s", "lower", "executor", "query_tail_s on llm_curation"),
    "exec.gc_s": ("s", "lower", "executor", "query_tail_s, peak_rss_mb, all"),
    "exec.cpu_frac": ("frac", "higher", "executor", "query_tail_s on llm_curation"),
    "shuffle.write_bytes": (
        "B", "lower", "shuffle", "query_tail_s on llm_curation (dedup_incremental)",
    ),
    "shuffle.read_bytes": (
        "B", "lower", "shuffle", "query_tail_s on llm_curation (dedup_incremental)",
    ),
    "shuffle.fetch_wait_s": ("s", "lower", "shuffle", "query_tail_s, all"),
    "spill.disk_bytes": ("B", "lower", "shuffle", "query_tail_s, all"),
    "python.total_s": (
        "s", "lower", "functions.udfs / Python workers", "queries_per_min on llm_curation",
    ),
    "python.boot_s": (
        "s", "lower", "functions.udfs / Python workers", "queries_per_min on llm_curation",
    ),
    "python.init_s": (
        "s", "lower", "functions.udfs / Python workers", "queries_per_min on llm_curation",
    ),
    "python.bytes_sent": (
        "B", "lower", "functions.udfs / Python workers", "queries_per_min on llm_curation",
    ),
    "python.bytes_received": (
        "B", "lower", "functions.udfs / Python workers", "queries_per_min on llm_curation",
    ),
    "stream.batches": ("count", "lower", "streaming.queries", "query_p50_s on cdc_ingest"),
    "stream.add_batch_s": ("s", "lower", "streaming.queries", "query_p50_s on cdc_ingest"),
    "stream.commit_s": ("s", "lower", "streaming.queries", "query_p50_s on cdc_ingest"),
    "stream.input_rows": ("count", "lower", "streaming.queries", "query_p50_s on cdc_ingest"),
    "stream.state_rows": ("count", "lower", "streaming.queries", "peak_rss_mb on cdc_ingest"),
    "stream.state_bytes": ("B", "lower", "streaming.queries", "peak_rss_mb on cdc_ingest"),
    "stream.microbatch_p50_s": (
        "s", "lower", "streaming.queries", "query_p50_s on cdc_ingest",
    ),
    "stream.microbatch_tail_s": (
        "s", "lower", "streaming.queries", "query_tail_s on cdc_ingest",
    ),
    "io.input_bytes": ("B", "lower", "io", "query_p50_s, all"),
    "io.input_rows": ("count", "lower", "io", "query_p50_s, all"),
    "io.output_bytes": ("B", "lower", "io", "query_p50_s on cdc_ingest"),
    "io.scratch_bytes": ("B", "lower", "io", "query_p50_s on cdc_ingest"),
    "io.write_amp": ("B/B", "lower", "io", "query_p50_s on cdc_ingest"),
    "cache.leaked_rdds": ("count", "lower", "io cache release", "none; must be 0"),
    "cache.resident_checkpoints": (
        "count", "lower", "io cache release", "none; must stay constant",
    ),
    "env.nproc": ("count", "higher", "environment", "none; explains a run"),
    "env.loadavg": ("load", "lower", "environment", "none; explains a run"),
    "env.cpu_probe_s": ("s", "lower", "environment", "none; explains a run"),
    "env.cpu_probe_post_s": ("s", "lower", "environment", "none; explains a run"),
    "env.shuffle_probe_s": ("s", "lower", "environment", "none; explains a run"),
    "env.shuffle_probe_post_s": ("s", "lower", "environment", "none; explains a run"),
    "mem.jvm_heap_peak_mb": (
        "MB", "lower", "driver JVM heap", "peak_rss_mb, all (hidden there by the 1g cap)",
    ),
    "trace.read_frac": ("frac", "lower", "tracing", "none; explains a run"),
}


def unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name][0]
    return PER_LAYER[name][0]


RUN_SECONDS = 3


def spec() -> dict:
    """The contents `BENCHMARK.json` must have."""
    from perfbench.workloads import WORKLOADS

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w, "why": WORKLOADS[w]["why"]} for w in WORKLOADS],
        "end_to_end": [
            {"name": k, "unit": u, "better": b, "bound": bound}
            for k, (u, b, bound, _) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": k, "unit": u, "better": b} for k, (u, b, _, _) in PER_LAYER.items()
        ],
    }


if __name__ == "__main__":
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(spec(), indent=2))
