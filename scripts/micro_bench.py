#!/usr/bin/env python3
"""Targeted per-key micro-bench: bench.py's session, untimed prelude,
per-block probe pair, timed reps and leak guard — the same functions,
not a copy — for closing per-key watch items without paying a full
bench run. Probes run BEFORE and AFTER the reps, so the load on both
axes is recorded, not inferred.

Usage:
    python scripts/micro_bench.py --keys sim_maxsim_ann[,key2,...]
                                  [--sf /root/testdata/sf0.1] [--reps 3]

Prints one line per key plus a compact JSON tail. Exit 0 always —
adjudication against the BASELINE.md bands is the reader's job. The
probe ratios are against bench.py's reference constants; read them
against a probe run on the same host, not as absolute cleanliness.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

import bench  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    keys = [k for k in args.keys.split(",") if k]

    from fintech_data_lake_as_code_spark.registry import all_queries
    from fintech_data_lake_as_code_spark.session import get_spark

    spark = get_spark("fintech-data-lake-microbench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    unknown = [k for k in keys if k not in queries]
    if unknown:
        ap.error(f"unknown keys: {unknown}")

    bench.prelude(spark, args.sf, queries)
    guard = bench.LeakGuard(spark)
    pre_cpu, pre_shuf = bench.block_probes(spark)
    out: dict[str, dict] = {}
    for key in keys:
        runs = [
            round(r, 3)
            for r in bench.time_key(
                spark, args.sf, key, queries[key], guard, args.reps
            )
        ]
        med = sorted(runs)[len(runs) // 2]
        out[key] = {"median": med, "runs": runs}
        # leading newline: progress-bar carriage returns can swallow a
        # plain line when the output is piped through grep
        sys.stdout.write(
            f"\nMICRO {key}: median {med:.3f}s of "
            + "/".join(f"{r:.3f}" for r in runs)
            + "\n"
        )
        sys.stdout.flush()
    post_cpu, post_shuf = bench.block_probes(spark)
    summary = {
        "keys": out,
        "sf_dir": args.sf,
        "pre": {"cpu_ratio": pre_cpu, "shuffle_ratio": pre_shuf},
        "post": {"cpu_ratio": post_cpu, "shuffle_ratio": post_shuf},
        "cache_leaks": guard.cache_leaks,
        "resident_checkpoints_dropped": guard.resident_checkpoints,
    }
    sys.stdout.write("\nMICROBENCH " + json.dumps(summary) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
