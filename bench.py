#!/usr/bin/env python3
"""Benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints a bulky
per-key detail JSON line followed by the compact driver-contract summary
as the LAST line (tail-capture-safe):
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query executes fully (noop sink — no driver-side collect) so the
measured time is scan+shuffle+compute, which is what scales to the cluster.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# Median of the calibration probe on an idle local[32] sandbox (measured
# round 6). If the hardware profile changes, re-measure and update.
_CAL_REF_SEC = 0.18

# Median of the SHUFFLE calibration probe (measured round 12 — see
# probe_shuffle). The CPU probe above is pure codegen and blind to
# degraded shuffle/disk service: twice (r10 extras, r12 headline) a
# uniform inflation of shuffle-heavy keys with a flat CPU ratio took
# extra adjudication because nothing in the artifact distinguished
# "box I/O degraded" from "operator regressed". The ratio pair
# separates the cases: CPU flat + shuffle high => environment;
# both flat + one key moved => real regression.
_SHUF_REF_SEC = 0.79

# The timed blocks, in run order: (tag, keys, summary total field).
# Headline: one representative per heavy operator family, cheap scan
# first (warms the JVM/code paths). The extras blocks are FROZEN: each
# holds the keys that graduated at one freeze and is summed into its own
# tracked total, so a regression there moves a recorded aggregate while
# the headline total stays comparable to BASELINE.md. Do not append to a
# frozen block — new keys go in "fresh" (timed and reported, part of no
# frozen total) until the next freeze adds a block.
BLOCKS: tuple[tuple[str, tuple[str, ...], str], ...] = (
    (
        "headline",
        (
            "scan_parquet",
            "agg_groupby",
            "agg_rollup_cube_gsets",
            "agg_maxby_latest",
            "join_multiway",
            "join_bucketed_colocated",
            "join_skew_salted",
            "join_asof_backward",
            "join_range_banded",
            "cdc_incremental_agg",
            "topk_per_group",
            "win_running_frame",
            "win_range_interval",
            "rule_b1_city_hop",
            "rule_b3_overdraft_freeze",
            "udf_vectorized_agg",
            "dedup_exact",
            "dedup_near_minhash",
            "dedup_incremental",
            "dedup_cluster_cc",
            "sim_topk_cosine",
            "text_stats",
        ),
        "value",
    ),
    (
        "extra",
        (
            "text_decontaminate",
            "dedup_containment",
            "agg_retention_cohort",
            "profile_columns",
            "sample_weighted_priority",
            "dedup_paragraph",
            "subquery_family",
            "sim_topk_ivf_kmeans",
            "sample_temperature_mix",
            "win_anomaly_zscore",
            "text_repetition_gopher",
            "graph_triangle_count",
            "win_ewma",
            "dedup_semantic_cluster",
        ),
        "extras_total",
    ),
    (
        "extra-v3",
        ("stream_observe_metrics", "stream_python_datasource", "text_bpe_tokenize"),
        "extras_v3_total",
    ),
    # contract-verification-dominated: the registered query runs the ANN
    # path PLUS the exact all-pairs form to grade recall
    ("extra-v4", ("sim_maxsim_ann",), "extras_v4_total"),
    # micro-batch-dominated: four real foreachBatch probe+admit cycles
    ("extra-v5", ("stream_dedup_incremental",), "extras_v5_total"),
    # scan-dominated: the pyavro seed read back through the DataSource
    ("extra-v6", ("scan_avro",), "extras_v6_total"),
    ("fresh", (), "fresh_total"),
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from fintech_data_lake_as_code_spark.registry import all_queries
    from fintech_data_lake_as_code_spark.session import get_spark

    spark = get_spark("fintech-data-lake-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    prelude(spark, sf_dir, queries)

    cal_sec = median_seconds(probe_cpu, spark, 5)
    cal_ratio = round(cal_sec / _CAL_REF_SEC, 3)
    shuf_sec = median_seconds(probe_shuffle, spark, 5)
    shuf_ratio = round(shuf_sec / _SHUF_REF_SEC, 3)
    shuffle_attempts = [shuf_ratio]
    while shuf_ratio > SHUF_DEGRADED and len(shuffle_attempts) < 4:
        print(
            f"# shuffle probe degraded (ratio {shuf_ratio:.2f} > "
            f"{SHUF_DEGRADED}); waiting 20s and re-probing",
            file=sys.stderr,
        )
        time.sleep(20)
        shuf_sec = median_seconds(probe_shuffle, spark, 5)
        shuf_ratio = round(shuf_sec / _SHUF_REF_SEC, 3)
        shuffle_attempts.append(shuf_ratio)
    print(
        f"# calibration: median {cal_sec:.3f}s (ref {_CAL_REF_SEC}s, "
        f"ratio {cal_ratio:.2f}); shuffle {shuf_sec:.3f}s "
        f"(ref {_SHUF_REF_SEC}s, ratio {shuf_ratio:.2f}, "
        f"attempts {shuffle_attempts})",
        file=sys.stderr,
    )

    guard = LeakGuard(spark)
    timed: dict[str, dict[str, float]] = {}
    block_cpu: dict[str, float] = {}
    block_shuffle: dict[str, float] = {}
    for tag, keys, _ in BLOCKS:
        if keys:
            block_cpu[tag], block_shuffle[tag] = block_probes(spark)
        timed[tag] = time_block(spark, sf_dir, queries, tag, keys, guard)

    # Re-probe AFTER the timed loops: background load arriving mid-run
    # inflates late queries while the start-of-run probe shows an idle
    # box. A post-ratio far above the pre-ratio marks the run as
    # load-contaminated; normalization stays on the PRE ratio for
    # cross-round comparability.
    cal_post_sec = median_seconds(probe_cpu, spark, 5)
    cal_post_ratio = round(cal_post_sec / _CAL_REF_SEC, 3)
    shuf_post_sec = median_seconds(probe_shuffle, spark, 5)
    shuf_post_ratio = round(shuf_post_sec / _SHUF_REF_SEC, 3)
    print(
        f"# calibration (post): median {cal_post_sec:.3f}s "
        f"(ratio {cal_post_ratio:.2f}); shuffle {shuf_post_sec:.3f}s "
        f"(ratio {shuf_post_ratio:.2f})",
        file=sys.stderr,
    )

    sf_name = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf = float(sf_name)
    except ValueError:
        sf = sf_name
    summary = build_summary(
        sf,
        timed,
        cal_ratio,
        cal_post_ratio,
        shuf_ratio,
        shuf_post_ratio,
        guard.cache_leaks,
        len(shuffle_attempts) - 1,
    )

    def normalized(vals: dict[str, float]) -> dict[str, float]:
        return {k: round(v / cal_ratio, 3) for k, v in vals.items()}

    # detail name of a block: its summary field minus "_total"
    named = {field[: -len("_total")]: timed[tag] for tag, _, field in BLOCKS[1:]}
    detail = {
        "detail": {
            "calibration": {
                "probe": "range(2e8) two-sum codegen, median of 5",
                "sec": cal_sec,
                "ref_sec": _CAL_REF_SEC,
                "ratio": cal_ratio,
                "post_sec": cal_post_sec,
                "post_ratio": cal_post_ratio,
                "shuffle_probe": "range(2e7) 64-part repartition sum,"
                " median of 5",
                "shuffle_sec": shuf_sec,
                "shuffle_ref_sec": _SHUF_REF_SEC,
                "shuffle_ratio": shuf_ratio,
                "shuffle_post_sec": shuf_post_sec,
                "shuffle_post_ratio": shuf_post_ratio,
            },
            "queries_normalized": normalized(timed["headline"]),
            "extras": named["extras"],
            "extras_total_normalized": round(
                summary["extras_total"] / cal_ratio, 3
            ),
            **{name: vals for name, vals in named.items() if name != "extras"},
            # per-key CPU-ratio normalization for cross-round comparison;
            # shuffle degradation stays visible via the shuffle ratios.
            # The first extras block was the headline's second version,
            # hence its label "v2".
            "extras_normalized": {
                ("v2" if name == "extras" else name.removeprefix("extras_")):
                normalized(vals)
                for name, vals in named.items()
            },
            "shuffle_probe_attempts": shuffle_attempts,
            "block_shuffle_ratios": block_shuffle,
            "block_cpu_ratios": block_cpu,
            "cache_leaks": guard.cache_leaks,
            "resident_checkpoints_dropped": guard.resident_checkpoints,
        }
    }
    # The bench's stdout is read from a TAIL capture, so a single giant
    # JSON line loses its head. Emit the bulky per-key detail FIRST (its
    # loss is tolerable), then the compact summary as the LAST, short
    # line: a tail capture always keeps line ends, so the summary
    # survives intact and stays parseable.
    print(json.dumps(detail))
    print(json.dumps(summary))
    spark.stop()


# Per-query MEDIAN of N_RUNS runs: single-shot timings on this box swing
# +/-30% with background load; medians are what regressions are graded
# against. A block total is the sum of its medians.
N_RUNS = 3

# Pre-run shuffle ratio above which the run waits 20 s and re-probes
# (up to 3 times): transient co-tenant load often drains. The run
# proceeds on the LAST probe either way, with the attempt trail recorded.
SHUF_DEGRADED = 1.15


def _median(runs: list[float]) -> float:
    return round(sorted(runs)[len(runs) // 2], 3)


def prelude(spark, sf_dir: str, queries: dict) -> None:
    """Untimed warm-up, run before any probe or timed rep, so no timed
    median is charged session startup or a one-time artifact build."""
    # JVM / codegen / file-index paths
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    # Pre-spawn the Arrow Python workers (one per core, reused afterwards via
    # spark.python.worker.reuse): otherwise the first Pandas-UDF query is
    # charged ~1-2 s of interpreter fork+import instead of its own work.
    from pyspark.sql.functions import pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    cores = spark.sparkContext.defaultParallelism
    # sum() over the UDF output forces evaluation — a bare count() would
    # let the optimizer prune the UDF and spawn no workers at all
    spark.range(cores * 4).repartition(cores).select(
        _warm("id").alias("v")
    ).agg({"v": "sum"}).collect()
    # Warm the page cache of every headline input once — steady-state scans
    # are what a resident lake serves. hash(*) touches every column so the
    # scan decompresses real data pages (count() alone answers from footer
    # metadata and warms nothing). io.load, not raw spark.read:
    # events.parquet is TIMESTAMP(NANOS) and needs the loader's handling.
    from fintech_data_lake_as_code_spark.io import load

    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        load(spark, sf_dir, t).selectExpr("sum(hash(*))").collect()
    # The bucketed lake layout is a WRITE-ONCE cost amortized over every
    # future co-located join (that is the whole point of bucketing); build
    # it outside the timing loop so the bench measures the recurring query
    # cost, not the one-time layout migration.
    from fintech_data_lake_as_code_spark.operators.scale import _bucketed_table

    _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    # The shared shingle index and its sibling memos are one-time derived
    # artifacts (dedup.py::_SESSION_MEMOS). Warm ALL of them here: the
    # LeakGuard snapshots the sanctioned persistent-RDD set once, after
    # this prelude, so a memo populated inside a timed rep would be
    # unpersisted after rep 1 and silently recomputed every later rep.
    from fintech_data_lake_as_code_spark.operators.dedup import (
        warm_session_memos,
    )

    warm_session_memos(spark, sf_dir)
    # Seed the streaming landing zones untimed: a fingerprint-forced
    # reseed is a one-time landing write that would otherwise land inside
    # the first timed run of whichever streaming key touches it first.
    # Marker-guarded, so when the seeds are current these cost one marker
    # read each.
    from fintech_data_lake_as_code_spark.streaming.queries import (
        _docs_json_dir,
        _events_json_dir,
    )

    _events_json_dir(spark, sf_dir)
    _docs_json_dir(spark, sf_dir)
    # One untimed pass of the iterative CC query: its first invocation
    # pays whole-stage-codegen compilation for the per-round loop plans
    # and the localCheckpoint machinery (observed 2x the steady-state
    # median); the timed reps then measure the recurring cost.
    queries["dedup_cluster_cc"](spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()


# Noise calibration: two fixed, IO-free probes whose runtime depends only
# on the box's available CPU / shuffle service, never on engine code.
# Their ratios to _CAL_REF_SEC / _SHUF_REF_SEC separate box load (uniform
# inflation of everything, probes included) from real regressions (one
# query moves, the probes don't).


def probe_cpu(spark) -> None:
    """Pure-codegen probe: range(2e8) two-sum."""
    spark.range(200_000_000).selectExpr(
        "sum(id % 7)", "sum(id * 3 + 1)"
    ).collect()


def probe_shuffle(spark) -> None:
    """One full shuffle write+fetch cycle (64 map x 64 reduce over 20M
    longs): times the shuffle-file service the CPU probe can't see."""
    spark.range(20_000_000).repartition(64, "id").selectExpr(
        "sum(id)"
    ).collect()


def median_seconds(probe, spark, reps: int) -> float:
    """Median wall seconds of `reps` runs of a probe."""
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        probe(spark)
        runs.append(time.perf_counter() - t0)
    return _median(runs)


def block_probes(spark) -> tuple[float, float]:
    """(cpu_ratio, shuffle_ratio) of one block: median of 3 quick reps
    per probe. A run-wide pre/post pair can't localize WHICH block ran
    under mid-run load; single shots spread with one GC pause, which the
    median suppresses."""
    shuf = median_seconds(probe_shuffle, spark, 3)
    cpu = median_seconds(probe_cpu, spark, 3)
    return round(cpu / _CAL_REF_SEC, 3), round(shuf / _SHUF_REF_SEC, 3)


class LeakGuard:
    """Keeps a timed median from riding CacheManager reuse of blocks a
    previous rep leaked (a leaked cache once halved a recorded median).

    Everything persisted before construction (the prelude's shared
    artifacts) is SANCTIONED session-lifetime reuse. After each timed
    rep, every other persistent RDD is dropped and counted against the
    key: in `cache_leaks`, or in `resident_checkpoints` when it is a
    localCheckpoint block backing a RETURNED result (the CC/PageRank
    loops' final round) — the result's own storage, not a leak, so
    `cache_leaks` stays the pure alarm signal."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc
        self.sanctioned = {
            int(k) for k in self._jsc.getPersistentRDDs().keySet().toArray()
        }
        self.cache_leaks: dict[str, int] = {}
        self.resident_checkpoints: dict[str, int] = {}

    def __call__(self, key: str) -> None:
        jmap = self._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) in self.sanctioned:
                continue
            jrdd = jmap.get(k)
            bucket = (
                self.resident_checkpoints
                if jrdd.rdd().isLocallyCheckpointed()
                else self.cache_leaks
            )
            jrdd.unpersist(False)
            bucket[key] = bucket.get(key, 0) + 1


def time_key(
    spark, sf_dir: str, key: str, fn, guard: LeakGuard, reps: int = N_RUNS
) -> list[float]:
    """Wall seconds of `reps` full executions of one query into a noop
    sink (scan+shuffle+compute, nothing collected), with the leak guard
    after each rep."""
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        runs.append(time.perf_counter() - t0)
        guard(key)
    return runs


def time_block(
    spark, sf_dir: str, queries: dict, tag: str, keys, guard: LeakGuard
) -> dict[str, float]:
    """Per-key median of N_RUNS timed reps; unregistered keys are
    skipped (tests pin every block key to the registry)."""
    out: dict[str, float] = {}
    for key in keys:
        fn = queries.get(key)
        if fn is None:
            continue
        runs = time_key(spark, sf_dir, key, fn, guard)
        out[key] = _median(runs)
        print(
            f"# {tag} {key}: median {out[key]:.3f}s of "
            + "/".join(f"{r:.3f}" for r in runs),
            file=sys.stderr,
        )
    return out


# Conservative bound on the driver's tail capture; the real window is
# larger, but the summary has no business growing anywhere near it —
# tests/test_fixtures_contract.py pins this with the full headline set.
SUMMARY_LINE_BUDGET = 4096


def build_summary(
    sf,
    timed: dict[str, dict[str, float]],
    cal_ratio: float,
    cal_post_ratio: float,
    shuffle_ratio: float,
    shuffle_post_ratio: float,
    cache_leaks: dict[str, int],
    shuffle_probe_retries: int,
) -> dict:
    """The compact driver-contract result: everything the per-round
    BENCH artifact must retain, and nothing bulky. `timed` maps each
    BLOCKS tag to its per-key medians. Must stay within
    SUMMARY_LINE_BUDGET when JSON-encoded (test-pinned) so a tail
    capture can never truncate the headline value.

    `calibration_post_ratio` is the end-of-run load probe: far above
    `calibration_ratio` means background load arrived mid-run and the
    LATE blocks are inflated while the early headline stays flat. The
    shuffle ratios (pre/post) cover degraded shuffle/disk I/O that the
    CPU ratios are blind to. `cache_leaks` names keys whose timed reps
    left persistent RDDs behind; it MUST be {} on a healthy run.
    `shuffle_probe_retries` (omitted when 0) counts the re-probes of a
    degraded pre-run shuffle probe."""
    totals = {
        field: round(sum(timed[tag].values()), 3) for tag, _, field in BLOCKS
    }
    total = totals.pop("value")
    # extras_v6_total joined the line after fresh_total; the line's key
    # order is part of the contract
    totals["extras_v6_total"] = totals.pop("extras_v6_total")
    out = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timed["headline"],
        "sf": sf,
        "value_normalized": round(total / cal_ratio, 3),
        "calibration_ratio": cal_ratio,
        **totals,
        "calibration_post_ratio": cal_post_ratio,
        "calibration_shuffle_ratio": shuffle_ratio,
        "calibration_shuffle_post_ratio": shuffle_post_ratio,
        "cache_leaks": cache_leaks,
    }
    if shuffle_probe_retries:
        out["shuffle_probe_retries"] = shuffle_probe_retries
    return out


if __name__ == "__main__":
    main()
