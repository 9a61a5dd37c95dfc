"""Testdata-contract assertions (FIXTURES.md): the driver regenerates the
parquet fixtures every round and column types/values have drifted before
(events.ts TIMESTAMP(NANOS)). Operators encode some of these assumptions
structurally (null filters, greatest(...,1) guards); this file makes the
REST of the contract fail loudly at test time with a named assumption,
instead of surfacing as an inscrutable oracle hash mismatch."""

from __future__ import annotations

from pyspark.sql import functions as F

from fintech_data_lake_as_code_spark.io import load


def test_events_contract(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    r = ev.agg(
        F.count("*").alias("n"),
        F.sum(F.col("user_id").isNull().cast("int")).alias("null_users"),
        F.sum(F.col("ts").isNull().cast("int")).alias("null_ts"),
        F.sum(F.col("event_id").isNull().cast("int")).alias("null_ids"),
        F.countDistinct("event_id").alias("distinct_ids"),
    ).first()
    assert r.n > 0
    # CMS/cohort queries drop null users defensively; a MOSTLY-null column
    # would mean the generator changed shape — surface that here
    assert r.null_users == 0, f"{r.null_users} NULL user_ids (drift?)"
    assert r.null_ts == 0, "NULL event timestamps (drift?)"
    assert r.null_ids == 0 and r.distinct_ids == r.n, (
        "event_id must be a unique non-null key (as-of tie-breaks rely on it)"
    )
    # ts must arrive as a usable timestamp whatever the parquet physical
    # type (io.load normalizes TIMESTAMP(NANOS))
    assert dict(ev.dtypes)["ts"] == "timestamp", ev.dtypes


def test_documents_contract(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    r = d.agg(
        F.count("*").alias("n"),
        F.sum(F.col("text").isNull().cast("int")).alias("null_text"),
        F.sum((F.col("n_chars") <= 0).cast("int")).alias("nonpos_chars"),
        F.countDistinct("doc_id").alias("distinct_ids"),
        F.max("doc_id").alias("max_id"),
        F.sum((F.col("doc_id") % 7 == 0).cast("int")).alias("n_mod7"),
        F.sum((F.col("doc_id") % 37 == 0).cast("int")).alias("n_mod37"),
    ).first()
    assert r.n > 0 and r.distinct_ids == r.n
    assert r.null_text == 0, "NULL document text (drift?)"
    # sample_weighted_priority guards n_chars>=1, but weights of 0 would
    # silently degenerate the sampling law — surface the drift
    assert r.nonpos_chars == 0, f"{r.nonpos_chars} docs with n_chars <= 0"
    # the planted-twin/excerpt/benchmark id offsets (+100000 / +200000)
    # must not collide with real ids
    assert r.max_id < 100000, f"doc_id {r.max_id} collides with twin offset"
    # decontamination/containment need non-empty planted residue classes
    assert r.n_mod7 > 0 and r.n_mod37 > 0, "planted residue classes empty"


def test_embeddings_contract(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    r = e.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.size("embedding")).alias("n_dims"),
        F.sum(F.col("embedding").isNull().cast("int")).alias("null_vecs"),
    ).first()
    assert r.n > 0
    assert r.null_vecs == 0, "NULL embedding vectors (drift?)"
    # every ANN path assumes a single fixed dimensionality
    assert r.n_dims == 1, "embedding dimensionality is not uniform"


# build_summary's output for _SUMMARY_INPUTS, captured from the
# version that took one parameter per block total. The bench summary
# line is a byte contract: same fields, same order, same rounding.
_SUMMARY_INPUTS = {
    "headline": {"scan_parquet": 0.1, "agg_groupby": 0.2, "join_multiway": 12.345},
    "extra": {"profile_columns": 1.1, "win_ewma": 2.2},
    "extra-v3": {"text_bpe_tokenize": 4.4444},
    "extra-v4": {"sim_maxsim_ann": 5.0},
    "extra-v5": {"stream_dedup_incremental": 6.0},
    "extra-v6": {"scan_avro": 0.7},
    "fresh": {"fresh_a": 0.05, "fresh_b": 0.0051},
}
_SUMMARY_HEAD = (
    '{"metric": "headline_queries_wall_clock", "value": 12.645, '
    '"unit": "sec", "queries": {"scan_parquet": 0.1, "agg_groupby": 0.2, '
    '"join_multiway": 12.345}, "sf": 0.1, "value_normalized": 8.962, '
    '"calibration_ratio": 1.411, "extras_total": 3.3, '
    '"extras_v3_total": 4.444, "extras_v4_total": 5.0, '
    '"extras_v5_total": 6.0, "fresh_total": 0.055, "extras_v6_total": 0.7, '
    '"calibration_post_ratio": 1.502, "calibration_shuffle_ratio": 1.234, '
    '"calibration_shuffle_post_ratio": 1.3, '
)
_SUMMARY_LOADED = (
    _SUMMARY_HEAD
    + '"cache_leaks": {"graph_triangle_count": 2}, "shuffle_probe_retries": 1}'
)
_SUMMARY_HEALTHY = _SUMMARY_HEAD + '"cache_leaks": {}}'


def test_bench_summary_line_stays_tail_safe():
    # The BENCH artifact is parsed from a TAIL capture of bench.py's
    # stdout, so the LAST line must be the compact summary, must keep
    # its exact shape, and must stay short.
    import json

    import bench

    loaded = bench.build_summary(
        0.1, _SUMMARY_INPUTS, 1.411, 1.502, 1.234, 1.3,
        {"graph_triangle_count": 2}, 1,
    )
    assert json.dumps(loaded) == _SUMMARY_LOADED
    # a healthy run emits cache_leaks={} and omits the retry count
    healthy = bench.build_summary(
        0.1, _SUMMARY_INPUTS, 1.411, 1.502, 1.234, 1.3, {}, 0
    )
    assert json.dumps(healthy) == _SUMMARY_HEALTHY

    # Worst case for the budget: every block key populated at wide float
    # widths, EVERY headline key leaked every rep, and the shuffle probe
    # retried to exhaustion — the summary must still fit.
    fat = {tag: {k: 123.456 for k in keys} for tag, keys, _ in bench.BLOCKS}
    summary = bench.build_summary(
        0.1, fat, 0.123, 12.345, 12.345, 12.345,
        {k: 99 for k in fat["headline"]}, 3,
    )
    line = json.dumps(summary)
    assert len(line) < bench.SUMMARY_LINE_BUDGET, len(line)
    parsed = json.loads(line)
    for field in (
        "metric",
        "value",
        "unit",
        "queries",
        "sf",
        "value_normalized",
        "extras_total",
        "extras_v3_total",
        "extras_v4_total",
        "extras_v5_total",
        "extras_v6_total",
        "calibration_post_ratio",
        "calibration_shuffle_ratio",
        "calibration_shuffle_post_ratio",
        "cache_leaks",
        "shuffle_probe_retries",
    ):
        assert field in parsed, field


def test_bench_key_lists_exist_in_registry():
    # bench.py skips unknown keys silently (queries.get -> continue), so
    # a renamed/deleted key would just vanish from the timed totals and
    # the regression record with it. Every bench block must stay a
    # subset of the registry, and the blocks must stay disjoint (a key
    # timed twice would double-count in its block's total).
    import bench
    from fintech_data_lake_as_code_spark.registry import registry

    keys = set(registry())
    all_keys = []
    for tag, block, _total in bench.BLOCKS:
        missing = set(block) - keys
        assert not missing, f"{tag} names unregistered keys: {missing}"
        all_keys.extend(block)
    assert len(all_keys) == len(set(all_keys)), "a key is timed twice"


def test_bench_prelude_and_block_timer_smoke(spark, sf_dir):
    # bench.py's shared measurement path end to end on one cheap key:
    # the untimed prelude, the per-block probe pair, and one timed block
    # under the leak guard.
    import bench
    from fintech_data_lake_as_code_spark.registry import all_queries

    queries = all_queries()
    bench.prelude(spark, sf_dir, queries)
    guard = bench.LeakGuard(spark)
    cpu_ratio, shuffle_ratio = bench.block_probes(spark)
    timed = bench.time_block(
        spark, sf_dir, queries, "smoke", ["scan_parquet"], guard
    )
    assert timed["scan_parquet"] > 0
    assert guard.cache_leaks == {}
    for ratio in (cpu_ratio, shuffle_ratio):
        assert isinstance(ratio, float) and ratio > 0
