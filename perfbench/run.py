#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload llm_curation --seed 1 \
        --seconds 5 --trace 0

Run from the root of a source checkout. It generates a seeded lake,
starts the package's own session (`session.get_spark`) on local[nproc]
and runs the workload's registered queries as a closed loop with one
client. The last stdout line is
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`
with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`); the line before it is a JSON detail record (sample
counts, the tail percentile, per-key timings, per-phase seconds and,
when traced, per-key layer counters). perfbench/DESIGN.md explains
every metric.

A run has two phases:
1. set-up (`setup_s`): session start, the workload's write-once prelude
   and one untimed warm pass of every key. The warm pass is also the
   output check: each key's result is compared with its registry
   DuckDB oracle (`plans.oracle_check.compare`); the DuckDB side of the
   check is not part of `setup_s`.
2. timed window: whole passes over the keys, each pass in a seeded
   order, until at least `--seconds` have elapsed. An operation is the
   query callable `fn(spark, sf_dir)` followed by a noop-sink write of
   its result, as `bench.py` times it.

Everything a run writes goes under `.perfbench_runs/` in the checkout
and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "fintech_data_lake_as_code_spark"
DEFAULT_SF = 0.01
DRIVER_MEM = "1g"
# slack between the benchmark's and the scheduler's clocks when
# reconciling an operation's layers
RECONCILE_SLACK_S = 0.05


def tail_rank(n: int) -> tuple[int, int]:
    """(percentile, 1-based rank) of the highest whole percentile with at
    least ten samples above it, but never below the median."""
    pct = max(50, math.floor(100 * (n - 10) / n)) if n else 50
    return pct, max(1, math.ceil(pct * n / 100))


def latency_stats(samples: list[float]) -> dict:
    s = sorted(samples)
    pct, rank = tail_rank(len(s))
    p50 = statistics.median(s) if s else 0.0
    return {
        "n": len(s),
        "p50": p50,
        "tail": s[rank - 1] if pct > 50 else p50,
        "tail_percentile": pct,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except OSError:
                pass
    return total


def prepare_environment(run_dir: str) -> dict[str, str]:
    """Point every file the session, the program and its Python workers
    write at `run_dir`. Must run before the JVM starts."""
    paths = {
        name: os.path.join(run_dir, name)
        for name in ("lake", "scratch", "warehouse", "local", "tmp")
    }
    for p in paths.values():
        os.makedirs(p)
    java_opts = (
        f"-Djava.io.tmpdir={paths['tmp']} -Dderby.system.home={run_dir} "
        "-XX:-UsePerfData"  # no hsperfdata file under /tmp
    )
    os.environ.update(
        {
            "SPARK_GRAFT_SCRATCH": paths["scratch"],
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": paths["local"],
            # spark-submit's launcher JVM would write /tmp/hsperfdata_* too
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "TMPDIR": paths["tmp"],
            # workers start in the run directory; they import the package
            # (and classes pickled by reference) from the checkout root
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    f"--conf spark.sql.warehouse.dir={paths['warehouse']}",
                    "--conf spark.ui.showConsoleProgress=false",
                    f'--driver-java-options "{java_opts}"',
                    "pyspark-shell",
                ]
            ),
        }
    )
    return paths


class TimedCollect:
    """Stands in for a DataFrame in `oracle_check.compare`, timing the
    Spark side of the check (its `toPandas`) apart from the DuckDB side."""

    def __init__(self, df) -> None:
        self.df = df
        self.seconds = 0.0

    def toPandas(self):  # noqa: N802
        t0 = time.perf_counter()
        try:
            return self.df.toPandas()
        finally:
            self.seconds = time.perf_counter() - t0


class LeakGuard:
    """bench.py's cache-leak guard. Any persistent RDD an operation leaves
    behind, beyond the set sanctioned after the prelude, is dropped before
    the next operation, so no timed run rides a cache an earlier one
    leaked. Locally checkpointed results are counted apart from leaks."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc
        self.sanctioned = {
            int(k) for k in self.jsc.getPersistentRDDs().keySet().toArray()
        }
        self.leaked = 0
        self.checkpoints = 0

    def sweep(self) -> None:
        jmap = self.jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) in self.sanctioned:
                continue
            jrdd = jmap.get(k)
            if jrdd.rdd().isLocallyCheckpointed():
                self.checkpoints += 1
            else:
                self.leaked += 1
            jrdd.unpersist(False)


def run_op(spark, fn, sf_dir: str, trace) -> dict:
    """One closed-loop operation: build the DataFrame, then execute it.
    When traced, the counters are read after the operation's clock stops,
    and `trace_s` is the time that reading took."""
    if trace is not None:
        job0 = trace.next_job()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    if trace is not None:
        job_mid = trace.next_job()
    t2 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    t3 = time.perf_counter()
    rec: dict = {"build_s": t1 - t0, "exec_s": t3 - t2, "wall_s": t3 - t0}
    if trace is not None:
        trace.settle()
        job_end = trace.next_job()
        counters = trace.jobs(job0, job_end)
        counters["build.jobs"] = job_mid - job0
        rec.update(
            build_jobs_span_s=trace.job_span_s(job0, job_mid),
            exec_jobs_span_s=trace.job_span_s(job_mid, job_end),
            counters=counters,
            executions=trace.executions.drain(),
            batches=trace.stream.drain(),
            trace_s=time.perf_counter() - t3,
        )
    return rec


def warm_and_check(spark, keys, queries, oracles, sf_dir, seed, guard) -> tuple[dict, float]:
    """The untimed warm pass, which is also the run's output check.
    Returns per-key results and the seconds spent on the DuckDB side of
    the checks."""
    from fintech_data_lake_as_code_spark.plans.oracle_check import compare

    checks: dict[str, dict] = {}
    oracle_s = 0.0
    order = list(keys)
    random.Random(f"{seed}:warm").shuffle(order)
    for key in order:
        t0 = time.perf_counter()
        duck_s = 0.0
        try:
            collect = TimedCollect(queries[key](spark, sf_dir))
            t1 = time.perf_counter()
            res = compare(key, collect, oracles[key], sf_dir)
            duck_s = time.perf_counter() - t1 - collect.seconds
            ok, issues = res.ok, res.issues[:3]
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            ok, issues = False, [f"{type(exc).__name__}: {exc}"[:300]]
        if not ok:
            print(f"# check FAILED {key}: {issues}", file=sys.stderr)
        oracle_s += duck_s
        checks[key] = {
            "ok": ok,
            "issues": issues,
            "warm_s": time.perf_counter() - t0 - duck_s,
            "oracle_s": duck_s,
        }
        guard.sweep()
    return checks, oracle_s


def timed_window(spark, keys, queries, sf_dir, seed, seconds, guard, trace) -> dict:
    """Whole passes, each in a seeded key order, until `seconds` have
    elapsed; at least one."""
    ops: list[dict] = []
    failed = 0
    passes = 0
    t_window = time.perf_counter()
    while passes == 0 or time.perf_counter() - t_window < seconds:
        order = list(keys)
        random.Random(f"{seed}:{passes}").shuffle(order)
        for key in order:
            try:
                rec = run_op(spark, queries[key], sf_dir, trace)
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
            else:
                rec["key"] = key
                ops.append(rec)
            finally:
                guard.sweep()
        passes += 1
    return {
        "ops": ops,
        "window_failed": failed,
        "passes": passes,
        "window_s": time.perf_counter() - t_window,
        "trace_s": sum(op.get("trace_s", 0.0) for op in ops),
    }


def run_workload(args, paths: dict[str, str]) -> dict:
    from perfbench import datagen
    from perfbench import trace as tracing
    from perfbench.workloads import WORKLOADS, prelude

    keys = WORKLOADS[args.workload]["keys"]
    sf_dir = os.path.join(paths["lake"], f"sf{args.sf:g}")
    datagen.write_lake(sf_dir, args.sf, args.seed)

    t_setup = time.perf_counter()
    from fintech_data_lake_as_code_spark.registry import all_oracles, all_queries
    from fintech_data_lake_as_code_spark.session import get_spark

    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t_setup
    try:
        spark.sparkContext.setLogLevel("ERROR")
        cores = spark.sparkContext.defaultParallelism
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        with tracing.RssSampler(jvm_pid) as rss:
            queries, oracles = all_queries(), all_oracles()
            t0 = time.perf_counter()
            prelude(args.workload, spark, sf_dir)
            prelude_s = time.perf_counter() - t0
            guard = LeakGuard(spark)
            checks, oracle_s = warm_and_check(
                spark, keys, queries, oracles, sf_dir, args.seed, guard
            )
            setup_s = time.perf_counter() - t_setup - oracle_s
            guard.leaked = guard.checkpoints = 0

            t0 = time.perf_counter()
            env = {
                "loadavg": os.getloadavg()[0],
                "cpu_probe_s": tracing.cpu_probe(spark),
                "shuffle_probe_s": tracing.shuffle_probe(spark),
            }
            probes_s = time.perf_counter() - t0
            trace = tracing.SessionTrace(spark) if args.trace else None
            try:
                run = timed_window(
                    spark, keys, queries, sf_dir, args.seed, args.seconds, guard, trace
                )
            finally:
                if trace is not None:
                    trace.close()
            t0 = time.perf_counter()
            env["cpu_probe_post_s"] = tracing.cpu_probe(spark)
            env["shuffle_probe_post_s"] = tracing.shuffle_probe(spark)
            probes_s += time.perf_counter() - t0
            peak_heap = tracing.peak_jvm_heap_bytes(spark)
        failed_checks = sum(not c["ok"] for c in checks.values())
        run.update(
            checks=checks,
            setup_s=setup_s,
            session_start_s=session_start_s,
            phases={
                "session_start_s": session_start_s,
                "prelude_s": prelude_s,
                "warm_spark_s": setup_s - session_start_s - prelude_s,
                "check_oracle_s": oracle_s,
                "probes_s": probes_s,
                "window_s": run["window_s"],
            },
            env=env,
            leaked_rdds=guard.leaked,
            resident_checkpoints=guard.checkpoints,
            scratch_bytes=dir_bytes(paths["scratch"]),
            cores=cores,
            peak_rss_bytes=rss.peak,
            peak_jvm_bytes=rss.peak_root,
            peak_heap_bytes=peak_heap,
            attempted=len(checks) + len(run["ops"]) + run["window_failed"],
            failed=failed_checks + run["window_failed"],
        )
        return run
    finally:
        spark.stop()


# per-operation counters summed as they are
_SUMMED = (
    "build.s build.jobs plan.s plan.exchanges plan.sort_merge_joins "
    "plan.broadcast_joins plan.python_nodes sched.jobs sched.stages "
    "sched.tasks exec.run_s exec.cpu_s exec.gc_s shuffle.write_bytes "
    "shuffle.read_bytes shuffle.fetch_wait_s spill.disk_bytes python.total_s "
    "python.boot_s python.init_s python.bytes_sent python.bytes_received "
    "stream.batches stream.add_batch_s stream.commit_s stream.input_rows "
    "stream.state_rows stream.state_bytes io.input_bytes io.input_rows "
    "io.output_bytes"
).split()


def op_layers(op: dict) -> dict[str, float]:
    """All traced counters of one operation, by per-layer metric name."""
    vals: dict[str, float] = {k: 0.0 for k in _SUMMED}
    vals.update(op["counters"])
    vals["build.s"] = op["build_s"]
    vals["op.wall_s"] = op["wall_s"]
    for ex in op["executions"]:
        for k, v in ex.items():
            if isinstance(v, (int, float)):
                vals[k] = vals.get(k, 0.0) + v
    last: dict[str, dict] = {}
    for b in op["batches"]:
        vals["plan.s"] += b["plan_s"]
        vals["stream.batches"] += 1
        vals["stream.add_batch_s"] += b["add_batch_s"]
        vals["stream.commit_s"] += b["commit_s"]
        vals["stream.input_rows"] += b["input_rows"]
        last[b["run_id"]] = b
    # state is a level, not a flow: each streaming query's last batch
    vals["stream.state_rows"] = sum(b["state_rows"] for b in last.values())
    vals["stream.state_bytes"] = sum(b["state_bytes"] for b in last.values())
    return vals


def layer_sums(ops: list[dict]) -> dict[str, float]:
    total: dict[str, float] = {}
    for op in ops:
        for k, v in op_layers(op).items():
            total[k] = total.get(k, 0.0) + v
    return total


def per_layer_metrics(run: dict) -> dict[str, float]:
    passes, cores = run["passes"], run["cores"]
    total = layer_sums(run["ops"])
    m = {k: total.get(k, 0.0) / passes for k in _SUMMED}
    wall = total.get("op.wall_s", 0.0)
    m["build.share"] = total["build.s"] / wall if wall else 0.0
    mb = (m["io.input_bytes"] + m["shuffle.read_bytes"]) / 1e6
    m["sched.tasks_per_mb"] = m["sched.tasks"] / mb if mb else 0.0
    m["sched.idle_frac"] = 1.0 - total["exec.run_s"] / (wall * cores) if wall else 0.0
    m["exec.cpu_frac"] = m["exec.cpu_s"] / m["exec.run_s"] if m["exec.run_s"] else 0.0
    mbs = latency_stats([b["trigger_s"] for op in run["ops"] for b in op["batches"]])
    m["stream.microbatch_p50_s"] = mbs["p50"]
    m["stream.microbatch_tail_s"] = mbs["tail"]
    m["io.scratch_bytes"] = float(run["scratch_bytes"])
    m["io.write_amp"] = (
        run["scratch_bytes"] / m["io.input_bytes"] if m["io.input_bytes"] else 0.0
    )
    m["cache.leaked_rdds"] = run["leaked_rdds"] / passes
    m["cache.resident_checkpoints"] = run["resident_checkpoints"] / passes
    m["session.start_s"] = run["session_start_s"]
    m["session.warm_s"] = run["setup_s"] - run["session_start_s"]
    m["env.nproc"] = float(cores)
    m.update({f"env.{k}": v for k, v in run["env"].items()})
    m["mem.jvm_heap_peak_mb"] = run["peak_heap_bytes"] / 1e6
    m["trace.read_frac"] = run["trace_s"] / run["window_s"]
    return m


def end_to_end_metrics(run: dict) -> dict[str, float]:
    lat = latency_stats([op["wall_s"] for op in run["ops"]])
    return {
        "setup_s": run["setup_s"],
        "query_p50_s": lat["p50"],
        "query_tail_s": lat["tail"],
        "queries_per_min": 60.0 * len(run["ops"]) / run["window_s"],
        "ok_frac": 1.0 - run["failed"] / run["attempted"],
        "peak_rss_mb": run["peak_rss_bytes"] / 1e6,
    }


def reconcile(ops: list[dict], cores: int) -> dict:
    """Per operation, checks the benchmark's clocks against the
    scheduler's: the jobs attributed to the build, and those attributed
    to the execute, must each run within that phase's wall time (within
    the slack), and executor run time must fit in wall x cores."""
    jobs_outside_build, jobs_outside_execute, over_capacity = [], [], []
    for op in ops:
        if op["build_jobs_span_s"] > op["build_s"] + RECONCILE_SLACK_S:
            jobs_outside_build.append(op["key"])
        if op["exec_jobs_span_s"] > op["exec_s"] + RECONCILE_SLACK_S:
            jobs_outside_execute.append(op["key"])
        if op["counters"].get("exec.run_s", 0.0) > op["wall_s"] * cores + RECONCILE_SLACK_S:
            over_capacity.append(op["key"])
    return {
        "slack_s": RECONCILE_SLACK_S,
        "jobs_outside_build": jobs_outside_build,
        "jobs_outside_execute": jobs_outside_execute,
        "run_exceeds_capacity": over_capacity,
    }


def detail_record(args, run: dict) -> dict:
    lat = latency_stats([op["wall_s"] for op in run["ops"]])
    per_key: dict[str, list[float]] = {}
    for op in run["ops"]:
        per_key.setdefault(op["key"], []).append(op["wall_s"])
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "trace": args.trace,
        "passes": run["passes"],
        "window_s": run["window_s"],
        "query_samples": lat["n"],
        "query_tail_percentile": lat["tail_percentile"],
        "key_times_s": dict(sorted(per_key.items())),
        "key_warm_s": {k: c["warm_s"] for k, c in sorted(run["checks"].items())},
        "checks_failed": {k: c["issues"] for k, c in run["checks"].items() if not c["ok"]},
        "phases": run["phases"],
        "env": run["env"],
        "peak_jvm_mb": run["peak_jvm_bytes"] / 1e6,
        "peak_jvm_heap_mb": run["peak_heap_bytes"] / 1e6,
        "cache": {
            "leaked_rdds": run["leaked_rdds"],
            "resident_checkpoints": run["resident_checkpoints"],
        },
    }
    if args.trace:
        mbs = latency_stats([b["trigger_s"] for op in run["ops"] for b in op["batches"]])
        out.update(
            microbatch_samples=mbs["n"],
            microbatch_tail_percentile=mbs["tail_percentile"],
            key_layers={
                key: layer_sums([op for op in run["ops"] if op["key"] == key])
                for key in sorted({op["key"] for op in run["ops"]})
            },
            reconcile=reconcile(run["ops"], run["cores"]),
            trace_errors=[
                e["trace.error"]
                for op in run["ops"]
                for e in op["executions"]
                if "trace.error" in e
            ][:5],
        )
    return out


def stop_jvm() -> None:
    """Stop the session and wait for the JVM PySpark launched to exit; it
    leaves when its stdin closes, and takes its Python workers with it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    from perfbench import metrics as catalog
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops its session and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cwd = os.getcwd()
    try:
        paths = prepare_environment(run_dir)
        os.chdir(run_dir)
        run = run_workload(args, paths)
    finally:
        stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it

    metrics = per_layer_metrics(run) if args.trace else end_to_end_metrics(run)
    result = {
        "correct": run["failed"] == 0,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {k: {"value": v, "unit": catalog.unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps({"detail": detail_record(args, run)}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sys.exit(main())
