"""The benchmark's own tests: its BENCHMARK.json, its statistics, its data
generator, and fast sf0.001 runs of every benchmarked workload.

    python3 -m pytest perfbench -q

The sf0.001 runs start one Spark session each (about 30-50 s apiece on
4 cores); they never run inside the repository's tier-1 suite.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen, metrics  # noqa: E402
from perfbench.run import tail_rank  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# per-key layer counters that must repeat exactly for the same seed
DETERMINISTIC = (
    "sched.jobs",
    "sched.stages",
    "sched.tasks",
    "plan.exchanges",
    "plan.sort_merge_joins",
    "plan.broadcast_joins",
    "plan.python_nodes",
    "shuffle.write_bytes",
)


def test_benchmark_json_matches_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.spec()


def test_benchmark_json_within_contract_limits():
    spec = metrics.spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    for p in spec["paths"]:
        assert os.path.isdir(os.path.join(ROOT, p))
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and ".." not in p
    assert all(not c.startswith("/") and ".." not in c for c in spec["command"])
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["end_to_end"]) <= 16
    assert 1 <= len(spec["per_layer"]) <= 128
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in spec["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert bounds["setup_s"] == max(bounds.values())
    assert len(json.dumps(spec, indent=2)) <= 64 * 1024


@pytest.mark.parametrize("n", [1, 5, 11, 20, 21, 37, 100, 1000])
def test_tail_rank_keeps_ten_samples_above(n):
    pct, rank = tail_rank(n)
    assert 50 <= pct < 100 and 1 <= rank <= n
    if pct > 50:
        assert n - rank >= 10
        assert n - math.ceil((pct + 1) * n / 100) < 10


def test_workload_keys_are_registered_with_oracles():
    from fintech_data_lake_as_code_spark.registry import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    for w in WORKLOADS.values():
        for key in w["keys"]:
            assert key in queries and key in oracles, key


def test_datagen_is_a_function_of_sf_and_seed():
    a = datagen.make_tables(0.001, 7)
    assert set(a) == set(datagen_tables())
    assert all(a[t].equals(b) for t, b in datagen.make_tables(0.001, 7).items())
    assert not a["events"].equals(datagen.make_tables(0.001, 8)["events"])
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500


def datagen_tables():
    from fintech_data_lake_as_code_spark.io import TABLES

    return TABLES


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", next(iter(WORKLOADS)),
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def _run(workload: str, trace: int, seed: int = 1) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_prints_every_end_to_end_metric(workload):
    detail, result = _run(workload, trace=0)
    assert result["correct"] and result["failed"] == 0, detail["checks_failed"]
    assert result["attempted"] == 2 * len(WORKLOADS[workload]["keys"])
    got = result["metrics"]
    assert set(got) == set(metrics.END_TO_END)
    assert all(got[k]["unit"] == metrics.unit(k) for k in got)
    assert got["ok_frac"]["value"] == 1.0
    assert detail["query_samples"] == len(WORKLOADS[workload]["keys"])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_runs_repeat_their_counters(workload):
    (da, ra), (db, rb) = _run(workload, trace=1, seed=3), _run(workload, trace=1, seed=3)
    for detail, result in ((da, ra), (db, rb)):
        assert result["correct"], detail["checks_failed"]
        assert set(result["metrics"]) == set(metrics.PER_LAYER)
        assert all(v["unit"] == metrics.unit(k) for k, v in result["metrics"].items())
        assert detail["reconcile"]["jobs_outside_build"] == []
        assert detail["reconcile"]["jobs_outside_execute"] == []
        assert detail["reconcile"]["run_exceeds_capacity"] == []
        assert detail["trace_errors"] == []
        assert result["metrics"]["cache.leaked_rdds"]["value"] == 0
    for key in WORKLOADS[workload]["keys"]:
        for name in DETERMINISTIC:
            assert da["key_layers"][key][name] == db["key_layers"][key][name], (key, name)

    m = {k: v["value"] for k, v in ra["metrics"].items()}
    if workload == "llm_curation":
        assert m["python.total_s"] > 0 and m["plan.python_nodes"] > 0
        assert m["stream.batches"] == 0
    if workload == "cdc_ingest":
        assert m["stream.batches"] > 0 and m["io.output_bytes"] > 0
        assert m["python.total_s"] == 0
