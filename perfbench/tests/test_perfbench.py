"""Tests of the benchmark itself: the sf0.001 testdata copy, one warm
pass per run.

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and once traced, in its own process,
so the whole module takes several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import run  # noqa: E402
from workloads import GATE, WORKLOADS  # noqa: E402

SEED = 7
_RESULTS: dict = {}


def bench(workload: str, trace: int, tmp_dir) -> tuple[dict, dict]:
    """(stdout result, side file) of one small run, cached per module."""
    key = (workload, trace)
    if key not in _RESULTS:
        side = os.path.join(tmp_dir, f"{workload}-{trace}.json")
        proc = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
             "--sf", "0.001", "--warm-passes", "1", "--out", side],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900,
        )
        assert proc.returncode == 0, proc.stdout[-2000:]
        with open(side) as fh:
            _RESULTS[key] = (json.loads(proc.stdout.strip().splitlines()[-1]), json.load(fh))
    return _RESULTS[key]


@pytest.fixture(scope="module")
def tmp_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(GATE)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER_UNITS


@pytest.mark.parametrize("sf", ["0.01", "0.001"])
def test_testdata_copy_holds_every_table_read(sf):
    needed = {t for spec in WORKLOADS.values() for t in spec["tables"]}
    for t in needed:
        path = os.path.join(run.DATA, f"sf{sf}", f"{t}.parquet")
        assert os.path.isfile(path) and not os.path.islink(path), path


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_every_end_to_end_metric_with_unit(workload, tmp_dir):
    result, side = bench(workload, 0, tmp_dir)
    assert result["correct"] and result["failed"] == 0
    # cold pass, output check, warm-up pass, one timed warm pass
    assert result["attempted"] == 4 * len(WORKLOADS[workload]["entries"])
    assert {m: v["unit"] for m, v in result["metrics"].items()} == run.E2E_UNITS
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert set(side["end_to_end"]) == set(run.E2E_UNITS) | set(run.SIDE_UNITS)
    assert side["failed_frac"] == 0
    assert set(side["environment"]) >= {"cpus", "sf", "seed", "pyspark"}


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_spans_cover_each_entry(workload, tmp_dir):
    result, side = bench(workload, 1, tmp_dir)
    assert result["correct"]
    assert {m: v["unit"] for m, v in result["metrics"].items()} == layers.PER_LAYER_UNITS
    for p in side["passes"]:
        for rec in p["entries"]:
            assert {s["id"] for s in rec["spans"]} == {rec["group"]}
            (entry,) = [s for s in rec["spans"] if s["parent"] is None]
            children = [s for s in rec["spans"] if s["parent"] == "entry"]
            assert {s["name"] for s in children} == {"construct", "catalyst", "execute"}
            covered = sum(s["end"] - s["start"] for s in children)
            assert covered >= 0.9 * (entry["end"] - entry["start"]), rec["entry"]


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_job_groups_account_for_every_job(workload, tmp_dir):
    _, side = bench(workload, 1, tmp_dir)
    groups = side["layer_detail"]["groups"]
    assert "" not in groups, groups.get("")
    assert {g.rsplit(":", 1)[1] for g in groups} <= {"construct", "execute", "warm"}
    entries = set(WORKLOADS[workload]["entries"])
    timed = [g for g in groups if g.split(":")[2] in ("cold", "w1")]
    assert {g.split(":")[1] for g in timed} == entries


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_and_untraced_run_the_same_entries(workload, tmp_dir):
    _, plain = bench(workload, 0, tmp_dir)
    _, traced = bench(workload, 1, tmp_dir)
    assert plain["entries"] == traced["entries"] == WORKLOADS[workload]["entries"]
    assert [p["order"] for p in plain["passes"]] == [p["order"] for p in traced["passes"]]
    assert [c["entry"] for c in plain["checks"]] == [c["entry"] for c in traced["checks"]]


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_setup_warms_every_table_the_entries_read(workload, tmp_dir):
    _, side = bench(workload, 1, tmp_dir)
    read = {t for p in side["layer_detail"]["passes"].values()
            for m in p.values() for t in m["catalog.tables"]}
    assert read == set(WORKLOADS[workload]["tables"])
