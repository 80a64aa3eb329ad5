"""Tests of the benchmark itself: its oracles, its host counters, a tiny
smoke run of every workload in both modes, and a planted wrong answer
that must surface as a failed operation.

    python3 -m pytest perfbench -q        # from the root of the tree

The smoke runs start Spark, about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pytest

import harness
import run
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def test_box_bounds_count_edges_only_in_the_closed_count():
    la0, lo0 = workloads.BOXES[2][1], workloads.BOXES[2][2]   # corner box
    lat = np.array([la0 + 1, la0, la0 - 1], dtype=np.int64)
    lon = np.array([lo0 + 1, lo0 + 1, lo0 + 1], dtype=np.int64)
    assert workloads.box_count_bounds(lat, lon) == (1, 2)


def test_brute_knn_breaks_distance_ties_by_id():
    ids = np.array([7, 3, 5, 9], dtype=np.int64)
    lat = np.array([1, -1, 0, 5], dtype=np.int64)
    lon = np.zeros(4, dtype=np.int64)
    assert workloads.brute_knn(ids, lat, lon, 0, 0, 3) == [
        (5, 0.0), (3, 1.0), (7, 1.0)]


def test_element_count_failures_names_each_wrong_type():
    expected = {"node": 10, "way": 2, "relation": 1}
    assert workloads.element_count_failures(expected, expected) == []
    bad = workloads.element_count_failures({"node": 10, "way": 1}, expected)
    assert len(bad) == 2 and bad[0].startswith("way")


def test_steal_pct_from_tick_deltas():
    assert harness.steal_pct((10, 1000), (15, 1100)) == pytest.approx(5.0)
    assert harness.steal_pct((10, 1000), (10, 1000)) == 0.0


def _run(*args, cwd):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def _result(*args):
    p = _run(*args, cwd=os.path.dirname(HERE))
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric_and_is_correct(workload, trace):
    res = _result("--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", str(trace), "--tiny")
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    units = run.PER_LAYER_UNITS if trace else run.END_TO_END_UNITS
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if trace:
        # the layer the other workload stresses reads zero here
        bypassed = "knn.s" if workload == "pbf_pip" else "decode.s"
        assert m[bypassed] == 0.0
        worked = "decode.s" if workload == "pbf_pip" else "knn.s"
        assert m[worked] > 0.0
    else:
        assert all(v > 0 for v in m.values())


def test_planted_wrong_answer_is_a_failed_operation():
    res = _result("--workload", "pbf_pip", "--seed", "3", "--seconds", "1",
                  "--trace", "0", "--tiny", "--plant-fault")
    assert res["correct"] is False
    # every pass is wrong; the set-up checks are not
    assert 0 < res["failed"] < res["attempted"]


def test_refuses_to_run_without_the_engine():
    work = os.path.join(os.path.dirname(HERE), ".perfbench")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as bare:
        bench = os.path.join(bare, "perfbench")
        shutil.copytree(HERE, bench,
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, os.path.join(bench, "run.py"), "--workload",
             "pbf_pip", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
