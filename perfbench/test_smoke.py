"""Smoke tests of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

The unit tests need no Spark. The run tests start one benchmark process per
case at tiny sizes (about a minute each): every workload prints every
metric BENCHMARK.json names with its unit, the gate flags a deliberately
corrupted output, the build gate flags a pyramid built with a wrong split
limit, and the command fails without printing a result where the
package is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gates, inputs, trace  # noqa: E402
from perfbench.workloads import WORKLOADS as RUNNABLE  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = sorted(RUNNABLE)  # BENCHMARK.json's workloads plus the manual tile-edit


def _bench(*args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, capture_output=True, text=True, cwd=cwd, timeout=600, check=False)


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


# -- no Spark -----------------------------------------------------------------


def test_spec_lists_what_the_runner_prints():
    assert [m["name"] for m in SPEC["per_layer"]] == [m["name"] for m in trace.per_layer_spec()]
    assert {m["name"] for m in SPEC["end_to_end"]} >= {"setup_s"}
    assert {w["name"] for w in SPEC["workloads"]} <= set(RUNNABLE)


def test_inputs_are_seeded():
    a, b, c = inputs.rect_params(3, 50), inputs.rect_params(3, 50), inputs.rect_params(4, 50)
    assert np.array_equal(a, b) and not np.array_equal(a, c)
    assert inputs.edit_diffs(3, 100, 2) == inputs.edit_diffs(3, 100, 2)


def test_ring_rotation_is_the_only_freedom():
    ring = [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]
    rotated = [[4, 4], [0, 4], [0, 0], [4, 0], [4, 4]]
    reversed_ = ring[::-1]
    tile = lambda r: [{"geometry": [r], "type": 3, "tags": None, "id": 1}]  # noqa: E731
    assert gates.norm_tile(tile(rotated)) == gates.norm_tile(tile(ring))
    assert gates.norm_tile(tile(reversed_)) != gates.norm_tile(tile(ring))


def test_feature_set_applies_diffs_in_engine_order():
    from geojson_vt_spark.config import Options

    fc = inputs.rect_collection(inputs.rect_params(1, 5), 1)
    fs = gates.FeatureSet(fc["features"], Options())
    new = inputs.rect_feature(9, (10.0, 10.0, 0.2, 0.2), 1)
    fs.apply({"add": [new], "remove": [0],
              "update": [{"id": 2, "newGeometry": new["geometry"]}]})
    assert [[f["id"] for f in b] for b, _box in fs.batches] == [[1, 3, 4], [9], [2]]


def test_oracle_and_grid_gates_flag_damage():
    rows, cols = [(1, 2), (3, 4)], ["a", "b"]
    assert gates.oracle_mismatch(rows, cols, list(reversed(rows)), ["a", "b"]) is None
    assert gates.oracle_mismatch(rows[:1], cols, rows, cols)
    assert gates.oracle_mismatch([(1, 2), (3, 5)], cols, rows, cols)
    good = {0: (1, 10), 1: (4, 10), 2: (10, 10)}
    assert gates.grid_mismatch(good, 10, 1) is None
    assert gates.grid_mismatch({**good, 1: (4, 9)}, 10, 1)


def test_registry_gate_checks_split_decisions():
    from geojson_vt_spark.config import Options

    opts = Options(max_zoom=2, index_max_zoom=2, index_max_points=10)
    # z0 holds 30 vertices and splits; its children are registered, empty
    # ones too, and z1-0-0, with 5 vertices, stops
    clips = {(0, 0, 0): (3, 30), (1, 0, 0): (1, 5)}
    clipped = lambda z, x, y: clips.get((z, x, y), (0, 0))  # noqa: E731
    known = {(0, 0, 0), (1, 0, 0), (1, 1, 0), (1, 0, 1), (1, 1, 1)}
    keys = [(0, 0, 0), (1, 0, 0), (2, 1, 1), (2, 3, 3)]
    assert gates.registry_mismatch(known, keys, clipped, opts) is None
    # a build that stopped at z0, and one that split a tile under the limit
    assert "missing" in gates.registry_mismatch({(0, 0, 0)}, keys, clipped, opts)
    assert "registered" in gates.registry_mismatch(known | {(2, 0, 0)}, keys, clipped, opts)
    assert "stops" in gates.registry_mismatch(known | {(2, 0, 0)}, [(2, 0, 0)], clipped, opts)


def test_tree_cpu_keeps_exited_children():
    from perfbench.session import TreeMonitor

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 1.0: pass"
    with TreeMonitor(interval=0.05) as tree:
        before = tree.cpu_s()
        subprocess.run([sys.executable, "-c", burn], check=True)
        assert tree.cpu_s() - before >= 0.8


def test_layer_metrics_self_time_and_driver_gap():
    spans = [
        {"name": "operators.engine.init", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "operators.engine.update_data", "start": 2.0, "end": 5.0, "parent": 0},
    ]
    jobs = [
        {"id": 0, "group": "pb-0", "start": 0.5, "end": 1.5, "metrics": {
            "internal.metrics.executorCpuTime": 2e9, "time to run Python workers": 1e3,
            "data sent to Python workers": 100.0}},
        {"id": 1, "group": None, "start": 3.0, "end": 4.0, "metrics": {}},
        {"id": 2, "group": None, "start": 20.0, "end": 21.0, "metrics": {}},
    ]
    assert trace.attribute(spans, jobs) == [0, 1, None]
    lm = trace.layer_metrics(spans, jobs)
    init = lm["operators.engine.init"]
    assert init["calls"] == 1 and init["jobs"] == 1
    assert init["self_s"] == pytest.approx(7.0)
    assert init["driver_gap_s"] == pytest.approx(9.0)
    assert init["executor_cpu_s"] == pytest.approx(2.0)
    assert init["python_run_s"] == pytest.approx(1.0)
    assert init["python_bytes"] == 100.0
    assert lm["operators.engine.update_data"]["driver_gap_s"] == pytest.approx(2.0)


# -- benchmark processes (Spark, tiny sizes) ------------------------------------


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_is_printed(workload):
    r = _result(_bench("--workload", workload, "--seed", "1", "--seconds", "1", "--size", "tiny"))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_gate_flags_a_corrupted_output(workload):
    r = _result(_bench("--workload", workload, "--seed", "1", "--seconds", "1",
                       "--size", "tiny", "--corrupt"))
    assert not r["correct"] and r["failed"] >= 1


def test_build_gate_flags_a_build_that_stops_splitting_early():
    r = _result(_bench("--workload", "pyramid", "--seed", "1", "--seconds", "1",
                       "--size", "tiny", "--corrupt", "build"))
    assert not r["correct"] and r["failed"] == 1


def test_traced_run_prints_every_layer_metric():
    r = _result(_bench("--workload", "pyramid", "--seed", "1", "--seconds", "1",
                       "--size", "tiny", "--trace", "1"))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["plans.pyramid.build_pyramid.calls"] == 1
    assert m["plans.pyramid.build_pyramid.jobs"] > 0
    assert m["functions.flat.clip_flat.vertices_per_s"] > 0
    # the pyramid workload runs the engine too
    for span in ("init", "update_data", "get_tile_miss", "get_tile_hit"):
        assert m[f"operators.engine.{span}.calls"] == 1
        assert m[f"operators.engine.{span}.jobs"] > 0
    assert m["operators.engine.store_frames"] > 0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "pyramid", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
