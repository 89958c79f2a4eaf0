"""The benchmark's own tests (not part of the engine's suite).

    python3 -m pytest perfbench/ -q -p no:cacheprovider

A tiny-size run of every workload through the real command must print
every metric named in BENCHMARK.json with its unit and pass its output
checks; perturbed engine outputs must fail the checks; and the command
must refuse to run without the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import reference, sparkmetrics
from perfbench.run import END_TO_END, ITEM_METRIC, PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run_cli(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_lists_the_printed_metrics():
    assert [m["name"] for m in BENCH["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric(workload, trace):
    proc = run_cli(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 3
    listed = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {n: m["unit"] for n, m in res["metrics"].items()} == {m["name"]: m["unit"] for m in listed}
    for m in listed:
        assert isinstance(res["metrics"][m["name"]]["value"], float)
        assert any(line.startswith(f"{m['name']} = ") and line.endswith(m["unit"]) for line in lines)
    assert any(line.startswith("error_rate = 0.0 ") for line in lines)
    if not trace:
        for m in BENCH["end_to_end"]:
            assert res["metrics"][m["name"]]["value"] > 0
        assert any(line.split(" = ")[0] in ITEM_METRIC.values() for line in lines)
    assert any(line.startswith("# host ") and '"nproc"' in line for line in lines)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_cli("focal_r7", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# --- the checkers catch wrong output ---------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from perfbench import harness

    sys.path.insert(0, ROOT)
    host = harness.prepare_environment()
    s, _, _ = harness.start_session(host["cores"])
    yield s
    harness.stop_jvm()
    shutil.rmtree(harness.SCRATCH, ignore_errors=True)


def _workload(spark, name):
    from perfbench import harness, workloads

    wl = workloads.make(name, 5, os.path.join(harness.SCRATCH, name), tiny=True)
    wl.set_up(spark)
    wl.prepare()
    return wl


def test_perturbed_focal_tile_is_caught(spark):
    wl = _workload(spark, "focal_r7")
    rows = [list(r) for r in wl.run(spark)]
    assert wl.check(rows) == []
    # an edge probe of a wrap-seam tile: the halo column read across the seam
    seam = next(r for r in rows if r[0] == wl.nx - 1)
    seam[3] = list(seam[3])
    seam[3][1] += 1e-6
    assert wl.check(rows)
    assert wl.check(rows[1:])  # a missing tile


def test_perturbed_join_row_is_caught(spark):
    wl = _workload(spark, "pip_join")
    rows = [list(r) for r in wl.run(spark)]
    assert wl.check(rows) == []
    rows[0][1] -= 1  # one row fewer for a polygon ...
    rows[1][1] += 1  # ... and one more for another
    assert wl.check(rows)


def test_perturbed_pipeline_output_is_caught(spark):
    from engine.lakehouse import LakeTable

    wl = _workload(spark, "lake_pipeline")
    snaps = wl.run(spark)
    assert wl.check(snaps) == []
    import pyarrow.parquet as pq

    stats = LakeTable(wl.root, "stats").snapshot()
    victim = next(p for p in stats["partitions"] if p["files"])["files"][0]
    pq.write_table(pq.read_table(victim).slice(1), victim)  # one stats tile lost
    problems = wl.check(snaps)
    assert any("does not verify" in p for p in problems)
    assert any("tile set" in p for p in problems)


# --- references and parsing ---------------------------------------------------------


def test_focal_reference_matches_a_cell_by_cell_loop():
    rng = np.random.default_rng(0)
    a = rng.integers(0, 4, (9, 11)).astype(float)
    a[rng.random(a.shape) < 0.2] = np.nan
    ys, xs = np.array([0, 4, 8]), np.array([0, 5, 10])
    for shape in ("square", "circle"):
        got = reference.focal_mean_at(a, ys, xs, 2, shape)
        for k, (y, x) in enumerate(zip(ys, xs)):
            vals = [a[y + dy, (x + dx) % 11]
                    for dy in range(-2, 3) for dx in range(-2, 3)
                    if 0 <= y + dy < 9 and (shape == "square" or dy * dy + dx * dx <= 4)]
            vals = [v for v in vals if np.isfinite(v)]
            assert got[k] == pytest.approx(np.mean(vals))


def test_ray_cast_reference_edges_and_antimeridian():
    square = [{"lat": 0.0, "lon": 170.0}, {"lat": 0.0, "lon": 190.0},
              {"lat": 10.0, "lon": 190.0}, {"lat": 10.0, "lon": 170.0},
              {"lat": 0.0, "lon": 170.0}]
    lat = np.array([5.0, 5.0, 0.0, 5.0, 11.0])
    lon = np.array([175.0, -175.0, 180.0, 160.0, 175.0])
    assert reference.points_in_ring(lat, lon, square).tolist() == [True, True, True, False, False]


def test_metric_values_parse_to_base_units():
    v = sparkmetrics.parse_value(
        "total (min, med, max (stageId: taskId))\n1,024.0 MiB (1.0 MiB, 2.0 MiB, 4.0 MiB (stage 3.0: task 7))"
    )
    assert v == {"total": 1024.0 * 2**20, "min": 2.0**20, "med": 2.0**21, "max": 2.0**22}
    assert sparkmetrics.parse_value("4,000,000") == {"total": 4e6}
    assert sparkmetrics.parse_value("1.5 s")["total"] == 1.5
