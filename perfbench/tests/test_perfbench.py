"""Fast checks of the benchmark itself, at tiny input sizes.

Run from the repository root:  python3 -m pytest perfbench/tests -q
The three Spark runs take a few minutes on a 4-core host.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT))

from perfbench import inputs  # noqa: E402
from perfbench.workloads import SceneQueries  # noqa: E402


def bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1", "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.fixture(scope="module")
def runs() -> dict[str, subprocess.CompletedProcess]:
    return {
        "ingest": bench("--workload", "ingest", "--seed", "3", "--trace", "0"),
        "scene_queries": bench("--workload", "scene_queries", "--seed", "3", "--trace", "0"),
        "faulty_traced": bench("--workload", "ingest", "--seed", "4", "--trace", "1",
                               "--inject-fault"),
    }


def result(p: subprocess.CompletedProcess) -> dict:
    return json.loads(p.stdout.strip().splitlines()[-1])


def assert_printed(p: subprocess.CompletedProcess, metrics: list[dict]) -> None:
    res = result(p)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == {m["name"] for m in metrics}
    for m in metrics:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        line = rf"^{re.escape(m['name'])} = \S+ {re.escape(m['unit'])}$"
        assert re.search(line, p.stdout, re.M), f"{m['name']} not printed with its unit"


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_printed_and_correct(runs, workload):
    p = runs[workload]
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    assert_printed(p, SPEC["end_to_end"])
    res = result(p)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_per_layer_metrics_printed(runs):
    assert_printed(runs["faulty_traced"], SPEC["per_layer"])
    layers = result(runs["faulty_traced"])["metrics"]
    assert layers["trace.span_coverage"]["value"] >= 0.9
    assert layers["lineage.resume_rows_recomputed"]["value"] == 0


def test_injected_wrong_result_fails_the_run(runs):
    p = runs["faulty_traced"]
    res = result(p)
    assert p.returncode != 0
    assert not res["correct"] and res["failed"] >= 1
    assert res["metrics"]["error_rate"]["value"] > 0


def test_bare_directory_exits_nonzero_without_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench("--workload", "ingest", "--seed", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_seed_changes_inputs_not_sizes(tmp_path):
    sizes = inputs.IngestSizes(images=40, aois=16, dem_scenes=5)
    a = inputs.build_landing(1, sizes, str(tmp_path / "a"))
    b = inputs.build_landing(2, sizes, str(tmp_path / "b"))
    assert len(a.tiles) == len(b.tiles) and len(a.dem) == len(b.dem) and len(a.aoi) == len(b.aoi)
    assert not np.array_equal(a.ids, b.ids)
    assert list(a.aoi["geom_wkt"]) != list(b.aoi["geom_wkt"])
    inputs.write_landing(a, sizes)
    inputs.write_landing(b, sizes)
    (bytes_a, files_a), (bytes_b, files_b) = (inputs.dir_stats(str(tmp_path / d)) for d in "ab")
    assert files_a == files_b and abs(bytes_a - bytes_b) < 0.05 * bytes_a

    # scene_queries reads fixed test tables; the seed only orders each round
    qa, qb = (SceneQueries(SimpleNamespace(seed=sd), "sf0.001") for sd in (1, 2))
    assert qa.input_sizes() == qb.input_sizes()
    assert [qa._round() for _ in range(3)] != [qb._round() for _ in range(3)]
