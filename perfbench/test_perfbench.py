"""The benchmark's own tests.  Run from the repo root:

    python3 -m pytest perfbench -q

The smoke tests run each workload for one pass at sf0.001 (about half a
minute each on 4 cores).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from collections import Counter
from itertools import islice
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(ROOT))

from tracing import OP_METRICS, metric_value, self_time  # noqa: E402
from workloads import WORKLOADS, passes  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _smoke(workload: str, trace: int) -> tuple[dict, str]:
    p = _run("--workload", workload, "--seed", "3", "--seconds", "0",
             "--trace", str(trace), "--sf", "0.001")
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


def test_seeds_reorder_the_same_mix():
    keys = WORKLOADS["olap_interactive"]
    a = list(islice(passes(keys, 1), 3))
    b = list(islice(passes(keys, 2), 3))
    assert a != b
    assert Counter(k for p in a for k in p) == Counter(k for p in b for k in p)
    assert all(Counter(p) == Counter(keys) for p in a + b)
    assert a == list(islice(passes(keys, 1), 3))


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    layer_map = json.loads((HERE / "layers.json").read_text())
    mapped = [m for group in layer_map["layers"] for m in group["metrics"]]
    per_layer = [m["name"] for m in BENCH["per_layer"]]
    assert sorted(mapped) == sorted(per_layer)
    assert set(OP_METRICS) <= set(per_layer)
    assert {w for g in layer_map["layers"] for w in g["on"]} <= set(WORKLOADS)


def test_tables_are_copies_of_the_repo_test_tables():
    from experiments_datafusion_spark.io import DEFAULT_SF_DIR, TABLES

    fixtures = Path(DEFAULT_SF_DIR).parent
    if not fixtures.is_dir():
        pytest.skip("the repo's test tables are not present")
    for sf in ("sf0.1", "sf0.001"):
        for name in TABLES:
            copy, original = HERE / "data" / sf / f"{name}.parquet", fixtures / sf / f"{name}.parquet"
            assert copy.read_bytes() == original.read_bytes(), (sf, name)


def test_metric_value_parses_spark_formats():
    assert metric_value("600,000") == 600_000
    assert metric_value("10.0 MiB") == 10 * 2**20
    assert metric_value("528 ms") == pytest.approx(0.528)
    assert metric_value("total (min, med, max (stageId: taskId))\n1.4 s (278 ms, 280 ms, 793 ms (stage 1.0: task 2))") == pytest.approx(1.4)


def test_self_time_subtracts_the_union_of_overlapping_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 6.0}, {"start": 8.0, "end": 9.0}]
    assert self_time(parent, kids) == pytest.approx(4.0)


def test_fails_without_a_result_outside_a_checkout(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "olap_interactive", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_prints_every_end_to_end_metric_with_its_unit(workload):
    result, stdout = _smoke(workload, trace=0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert "error_rate=0.0000 ratio" in stdout


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_smoke_prints_every_layer_metric_and_nested_spans(workload):
    result, stdout = _smoke(workload, trace=1)
    assert result["correct"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    record = Path(stdout.strip().splitlines()[-2].split("record: ", 1)[1])
    spans = json.loads(record.with_suffix(".spans.json").read_text())
    by_id = {s["id"]: s for s in spans}
    assert {s["name"] for s in spans} >= {"op", "queries.construct", "operators.execute", "io.table", "spark.job"}
    for s in spans:
        assert s["start"] <= s["end"]
        assert s["self_s"] >= 0, s
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"], (s, parent)
            assert parent["op"] == s["op"]
