"""The benchmark's own tests: seeded inputs, metric names, smoke runs.

    python3 -m pytest perfbench/tests -q

The smoke runs start a real Spark session per workload (about a minute
each on 4 cores); the traced one starts two.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from layers import per_layer_names  # noqa: E402
from run import END_TO_END  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_inputs(tmp_path, workload):
    fn = gen.GENERATORS[workload]
    digests = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        fn(str(tmp_path / name), seed, "tiny")
        digests.append(gen.input_digest(str(tmp_path / name)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_spec_names_every_metric_the_benchmark_prints():
    assert [w["name"] for w in SPEC["workloads"]] == sorted(gen.GENERATORS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == (
        per_layer_names()
    )


def test_missing_program_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "curate_crawl", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_tiny_smoke_run_passes_its_checks(workload):
    r = _result(_run(["--workload", workload, "--seed", "3", "--seconds", "1",
                      "--trace", "0", "--size", "tiny"]))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0
    assert set(r["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_tiny_traced_run_reports_layers():
    r = _result(_run(["--workload", "curate_crawl", "--seed", "3",
                      "--seconds", "1", "--trace", "1", "--size", "tiny"]))
    assert r["correct"]
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert set(m) == set(per_layer_names())
    for layer in ("session", "sources.io", "stages.extraction",
                  "stages.cleaning", "stages.analysis", "stages.lid",
                  "stages.flagging", "operators.dedup", "operators.quality"):
        assert m[f"{layer}.busy_s"] > 0, layer
        assert m[f"{layer}.task_s"] > 0, layer
    assert m["sources.io.rows_out"] > 0
    assert 0 < m["stages.flagging.survivor_frac"] < 1
    # measured against an untraced run of the same seed in this invocation
    assert m["trace.overhead_frac"] != 0.0
