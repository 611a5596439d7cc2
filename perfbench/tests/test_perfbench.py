"""Self-test of the benchmark at tiny size.

    python -m pytest perfbench/tests -q

Runs every workload once traced (which also runs untraced passes) and one
workload untraced, as subprocesses from the repository root, and checks the
result contract: each workload completes with correct outputs, output digests
repeat across passes (every pass is compared with the pin), a seed with no
pin is not correct, any seed maps onto a pinned input set, span walls
account for the pass wall, the inputs are generated without geospark, and
the metric names match BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED = 3

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fp:
    SPEC = json.load(_fp)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(*args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run(workload):
    res = _result(_run("--workload", workload, "--seed", str(SEED), "--seconds", "1",
                       "--trace", "1", "--size", "tiny"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    # warm pass + at least one untraced and one traced pass, all digest-checked
    assert res["attempted"] >= 3
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert all(v["unit"] == units[k] for k, v in res["metrics"].items())
    assert res["metrics"]["trace.overhead_ratio"]["value"] > 0

    with open(os.path.join(ROOT, ".perfbench", "runs",
                           f"spans-{workload}-s{SEED}.json")) as fp:
        spans = json.load(fp)
    roots = [s for s in spans if s["name"] == "pass"]
    assert roots
    for root in roots:
        children = [s for s in spans if s["parent"] == root["id"]]
        covered = sum(s["end"] - s["start"] for s in children)
        wall = root["end"] - root["start"]
        assert 0.9 * wall <= covered <= wall + 1e-6, (covered, wall)


def test_measured_run():
    # a seed past the pinned range runs the input set of its residue, SEED
    sys.path.insert(0, ROOT)
    from perfbench.run import INPUT_SETS

    res = _result(_run("--workload", "dedup_docs", "--seed", str(SEED + 7 * INPUT_SETS),
                       "--seconds", "1", "--size", "tiny"))
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 4
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_unpinned_seed_is_not_correct():
    # tiny seed 4 has no pin in pins.json: the run completes, but not correct
    res = _result(_run("--workload", "dedup_docs", "--seed", "4", "--seconds", "1",
                       "--size", "tiny"))
    assert res["correct"] is False and res["failed"] == 1 and res["attempted"] >= 5


def test_inputs_do_not_depend_on_geospark():
    code = ("import sys; import perfbench.gen; "
            "assert not any(m.startswith('geospark') for m in sys.modules), 'geospark imported'")
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                          text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr


def test_spec_matches_code():
    sys.path.insert(0, ROOT)
    from perfbench import layers
    from perfbench.run import parse_args

    assert [m["name"] for m in SPEC["per_layer"]] == [n for n, _ in layers.per_layer_metrics()]
    for w in WORKLOADS:
        parse_args(["--workload", w, "--seed", "1", "--seconds", "1"])
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                cwd=tmp_path, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
