"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The generator tests are pure Python. The smoke tests run
``perfbench/run.py`` at the tiny input size in a subprocess (one Spark
process each, about five minutes in all) from the root of the checkout.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("make", [
    lambda seed, d: gen.make_replicate_inputs(seed, d, 300, 3, 50),
    lambda seed, d: gen.make_query_inputs(seed, d, 300, 2),
])
def test_generator_is_deterministic(tmp_path, make):
    a, b, c = (str(tmp_path / n) for n in "abc")
    make(7, a)
    make(7, b)
    make(8, c)
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


def test_model_tracks_churn():
    g = gen.Generator(3)
    corpus = g.corpus(200)
    churn = g.churn(100)
    live = gen.docs_of(corpus + churn)
    assert set(live) == set(g.model.live)
    assert all(g.model.live[i][0] == d["_rev"] for i, d in live.items())
    kinds = [("delete" if c["deleted"] else "upsert") for c in churn]
    assert 0 < kinds.count("delete") < kinds.count("upsert")


def _run(workload: str, *extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric(workload, trace):
    result, text = _run(workload, "--trace", trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, text
    spec = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert f"{m['name']} = " in text
        if trace == "0":
            assert got["value"] > 0, m["name"]


def test_wrong_model_is_caught():
    result, text = _run("replicate", "--trace", "0", "--break-model")
    assert result["failed"] > 0 and result["correct"] is False, text


def test_refuses_to_run_without_the_engine(tmp_path):
    """A directory with only the benchmark has no engine to measure."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        "query", "--seed", "1", "--seconds", "1"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert "correct" not in p.stdout
