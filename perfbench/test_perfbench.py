"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke runs start real Spark sessions at a small input size, so the
module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.layers import END_TO_END, EXACT, NOT_EXACT, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SMOKE_PAGES = 5000


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT,
         pages: int | None = SMOKE_PAGES) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    if pages:
        cmd += ["--pages", str(pages)]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True,
                          text=True, timeout=600)


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [(w["name"], w["why"]) for w in b["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()]
    assert [(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] \
        == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] \
        == [(n, u, d) for n, u, d, _ in PER_LAYER]
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_inputs_are_seeded_and_keys_fit_the_hash():
    a, b, c = (inputs.lineitem(s, 20_000) for s in (7, 7, 8))
    assert a.equals(b) and not a.equals(c)
    key = (a.column("l_orderkey").to_numpy() * 8
           + a.column("l_linenumber").to_numpy())
    assert a.num_rows == 20_000 and key.max() <= inputs.MAX_KEY
    assert len(set(key.tolist())) == a.num_rows


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_matches_oracle(workload):
    r = _result(_run(workload, seed=3, trace=0))
    w = WORKLOADS[workload]
    assert r["correct"] and r["failed"] == 0
    assert r["attempted"] >= 2 + w.warm_passes
    assert [k for k in r["metrics"]] == [n for n, *_ in END_TO_END]
    assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_counts_repeat_exactly(workload):
    a, b = (_result(_run(workload, seed=5, trace=1)) for _ in range(2))
    assert a["correct"] and b["correct"]
    assert list(a["metrics"]) == [n for n, *_ in PER_LAYER]
    for name in set(EXACT) - set(NOT_EXACT.get(workload, ())):
        assert a["metrics"][name] == b["metrics"][name], name
    assert a["metrics"]["job.spark_jobs"]["value"] > 0


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("flagship", seed=1, trace=0, cwd=str(tmp_path), pages=None)
    assert p.returncode != 0
    assert not any(ln.startswith("{") for ln in p.stdout.splitlines())
