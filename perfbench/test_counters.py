"""Checks of the benchmark itself (not part of the repository's tier-1 run).

    python3 -m pytest perfbench/test_counters.py -q

Runs each workload's traced run twice at one seed on a reduced corpus and
asserts that the deterministic counters (``jobs``, ``stages``, ``tasks``)
of every span repeat exactly, so later changes can rest claims on counts.
Also asserts that ``BENCHMARK.json`` lists exactly the metrics ``run.py``
prints.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402

SEED = 5
PAGES = 1500


def _traced(workload: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "4", "--trace", "1", "--pages", str(PAGES)]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    result = json.loads(res.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{SEED}.json")) as f:
        return result, json.load(f)


def _counters(trace: dict, n_ops: int) -> list[tuple]:
    return sorted((s["op"], s["name"], s["jobs"], s["stages"], s["tasks"])
                  for s in trace["spans"] if s["op"] is not None and s["op"] < n_ops)


@pytest.mark.parametrize("workload", ["kg_build", "kg_live"])
def test_counters_repeat_exactly(workload):
    (r1, t1), (r2, t2) = _traced(workload), _traced(workload)
    assert r1["correct"] and r2["correct"] and r1["failed"] == r2["failed"] == 0
    # the timed loop may run a different number of operations; compare the
    # common prefix, which covers set-up and at least one traced unit
    n = 0
    for a, b in zip(t1["ops"], t2["ops"]):
        if [a[k] for k in ("label", "timed", "traced")] != [b[k] for k in ("label", "timed", "traced")]:
            break
        n += 1
    assert any(op["timed"] for op in t1["ops"][:n])
    c1 = _counters(t1, n)
    assert c1 == _counters(t2, n)
    assert any(jobs for _, _, jobs, _, _ in c1)


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["per_layer"] == tracing.per_layer_spec()
    assert [m["name"] for m in bench["end_to_end"]] and {
        m["name"] for m in bench["end_to_end"]} == {"setup_s", "ops_per_s", "op_p50_ms"}
    import run
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
