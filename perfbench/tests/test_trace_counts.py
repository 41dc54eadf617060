"""The traced run's per-span Spark job and stage counts repeat exactly.

Runs each workload's traced run twice with one seed (minimum length: two
rounds) and compares every span's counts. These counts are the
deterministic work counters a speed claim cites. Slow: several minutes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED = 5


def traced_run(workload: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", "1"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{SEED}.trace.json")) as f:
        return json.load(f)


def counts(trace: dict) -> list[tuple]:
    return [(s["name"], s.get("kind"), s["jobs"], s["stages"]) for s in trace["spans"]]


@pytest.mark.parametrize("workload", ["serve", "live"])
def test_span_counts_repeat(workload):
    a, b = traced_run(workload), traced_run(workload)
    assert a["digest"] == b["digest"]
    assert counts(a) == counts(b)

    spans = a["spans"]
    fetch_docs = [s["jobs"] for s in spans if s["name"] == "engine.fetch_docs"]
    assert fetch_docs and set(fetch_docs) <= {1, 2}  # 1 for a one-doc page
    absent = [s["jobs"] for s in spans
              if s["name"] == "engine.fetch_terms" and s.get("kind") == "absent_require"]
    assert absent and set(absent) == {0}  # the bloom answers absent terms
    cold = [s["jobs"] for s in spans
            if s["name"] == "engine.fetch_terms" and s.get("kind") == "cold"]
    assert cold and min(cold) > 0
