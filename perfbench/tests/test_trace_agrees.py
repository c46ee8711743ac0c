"""Tracing does not change what the program does: a traced and an
untraced run of the same seed agree exactly on plan-memo hits and on the
jobs the builders run.

Starts the benchmark twice (about two minutes); marked slow.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
SEED = 424242


def _run(trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload",
           "mix_rotate", "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"], proc.stderr[-3000:]
    path = os.path.join(ROOT, ".perfbench_out", f"mix_rotate-s{SEED}-t{trace}.json")
    with open(path) as f:
        return json.load(f)


@pytest.mark.slow
def test_traced_and_untraced_runs_agree():
    plain, traced = _run(0), _run(1)
    assert plain["check_order"] == traced["check_order"]
    for key in ("plan_memo_hit", "build_jobs"):
        assert ([o[key] for o in plain["check_ops"]]
                == [o[key] for o in traced["check_ops"]]), key
        n = min(len(plain["per_pass"][key]), len(traced["per_pass"][key]))
        assert n >= 2
        assert plain["per_pass"][key][:n] == traced["per_pass"][key][:n], key
    assert traced["untagged_jobs"] == []
