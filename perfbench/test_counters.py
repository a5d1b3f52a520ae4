"""Self-test of the benchmark: two traced runs of one seed report the
same deterministic counters, exactly. Slow (six Spark processes, about
five minutes on four cores); run it from the repository root with

    python3 -m pytest perfbench/test_counters.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import DETERMINISTIC, NON_EXACT, WORKLOADS  # noqa: E402


def _traced(workload: str, seed: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counters_repeat_exactly(workload):
    (sa, ra), (sb, rb) = _traced(workload, 7), _traced(workload, 7)
    assert ra["correct"] and rb["correct"]
    exact = [n for n in DETERMINISTIC if n not in NON_EXACT.get(workload, ())]
    assert exact and {n: sa["deterministic"][n] for n in exact} == {
        n: sb["deterministic"][n] for n in exact
    }
    assert sa["deterministic"]["spark.jobs"] > 0
