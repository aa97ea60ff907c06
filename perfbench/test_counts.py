"""Count-repeatability check: two traced runs of one seed must report the
same counts and the same result digests. These are the counts a later
change may cite as a count (not a speed-up); see README.md.

    python3 -m pytest perfbench/test_counts.py -q    # from the checkout root

Each workload runs twice (about five minutes in all on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from run import HERE, ROOT, WORK, WORKLOADS

REPEATABLE = (
    "spark.jobs",
    "spark.stages",
    "plans.iterate.rounds",
    "py4j.calls",
    "sources.derived.builds",
)
SEED = 7


def _traced_run(workload: str) -> tuple[dict, set]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=240, check=True,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(WORK, "trace", f"{workload}-s{SEED}.json")) as f:
        trace = json.load(f)
    digests = {
        (inv["query"], tuple(inv["digest"]))
        for p in trace["passes"]
        if p["traced"]
        for inv in p["invocations"]
    }
    return result, digests


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_counts_repeat(workload):
    a, digests_a = _traced_run(workload)
    b, digests_b = _traced_run(workload)
    assert a["correct"] and b["correct"]
    for name in REPEATABLE:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name
    assert digests_a == digests_b
    assert len(digests_a) == len(WORKLOADS[workload]["queries"])
