"""Repeatability of the traced benchmark's Spark counters.

Runs the traced benchmark twice per workload at one seed. Every
operation's job, stage and task counts must be identical in each timed
pass of both runs. Shuffle bytes are not exact from pass to pass, so
they are compared within a tolerance. Takes about four benchmark runs;
it is not part of the repository's test suite:

    python3 -m pytest perfbench/test_counters.py -q
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import OUT, ROOT, WORKLOADS  # noqa: E402

SEED = 7
EXACT = ("spark.jobs", "spark.stages", "spark.tasks")
APPROX = ("spark.shuffle_read_b", "spark.shuffle_write_b")


def traced_run(workload: str) -> dict:
    subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(SEED),
            "--seconds", "1",
            "--trace", "1",
        ],
        cwd=ROOT,
        check=True,
        capture_output=True,
        timeout=300,
    )
    with open(os.path.join(OUT, f"{workload}-seed{SEED}-trace1.json")) as f:
        return json.load(f)


def timed_samples(record: dict, keys: tuple[str, ...]) -> dict[str, list[tuple]]:
    """``{op: [counter tuple per timed pass]}``."""
    out: dict[str, list[tuple]] = {}
    for p in record["passes"]:
        if p["kind"] == "timed":
            for o in p["ops"]:
                out.setdefault(o["op"], []).append(tuple(o[k] for k in keys))
    return out


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_counters_repeat_across_passes_and_runs(workload):
    first, second = traced_run(workload), traced_run(workload)
    assert first["failed"] == 0 and second["failed"] == 0

    a, b = timed_samples(first, EXACT), timed_samples(second, EXACT)
    assert sorted(a) == sorted(WORKLOADS[workload])
    for op in a:
        assert len(set(a[op] + b[op])) == 1, f"{op}: {a[op]} then {b[op]}"

    a, b = timed_samples(first, APPROX), timed_samples(second, APPROX)
    for op in a:
        ref = a[op][0]
        for sample in a[op] + b[op]:
            assert sample == pytest.approx(ref, rel=0.01, abs=1024), op
