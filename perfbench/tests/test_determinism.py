"""Two traced runs of a small kg_build report identical deterministic
counts (rows, jobs, tasks, shuffle records, catalog batch counts).
Slow: two full traced runs (~4-5 min total)."""

import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(REPO_ROOT, "perfbench", "run.py")

COUNT_SUFFIXES = (
    ".rows", ".jobs", ".tasks", ".shuffle_records", ".files_written",
    ".batches_verified", ".batches_rewritten", ".rewrite_ratio",
)
# measured not to repeat exactly between runs, so not asserted: none
NON_REPEATING: set[str] = set()


def _traced_counts() -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", "kg_build", "--seed", "5",
         "--seconds", "0", "--trace", "1", "--pages", "150"],
        cwd=REPO_ROOT, capture_output=True, text=True, check=True, timeout=600,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"], result
    return {
        k: v["value"]
        for k, v in result["metrics"].items()
        if k.endswith(COUNT_SUFFIXES) and k not in NON_REPEATING
    }


def test_two_traced_runs_repeat_counts():
    first = _traced_counts()
    second = _traced_counts()
    assert first["stages.triples.rows"] > 0
    assert first["io.catalog.batches_rewritten"] > 0
    differ = {k: (first[k], second[k]) for k in first if first[k] != second[k]}
    assert not differ, f"counts that do not repeat: {differ}"
