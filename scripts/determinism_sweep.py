"""Cross-parallelism determinism sweep: run every driver-contract query
under two deliberately different Spark configurations (core count AND
shuffle partition count) and compare canonical result hashes.

Why this exists: the driver executes queries() under ITS session
config, not ours. Any partition-layout-dependent nondeterminism
(float sum order in avg/sum of doubles, window ties, unstable ids)
would pass a single-session oracle check and still flake in the gate.
This sweep is the direct test of layout invariance.

Usage: python scripts/determinism_sweep.py [sf_dir]
Exit code 0 iff every query hashes identically under both configs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import hashlib, json, sys
master, shuffle, sf_dir, out_path = sys.argv[1:5]
from easyner_spark.session import get_spark
from easyner_spark.queries import QUERIES
spark = get_spark(master=master, shuffle_partitions=int(shuffle), app_name="det")
out = {}
for name, fn in sorted(QUERIES.items()):
    df = fn(spark, sf_dir)
    # scalar-only contract outputs (CLAUDE.md): repr() below would hash
    # list cells happily, hiding the driver-canonicalizer crash class
    # (the r4 embed_label_centroids red row) behind a green sweep
    bad = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    if bad:
        raise SystemExit(f"{name}: non-scalar output columns {bad}")
    cols = sorted(df.columns)
    rows = sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())
    out[name] = hashlib.md5(repr(rows).encode()).hexdigest()
json.dump(out, open(out_path, "w"))
"""


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # both knobs differ between the two layouts; neither oversubscribes
    # a 4-core host
    configs = [("local[2]", "3"), ("local[4]", "16")]
    hashes = []
    with tempfile.TemporaryDirectory(prefix="det_sweep_") as tmp:
        for i, (master, shuffle) in enumerate(configs):
            path = os.path.join(tmp, f"{i}.json")
            proc = subprocess.run(
                [sys.executable, "-c", WORKER, master, shuffle, sf_dir, path],
                cwd=REPO, capture_output=True, text=True,
            )
            if proc.returncode != 0:
                tail = "\n".join(proc.stderr.splitlines()[-20:])
                print(
                    f"worker {master} shuffle={shuffle} exited "
                    f"{proc.returncode}:\n{tail}",
                    file=sys.stderr,
                )
                return 1
            with open(path) as f:
                hashes.append(json.load(f))
    a, b = hashes
    diff = sorted(k for k in a if a[k] != b[k])
    print(json.dumps({"queries": len(a), "mismatched": diff}))
    return 1 if diff else 0


if __name__ == "__main__":
    raise SystemExit(main())
