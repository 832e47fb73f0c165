import os
import sys

# the benchmark's modules and the engine are imported as top-level
# modules, the way perfbench/run.py imports them
BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (BENCH_DIR, os.path.dirname(BENCH_DIR)):
    if p not in sys.path:
        sys.path.insert(0, p)
