import os
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(BENCH_DIR)
for p in (REPO_ROOT, BENCH_DIR):
    if p not in sys.path:
        sys.path.insert(0, p)
