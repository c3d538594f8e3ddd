import os
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
# the repo for ``dedup_bench.*`` and the product, the benchmark's own
# directory for its entry point ``run``
for path in (REPO, BENCH):
    if path not in sys.path:
        sys.path.insert(0, path)
