"""Crawl benchmark entry point.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 10 --trace 0

Prints a metric table on stderr and, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  Exits non-zero
when an output check fails.
"""

import time

T_PROCESS = time.perf_counter()

import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.bench import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main(t_process=T_PROCESS))
