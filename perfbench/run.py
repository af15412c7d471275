"""KG benchmark: one workload, one seed, one JSON result line.

Usage, from the repository root::

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 30 --trace 0

See ``perfbench/README.md`` for the workloads and metrics.
"""

import os
import sys

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench.harness import main

    sys.exit(main())
