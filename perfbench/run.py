"""Layered extraction benchmark.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Runs from any working directory.  The package is found next to this
directory and handed to Spark's Python workers through ``PYTHONPATH``; every
file the run writes (inputs, Spark scratch, job outputs, traces) goes under
``.perfbench_work/`` at the root of the checkout.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before it
holds the host context (CPU count, load average at start and end) and the
individual set-up times.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "document_automation_spark", "__init__.py")):
        print(f"perfbench: no document_automation_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    tmp = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp

    import harness

    if args.workload not in harness.WORKLOADS:
        parser.error(f"--workload must be one of {', '.join(harness.WORKLOADS)}")
    bench = harness.Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    print(harness.json_line(bench.run()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
