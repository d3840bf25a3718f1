"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,map_reads,analytics}
        --seed N --seconds S --trace {0,1}

Runs from the repository root. Prints every metric by name with its
unit, the run record, and as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("ingest", "map_reads", "analytics")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Fails here, before any Spark start, when the package is absent.
    import transit_feed_etl_spark  # noqa: F401

    from perfbench import analytics, ingest, map_reads
    from perfbench.harness import Run, print_human
    from perfbench.layers import install

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if run.trace:
            install(run)
        result = {"ingest": ingest, "map_reads": map_reads, "analytics": analytics}[
            args.workload
        ].run(run)
        if run.trace:
            spans = f"spans-{args.workload}-{args.seed}.jsonl"
            run.recorder.dump(os.path.join(os.path.dirname(run.work), spans))
    finally:
        run.stop()
    print_human(result, run.record)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
