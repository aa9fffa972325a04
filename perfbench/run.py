#!/usr/bin/env python3
"""spark-graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
program from source (perfbench/build.sbt compiles ../src/main with the
harness) and prepares the input fixtures; both are cached under
$CARGO_TARGET_DIR (default .bench_build) and reused while the sources are
unchanged. The measuring JVM is perfbench.Harness; this script chooses
its inputs, checks its outputs and turns its records into metrics.

The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json when --trace 0, and every
per-layer metric when --trace 1. A full run record (environment, samples,
per-op rows) is written to <build dir>/results/.
"""
import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench  # noqa: E402  (perfbench/bench.py)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(bench.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()
    try:
        result = bench.run(args.workload, args.seed, args.seconds,
                           bool(args.trace), started)
    except bench.BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for line in bench.summary_lines(result):
        print(line)
    print(json.dumps(result["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
