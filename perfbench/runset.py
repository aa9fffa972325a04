#!/usr/bin/env python3
"""Run sets of benchmark runs, for compare.py.

    python3 perfbench/runset.py OUT.jsonl --seeds 1-10 [--workloads a,b] [--trace]
        One run per workload and seed in this checkout, appended to OUT.
    python3 perfbench/runset.py OUT_PREFIX --ab PARENT_DIR CHANGE_DIR --seeds 1-10
        Alternating pairs: for each workload and seed, both checkouts run,
        the first one alternating from pair to pair. Writes
        OUT_PREFIX.parent.jsonl and OUT_PREFIX.change.jsonl.

Run lengths come from BENCHMARK.json (run_seconds), the same on both sides.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def one(checkout, workload, seed, seconds, trace):
    """Runs perfbench/run.py in `checkout`; returns its parsed result line
    (None when the run printed none) and the run's host probe."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
           str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    sys.stderr.write("".join(l + "\n" for l in p.stdout.splitlines()[:-1]))
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        return None, None
    bdir = os.path.join(checkout, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    with open(os.path.join(bdir, "results", f"{workload}-{seed}-{int(trace)}.json")) as f:
        probe = json.load(f)["host_probe_s"]
    return json.loads(p.stdout.splitlines()[-1]), probe


def main(argv=None):
    ap = argparse.ArgumentParser(description="run sets of benchmark runs")
    ap.add_argument("out")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--ab", nargs=2, metavar=("PARENT", "CHANGE"))
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else \
        [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    order = 0
    if args.ab:
        sides = {"parent": args.ab[0], "change": args.ab[1]}
        files = {k: open(f"{args.out}.{k}.jsonl", "a") for k in sides}
    else:
        sides = {"this": ROOT}
        files = {"this": open(args.out, "a")}
    ok = True
    for w in workloads:
        for i, seed in enumerate(seeds_of(args.seeds)):
            names = list(sides)
            if i % 2:
                names.reverse()
            for name in names:
                order += 1
                line, probe = one(sides[name], w, seed, seconds, args.trace)
                ok &= line is not None
                row = {"workload": w, "seed": seed, "order": order,
                       "trace": int(args.trace), "host_probe_s": probe, "line": line}
                files[name].write(json.dumps(row) + "\n")
                files[name].flush()
                print(f"{name} {w} seed={seed} "
                      f"{'no result' if line is None else json.dumps(line)}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
