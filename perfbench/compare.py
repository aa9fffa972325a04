#!/usr/bin/env python3
"""Compare benchmark run sets.

    python3 perfbench/compare.py noise A.jsonl B.jsonl [--traced T.jsonl] [--json OUT]
    python3 perfbench/compare.py ab PARENT.jsonl CHANGE.jsonl [--json OUT]

Each input holds one run per line as runset.py writes it:
{"workload", "seed", "order", "trace", "host_probe_s", "line": <the run's
result line>}.

noise  Two sets of the same code. Per workload and end-to-end metric:
       each set's median and spread (interquartile range as a share of
       the median, `statistics.quantiles(n=4)`), and the drift of the
       second median from the first. A metric is "steady" when both
       spreads and the drift are within its bound.
       With --traced (runs made with --trace 1) it also reports the
       tracing overhead: the traced op median over the untraced one.
ab     Parent against change, run as alternating pairs (same workload and
       seed; `order` says which ran first). A gain is claimed only with
       at least ten pairs, wins in at least nine tenths of them (ties
       count for neither) and a median gap larger than the parent's
       interquartile range. A change median worse than the parent's by
       more than the bound is a regression. Where either side's spread
       exceeds the bound the metric is "unresolved", unless every change
       run is better than every parent run. When the change fails more
       ops than the parent on a workload (a run without a result counts
       as one failure), or any change run is not correct, no metric of
       that workload is a gain: what would have been one is "unresolved".
Bounds and better-directions come from the repository's BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}


def load_runs(path):
    """Runs that printed a result; a run without one has `line` null."""
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def quartiles(values):
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def values_of(runs, workload, metric):
    return [r["line"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and not r.get("trace") and r["line"]
            and metric in r["line"]["metrics"]]


def worse_by(parent, change, better):
    """Relative worsening of `change` against `parent` (positive = worse)."""
    if parent == 0:
        return 0.0 if change == parent else float("inf")
    d = (change - parent) / abs(parent)
    return d if better == "lower" else -d


def noise(a_runs, b_runs, spec):
    rows = []
    for w in sorted({r["workload"] for r in a_runs} | {r["workload"] for r in b_runs}):
        for name, m in spec.items():
            a, b = values_of(a_runs, w, name), values_of(b_runs, w, name)
            if not a or not b:
                continue
            sa, sb = spread(a), spread(b)
            drift = worse_by(statistics.median(a), statistics.median(b), m["better"])
            spread_ok = sa <= m["bound"] and sb <= m["bound"]
            rows.append({
                "workload": w, "metric": name, "unit": m["unit"], "n": [len(a), len(b)],
                "median": [statistics.median(a), statistics.median(b)],
                "spread": [sa, sb], "drift": drift, "bound": m["bound"],
                "verdict": "steady" if spread_ok and drift <= m["bound"] else "unsteady"})
    return rows


def pairs_of(parent, change, workload):
    def side(runs):
        return {r["seed"]: r for r in runs
                if r["workload"] == workload and not r.get("trace") and r["line"]}
    p, c = side(parent), side(change)
    return [(p[s], c[s]) for s in sorted(p.keys() & c.keys())]


def failures(runs, workload):
    """Failed ops of a side; a run that printed no result counts as one."""
    return sum(r["line"]["failed"] if r["line"] else 1 for r in runs
               if r["workload"] == workload and not r.get("trace"))


def ab(parent, change, spec):
    rows = []
    for w in sorted({r["workload"] for r in parent} & {r["workload"] for r in change}):
        pairs = pairs_of(parent, change, w)
        failed = [failures(parent, w), failures(change, w)]
        more_failures = failed[1] > failed[0] or \
            not all(c["line"]["correct"] for _, c in pairs)
        for name, m in spec.items():
            got = [(p["line"]["metrics"][name]["value"], c["line"]["metrics"][name]["value"])
                   for p, c in pairs if name in p["line"]["metrics"]
                   and name in c["line"]["metrics"]]
            if not got:
                continue
            pv, cv = [g[0] for g in got], [g[1] for g in got]
            sign = 1 if m["better"] == "lower" else -1
            wins = sum(1 for a, b in got if sign * (b - a) < 0)
            losses = sum(1 for a, b in got if sign * (b - a) > 0)
            pq1, pmed, pq3 = quartiles(pv)
            cmed = statistics.median(cv)
            gap = sign * (pmed - cmed)  # positive = change better
            worse = worse_by(pmed, cmed, m["better"])
            all_better = all(sign * (b - a) < 0 for a in pv for b in cv)
            unresolved = (spread(pv) > m["bound"] or spread(cv) > m["bound"]) \
                and not all_better
            gain = len(got) >= 10 and wins >= 0.9 * len(got) and gap > (pq3 - pq1)
            if gain and not more_failures:
                verdict = "gain"
            elif unresolved or gain:
                verdict = "unresolved"
            elif worse > m["bound"]:
                verdict = "regression"
            else:
                verdict = "no regression"
            rows.append({
                "workload": w, "metric": name, "unit": m["unit"], "pairs": len(got),
                "wins": wins, "losses": losses, "parent_median": pmed,
                "change_median": cmed, "parent_iqr": pq3 - pq1,
                "spread": [spread(pv), spread(cv)], "worse_by": worse,
                "bound": m["bound"], "failed": failed, "verdict": verdict})
    return rows


def trace_overhead(runs):
    """Per workload: traced op median against the untraced op median."""
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        plain = values_of(runs, w, "op_p50_s")
        traced = [r["line"]["metrics"]["trace.op_p50_s"]["value"] for r in runs
                  if r["workload"] == w and r.get("trace") and r["line"]
                  and "trace.op_p50_s" in r["line"]["metrics"]]
        if plain and traced:
            out[w] = {"untraced_op_p50_s": statistics.median(plain),
                      "traced_op_p50_s": statistics.median(traced),
                      "overhead": statistics.median(traced) / statistics.median(plain) - 1,
                      "n": [len(plain), len(traced)]}
    return out


def fmt(rows, keys):
    lines = []
    for r in rows:
        cells = []
        for k in keys:
            v = r[k]
            if isinstance(v, list):
                v = "/".join(f"{x:.4g}" if isinstance(x, float) else str(x) for x in v)
            elif isinstance(v, float):
                v = f"{v:.4g}"
            cells.append(str(v))
        lines.append("  ".join(cells))
    return "\n".join(["  ".join(keys)] + lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description="compare benchmark run sets")
    ap.add_argument("mode", choices=("noise", "ab"))
    ap.add_argument("first")
    ap.add_argument("second")
    ap.add_argument("--traced", help="noise: traced runs of the same code")
    ap.add_argument("--json", help="also write the rows here")
    args = ap.parse_args(argv)
    spec = load_spec()
    a, b = load_runs(args.first), load_runs(args.second)
    if args.mode == "noise":
        rows = noise(a, b, spec)
        print(fmt(rows, ["workload", "metric", "n", "median", "spread", "drift",
                         "bound", "verdict"]))
        traced = load_runs(args.traced) if args.traced else []
        extra = {"trace_overhead": trace_overhead(a + b + traced),
                 "host_probe_s": [statistics.median(r["host_probe_s"] for r in runs
                                                    if r.get("host_probe_s"))
                                  for runs in (a, b)]}
        print("host probe median (s): " + " / ".join(f"{x:.4f}" for x in extra["host_probe_s"]))
        for w, o in extra["trace_overhead"].items():
            print(f"trace overhead {w}: {o['overhead']:+.3f} "
                  f"({o['traced_op_p50_s']:.4g} s traced vs {o['untraced_op_p50_s']:.4g} s)")
    else:
        rows = ab(a, b, spec)
        print(fmt(rows, ["workload", "metric", "pairs", "wins", "parent_median",
                         "change_median", "parent_iqr", "spread", "failed", "verdict"]))
        extra = {}
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"mode": args.mode, "rows": rows, **extra}, f, indent=1)
    bad = {"noise": ("unsteady",), "ab": ("regression", "unresolved")}[args.mode]
    return 1 if any(r["verdict"] in bad for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
