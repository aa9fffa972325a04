"""Unit tests for the benchmark's scoring, attribution fold and comparison
tool. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import bench  # noqa: E402
import compare  # noqa: E402

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class TailPercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_above(self):
        vals = list(range(1, 101))  # 100 distinct samples
        pct, v = bench.tail_percentile(vals)
        self.assertEqual((pct, v), (90, 90))
        self.assertEqual(sum(1 for x in vals if x > v), 10)

    def test_fewer_samples_lower_the_percentile(self):
        vals = list(range(1, 51))
        pct, v = bench.tail_percentile(vals)
        self.assertEqual((pct, v), (80, 40))

    def test_ties_do_not_count_as_beyond(self):
        vals = [1.0] * 50 + [2.0] * 9
        self.assertIsNone(bench.tail_percentile(vals))

    def test_too_few_samples(self):
        self.assertIsNone(bench.tail_percentile(list(range(10))))


def job(i, tags, compact=False):
    return {"kind": "job", "job": i, "tags": tags, "submit_ms": 1000 + i,
            "end_ms": 1001 + i, "exec": None, "compact": compact}


def stage(i, job_id, tasks=2, run_ms=10, sw=5, sr=5, spill=0, rows=3):
    return {"kind": "stage", "stage": i, "job": job_id, "attempt": 0, "tasks": tasks,
            "run_ms": run_ms, "shuffle_write": sw, "shuffle_read": sr, "spill": spill,
            "input_rows": rows, "submit_ms": 0, "end_ms": 0}


def totals(records):
    st = [r for r in records if r["kind"] == "stage"]
    t = {"kind": "totals", "jobs": sum(1 for r in records if r["kind"] == "job"),
         "stages": len(st)}
    for k in ("tasks", "run_ms", "shuffle_write", "shuffle_read", "spill"):
        t[k] = sum(s[k] for s in st)
    return t


class FoldTest(unittest.TestCase):
    def chain_records(self):
        recs = [job(0, ["op1", "op1.m1", "spark-session-x"]),
                job(1, ["op1", "op1.c2"]),
                job(2, ["op1", "op1.c7"], compact=True),
                job(3, ["op2", "op2.m1"]),
                job(4, ["check.market", "check.market.m1"])]
        recs += [stage(10, 0), stage(11, 0, tasks=4, run_ms=30), stage(12, 1),
                 stage(13, 2, sw=0, sr=7), stage(14, 3), stage(15, 4)]
        return recs + [totals(recs)]

    def test_fold_attributes_by_tag(self):
        by_op, by_step, un = bench.fold(self.chain_records())
        self.assertEqual(by_op["op1"]["jobs"], 3)
        self.assertEqual(by_op["op1"]["stages"], 4)
        self.assertEqual(by_op["op1"]["tasks"], 10)
        self.assertEqual(by_op["op1"]["run_ms"], 60)
        self.assertEqual(by_step[("op1", "m1")]["stages"], 2)
        self.assertEqual(by_step[("op1", "compact")]["shuffle_read"], 7)
        self.assertEqual(by_op["check.market"]["stages"], 1)
        self.assertEqual(sum(un.values()), 0)

    def test_exact_attribution_passes(self):
        self.assertEqual(bench.attribution_errors(self.chain_records(), chain=True), [])

    def test_untagged_work_fails_the_check(self):
        recs = self.chain_records()[:-1]
        recs += [job(9, ["spark-session-x"]), stage(19, 9)]
        errs = bench.attribution_errors(recs + [totals(recs)], chain=True)
        self.assertTrue(any("not attributed" in e for e in errs))

    def test_lost_task_events_fail_the_check(self):
        recs = self.chain_records()
        recs[-1]["tasks"] += 1  # a task the stages did not report
        errs = bench.attribution_errors(recs, chain=True)
        self.assertTrue(any(e.startswith("tasks: per-op sum") for e in errs))

    def test_chain_job_outside_any_step_fails_the_check(self):
        recs = self.chain_records()[:-1]
        recs += [job(8, ["op2"]), stage(18, 8)]
        errs = bench.attribution_errors(recs + [totals(recs)], chain=True)
        self.assertTrue(any("per-step sum" in e for e in errs))


class StepWallTest(unittest.TestCase):
    def markers(self, n, with_done=True):
        out = [{"line": f"[p] step {k}/{n}: x", "ns": k * 10**9, "ms": k * 1000}
               for k in range(1, n + 1)]
        if with_done:
            out.append({"line": "[p] all pipelines completed successfully",
                        "ns": (n + 2) * 10**9, "ms": (n + 2) * 1000})
        return out

    def test_steps_and_compact_split(self):
        w = bench.step_walls(self.markers(7), 7, compact_start_ms=7500)
        self.assertEqual(w["1"], 1.0)
        self.assertEqual(w["7"], 0.5)
        self.assertEqual(w["compact"], 1.5)

    def test_missing_marker_leaves_step_absent(self):
        m = [x for x in self.markers(5) if "step 3/5" not in x["line"]]
        w = bench.step_walls(m, 5)
        # step 2 has lost its end marker, step 3 its start: both absent
        self.assertEqual(set(w), {"1", "4", "5"})

    def test_begin_line_opens_step_zero(self):
        m = [{"line": "begin", "ns": 5 * 10**8, "ms": 500}] + self.markers(5)
        self.assertEqual(bench.step_walls(m, 5)["0"], 0.5)

    def test_missing_completion_leaves_last_step_absent(self):
        w = bench.step_walls(self.markers(5, with_done=False), 5)
        self.assertNotIn("5", w)


class RegistryCheckTest(unittest.TestCase):
    def test_mismatch_and_failure(self):
        exp = {"q_a": {"rows": 3, "hash_sum": "10", "hash_xor": 1},
               "q_b": {"rows": 1, "hash_sum": "2", "hash_xor": 2}}
        checks = [{"id": "q_a", "ok": True, "rows": 3, "hash_sum": "10", "hash_xor": 1},
                  {"id": "q_b", "ok": True, "rows": 1, "hash_sum": "3", "hash_xor": 2},
                  {"id": "q_c", "ok": False, "error": "boom"}]
        bad = bench.check_registry(checks, exp)
        self.assertEqual(set(bad), {"q_b", "q_c"})
        self.assertIn("boom", bad["q_c"])

    def test_sample_is_a_seeded_order_of_the_committed_ids(self):
        ids = {f"q_{i}": {} for i in range(30)}
        a, b = bench.sample(ids, 1), bench.sample(ids, 2)
        self.assertEqual(sorted(a), sorted(ids))
        self.assertEqual(a, bench.sample(ids, 1))
        self.assertNotEqual(a, b)


def run_row(workload, seed, values, trace=0):
    return {"workload": workload, "seed": seed, "order": seed, "trace": trace,
            "line": {"correct": True, "attempted": 1, "failed": 0,
                     "metrics": {k: {"value": v, "unit": "s"} for k, v in values.items()}}}


SPEC = {"op_p50_s": {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.1},
        "ok_frac": {"name": "ok_frac", "unit": "ratio", "better": "higher", "bound": 0.01}}


class CompareTest(unittest.TestCase):
    def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_parent_iqr(self):
        parent = [run_row("w", s, {"op_p50_s": 1.0 + 0.01 * s}) for s in range(10)]
        change = [run_row("w", s, {"op_p50_s": 0.8 + 0.01 * s}) for s in range(10)]
        rows = compare.ab(parent, change, SPEC)
        self.assertEqual(rows[0]["verdict"], "gain")
        self.assertEqual(rows[0]["wins"], 10)

    def test_eight_wins_is_not_a_gain(self):
        parent = [run_row("w", s, {"op_p50_s": 1.0}) for s in range(10)]
        change = [run_row("w", s, {"op_p50_s": 0.98 if s < 8 else 1.02}) for s in range(10)]
        self.assertNotEqual(compare.ab(parent, change, SPEC)[0]["verdict"], "gain")

    def test_nine_pairs_is_not_a_gain(self):
        parent = [run_row("w", s, {"op_p50_s": 1.0 + 0.01 * s}) for s in range(9)]
        change = [run_row("w", s, {"op_p50_s": 0.5 + 0.01 * s}) for s in range(9)]
        self.assertEqual(compare.ab(parent, change, SPEC)[0]["verdict"], "no regression")

    def test_regression_beyond_bound(self):
        parent = [run_row("w", s, {"op_p50_s": 1.0}) for s in range(10)]
        change = [run_row("w", s, {"op_p50_s": 1.2}) for s in range(10)]
        self.assertEqual(compare.ab(parent, change, SPEC)[0]["verdict"], "regression")

    def test_wide_spread_is_unresolved(self):
        parent = [run_row("w", s, {"op_p50_s": [0.5, 1.5][s % 2]}) for s in range(10)]
        change = [run_row("w", s, {"op_p50_s": [0.6, 1.6][s % 2]}) for s in range(10)]
        self.assertEqual(compare.ab(parent, change, SPEC)[0]["verdict"], "unresolved")

    def test_higher_is_better_direction(self):
        parent = [run_row("w", s, {"ok_frac": 1.0}) for s in range(10)]
        change = [run_row("w", s, {"ok_frac": 0.9}) for s in range(10)]
        self.assertEqual(compare.ab(parent, change, SPEC)[0]["verdict"], "regression")

    def test_more_failures_block_a_gain(self):
        parent = [run_row("w", s, {"op_p50_s": 1.0 + 0.01 * s}) for s in range(10)]
        change = [run_row("w", s, {"op_p50_s": 0.8 + 0.01 * s}) for s in range(10)]
        change[3]["line"]["failed"] = 1
        row = compare.ab(parent, change, SPEC)[0]
        self.assertEqual(row["verdict"], "unresolved")
        self.assertEqual(row["failed"], [0, 1])

    def test_a_change_run_without_result_blocks_a_gain(self):
        parent = [run_row("w", s, {"op_p50_s": 1.0 + 0.01 * s}) for s in range(11)]
        change = [run_row("w", s, {"op_p50_s": 0.8 + 0.01 * s}) for s in range(11)]
        change[10]["line"] = None
        row = compare.ab(parent, change, SPEC)[0]
        self.assertEqual((row["pairs"], row["verdict"]), (10, "unresolved"))

    def test_an_incorrect_change_run_blocks_a_gain(self):
        parent = [run_row("w", s, {"op_p50_s": 1.0 + 0.01 * s}) for s in range(10)]
        change = [run_row("w", s, {"op_p50_s": 0.8 + 0.01 * s}) for s in range(10)]
        change[0]["line"]["correct"] = False
        self.assertEqual(compare.ab(parent, change, SPEC)[0]["verdict"], "unresolved")

    def test_equal_failures_keep_a_gain(self):
        parent = [run_row("w", s, {"op_p50_s": 1.0 + 0.01 * s}) for s in range(10)]
        change = [run_row("w", s, {"op_p50_s": 0.8 + 0.01 * s}) for s in range(10)]
        for rows in (parent, change):
            rows[5]["line"]["failed"] = 1
        self.assertEqual(compare.ab(parent, change, SPEC)[0]["verdict"], "gain")

    def test_setup_spread_is_judged_like_any_metric(self):
        spec = {"setup_s": {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.1}}
        a = [run_row("w", s, {"setup_s": [1.0, 1.5][s % 2]}) for s in range(10)]
        self.assertEqual(compare.noise(a, a, spec)[0]["verdict"], "unsteady")

    def test_noise_uses_quartile_spread_and_median_drift(self):
        a = [run_row("w", s, {"op_p50_s": v}) for s, v in enumerate([1.0, 1.01, 0.99, 1.02, 0.98])]
        b = [run_row("w", s, {"op_p50_s": v * 1.05}) for s, v in
             enumerate([1.0, 1.01, 0.99, 1.02, 0.98])]
        row = compare.noise(a, b, SPEC)[0]
        q1, _, q3 = statistics.quantiles([1.0, 1.01, 0.99, 1.02, 0.98], n=4)
        self.assertAlmostEqual(row["spread"][0], (q3 - q1) / 1.0)
        self.assertAlmostEqual(row["drift"], 0.05)
        self.assertEqual(row["verdict"], "steady")
        b2 = [run_row("w", s, {"op_p50_s": 1.2}) for s in range(5)]
        self.assertEqual(compare.noise(a, b2, SPEC)[0]["verdict"], "unsteady")

    def test_failed_runs_are_skipped(self):
        a = [run_row("w", 1, {"op_p50_s": 1.0}), dict(run_row("w", 2, {}), line=None)]
        self.assertEqual(compare.values_of(a, "w", "op_p50_s"), [1.0])


class SpecTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_the_runs_print(self):
        with open(SPEC_PATH) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, bench.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, bench.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(bench.WORKLOADS))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
