"""Build, launch and score one benchmark run (used by run.py and runset.py).

Everything that turns the harness's records into metrics is a pure
function here, so tests/test_bench.py can check it on synthetic records.
"""
import hashlib
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")

# Wall-clock ceiling of one run; the harness gets what is left of it.
RUN_LIMIT_S = 175.0
BUILD_LIMIT_S = 800.0
HEAP = "2g"
SETUPS = 3
# --seconds buys one timed unit (a registry pass or a chain op, each 10-16 s
# on a 4-core host) per UNIT_S. A fixed count, not a deadline: with a
# deadline a faster host fits more units, each warmer than the last (the
# JIT is still improving pass over pass), which widens the run-to-run
# spread.
UNIT_S = 10.0

# workload -> (input table directory under perfbench/data, input tables
# whose bytes are the chains' input)
WORKLOADS = {
    "registry_mix": ("sf0.01", ()),
    "lake_chains": ("sf0.01", ("events", "documents")),
}

E2E = {  # name -> unit
    "setup_s": "s", "op_p50_s": "s", "pass_s": "s", "op_cpu_s": "s",
    "live_heap_mb": "MB", "ok_frac": "ratio",
}

# Step k of a chain is the k-th name; step 0 reads the chain's input.
MARKET_STEPS = ["input", "universe", "bronze", "silver", "gold", "snapshot"]
CORPUS_STEPS = ["input", "bronze", "dedup", "quality", "contamination", "pii",
                "budget", "pack", "compact"]


def _per_layer_units():
    units = {
        "setup.jvm_ms": "ms", "setup.session_s": "s", "setup.warmup_s": "s",
        "queries.build_ms": "ms", "queries.tail_s": "s", "queries.tail_pct": "%",
        "queries.samples": "count", "queries.distinct_ids": "count",
        "spark.analysis_ms": "ms", "spark.optimization_ms": "ms",
        "spark.planning_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.tasks_per_stage": "ratio",
        "spark.wall_per_stage_ms": "ms", "spark.task_s": "s",
        "spark.cores_busy": "cores", "spark.slot_idle_frac": "ratio",
        "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
        "spark.spill_mb": "MB", "spark.input_rows_per_output_row": "ratio",
        "codegen.compiles": "count", "codegen.compile_ms": "ms",
        "codegen.first_pass_compiles": "count",
        "codegen.cache_max_entries": "count",
        "lake.write_s": "s", "lake.bytes_written_mb": "MB",
        "lake.files_written": "count", "lake.readback_s": "s",
        "lake.compact_s": "s", "lake.files_before_compact": "count",
        "lake.files_after_compact": "count",
        "lake.stored_bytes_per_input_byte": "ratio",
        "gate.market_loss_pct": "%", "gate.corpus_loss_pct": "%",
        "jvm.gc_s": "s", "trace.op_p50_s": "s", "trace.attribution_ok": "count",
        "chain.market_s": "s", "chain.corpus_s": "s",
    }
    for chain, steps in (("market", MARKET_STEPS), ("corpus", CORPUS_STEPS)):
        for s in steps:
            units[f"step.{chain}.{s}.s"] = "s"
            units[f"step.{chain}.{s}.stages"] = "count"
            units[f"step.{chain}.{s}.rows_out"] = "count"
    return units


PER_LAYER = _per_layer_units()


class BenchError(Exception):
    """The benchmark could not run; no result is printed."""


# ---- statistics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(values, beyond=10):
    """Highest nearest-rank percentile (whole percent) with at least
    `beyond` samples strictly above its value, as (pct, value); None when
    the samples cannot support one."""
    s = sorted(values)
    n = len(s)
    for pct in range(99, 0, -1):
        rank = max(1, math.ceil(pct / 100.0 * n))
        v = s[rank - 1]
        if sum(1 for x in s if x > v) >= beyond:
            return pct, v
    return None


# ---- attribution fold ------------------------------------------------------

COUNTERS = ("jobs", "stages", "tasks", "run_ms", "shuffle_write",
            "shuffle_read", "spill")


def op_tag(tags):
    """The op-level tag of a job (`opN` or `check.<id>`), or None."""
    own = [t for t in tags if re.fullmatch(r"op\d+|check\.[^.]+", t)]
    return own[0] if len(own) == 1 else None


def step_tag(tags):
    """The step tag of a chain job: `opN.mK` (market step K) or `opN.cK`
    (corpus step K), or None."""
    own = [t for t in tags if re.fullmatch(r"op\d+\.[mc]\d+", t)]
    return own[0] if len(own) == 1 else None


def fold(records):
    """Folds jobs and stages by op tag and by step key.

    Returns (by_op, by_step, unattributed) where by_op maps an op tag to
    its counters, by_step maps (op tag, step key) to counters, and
    unattributed holds the counters of work with no single op tag. A
    corpus step-7 job whose stages run `Lake.compact` is keyed to the
    step "compact"; every other job to its `mK` or `cK` tag."""
    jobs = {r["job"]: r for r in records if r["kind"] == "job"}
    by_op, by_step = {}, {}
    unattributed = dict.fromkeys(COUNTERS, 0)

    def add(tags, job, counters):
        op = op_tag(tags)
        if op is None:
            tgt = unattributed
        else:
            tgt = by_op.setdefault(op, dict.fromkeys(COUNTERS, 0))
        for k, v in counters.items():
            tgt[k] += v
        st = step_tag(tags)
        if op is not None:
            key = (op, step_key(st, job)) if st else (op, None)
            sc = by_step.setdefault(key, dict.fromkeys(COUNTERS, 0))
            for k, v in counters.items():
                sc[k] += v

    for j in jobs.values():
        add(j["tags"], j, {"jobs": 1})
    for s in (r for r in records if r["kind"] == "stage"):
        j = jobs.get(s.get("job"))
        counters = {"stages": 1, "tasks": s["tasks"], "run_ms": s["run_ms"],
                    "shuffle_write": s["shuffle_write"],
                    "shuffle_read": s["shuffle_read"], "spill": s["spill"]}
        add(j["tags"] if j else [], j, counters)
    return by_op, by_step, unattributed


def step_key(tag, job):
    k = tag.rsplit(".", 1)[1]
    return "compact" if job is not None and job.get("compact") else k


def attribution_errors(records, chain):
    """Differences between the per-op (and, for chains, per-step) sums of
    the fold and the listener's whole-run totals; empty when exact."""
    totals = next((r for r in records if r["kind"] == "totals"), None)
    if totals is None:
        return ["no totals record"]
    by_op, by_step, unattributed = fold(records)
    errs = []
    for k in COUNTERS:
        if unattributed[k]:
            errs.append(f"{k}: {unattributed[k]} not attributed to one op")
        ops = sum(c[k] for c in by_op.values())
        if ops != totals.get(k, 0):
            errs.append(f"{k}: per-op sum {ops} != run total {totals.get(k, 0)}")
        if chain:
            steps = sum(c[k] for (op, st), c in by_step.items()
                        if st is not None and op.startswith("op"))
            timed = sum(c[k] for op, c in by_op.items() if op.startswith("op"))
            if steps != timed:
                errs.append(f"{k}: per-step sum {steps} != chain-op total {timed}")
    return errs


# ---- chain markers ---------------------------------------------------------

STEP_RE = re.compile(r"step (\d+)/(\d+)")
DONE_RE = re.compile(r"completed successfully")
COMPACT_RE = re.compile(r"compacted \S+ (\d+) -> (\d+) files")
GATE_RE = re.compile(r"quality gate: removed \d+/\d+ \(([0-9.]+)%\)")


def step_walls(markers, n_steps, compact_start_ms=None):
    """Wall seconds per step number ("0" from the `begin` line to step 1)
    and, when `compact_start_ms` is given, "compact" split off the last
    step. A step without both of its markers is left out."""
    starts, done = {}, None
    for m in markers:
        g = STEP_RE.search(m["line"])
        if m["line"] == "begin":
            starts.setdefault(0, m)
        elif g and int(g.group(2)) == n_steps:
            starts.setdefault(int(g.group(1)), m)
        elif DONE_RE.search(m["line"]):
            done = m
    out = {}
    for k in range(0, n_steps + 1):
        end = starts.get(k + 1, done if k == n_steps else None)
        if k not in starts or end is None:
            continue
        if k == n_steps and compact_start_ms is not None:
            out[str(k)] = (compact_start_ms - starts[k]["ms"]) / 1e3
            out["compact"] = (done["ms"] - compact_start_ms) / 1e3
        else:
            out[str(k)] = (end["ns"] - starts[k]["ns"]) / 1e9
    return out


# ---- scoring -----------------------------------------------------------------

def check_registry(checks, expected):
    """Ids whose untimed fingerprint differs from the committed one, with
    the reason."""
    bad = {}
    for c in checks:
        want = expected.get(c["id"])
        if not c["ok"]:
            bad[c["id"]] = c.get("error") or "failed"
        elif want is None:
            bad[c["id"]] = "no committed fingerprint"
        elif [c["rows"], c["hash_sum"], c["hash_xor"]] != \
                [want["rows"], want["hash_sum"], want["hash_xor"]]:
            bad[c["id"]] = (f"fingerprint {c['rows']}/{c['hash_sum']}/{c['hash_xor']}"
                            f" != expected {want['rows']}/{want['hash_sum']}/{want['hash_xor']}")
    return bad


def registry_passes(ops, ids):
    """Wall of each pass over the sample, as graft.Bench totals it: the sum
    of its ops' walls. Only passes in which every id ran and matched its
    fingerprint count."""
    by_pass = {}
    for o in ops:
        by_pass.setdefault(o["pass"], []).append(o)
    return [sum(o["wall_s"] for o in p) for p in by_pass.values()
            if sorted(o["id"] for o in p) == sorted(ids)]


def score(records, workload, expected, input_bytes, trace):
    """Metrics, attempted/failed and diagnostics of one run's records."""
    kinds = {}
    for r in records:
        kinds.setdefault(r["kind"], []).append(r)
    if "done" not in kinds:
        raise BenchError("harness ended without completing the run")
    env = kinds["env"][0]
    setups = kinds.get("setup", [])
    ops = kinds.get("op", [])
    chain = workload == "lake_chains"
    failures = {}
    if chain:
        want = expected[workload]
        for o in kinds.get("check", []) + ops:
            w = want[o["id"]] if o["kind"] == "check" else [want["market"], want["corpus"]]
            if not o["ok"]:
                failures[o["tag"]] = o.get("error") or "failed"
            elif o["summary"] != w:
                failures[o["tag"]] = f"summary {o['summary']} != expected {w}"
        bad_ids = {}
    else:
        bad_ids = check_registry(kinds.get("check", []), expected["registry_mix"]["ids"])
        for o in ops:
            if not o["ok"]:
                failures[o["tag"]] = o.get("error") or "failed"
            elif o["id"] in bad_ids:
                failures[o["tag"]] = bad_ids[o["id"]]
    attempted = len(ops)
    failed = sum(1 for o in ops if o["tag"] in failures)
    good = [o for o in ops if o["tag"] not in failures]
    walls = [o["wall_s"] for o in good]
    if attempted == 0:
        raise BenchError("no op ran within the measured time")
    passes = walls if chain else registry_passes(good, expected["registry_mix"]["ids"])
    diag = {"failures": failures, "bad_ids": bad_ids, "ops": attempted, "env": env,
            "check_failed": any(t.startswith("check.") for t in failures) or bool(bad_ids),
            "op_walls": [[o["tag"], o["id"], o["wall_s"], o["cpu_s"]] for o in ops],
            "heap": kinds["heap"][0], "setups": setups,
            "check_wall_s": max(c["wall_s"] for c in kinds["check"]) if chain
            else kinds["check_pass"][0]["wall_s"],
            "first_pass_compiles": None if chain else kinds["check_pass"][0]["compiles"],
            "timed_compiles": sum(o["compiles"] for o in ops),
            "samples": {"setup_s": len(setups), "op_p50_s": len(walls),
                        "pass_s": len(passes), "op_cpu_s": len(walls),
                        "live_heap_mb": 1, "ok_frac": attempted}}

    e2e = {
        "setup_s": median([s["session_s"] + s["warmup_s"] for s in setups]),
        "op_p50_s": median(walls),
        "pass_s": median(passes),
        "op_cpu_s": median([o["cpu_s"] for o in good]),
        "live_heap_mb": kinds["heap"][0]["used_after_gc_mb"],
        "ok_frac": (attempted - failed) / attempted,
    }
    if not trace:
        return e2e, attempted, failed, diag

    layer = dict.fromkeys(PER_LAYER, 0.0)
    n = len(ops)
    layer["setup.jvm_ms"] = kinds["jvm"][0]["main_after_start_ms"]
    layer["setup.session_s"] = median([s["session_s"] for s in setups])
    layer["setup.warmup_s"] = median([s["warmup_s"] for s in setups])
    layer["trace.op_p50_s"] = e2e["op_p50_s"]
    layer["jvm.gc_s"] = sum(o["gc_s"] for o in ops) / n
    layer["codegen.compiles"] = sum(o["compiles"] for o in ops) / n
    layer["codegen.compile_ms"] = sum(o["compile_ms"] for o in ops) / n
    layer["codegen.cache_max_entries"] = float(env["codegen_cache_max_entries"])

    errs = attribution_errors(records, chain)
    diag["attribution_errors"] = errs
    layer["trace.attribution_ok"] = 0.0 if errs else 1.0
    by_op, by_step, _ = fold(records)
    op_tags = {o["tag"] for o in ops}
    tot = {k: sum(by_op.get(t, {}).get(k, 0) for t in op_tags) for k in COUNTERS}
    wall = sum(o["wall_s"] for o in ops)
    layer["spark.jobs"] = tot["jobs"] / n
    layer["spark.stages"] = tot["stages"] / n
    layer["spark.tasks"] = tot["tasks"] / n
    layer["spark.tasks_per_stage"] = tot["tasks"] / max(tot["stages"], 1)
    layer["spark.wall_per_stage_ms"] = 1e3 * wall / max(tot["stages"], 1)
    layer["spark.task_s"] = tot["run_ms"] / 1e3 / n
    layer["spark.cores_busy"] = tot["run_ms"] / 1e3 / wall
    layer["spark.slot_idle_frac"] = 1.0 - layer["spark.cores_busy"] / float(env["cores"])
    layer["spark.shuffle_write_mb"] = tot["shuffle_write"] / 2**20 / n
    layer["spark.shuffle_read_mb"] = tot["shuffle_read"] / 2**20 / n
    layer["spark.spill_mb"] = tot["spill"] / 2**20 / n

    queries = [q for q in kinds.get("query", []) if op_tag(q["tags"]) in op_tags]
    for ph in ("analysis", "optimization", "planning"):
        layer[f"spark.{ph}_ms"] = sum(q["phases"].get(ph, 0) for q in queries) / n
    job_op = {j["job"]: op_tag(j["tags"]) for j in kinds.get("job", [])}
    input_rows = sum(s["input_rows"] for s in kinds.get("stage", [])
                     if job_op.get(s.get("job")) in op_tags)
    if chain:
        out_rows = chain_layers(layer, ops, queries, kinds.get("job", []), by_step,
                                expected[workload], input_bytes, diag)
    else:
        checks = {c["id"]: c for c in kinds.get("check", [])}
        out_rows = sum(checks[o["id"]].get("rows", 0) for o in ops if o["id"] in checks)
        layer["queries.build_ms"] = 1e3 * median([o["build_s"] for o in ops])
        tail = tail_percentile(walls)
        if tail:
            layer["queries.tail_pct"], layer["queries.tail_s"] = float(tail[0]), tail[1]
        layer["queries.samples"] = float(len(walls))
        layer["queries.distinct_ids"] = float(len(checks))
        layer["codegen.first_pass_compiles"] = float(kinds["check_pass"][0]["compiles"])
    layer["spark.input_rows_per_output_row"] = input_rows / max(out_rows, 1)
    return layer, attempted, failed, diag


CHAINS = (("market", 5, MARKET_STEPS), ("corpus", 7, CORPUS_STEPS))


def compact_start(op_tag_, jobs):
    """When the corpus compaction epilogue starts: the end of the last
    step-7 job that is not part of `Lake.compact`."""
    ends = [j["end_ms"] for j in jobs if op_tag(j["tags"]) == op_tag_
            and step_tag(j["tags"]) == f"{op_tag_}.c7" and not j.get("compact")]
    return max(ends) if ends else None


def chain_layers(layer, ops, queries, jobs, by_step, want, input_bytes, diag):
    """Fills the lake, gate, chain and step metrics of a lake_chains run;
    returns the rows the ops wrote."""
    n = len(ops)
    writes = [(q, w) for q in queries for w in q["writes"]]
    layer["lake.write_s"] = sum(q["duration_ms"] for q in queries if q["writes"]) / 1e3 / n
    layer["lake.bytes_written_mb"] = sum(w["bytes"] for _, w in writes) / 2**20 / n
    layer["lake.files_written"] = sum(w["files"] for _, w in writes) / n
    layer["lake.readback_s"] = sum(q["duration_ms"] for q in queries
                                   if q["lake_read"] and not q["writes"]) / 1e3 / n
    layer["lake.stored_bytes_per_input_byte"] = \
        sum(o["lake_bytes"] for o in ops) / n / input_bytes
    layer["chain.market_s"] = median([o["chain_walls"][0] for o in ops])
    layer["chain.corpus_s"] = median([o["chain_walls"][1] for o in ops])
    layer["gate.corpus_loss_pct"] = 100.0 * want["corpus"][3] / max(want["corpus"][2], 1)
    acc = {}
    for o in ops:
        for name, n_steps, names in CHAINS:
            marks = o["markers"][name]
            walls = step_walls(marks, n_steps,
                               compact_start(o["tag"], jobs) if name == "corpus" else None)
            for m in marks:
                g = COMPACT_RE.search(m["line"])
                if g:
                    layer["lake.files_before_compact"] += int(g.group(1)) / n
                    layer["lake.files_after_compact"] += int(g.group(2)) / n
                g = GATE_RE.search(m["line"])
                if g:
                    layer["gate.market_loss_pct"] += float(g.group(1)) / n
            if "compact" in walls:
                layer["lake.compact_s"] += walls["compact"] / n
            for i, step in enumerate(names):
                key = "compact" if step == "compact" else str(i)
                tag_key = "compact" if step == "compact" else f"{name[0]}{i}"
                a = acc.setdefault(f"step.{name}.{step}", {"s": [], "stages": 0, "rows": 0})
                if key in walls:
                    a["s"].append(walls[key])
                a["stages"] += by_step.get((o["tag"], tag_key), {}).get("stages", 0)
        for q, w in writes:
            st = step_tag(q["tags"])
            if op_tag(q["tags"]) != o["tag"] or st is None:
                continue
            k = st.rsplit(".", 1)[1]
            name, idx = ("market", MARKET_STEPS) if k[0] == "m" else ("corpus", CORPUS_STEPS)
            step = "compact" if "_compacting_" in w["path"] else idx[int(k[1:])]
            acc[f"step.{name}.{step}"]["rows"] += w["rows"]
    diag["absent"] = []
    for base, a in acc.items():
        if len(a["s"]) != n:
            diag["absent"].append(base)
            for suffix in ("s", "stages", "rows_out"):
                layer.pop(f"{base}.{suffix}", None)
            continue
        layer[f"{base}.s"] = median(a["s"])
        layer[f"{base}.stages"] = a["stages"] / n
        layer[f"{base}.rows_out"] = a["rows"] / n
    return sum(w["rows"] for _, w in writes)


# ---- build and launch ------------------------------------------------------

def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compiles the program and harness once per source state; returns the
    run classpath and whether this call built it."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("program sources (src/main/scala/graft) not found; "
                         "run from the root of a spark-graft checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            raise BenchError(f"{tool} not found on PATH")
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    stamp_file = os.path.join(bdir, "stamp")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), False
    # sbt's own temp files (server sockets, file watchers) stay in the build
    # directory too
    sbt_tmp = os.path.join(bdir, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-J-Djava.io.tmpdir={sbt_tmp}", "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, capture_output=True, text=True,
                           timeout=max(30.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise BenchError("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError("build failed")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if "perfbench" not in cp or os.pathsep not in cp:
        raise BenchError("could not read the classpath from sbt")
    cp = jar_directories(cp, bdir)
    with open(cp_file, "w") as f:
        f.write(cp)
    dump_classes(cp, deadline)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def jar_directories(cp, bdir):
    """The classpath with each class directory replaced by a jar of it:
    class-data sharing archives classes from jars only."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(bdir, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for dp, _, fs in sorted(os.walk(entry)):
                    for f in sorted(fs):
                        z.write(os.path.join(dp, f),
                                os.path.relpath(os.path.join(dp, f), entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def cds_archive():
    return os.path.join(build_dir(), "classes.jsa")


CDS_QUIET = ["-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def dump_classes(cp, deadline):
    """Archives the classes one session set-up loads (JDK class-data
    sharing), so that every measuring JVM maps them instead of loading
    them again: about 5 s less of cold start per run. Without the archive
    the runs are the same, only slower to start; a failed dump is not an
    error."""
    jsa = cds_archive()
    if os.path.exists(jsa):
        os.remove(jsa)
    work = os.path.join(build_dir(), "work")
    os.makedirs(work, exist_ok=True)
    args = {"workload": "setup", "data": os.path.join(DATA, "sf0.01"), "work": work,
            "units": 0, "trace": 0, "cores": cores(), "setups": 1}
    try:
        harness(cp, args, deadline, "classes.log",
                cds=[f"-XX:ArchiveClassesAtExit={jsa}"] + CDS_QUIET)
    except BenchError:
        if os.path.exists(jsa):
            os.remove(jsa)
    shutil.rmtree(work, ignore_errors=True)


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_command(cp, tmp, main_class, cds=()):
    """The measuring JVM's command line up to `main_class`: a fixed,
    pre-touched G1 heap, Spark's JDK 17 module opens, and every temp file
    under `tmp` (-XX:-UsePerfData: no hsperfdata file in the system temp
    directory). `cds` are the class-data sharing options."""
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
        "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}"] + list(cds) + ["-cp", cp, main_class]


def harness(cp, args, deadline, log_name, cds=None):
    """Runs the harness JVM with key=value args; returns its records. The
    JVM maps the build's class-data archive when there is one, unless
    `cds` gives other class-data sharing options."""
    if cds is None:
        jsa = cds_archive()
        cds = [f"-XX:SharedArchiveFile={jsa}"] + CDS_QUIET if os.path.exists(jsa) else []
    bdir = build_dir()
    tmp = os.path.join(bdir, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(bdir, "logs"), exist_ok=True)
    out = os.path.join(bdir, "records.jsonl")
    if os.path.exists(out):
        os.remove(out)
    cmd = java_command(cp, tmp, "perfbench.Harness", cds) + \
        [f"{k}={v}" for k, v in args.items()] + [f"out={out}"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(bdir, "logs", log_name)
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                               env=env, timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness timed out (log: {log})")
    if p.returncode != 0 or not os.path.exists(out):
        raise BenchError(f"harness exited with {p.returncode} (log: {log})")
    with open(out) as f:
        return [json.loads(l) for l in f if l.strip()]


def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)


def sample(expected_ids, seed):
    """The registry_mix run order: the committed stratified sample,
    shuffled by the seed."""
    ids = sorted(expected_ids)
    random.Random(seed).shuffle(ids)
    return ids


def cores():
    return os.cpu_count() or 1


def host_probe():
    """Seconds to SHA-256 a fixed 64 MiB on one core: a record of the host's
    speed at run time, for telling host drift from a program change. It
    is not a metric and scales nothing."""
    buf = bytes(range(256)) * (1 << 18)
    t0 = time.perf_counter()
    hashlib.sha256(buf).digest()
    return time.perf_counter() - t0


def run(workload, seed, seconds, trace, started):
    cp, built = build(started + BUILD_LIMIT_S)
    deadline = (time.monotonic() if built else started) + RUN_LIMIT_S
    data_name, inputs = WORKLOADS[workload]
    data = os.path.join(DATA, data_name)
    if not os.path.isdir(data):
        raise BenchError(f"input tables not found at {data}")
    expected = load_expected()
    bdir = build_dir()
    args = {"workload": workload, "data": data, "work": os.path.join(bdir, "work"),
            "units": max(1, round(seconds / UNIT_S)), "trace": int(trace),
            "cores": cores(), "setups": SETUPS}
    ids = []
    if workload == "registry_mix":
        ids = sample(expected["registry_mix"]["ids"], seed)
        args["ids"] = ",".join(ids)
    shutil.rmtree(args["work"], ignore_errors=True)
    os.makedirs(args["work"])
    probe = host_probe()
    records = harness(cp, args, deadline, f"{workload}-{seed}-{int(trace)}.log")
    shutil.rmtree(args["work"], ignore_errors=True)
    input_bytes = sum(os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in inputs)
    metrics, attempted, failed, diag = score(records, workload, expected,
                                             input_bytes, trace)
    units = PER_LAYER if trace else E2E
    correct = failed == 0 and not diag["check_failed"] \
        and not diag.get("attribution_errors")
    line = {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}
    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": int(trace), "line": line, "ids": ids,
              "diag": diag, "source": source_id(), "data": data_name,
              "input_bytes": input_bytes, "host_probe_s": probe,
              "table_bytes": {f: os.path.getsize(os.path.join(data, f))
                              for f in sorted(os.listdir(data))},
              "graft_env": {k: v for k, v in os.environ.items()
                            if k.startswith("SPARK_GRAFT_")}}
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    with open(os.path.join(bdir, "results",
                           f"{workload}-{seed}-{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return record


def source_id():
    """git SHA when the checkout is a repository, else the source digest."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if p.returncode == 0:
            return {"git": p.stdout.strip()}
    except (OSError, subprocess.TimeoutExpired):
        pass
    return {"sources_sha256": _source_stamp()}


def summary_lines(record):
    """Human-readable lines printed before the result line."""
    d = record["diag"]
    env = d["env"]
    out = [f"# {record['workload']} seed={record['seed']} trace={record['trace']} "
           f"data={record['data']} ops={d['ops']} "
           f"local[{env['cores']}] nproc={env['nproc']} heap={env['heap_max_mb']:.0f}MB "
           f"shuffle.partitions={env['shuffle_partitions']} "
           f"codegen.cache.maxEntries={env['codegen_cache_max_entries']} "
           f"host_probe={record['host_probe_s']:.4f}s"]
    samples = d.get("samples", {})
    for k, v in record["line"]["metrics"].items():
        n = f"n={samples[k]}" if k in samples else ""
        out.append(f"#   {k:40s} {v['value']:>14.6g} {v['unit']:6s} {n}")
    if d["first_pass_compiles"] is not None:
        # The timed plans are meant to need more generated classes than
        # Spark's default 100-entry codegen cache holds, so a cache-size
        # change shows in the timed ops' compiles.
        verdict = "more than" if d["first_pass_compiles"] > 100 else "NOT more than"
        out.append(f"# codegen working set: {d['first_pass_compiles']} classes compiled by "
                   f"the untimed noop pass, {verdict} the default 100-entry cache; "
                   f"the timed ops compiled {d['timed_compiles']}")
    for tag, why in list(d["failures"].items())[:20]:
        out.append(f"# FAILED {tag}: {why}")
    for e in d.get("attribution_errors", []):
        out.append(f"# ATTRIBUTION {e}")
    return out
