#!/usr/bin/env python3
"""Record and cross-check the registry_mix fingerprints.

    python3 perfbench/oracle.py record   # rewrite expected.json's fingerprints
    python3 perfbench/oracle.py check    # compare against DuckDB and expected.json

record  Runs the harness's untimed fingerprint pass over the committed
        sample and stores each id's row count and content hash.
check   Dumps each sampled id's Spark result with graft.Verify, runs the
        id's oracle SQL in DuckDB over the same tables, and compares the
        two exactly (columns by name, rows sorted, floats bit-equal). It
        also checks the dumped row counts against expected.json. The
        fingerprints are only meaningful if this passes.

Both build the benchmark first, like run.py. DuckDB is the `duckdb`
Python package.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def record(cp, expected):
    ids = sorted(expected["registry_mix"]["ids"])
    data = os.path.join(bench.DATA, bench.WORKLOADS["registry_mix"][0])
    work = os.path.join(bench.build_dir(), "work")
    os.makedirs(work, exist_ok=True)
    recs = bench.harness(cp, {"workload": "fingerprint", "data": data, "work": work,
                              "cores": bench.cores(), "setups": 1, "ids": ",".join(ids)},
                         time.monotonic() + 900, "fingerprint.log")
    out = {}
    for c in (r for r in recs if r["kind"] == "check"):
        if not c["ok"]:
            raise SystemExit(f"{c['id']} failed: {c['error']}")
        out[c["id"]] = {"module": expected["registry_mix"]["ids"][c["id"]]["module"],
                        "rows": c["rows"], "hash_sum": c["hash_sum"],
                        "hash_xor": c["hash_xor"]}
    expected["registry_mix"]["ids"] = out
    with open(bench.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(out)} fingerprints")


def norm(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def differs(a, b):
    import pandas as pd
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = pd.Series(a[c].values), pd.Series(b[c].values)
        same = (x == y) | (x.isna() & y.isna())
        if not same.all():
            i = int((~same).values.argmax())
            return f"column {c} row {i}: {x[i]!r} vs {y[i]!r}"
    return None


def check(cp, expected):
    import duckdb
    import pandas as pd
    want = expected["registry_mix"]["ids"]
    ids = sorted(want)
    data = os.path.join(bench.DATA, bench.WORKLOADS["registry_mix"][0])
    out = os.path.join(bench.build_dir(), "oracle")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(bench.build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = bench.java_command(cp, tmp, "graft.Verify") + [data, out, ",".join(ids)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(bench.cores()), SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(bench.build_dir(), "logs", "verify.log"), "w") as log:
        subprocess.run(cmd, cwd=bench.ROOT, stdout=log, stderr=subprocess.STDOUT,
                       env=env, check=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    failed = 0
    for i in ids:
        files = sorted(glob.glob(os.path.join(out, i, "*.parquet")))
        spark = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) \
            if files else pd.DataFrame()
        problems = []
        if len(spark) != want[i]["rows"]:
            problems.append(f"dump has {len(spark)} rows, fingerprint {want[i]['rows']}")
        if i in oracles:
            err = differs(norm(spark), norm(con.execute(oracles[i]).df()))
            if err:
                problems.append(f"differs from DuckDB: {err}")
        verdict = "no oracle SQL" if i not in oracles else "matches DuckDB"
        failed += bool(problems)
        print(f"{'FAIL' if problems else 'ok  '} {i}: {len(spark)} rows, "
              + ("; ".join(problems) if problems else verdict))
    print(f"duckdb {duckdb.__version__}: {len(ids) - failed}/{len(ids)} ids agree")
    return 1 if failed else 0


def main(argv):
    if len(argv) != 1 or argv[0] not in ("record", "check"):
        print(__doc__, file=sys.stderr)
        return 2
    cp, _ = bench.build(time.monotonic() + bench.BUILD_LIMIT_S)
    os.makedirs(os.path.join(bench.build_dir(), "logs"), exist_ok=True)
    expected = bench.load_expected()
    if argv[0] == "record":
        record(cp, expected)
        return 0
    return check(cp, expected)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
