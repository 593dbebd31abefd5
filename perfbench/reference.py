#!/usr/bin/env python3
"""Maintain the reference outputs the query workloads are checked against.

    python3 perfbench/reference.py record    # write perfbench/expected.json
    python3 perfbench/reference.py confirm   # check sf0.1 outputs with DuckDB

``record`` runs every query of the query workloads once at sf0.001 and
once at sf0.1 through the benchmark's own harness and stores each output's
row count and order-independent digest. Run it only when a query's output
is meant to change, and confirm afterwards.

``confirm`` writes each query's sf0.1 output with ``graft.Verify``, runs the
query's ``SparkEntry.oracleSql`` twin in DuckDB on the same tables, and
compares the two with ``scripts/check_oracle.py`` (native types, then
sorted rows); it also checks the row count against expected.json. The
result belongs in manifest.json under the workload's ``oracle_sf0.1``.
"""
import json
import os
import shutil
import sys

import run


def _queries():
    return sorted({q for w in run.MANIFEST["workloads"].values()
                   for q in w.get("queries", [])})


def record(cp):
    work = os.path.join(run.build_dir(), "reference")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    out = os.path.join(work, "queries.json")
    data = os.path.join(run.HERE, "data")
    p = run.Proc(run.java(cp, "perfbench.QueryWorkload",
                          ["--data", os.path.join(data, "sf0.1"),
                           "--warm", os.path.join(data, "sf0.001"),
                           "--queries", ",".join(_queries()), "--seconds", "0",
                           "--trace", "0", "--out", out,
                           "--local-dir", os.path.join(work, "local")],
                          os.path.join(work, "tmp"), "3g"),
                 work, run.child_env({}), os.path.join(work, "queries.log"),
                 timeout=1800)
    res = json.load(open(out))
    outcomes = {"sf0.001": res["warmup"], "sf0.1": res["passes"][0]["queries"]}
    bad = [o["name"] for os_ in outcomes.values() for o in os_ if not o["ok"]]
    if p.rc != 0 or bad:
        print(f"failed: {bad or p.rc}", file=sys.stderr)
        return 1
    expected = {sf: {o["name"]: {"rows": o["rows"], "digest": o["digest"]}
                     for o in sorted(os_, key=lambda o: o["name"])}
                for sf, os_ in outcomes.items()}
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(f"recorded {len(expected['sf0.1'])} queries")
    return 0


def confirm(cp):
    sys.path.insert(0, os.path.join(run.ROOT, "scripts"))
    import check_oracle
    import duckdb

    sf = os.path.join(run.HERE, "data", "sf0.1")
    work = os.path.join(run.build_dir(), "confirm")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    names = _queries()
    p = run.Proc(run.java(run.program_classpath(cp), "graft.Verify",
                          [sf, os.path.join(work, "out"), ",".join(names)],
                          os.path.join(work, "tmp"), "3g"),
                 work, run.child_env({"SPARK_GRAFT_CPUS": "4",
                                      "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local")}),
                 os.path.join(work, "verify.log"), timeout=1800)
    if p.rc != 0:
        print(f"graft.Verify exited {p.rc}", file=sys.stderr)
        return 1
    out_dir = os.path.join(work, "out")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        if os.path.exists(f"{sf}/{t}.parquet"):  # data/ holds only what the queries read
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    n_pass = 0
    for name in names:
        if name not in oracle:
            print(f"FAIL {name}: no oracle SQL")
            continue
        spark_df = con.sql(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        ok, msg = check_oracle.typecheck(con, out_dir, name, oracle[name])
        if ok:
            ok, msg = check_oracle.compare(spark_df, con.sql(oracle[name]).df())
        rows = run.EXPECTED["sf0.1"].get(name, {}).get("rows")
        if ok and rows != len(spark_df):
            ok, msg = False, f"{len(spark_df)} rows, expected.json says {rows}"
        print(f"{'PASS' if ok else 'FAIL'} {name} ({len(spark_df)} rows){'' if ok else ': ' + msg}")
        n_pass += ok
    print(f"{n_pass}/{len(names)} pass against duckdb {duckdb.__version__}")
    return 0 if n_pass == len(names) else 1


def main():
    if len(sys.argv) != 2 or sys.argv[1] not in ("record", "confirm"):
        print(__doc__, file=sys.stderr)
        return 2
    cp = run.build()
    return record(cp) if sys.argv[1] == "record" else confirm(cp)


if __name__ == "__main__":
    sys.exit(main())
