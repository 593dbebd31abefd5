#!/usr/bin/env python3
"""Local dry-run of the driver's DuckDB-oracle correctness gate.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json (written by graft.Verify), runs each
oracle SQL in DuckDB against the sf parquet tables, and compares against
the Spark parquet output in <verifyOutDir>/<name>/ — columns sorted by
name, rows sorted, values compared exactly (with a float diff report so
near-misses are visible).

Also writes <verifyOutDir>/_oracle.json: the DuckDB version, the Spark
version (the `org.apache.spark.version` key of an output file's parquet
footer, null when no output file has one), the pass and fail counts,
and per query its status and, on a failure, the message printed for it.
"""
import glob, sys, json, math
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf_dir, out_dir):
    con = duckdb.connect()
    print(f"duckdb {duckdb.__version__}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    results = {}

    def fail(name, msg):
        print(f"FAIL {name}: {msg}")
        results[name] = {"status": "fail", "message": msg}

    for name in sorted(oracle):
        sql = oracle[name]
        try:
            spark_df = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        except Exception as e:
            fail(name, f"cannot read spark output: {e}")
            n_fail += 1
            continue
        try:
            duck_df = con.sql(sql).df()
        except Exception as e:
            fail(name, f"oracle SQL error: {str(e)[:200]}")
            n_fail += 1
            continue
        # STRICT native-type gate first: the driver's hash is
        # type-sensitive (DuckDB HUGEINT from sum()-over-BIGINT hashed
        # g01/x22 red in r6 while the pandas-stringified compare below
        # stayed green). Exact DuckDB-type equality is the local stand-in.
        ok, msg = typecheck(con, out_dir, name, sql)
        if ok:
            ok, msg = compare(spark_df, duck_df)
        if ok:
            print(f"PASS {name} ({len(spark_df)} rows)")
            results[name] = {"status": "pass", "message": None}
            n_pass += 1
        else:
            fail(name, msg)
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed, "
          f"{len(oracle)} oracle queries total")
    with open(f"{out_dir}/_oracle.json", "w") as fh:
        json.dump({"duckdb_version": duckdb.__version__,
                   "spark_version": spark_version(out_dir, sorted(oracle)),
                   "passed": n_pass, "failed": n_fail,
                   "queries": results}, fh, indent=1)
        fh.write("\n")
    return 1 if n_fail else 0


def spark_version(out_dir, names):
    """The Spark version in the first output file footer that has one."""
    for name in names:
        for f in sorted(glob.glob(f"{out_dir}/{name}/*.parquet")):
            meta = pq.read_metadata(f).metadata or {}
            v = meta.get(b"org.apache.spark.version")
            if v:
                return v.decode()
    return None


def typecheck(con, out_dir, name, sql):
    duck = dict(zip(*[con.sql(f"DESCRIBE ({sql})").df()[c]
                      for c in ("column_name", "column_type")]))
    spark = dict(zip(*[
        con.sql(f"DESCRIBE (SELECT * FROM read_parquet("
                f"'{out_dir}/{name}/*.parquet'))").df()[c]
        for c in ("column_name", "column_type")]))
    bad = [f"{c}: spark={spark.get(c)} duck={duck.get(c)}"
           for c in sorted(set(duck) | set(spark))
           if duck.get(c) != spark.get(c)]
    if bad:
        return False, "native type mismatch — " + "; ".join(bad)
    return True, ""


def compare(a, b):
    acols, bcols = sorted(a.columns), sorted(b.columns)
    if acols != bcols:
        return False, f"schema mismatch: spark={acols} duck={bcols}"
    if len(a) != len(b):
        return False, f"row count: spark={len(a)} duck={len(b)}"
    a = a[acols].reset_index(drop=True)
    b = b[bcols].reset_index(drop=True)
    # sort rows by all columns for order-independence
    a = a.sort_values(acols, kind="mergesort").reset_index(drop=True)
    b = b.sort_values(bcols, kind="mergesort").reset_index(drop=True)
    for c in acols:
        av, bv = a[c], b[c]
        if str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
            import numpy as np
            aa = av.astype(float).to_numpy()
            bb = bv.astype(float).to_numpy()
            both_nan = np.isnan(aa) & np.isnan(bb)
            diff = np.abs(aa - bb)
            diff[both_nan] = 0.0
            md = np.nanmax(diff) if len(diff) else 0.0
            if md > 0:
                i = int(np.nanargmax(diff))
                return False, (f"col {c}: max float diff {md} at row {i} "
                               f"(spark={aa[i]!r} duck={bb[i]!r})")
        else:
            eq = av.astype(str).eq(bv.astype(str))
            if not eq.all():
                idx = list(eq[~eq].index[:10])
                rows = "; ".join(f"[{i}] spark={av[i]!r} duck={bv[i]!r}"
                                 for i in idx)
                return False, (f"col {c}: {int((~eq).sum())} mismatching "
                               f"rows, first {len(idx)}: {rows}")
    return True, ""


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
