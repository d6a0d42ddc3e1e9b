#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (builder tooling only;
the engine itself is pure Scala/Spark).

Runs each SparkEntry.oracleSql statement in DuckDB over the testdata
parquet tables and diffs against the Spark result parquet written by
graft.Verify. Prints per-query status and the first differing rows.

Usage: scripts/run_verify.sh first, then  python3 scripts/check.py [outDir] [sfDir]
"""
import json
import sys
import glob

import duckdb
import pyarrow.parquet as pq

OUT = sys.argv[1] if len(sys.argv) > 1 else "target/verify_sf001"
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    # str()-normalization, matching the driver's value hashing. NOTE the
    # asymmetric pandas conversions this implies (established empirically
    # from CORRECTNESS_r01.json): the oracle side goes through
    # duckdb .df(), where DECIMAL and HUGEINT (sum of ints) become
    # float64 ('19525.0'); the Spark side is read with pyarrow, where
    # DECIMAL stays decimal.Decimal ('19525.0000') and longs stay int64
    # ('19525'). Queries must therefore emit DOUBLE for money and
    # BIGINT-cast integer sums on BOTH sides.
    return str(v)


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracle_sql = json.load(open(f"{OUT}/oracle_sql.json"))

    sql_cache = {}
    n_pass = n_fail = n_noora = 0
    # every oracle key is a gate the dump was asked for: one without an
    # output directory threw in graft.Verify and must fail the tally
    for q in sorted(set(oracle_sql) - {n.split("/")[-1] for n in glob.glob(f"{OUT}/q_*")}):
        print(f"{q}: NO SPARK OUTPUT")
        n_fail += 1
    for name in sorted(glob.glob(f"{OUT}/q_*")):
        q = name.split("/")[-1]
        files = glob.glob(f"{name}/*.parquet")
        if not files:
            print(f"{q}: NO SPARK OUTPUT")
            n_fail += 1
            continue
        sdf = pq.read_table(name).to_pandas()
        s_cols = list(sdf.columns)
        s_rows = list(sdf.itertuples(index=False, name=None))
        if q not in oracle_sql:
            print(f"{q}: rows-only ({len(s_rows)} rows, no oracle)")
            n_noora += 1
            continue
        try:
            # memoize by SQL text: several gates share one brute-force
            # oracle (minhash fresh/stored, dup_clusters' CTE prefix is
            # separate, but identical statements run once)
            sql = oracle_sql[q]
            if sql in sql_cache:
                odf = sql_cache[sql]
            else:
                odf = con.sql(sql).df()
                sql_cache[sql] = odf
            o_cols = list(odf.columns)
            o_rows = list(odf.itertuples(index=False, name=None))
        except Exception as e:
            print(f"{q}: ORACLE ERROR: {e}")
            n_fail += 1
            continue
        ok = True
        if sorted(s_cols) != sorted(o_cols):
            print(f"{q}: SCHEMA MISMATCH spark={s_cols} oracle={o_cols}")
            ok = False
        if len(s_rows) != len(o_rows):
            print(f"{q}: ROWS MISMATCH spark={len(s_rows)} oracle={len(o_rows)}")
            ok = False
        if ok:
            # column-name-sorted projection, rows in query order
            s_ix = [s_cols.index(c) for c in sorted(s_cols)]
            o_ix = [o_cols.index(c) for c in sorted(o_cols)]
            ndiff = 0
            for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
                sv = [norm(sr[j]) for j in s_ix]
                ov = [norm(orow[j]) for j in o_ix]
                if sv != ov:
                    if ndiff < 4:
                        print(f"{q}: DIFF row {i}:")
                        print(f"    spark : {dict(zip(sorted(s_cols), sv))}")
                        print(f"    oracle: {dict(zip(sorted(o_cols), ov))}")
                    ndiff += 1
            if ndiff:
                print(f"{q}: HASH MISMATCH ({ndiff}/{len(s_rows)} rows differ)")
                ok = False
        if ok:
            print(f"{q}: OK ({len(s_rows)} rows)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_noora} rows-only ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
