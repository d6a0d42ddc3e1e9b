#!/usr/bin/env python3
"""Pins the expected gate results the benchmark checks against.

    python3 perfbench/confirm.py

Runs every gate of the gate workloads once on the benchmark's corpus,
compares each result with its SparkEntry.oracleSql statement run in
DuckDB (values compared as str(), columns sorted by name, rows in query
order, as scripts/check.py does), and only if all agree writes each
result's fingerprint to perfbench/expected.json.
"""
import json
import os
import shutil
import sys
import time

import duckdb
import pyarrow.parquet as pq

import build
import gen
import run


def main():
    classes = build.ensure()
    work = os.path.join(build.OUT, "confirm")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    gen.corpus(data)
    rec = os.path.join(work, "record")
    run.java(classes, work, ["--data", data, "--record", rec], 1800)
    fps = compare(rec, data)
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(fps, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)


def compare(rec, data):
    """The recorded fingerprints, once every result matches its oracle."""
    fps = json.load(open(os.path.join(rec, "fingerprints.json")))
    oracle = json.load(open(os.path.join(rec, "oracle_sql.json")))
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = 0
    for q in sorted(fps):
        t0 = time.time()
        sdf = pq.read_table(os.path.join(rec, q)).to_pandas()
        odf = con.sql(oracle[q]).df()
        s_rows = [[str(r[c]) for c in sorted(sdf.columns)] for _, r in sdf.iterrows()]
        o_rows = [[str(r[c]) for c in sorted(odf.columns)] for _, r in odf.iterrows()]
        same = sorted(sdf.columns) == sorted(odf.columns) and s_rows == o_rows
        print(f"{q}: {'OK' if same else 'MISMATCH'} ({len(s_rows)} rows, oracle "
              f"{time.time() - t0:.1f} s) {fps[q]}", flush=True)
        bad += not same
    if bad:
        sys.exit(f"{bad} gates disagree with their oracle; expected.json not written")
    return fps


if __name__ == "__main__":
    main()
