#!/usr/bin/env python3
"""Validate the stored query fingerprints against the DuckDB oracle.

    python3 perfbench/run.py --workload dashboard_queries --seed 1 --seconds 1 \\
        --dump .bench_build/dump
    python3 perfbench/validate_oracle.py .bench_build/dump

The first command writes every dashboard query's result (parquet), its
registered oracle SQL (`SparkEntry.oracleSql`) and its fingerprint. This
script runs each oracle SQL in DuckDB over the benchmark's data, compares
it with the Spark result the way the repository's oracle gate does
(columns by name, rows sorted, exact cells, same dtypes), and only when
every query matches copies the fingerprints to perfbench/fingerprints.tsv.
The outcome is written to perfbench/oracle_check.json.
"""
import json
import math
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def compare(con, dump, name, sql):
    got = con.sql(f"SELECT * FROM read_parquet('{dump}/{name}/*.parquet')")
    exp = con.sql(sql)
    gcols, ecols = got.columns, exp.columns
    if sorted(c.lower() for c in gcols) != sorted(c.lower() for c in ecols):
        return f"schema {sorted(gcols)} vs {sorted(ecols)}"
    gdt = got.df().reindex(sorted(gcols), axis=1).dtypes
    edt = exp.df().reindex(sorted(ecols), axis=1).dtypes
    drift = [(c, str(gdt[c]), str(edt[c])) for c in gdt.index
             if c in edt.index and gdt[c] != edt[c]]
    if drift:
        return f"dtype drift (spark, oracle): {drift}"
    g, e = canon(got.fetchall(), gcols), canon(exp.fetchall(), ecols)
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    if g != e:
        return f"values differ, first: {[(a, b) for a, b in zip(g, e) if a != b][:2]}"
    return None


def main(dump):
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(DATA, f)}')")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    names = [l.split("\t")[0] for l in
             open(os.path.join(dump, "fingerprints.tsv")).read().split("\n") if l]
    results = {}
    for n in names:
        if n not in oracle:
            results[n] = "no oracle SQL registered"
            continue
        try:
            results[n] = compare(con, dump, n, oracle[n]) or "pass"
        except Exception as e:  # noqa: BLE001 - report, do not hide
            results[n] = f"error: {e}"
        print(f"{n}: {results[n]}")
    ok = all(v == "pass" for v in results.values())
    out = {"data": "sf0.01", "oracle": f"duckdb {duckdb.__version__}",
           "queries": results, "all_pass": ok}
    with open(os.path.join(HERE, "oracle_check.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    if ok:
        shutil.copy(os.path.join(dump, "fingerprints.tsv"),
                    os.path.join(HERE, "fingerprints.tsv"))
    print(f"== {sum(v == 'pass' for v in results.values())} pass / "
          f"{sum(v != 'pass' for v in results.values())} fail")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
