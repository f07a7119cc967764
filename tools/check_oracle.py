#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify first,
then this script compares each dumped parquet result against the DuckDB
oracle (same parquet tables), sorting columns by name and rows by all
columns, like the driver's hash compare.

A rows-only query (no oracle SQL) that returned no rows fails. Every
oracle_sql.json key must have an output dir: a query that threw in
graft.Verify leaves none, and fails here.

Usage: check_oracle.py <verify_out_dir> <sf_dir>
"""
import sys, os, json, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(out, sf):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    failures = 0
    names = sorted(d for d in os.listdir(out)
                   if os.path.isdir(os.path.join(out, d)))
    for name in sorted(set(oracle) - set(names)):
        print(f"FAIL {name}: no output dir (did it throw in graft.Verify?)")
        failures += 1
    rows_only = [n for n in names if n not in oracle]
    for name in names:
        files = glob.glob(f"{out}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet output"); failures += 1; continue
        got = con.sql(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        if name not in oracle:
            if len(got) == 0:
                print(f"FAIL {name}: rows-only check, no rows"); failures += 1
            else:
                print(f"rows {name}: rows-only check, {len(got)} rows ok")
            continue
        try:
            exp = con.sql(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}")
            failures += 1; continue
        ok, msg = compare(got, exp)
        if ok:
            print(f"PASS {name} ({len(got)} rows)")
        else:
            print(f"FAIL {name}: {msg}"); failures += 1
    total = len(oracle) + len(rows_only)
    print(f"\n{total - failures}/{total} pass "
          f"({len(oracle)} oracle + {len(rows_only)} rows-only)")
    sys.exit(1 if failures else 0)

def compare(got, exp):
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return False, f"columns differ: spark={gcols} oracle={ecols}"
    g = got[gcols].sort_values(gcols, ignore_index=True)
    e = exp[ecols].sort_values(ecols, ignore_index=True)
    if len(g) != len(e):
        return False, f"row count differs: spark={len(g)} oracle={len(e)}"
    for c in gcols:
        gs, es = g[c].astype(str), e[c].astype(str)
        neq = (gs != es)
        if neq.any():
            i = neq.idxmax()
            return False, (f"col {c} differs at row {i}: "
                           f"spark={gs[i]!r} oracle={es[i]!r} "
                           f"({int(neq.sum())} mismatches)")
    return True, ""

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
