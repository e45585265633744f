#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate.

Runs each oracle_sql.json query in DuckDB over the sf parquet tables and
compares (column names sorted, rows sorted, exact values) against the
Spark parquet written by graft.Verify.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir> [query ...]

With query names, only those are compared (the subset a
`graft.Verify <sfDir> <outDir> q1 q2` run dumped); a named query with no
oracle entry or no Spark output fails.

Each line carries the seconds DuckDB spent on that query's oracle (run and
fetch, also when it fails), and the run ends with the 10 slowest, so an
oracle that blows up shows before the gate times out on it.
"""
import duckdb, json, math, sys, glob, os, time

sf, out, only = sys.argv[1], sys.argv[2], sys.argv[3:]
con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails = 0
if only:
    for name in sorted(set(only) - oracle.keys()):
        print(f"FAIL {name}: no oracle entry")
        fails += 1
    oracle = {n: q for n, q in oracle.items() if n in only}

def canon(cols, rows):
    # repr(), not str(): the driver's hasher is type-sensitive (a Decimal
    # and an int with the same digits hash apart). repr keeps the type
    # visible — Decimal('42') != 42 — so the local gate sees what the
    # driver sees. Round-9 shipped 14 value-correct/type-misaligned
    # queries because str() hid exactly this distinction.
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out_rows = []
    for r in rows:
        out_rows.append(tuple(repr(r[i]) for i in order))
    return [cols[i] for i in order], sorted(out_rows)

duck_s = {}
for name, sql in sorted(oracle.items()):
    t0, error = time.perf_counter(), None
    try:
        oc = con.execute(sql)
        ocols = [d[0] for d in oc.description]
        orows = oc.fetchall()
    except Exception as e:
        error = e
    duck_s[name] = time.perf_counter() - t0
    took = f"[duckdb {duck_s[name]:.2f} s]"
    if error:
        print(f"FAIL {name}: oracle error: {str(error).splitlines()[0][:160]} {took}")
        fails += 1
        continue
    try:
        sc = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'")
        scols = [d[0] for d in sc.description]
        srows = sc.fetchall()
    except Exception as e:
        print(f"FAIL {name}: spark output missing: {str(e).splitlines()[0][:120]} {took}")
        fails += 1
        continue
    c1, r1 = canon(ocols, orows)
    c2, r2 = canon(scols, srows)
    if c1 != c2:
        print(f"FAIL {name}: columns oracle={c1} spark={c2} {took}")
        fails += 1
    elif r1 != r2:
        diffs = [(a, b) for a, b in zip(r1, r2) if a != b]
        print((f"FAIL {name}: rows oracle={len(r1)} spark={len(r2)}, "
               f"first diffs: {diffs[:3]}" if len(r1) == len(r2)
               else f"FAIL {name}: row count oracle={len(r1)} spark={len(r2)}") + f" {took}")
        fails += 1
    else:
        print(f"ok   {name} ({len(r1)} rows) {took}")

no_oracle = [d for d in os.listdir(out)
             if os.path.isdir(f"{out}/{d}") and d not in oracle and not only]
for d in sorted(no_oracle):
    n = con.execute(f"SELECT count(*) FROM '{out}/{d}/*.parquet'").fetchone()[0]
    print(f"--   {d}: no oracle, {n} rows")
if duck_s:
    print(f"duckdb total {sum(duck_s.values()):.2f} s over {len(duck_s)} oracles; slowest:")
    for name, sec in sorted(duck_s.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {sec:8.2f} s  {name}")
sys.exit(1 if fails else 0)
