#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each Verify output
parquet, run the oracle SQL in DuckDB over the same testdata tables and
compare (columns sorted by name, rows sorted, values hashed). A query
with no output is reported with the reason Verify recorded for it in
failed.json.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, math
import duckdb
import pandas as pd

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
try:
    failed = json.load(open(f"{out}/failed.json"))
except FileNotFoundError:
    failed = {}

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

fails = []
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        reason = f" (Verify: {failed[name]})" if name in failed else ""
        fails.append((name, f"no spark output{reason}")); continue
    try:
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    except Exception as e:
        fails.append((name, f"read error {e}")); continue
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle error: {e}")); continue
    if sorted(got.columns) != sorted(exp.columns):
        fails.append((name, f"columns differ: spark={sorted(got.columns)} duck={sorted(exp.columns)}")); continue
    g, e = norm(got), norm(exp)
    if len(g) != len(e):
        fails.append((name, f"row count {len(g)} vs {len(e)}")); continue
    # dtype report (informational) + exact value compare
    ok = True
    for c in g.columns:
        gv, ev = g[c], e[c]
        if str(gv.dtype) != str(ev.dtype):
            print(f"  [dtype] {name}.{c}: spark={gv.dtype} duck={ev.dtype}")
        try:
            if gv.dtype.kind == 'f' or ev.dtype.kind == 'f':
                bad = ~((gv.isna() & ev.isna()) | (gv == ev))
            else:
                bad = ~((gv.isna() & ev.isna()) | (gv.astype(str) == ev.astype(str)))
            if bad.any():
                i = bad.idxmax()
                fails.append((name, f"value diff col={c} row={i}: spark={gv[i]!r} duck={ev[i]!r}"))
                ok = False; break
        except Exception as ex:
            fails.append((name, f"compare error col={c}: {ex}")); ok = False; break
    if ok:
        print(f"  OK  {name} ({len(g)} rows)")

print()
if fails:
    print(f"FAILURES ({len(fails)}):")
    for n, m in fails: print(f"  FAIL {n}: {m}")
    sys.exit(1)
print(f"all {len(oracle)} oracle queries match")
