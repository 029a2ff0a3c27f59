#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf parquet tables and compare with the Verify.scala
parquet dumps (columns sorted by name, rows sorted, exact + tolerant
compare reported separately). Also lists, by name, the dumped result
directories with no oracle entry (the queries registered `RowsOnly`);
they do not affect the pass count or the exit code."""
import sys, json, glob, os
import duckdb, pandas as pd, numpy as np

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
results = {}
for name, sql in sorted(oracle.items()):
    path = f"{out_dir}/{name}"
    try:
        got = pd.read_parquet(path)
    except Exception as e:
        results[name] = f"NO-RESULT ({e})"; continue
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:
        results[name] = f"ORACLE-SQL-ERROR ({e})"; continue
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        results[name] = f"SCHEMA-MISMATCH got={list(got.columns)} want={list(want.columns)}"
        continue
    if len(got) != len(want):
        results[name] = f"ROWCOUNT got={len(got)} want={len(want)}"; continue
    gs = got.sort_values(by=list(got.columns), ignore_index=True)
    ws = want.sort_values(by=list(want.columns), ignore_index=True)
    ok, detail = True, ""
    for c in got.columns:
        g, w = gs[c], ws[c]
        if g.dtype.kind == 'f' or w.dtype.kind == 'f':
            # Driver hashes rendered values, so int-vs-float dtype drift
            # ("94" vs "94.0") fails its gate even when numerically equal.
            # DuckDB integer sum() -> HUGEINT -> float is the usual culprit;
            # cast the oracle, don't widen the Spark side.
            if g.dtype.kind != w.dtype.kind:
                ok = False
                detail = f"col {c}: dtype-kind mismatch got={g.dtype} want={w.dtype} (driver hash would fail)"
                break
            g2, w2 = g.astype(float), w.astype(float)
            both_nan = g2.isna() & w2.isna()
            close = np.isclose(g2, w2, rtol=1e-9, atol=1e-9) | both_nan
            exact = ((g2 == w2) | both_nan).all()
            if not close.all():
                ok = False; i = int(np.argmin(close.values))
                detail = f"col {c} row {i}: got={g2.iloc[i]} want={w2.iloc[i]}"
                break
            if not exact:
                ok = False
                i = int(np.argmax((~((g2 == w2) | both_nan)).values))
                detail = f"col {c} row {i}: float-close-not-exact got={g2.iloc[i]!r} want={w2.iloc[i]!r}"
                break
        else:
            if not (g.astype(str).values == w.astype(str).values).all():
                ok = False
                neq = g.astype(str).values != w.astype(str).values
                i = int(np.argmax(neq))
                detail = f"col {c} row {i}: got={g.iloc[i]!r} want={w.iloc[i]!r}"
                break
    results[name] = ("OK" + detail) if ok else ("MISMATCH " + detail)

n_ok = sum(1 for v in results.values() if v.startswith("OK"))
for k, v in results.items():
    print(f"{'PASS' if v.startswith('OK') else 'FAIL'} {k}: {v}")
rows_only = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(f"{out_dir}/{d}") and d not in oracle)
print(f"\nrows-only (dumped, no oracle entry): {len(rows_only)}: "
      + (", ".join(rows_only) or "-"))
print(f"\n{n_ok}/{len(results)} pass")
sys.exit(0 if n_ok == len(results) else 1)
