#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: runs Verify's
parquet dumps against the DuckDB oracle SQL and diffs them exactly
(columns sorted by name, rows in emitted order, exact value equality —
the strictest plausible interpretation of the driver's hash compare).

Usage: python3 scripts/check_correctness.py <sfdir> <outdir>
(outdir = what graft.Verify wrote). Exits non-zero on any mismatch.
"""
import sys, json, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    # a table may be a DIRECTORY of part files (multi-file layouts at
    # the big scale points — production row-group/file sizing)
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fail, okn, skipped = [], 0, []
# a query that threw in Verify leaves no directory, only this entry
failures = f"{outdir}/failures.json"
if os.path.exists(failures):
    fail += [(n, f"Verify: {m}") for n, m in json.load(open(failures)).items()]
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    spark_df = con.execute(
        f"SELECT * FROM read_parquet('{d}/*.parquet')").fetchdf()
    if name not in oracle:
        skipped.append((name, len(spark_df)))
        continue
    try:
        duck_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        fail.append((name, f"oracle SQL error: {e}"))
        continue
    s = spark_df[sorted(spark_df.columns)]
    o = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(o.columns):
        fail.append((name, f"columns {list(s.columns)} vs {list(o.columns)}"))
        continue
    if len(s) != len(o):
        fail.append((name, f"rows {len(s)} vs {len(o)}"))
        continue
    # dtype check (schema parity)
    mism = [(c, str(s[c].dtype), str(o[c].dtype)) for c in s.columns
            if str(s[c].dtype) != str(o[c].dtype)]
    bad = None
    for c in s.columns:
        a, b = s[c].astype(str).values, o[c].astype(str).values
        neq = (a != b)
        if neq.any():
            i = neq.argmax()
            bad = f"col {c} row {i}: spark={a[i]!r} duck={b[i]!r}"
            break
    if bad:
        fail.append((name, bad))
    elif mism:
        fail.append((name, f"dtype mismatch {mism}"))
    else:
        okn += 1
        print(f"OK    {name} ({len(s)} rows)")

for name, n in skipped:
    print(f"SKIP  {name} (no oracle, {n} rows)")
for name, msg in fail:
    print(f"FAIL  {name}: {msg}")
print(f"\n{okn} ok, {len(fail)} fail, {len(skipped)} oracle-exempt")
sys.exit(1 if fail else 0)
