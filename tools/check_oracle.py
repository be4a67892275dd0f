#!/usr/bin/env python3
"""Local pre-validation of SparkEntry oracles, mimicking the driver's gate:
run `sbt "runMain graft.Verify <sfDir> <outDir>"` first, then this script
compares each <outDir>/<name> parquet against the oracle SQL executed by
DuckDB over the same sf tables (columns sorted by name, rows sorted, values
hashed), then lists the outputs that have no oracle entry (rows-only)."""
import sys, json, glob, os
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fail = 0
for name, sql in sorted(oracle.items()):
    mine_dir = f"{outdir}/{name}"
    if not os.path.isdir(mine_dir):
        print(f"MISSING  {name} (no spark output)")
        fail += 1
        continue
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"ORC_ERR  {name}: {str(e)[:200]}")
        fail += 1
        continue
    mine = con.execute(
        f"SELECT * FROM '{mine_dir}/*.parquet'").fetchdf()
    # normalize: sort columns by name, then rows by all columns
    exp = exp.reindex(sorted(exp.columns), axis=1)
    mine = mine.reindex(sorted(mine.columns), axis=1)
    if list(exp.columns) != list(mine.columns):
        print(f"SCHEMA   {name}: oracle={list(exp.columns)} mine={list(mine.columns)}")
        fail += 1
        continue
    if len(exp) != len(mine):
        print(f"ROWS     {name}: oracle={len(exp)} mine={len(mine)}")
        fail += 1
        continue
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    ms = mine.sort_values(by=list(mine.columns)).reset_index(drop=True)
    # DTYPE-EXACT compare, mirroring the driver's serialization-sensitive
    # hash: DuckDB HUGEINT (uncast integer sum) lands in pandas as
    # float64/object while Spark BIGINT is int64 — numerically equal values
    # then hash DIFFERENTLY driver-side. So (a) dtype *kind* must match
    # (int vs float vs object), and (b) values are compared via their string
    # serialization, never numeric ==.
    diffs = []
    for c in exp.columns:
        a, b = es[c], ms[c]
        ka, kb = a.dtype.kind, b.dtype.kind
        # int32 vs int64 is proven hash-equal driver-side (q13 rk passed);
        # int vs float / int vs object is exactly the HUGEINT trap.
        if (ka in "iu") != (kb in "iu") or (ka == "f") != (kb == "f"):
            diffs.append(f"{c}: DTYPE oracle={a.dtype} mine={b.dtype}")
            continue
        sa = a.map(lambda v: "<NA>" if v != v or v is None else str(v)) \
            if ka in "fO" else a.astype(str)
        sb = b.map(lambda v: "<NA>" if v != v or v is None else str(v)) \
            if kb in "fO" else b.astype(str)
        eq = sa == sb
        if not eq.all():
            idx = (~eq).idxmax()
            diffs.append(f"{c}[{idx}]: oracle={a[idx]!r} mine={b[idx]!r}")
    if diffs:
        print(f"VALUES   {name}: " + "; ".join(diffs[:3]))
        fail += 1
    else:
        print(f"OK       {name} rows={len(exp)}")
print(f"\n{len(oracle) - fail}/{len(oracle)} oracle queries match")
# Verify outputs with no oracle entry: checked for rows only
rows_only = sorted(os.path.basename(d.rstrip("/"))
                   for d in glob.glob(f"{outdir}/*/")
                   if os.path.basename(d.rstrip("/")) not in oracle)
print(f"{len(rows_only)} rows-only outputs (no oracle): {' '.join(rows_only)}")
sys.exit(1 if fail else 0)
