#!/usr/bin/env python3
"""Local pre-validation of SparkEntry oracles, mimicking the driver's gate:
run `sbt "runMain graft.Verify <sfDir> <outDir>"` first, then this script
compares each <outDir>/<name> parquet against the oracle SQL executed by
DuckDB over the same sf tables (columns sorted by name, rows sorted, values
hashed), then lists the outputs that have no oracle entry (rows-only).

With `--against <otherOutDir>` (a Verify output of another commit) it also
prints SAME/DIFF/MISSING for every Verify output of either directory, the
rows-only ones included, comparing the same normalised, sorted rows by hash,
and exits nonzero on any DIFF or MISSING:

    python3 tools/check_oracle.py <sfDir> <outDir> --against <parentOutDir>
"""
import argparse, glob, hashlib, json, os, sys
import duckdb

ap = argparse.ArgumentParser()
ap.add_argument("sfdir", help="scale-factor dir of the input parquet tables")
ap.add_argument("outdir", help="graft.Verify output dir")
ap.add_argument("--against", help="Verify output dir of another commit")
args = ap.parse_args()
sfdir, outdir = args.sfdir, args.outdir


def cell(v):
    # numpy values as Python ones: str() of a long array elides its middle
    v = v.tolist() if hasattr(v, "tolist") else v
    return "<NA>" if v is None or (isinstance(v, float) and v != v) else str(v)


def cells(col):
    """A column's values as strings: NaN/None as <NA>, floats and objects via
    str, ints via astype(str) (dtype-kind mismatches are reported apart)."""
    return col.map(cell) if col.dtype.kind in "fO" else col.astype(str)


def norm_hash(df):
    """sha256 of a frame's columns sorted by name (with their dtype kinds)
    and its rows as cell strings, sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    h = hashlib.sha256()
    h.update(repr([(c, df[c].dtype.kind) for c in df.columns]).encode())
    strs = [cells(df[c]) for c in df.columns]
    for row in sorted(zip(*strs)):
        h.update("\x1f".join(row).encode() + b"\x1e")
    return h.hexdigest()


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
        eq = cells(a) == cells(b)
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

if args.against:
    def outputs(d):
        return {os.path.basename(p.rstrip("/")) for p in glob.glob(f"{d}/*/")}
    mine, other = outputs(outdir), outputs(args.against)
    bad = 0
    for name in sorted(mine | other):
        if name not in mine or name not in other:
            where = outdir if name not in mine else args.against
            print(f"MISSING  {name} (not in {where})")
            bad += 1
            continue
        ha, hb = (norm_hash(con.execute(
            f"SELECT * FROM '{d}/{name}/*.parquet'").fetchdf())
            for d in (outdir, args.against))
        print(f"{'SAME' if ha == hb else 'DIFF':8} {name}")
        bad += ha != hb
    print(f"\n{len(mine | other) - bad}/{len(mine | other)} outputs SAME "
          f"as {args.against}")
    fail += bad
sys.exit(1 if fail else 0)
