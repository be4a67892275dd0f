"""Output checks of the benchmark, run with DuckDB, independent of the
Spark code paths they check. Each check returns a list of failure
messages; an empty list means the output is correct."""
import glob
import os

import duckdb

def connect():
    return duckdb.connect(config={"threads": min(4, os.cpu_count() or 1)})


def _scan(files):
    files = sorted(files)
    if not files:
        raise FileNotFoundError("no parquet files")
    listing = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{listing}], hive_partitioning = false)"


def parquet_files(path):
    return glob.glob(os.path.join(path, "*.parquet"))


def committed_sink_files(sink_dir):
    """Parquet files of the batches the exactly-once sink committed."""
    commits = os.path.join(sink_dir, "_commits")
    ids = sorted(int(n) for n in os.listdir(commits) if n.isdigit())
    files = []
    for i in ids:
        files += parquet_files(os.path.join(sink_dir, f"batch_id={i}"))
    return files


def _columns(con, scan):
    return [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {scan}").fetchall()]


def _multiset_diff(con, got, want, cols):
    sel = ", ".join(f'"{c}"' for c in cols)
    q = (f"SELECT count(*) FROM (SELECT {sel} FROM {got} EXCEPT ALL "
         f"SELECT {sel} FROM {want})")
    extra = con.execute(q).fetchone()[0]
    q = (f"SELECT count(*) FROM (SELECT {sel} FROM {want} EXCEPT ALL "
         f"SELECT {sel} FROM {got})")
    return extra, con.execute(q).fetchone()[0]


def check_valued_rows(con, got_files, truth_files):
    """Valued action rows equal the scalar path's rows as a multiset, and
    hold the VAEP properties."""
    errs = []
    got, want = _scan(got_files), _scan(truth_files)
    cols = _columns(con, want)
    n_got = con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM {want}").fetchone()[0]
    if n_got != n_want:
        errs.append(f"row count {n_got} != scalar path {n_want}")
    extra, missing = _multiset_diff(con, got, want, cols)
    if extra or missing:
        errs.append(f"content differs from scalar path: {extra} rows not in "
                    f"it, {missing} of its rows missing")
    bad = con.execute(f"""SELECT
        count(*) FILTER (WHERE NOT (scores > 0 AND scores < 1)),
        count(*) FILTER (WHERE NOT (concedes > 0 AND concedes < 1)),
        count(*) FILTER (WHERE vaep_value IS DISTINCT FROM
                         offensive_value + defensive_value)
        FROM {got}""").fetchone()
    for n, what in zip(bad, ("scores outside (0,1)", "concedes outside (0,1)",
                             "vaep_value != offensive_value + defensive_value")):
        if n:
            errs.append(f"{n} rows with {what}")
    gaps = con.execute(f"""SELECT count(*) FROM (
        SELECT game_id, count(*) AS n, count(DISTINCT action_idx) AS d,
               min(action_idx) AS lo, max(action_idx) AS hi
        FROM {got} GROUP BY game_id)
        WHERE lo <> 1 OR hi <> n OR d <> n""").fetchone()[0]
    if gaps:
        errs.append(f"{gaps} games whose action_idx is not contiguous from 1")
    return errs


def check_sink(con, sink_dir, truth_files):
    """The committed sink content equals the scalar path, with no key
    delivered twice."""
    files = committed_sink_files(sink_dir)
    errs = check_valued_rows(con, files, truth_files)
    dups = con.execute(f"""SELECT count(*) - count(DISTINCT (game_id, action_idx))
        FROM {_scan(files)}""").fetchone()[0]
    if dups:
        errs.append(f"{dups} duplicate (game_id, action_idx) keys in the sink")
    return errs


def check_training(con, frame_files, label_files):
    """Training-frame labels equal the plain recomputation; every `_a1`
    feature equals the previous action's `_a0` feature."""
    errs = []
    frame, labels = _scan(frame_files), _scan(label_files)
    bad = con.execute(f"""SELECT
        count(*) FILTER (WHERE l.game_id IS NULL),
        count(*) FILTER (WHERE l.scores IS NULL OR l.concedes IS NULL),
        count(*) FILTER (WHERE f.scores IS DISTINCT FROM CAST(l.scores AS DOUBLE)
                            OR f.concedes IS DISTINCT FROM CAST(l.concedes AS DOUBLE))
        FROM {frame} f LEFT JOIN {labels} l USING (game_id, action_idx)""").fetchone()
    for n, what in zip(bad, ("without a scalar-path action",
                             "kept although their label is undefined",
                             "with labels unlike the recomputation")):
        if n:
            errs.append(f"{n} training rows {what}")
    cols = _columns(con, frame)
    fams = [c[:-3] for c in cols if c.endswith("_a0") and c[:-3] + "_a1" in cols]
    if not fams:
        errs.append("training frame has no _a0/_a1 feature pairs")
        return errs
    def h(suffix):
        return "hash(" + ", ".join(f'"{f}{suffix}"' for f in fams) + ")"
    n = con.execute(f"""WITH r AS (SELECT game_id, action_idx,
            {h("_a0")} AS h0, {h("_a1")} AS h1 FROM {frame})
        SELECT count(*) FROM r c JOIN r p
        ON c.game_id = p.game_id AND c.action_idx = p.action_idx + 1
        WHERE c.h1 <> p.h0""").fetchone()[0]
    if n:
        errs.append(f"{n} rows whose _a1 features differ from the previous "
                    "action's _a0 features")
    return errs


def _serial(col):
    if col.dtype.kind in "fO":
        return col.map(lambda v: "<NA>" if v is None or v != v else str(v))
    return col.astype(str)


def check_query(con, tables_dir, sql, got_files):
    """One query result equals its DuckDB oracle, compared dtype-exact the
    way tools/check_oracle.py does: columns by name, rows sorted, integer
    versus float kinds distinct, values by their string form."""
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{p}'")
    exp = con.execute(sql).fetchdf()
    got = con.execute(f"SELECT * FROM {_scan(got_files)}").fetchdf()
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return [f"columns {list(got.columns)} != oracle {list(exp.columns)}"]
    if len(exp) != len(got):
        return [f"{len(got)} rows != oracle {len(exp)}"]
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    errs = []
    for c in exp.columns:
        ka, kb = es[c].dtype.kind, gs[c].dtype.kind
        if (ka in "iu") != (kb in "iu") or (ka == "f") != (kb == "f"):
            errs.append(f"{c}: dtype {gs[c].dtype} != oracle {es[c].dtype}")
            continue
        eq = _serial(es[c]) == _serial(gs[c])
        if not eq.all():
            i = (~eq).idxmax()
            errs.append(f"{c}[{i}]: {gs[c][i]!r} != oracle {es[c][i]!r}")
    return errs
