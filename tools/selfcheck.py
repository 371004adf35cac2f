#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle gate.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir> [q1,q2,...]
                                  [--against <otherVerifyOutDir>]

For each query dir under verifyOutDir: read the Spark parquet result,
run the matching oracle SQL from oracle_sql.json in DuckDB (tables
registered from sfDir), and compare schema (column names), row count,
and cell values (sorted columns, row order as produced).

With --against, each result is also compared the same way with the same
query's result in a second `graft.Verify` dump (e.g. one made from the
parent commit). Queries without an oracle then report PASS/FAIL instead
of SKIP, so a refactor of them is still checked for identical output.
"""
import argparse, glob, json, math, os, sys
import duckdb

def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v

def read_dump(con, qdir):
    """(column names, rows) of one query's parquet result."""
    rel = f"SELECT * FROM '{qdir}/*.parquet'"
    cols = [d[0] for d in con.sql(f"{rel} LIMIT 0").description]
    return cols, con.sql(rel).fetchall()

def mismatch(got_cols, got, exp_cols, exp):
    """None when equal, else why: columns, row count, or the first row."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"cols {sorted(got_cols)} != {sorted(exp_cols)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    # the oracle gate sorts columns by name before hashing values
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    ei = [exp_cols.index(c) for c in sorted(exp_cols)]
    for rn, (g, e) in enumerate(zip(got, exp)):
        gr = [canon(g[i]) for i in gi]
        er = [canon(e[i]) for i in ei]
        if gr != er:
            return f"row {rn}: {gr} != {er}"
    return None

def main(sf_dir, out_dir, only=None, against=None):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        # testdata tables are single files; derived rehearsal sets
        # (graft.ScaleGen) write multi-file directories — glob those
        p = f"{sf_dir}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    for qdir in sorted(glob.glob(f"{out_dir}/q*")):
        name = os.path.basename(qdir)
        if only and name not in only:
            continue
        got_cols, got = read_dump(con, qdir)
        refs = []  # (label, column names, rows) to compare against
        if name in oracle:
            exp_rel = con.sql(oracle[name])
            exp_cols = [d[0] for d in exp_rel.description]
            exp = exp_rel.fetchall()
            # The oracle gate canonicalizes via pandas dtypes, where DuckDB
            # HUGEINT (e.g. sum(INTEGER)) becomes float64 and
            # hash-mismatches Spark's int64 even when fetchall() values
            # compare equal. Flag it here, from the relation's column types
            # (no second run of the oracle).
            huge = [c for c, t in zip(exp_cols, exp_rel.types)
                    if str(t) in ("HUGEINT", "UHUGEINT")]
            if huge:
                print(f"WARN  {name:24s} oracle cols {huge} are HUGEINT "
                      f"(pandas float64) — CAST(... AS BIGINT)")
            refs.append(("oracle", exp_cols, exp))
        if against:
            other = f"{against}/{name}"
            if os.path.isdir(other):
                refs.append(("against", *read_dump(con, other)))
            else:
                refs.append(("against", None, None))
        if not refs:
            print(f"SKIP  {name:24s} rows={len(got)} (no oracle)")
            n_skip += 1
            continue
        fails = []
        for label, ref_cols, ref in refs:
            why = (f"no result in {against}" if ref_cols is None
                   else mismatch(got_cols, got, ref_cols, ref))
            if why:
                fails.append(f"{label}: {why}")
        if fails:
            print(f"FAIL  {name:24s} {'; '.join(fails)}")
            n_fail += 1
        else:
            labels = "+".join(label for label, _, _ in refs)
            print(f"PASS  {name:24s} rows={len(got)} ({labels})")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0

if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("only", nargs="?",
                    help="comma-separated query names to check")
    ap.add_argument("--against", metavar="VERIFY_DIR",
                    help="second graft.Verify dump to compare row for row")
    a = ap.parse_args()
    only = set(a.only.split(",")) if a.only else None
    sys.exit(main(a.sf_dir, a.out_dir, only, a.against))
