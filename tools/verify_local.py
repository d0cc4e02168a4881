#!/usr/bin/env python3
"""Local pre-verification harness (builder-side only, NOT shipped library code).

Mimics the driver's correctness gate: runs each oracle SQL from
oracle_sql.json in DuckDB over the sf parquet tables and compares against the
Spark result parquet written by graft.Verify.

Usage:
  sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
  python3 tools/verify_local.py /root/testdata/sf0.01 /tmp/verify_out [--skip a,b,c]

--skip: comma-separated query names to exclude. No query needs it for
correctness at either SF: the Jaccard-family oracles generate candidates
via lossless SSJoin prefix filtering (see DocQueries.jaccardPairsCtes).
The full 228-entry registry at sf0.1 can outlast a time-limited run,
though, so split that sweep: check a first batch with --only, then the
rest with --skip of the same names (about 140 and 88 entries).
--only: comma-separated query names to check exclusively (pairs with
graft.Verify --only for a fast targeted re-check of just-touched queries).
"""
import sys, os, json, glob, math
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # full precision
    return repr(v)

def canon(rows, cols):
    """Sort columns by name, then rows; stringify cells at full precision."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return sorted(c for c in cols), out

def main(sf_dir, out_dir, skip=(), only=()):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    unknown = [s for s in (*skip, *only) if s not in oracles]
    if unknown:
        print(f"WARN --skip/--only names not in the oracle registry (typo?): {unknown}")
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        if name in skip:
            print(f"SKIP {name} (oracle cost-prohibitive at this sf)")
            continue
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output at {spark_dir}")
            n_fail += 1
            continue
        try:
            sr = con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
            s_cols = [d[0] for d in sr.description]
            s_rows = sr.fetchall()
            orr = con.execute(sql)
            o_cols = [d[0] for d in orr.description]
            o_rows = orr.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        sc, srows = canon(s_rows, s_cols)
        oc, orows = canon(o_rows, o_cols)
        if sc != oc:
            print(f"FAIL {name}: column mismatch spark={sc} oracle={oc}")
            n_fail += 1
        elif srows != orows:
            n_fail += 1
            diff = [(a, b) for a, b in zip(srows, orows) if a != b]
            print(f"FAIL {name}: {len(srows)} vs {len(orows)} rows; first diffs:")
            for a, b in diff[:3]:
                print(f"  spark : {a}\n  oracle: {b}")
            if len(srows) != len(orows):
                print(f"  row counts differ: spark={len(srows)} oracle={len(orows)}")
        else:
            print(f"PASS {name} ({len(srows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    argv = sys.argv[1:]
    skip, only, args = (), (), []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--skip="):
            skip = tuple(a.split("=", 1)[1].split(","))
        elif a == "--skip":          # space-separated form
            i += 1
            skip = tuple(argv[i].split(",")) if i < len(argv) else ()
        elif a.startswith("--only="):
            only = tuple(a.split("=", 1)[1].split(","))
        elif a == "--only":
            i += 1
            only = tuple(argv[i].split(",")) if i < len(argv) else ()
        else:
            args.append(a)
        i += 1
    sys.exit(main(args[0], args[1], skip, only))
