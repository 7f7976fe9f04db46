#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/local_verify.py <sfDir> <verifyOutDir> [--only a,b] [--json PATH]

Loads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle SQL from oracle_sql.json in DuckDB over the sfDir parquet tables, and
compares: schema (column names, sorted), row count, and a hash of all values
with columns sorted by name. Exits nonzero if any query mismatches.

--only a,b   compare only the named queries (a named query with no Spark
             output or no oracle SQL still FAILs)
--json PATH  also write the sweep as the bench/correctness_rNN_local.json
             schema: sf, passed, failed, oracle_not_run, note, and
             queries{name: {rows_match, schema_match, hash_match, rows, err}}
--against OTHER_OUT_DIR
             parity check instead of the oracle sweep: compare each query's
             output here with OTHER_OUT_DIR's (another tree's Verify output)
             by the same canonical hash, printing SAME, CHANGED or MISSING
             per query; exits nonzero on any CHANGED or MISSING. Queries are
             those named in either dir's oracle_sql.json, or --only's.
"""
import sys, os, json, glob, argparse
import duckdb
import pandas as pd
import numpy as np
import hashlib

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df


def df_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in df.columns:
        s = df[col]
        if s.dtype == object:
            vals = s.astype(str).to_numpy()
            h.update("\x00".join(vals).encode())
        else:
            arr = s.to_numpy()
            h.update(np.ascontiguousarray(arr).tobytes())
    return h.hexdigest()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    # unify dtypes across engines: ints -> int64, float32 stays float32,
    # bools -> bool, timestamps -> int64 ns
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_bool_dtype(s):
            out[c] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("int64")
        elif s.dtype == np.float32:
            out[c] = s
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        else:
            out[c] = s
    return pd.DataFrame(out)


def load_output(res_dir):
    """One Verify output dir's parquet parts as a single frame."""
    files = glob.glob(f"{res_dir}/*.parquet")
    return pd.concat([pd.read_parquet(f) for f in sorted(files)],
                     ignore_index=True)


def parity(name, out_dir, other_dir):
    """SAME, CHANGED or MISSING for one query's output in two out dirs."""
    dirs = [f"{out_dir}/{name}", f"{other_dir}/{name}"]
    missing = [d for d in dirs if not os.path.isdir(d)]
    if missing:
        print(f"MISSING {name}: no output dir {', '.join(missing)}")
        return "MISSING"
    a, b = (normalize(canon(load_output(d))) for d in dirs)
    if list(a.columns) != list(b.columns):
        print(f"CHANGED {name}: columns {list(a.columns)} vs {list(b.columns)}")
        return "CHANGED"
    if len(a) != len(b) or df_hash(a) != df_hash(b):
        print(f"CHANGED {name}: {len(a)} rows vs {len(b)} rows, hash differs")
        return "CHANGED"
    print(f"SAME {name} ({len(a)} rows)")
    return "SAME"


def sql_names(out_dir):
    """Query names in an out dir's oracle_sql.json (none if it is absent)."""
    path = f"{out_dir}/oracle_sql.json"
    return set(json.load(open(path))) if os.path.exists(path) else set()


def record(rows=None, schema=None, rows_match=None, hash_match=None, err=None):
    return {"rows_match": rows_match, "schema_match": schema,
            "hash_match": hash_match, "rows": rows, "err": err}


def compare(con, name, sql, out_dir):
    """Compare one query, printing its verdict lines; returns its record."""
    if sql is None:
        print(f"FAIL {name}: no oracle sql")
        return record(err="no oracle sql")
    res_dir = f"{out_dir}/{name}"
    if not os.path.isdir(res_dir):
        print(f"FAIL {name}: no spark output dir")
        return record(err="no spark output dir")
    spark_df = load_output(res_dir)
    try:
        duck_df = con.execute(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}")
        return record(rows=len(spark_df), err=f"DuckDB oracle error: {e}")
    s, d = normalize(canon(spark_df)), normalize(canon(duck_df))
    if list(s.columns) != list(d.columns):
        print(f"FAIL {name}: columns spark={list(s.columns)} duck={list(d.columns)}")
        return record(rows=len(s), schema=False,
                      err=f"columns spark={list(s.columns)} duck={list(d.columns)}")
    if len(s) != len(d):
        print(f"FAIL {name}: rows spark={len(s)} duck={len(d)}")
        return record(rows=len(s), schema=True, rows_match=False,
                      err=f"rows spark={len(s)} duck={len(d)}")
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            print(f"  note {name}.{c}: dtype spark={s[c].dtype} duck={d[c].dtype}")
    hs, hd = df_hash(s), df_hash(d)
    if hs != hd:
        # locate first differing cell for debugging
        print(f"FAIL {name}: hash mismatch ({len(s)} rows)")
        for c in s.columns:
            a, b = s[c].to_numpy(), d[c].to_numpy()
            if s[c].dtype == object:
                neq = a.astype(str) != b.astype(str)
            else:
                neq = ~(a == b)
            if neq.any():
                i = int(np.argmax(neq))
                print(f"    col {c} row {i}: spark={a[i]!r} duck={b[i]!r}"
                      f" ({int(neq.sum())} diffs)")
        return record(rows=len(s), schema=True, rows_match=True,
                      hash_match=False, err="hash mismatch")
    print(f"PASS {name} ({len(s)} rows)")
    return record(rows=len(s), schema=True, rows_match=True, hash_match=True)


def summary(sf_dir, queries, only):
    """The correctness_rNN_local.json document for one sweep."""
    not_run = sorted(n for n, r in queries.items()
                     if (r["err"] or "").startswith("DuckDB oracle error"))
    passed = sum(1 for r in queries.values() if r["hash_match"])
    scope = f"--only {','.join(only)}" if only is not None else "full sweep"
    return {
        "sf": sf_dir,
        "passed": passed,
        "failed": len(queries) - passed - len(not_run),
        "oracle_not_run": not_run,
        "note": f"tools/local_verify.py {scope}: {len(queries)} queries compared "
                f"(DuckDB {duckdb.__version__}); a query whose oracle raised is "
                f"listed in oracle_not_run, not counted as failed",
        "queries": queries,
    }


def main(argv=None):
    ap = argparse.ArgumentParser(
        description="Compare Verify outputs against their DuckDB oracles.")
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--only", help="comma-separated query names to compare")
    ap.add_argument("--json", help="write the sweep summary to this path")
    ap.add_argument("--against", metavar="OTHER_OUT_DIR",
                    help="compare outputs with another out dir instead of the oracles")
    args = ap.parse_args(argv)
    only = None if args.only is None else \
        [n.strip() for n in args.only.split(",") if n.strip()]
    if args.against:
        if args.json:
            ap.error("--json writes the oracle sweep; it does not combine with --against")
        names = sorted(set(only)) if only is not None else \
            sorted(sql_names(args.out_dir) | sql_names(args.against))
        verdicts = [parity(n, args.out_dir, args.against) for n in names]
        sys.exit(0 if all(v == "SAME" for v in verdicts) else 1)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{args.out_dir}/oracle_sql.json"))
    names = sorted(set(only)) if only is not None else sorted(oracle)
    queries = {n: compare(con, n, oracle.get(n), args.out_dir) for n in names}
    if args.json:
        with open(args.json, "w") as f:
            json.dump(summary(args.sf_dir, queries, only), f, indent=1)
            f.write("\n")
    failures = sum(1 for r in queries.values() if not r["hash_match"])
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
