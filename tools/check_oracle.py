#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query result
parquet dumped by graft.Verify, run the matching oracle SQL in DuckDB over
the same testdata parquet tables and compare (schema-insensitively):
columns sorted by name, rows sorted, values normalized, then hashed.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [name,name,...]
"""
import sys, json, glob, os, hashlib, threading
import duckdb
import pandas as pd

# Wall cap per oracle query, in seconds: about 4x the slowest sf0.1
# oracle, so only a query that would stall the whole check hits it. A
# capped query is a failure, never a pass.
CAP_S = 1200

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: timestamps → iso strings, floats → repr w/ rounding
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.round(9)
        elif s.dtype == object:
            out[c] = s.apply(lambda v: tuple(v) if isinstance(v, (list, tuple)) or
                             hasattr(v, "__len__") and not isinstance(v, str) else v)
        else:
            out[c] = s
    df = pd.DataFrame(out)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # a mistyped filter name checks nothing: a failure, not a skip
    for name in sorted((only or set()) - oracle.keys()):
        print(f"FAIL {name}: no oracle SQL"); n_fail += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no result parquet"); n_fail += 1; continue
        timer = threading.Timer(CAP_S, con.interrupt)
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in files]))
            timer.start()
            want = norm(con.execute(sql).df())
        except duckdb.InterruptException:
            print(f"FAIL {name}: capped after {CAP_S} s (not checked)"); n_fail += 1; continue
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        finally:
            timer.cancel()
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}"); n_fail += 1; continue
        if got.equals(want):
            # value-equality passed; also require bit-identical floats
            # (driver hashes exact values: -0.0 vs 0.0 or 1-ulp noise
            # passes == but fails the driver)
            bitdiff = [c for c in got.columns
                       if pd.api.types.is_float_dtype(got[c]) and
                       got[c].astype("float64").to_numpy().tobytes() !=
                       want[c].astype("float64").to_numpy().tobytes()]
            if bitdiff:
                print(f"FAIL {name}: float columns not bit-identical: {bitdiff}")
                n_fail += 1; continue
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        else:
            diff = (got != want) & ~(got.isna() & want.isna())
            bad = diff.any(axis=1)
            print(f"FAIL {name}: {int(bad.sum())}/{len(got)} rows differ")
            with pd.option_context("display.width", 250):
                print("  got:\n", got[bad].head(3))
                print("  want:\n", want[bad].head(3))
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    # a run that checked no query shows nothing
    return 1 if n_fail or not n_pass else 0

if __name__ == "__main__":
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
