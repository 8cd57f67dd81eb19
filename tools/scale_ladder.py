#!/usr/bin/env python3
"""Scale ladder: the unchanged suite on a 1x and a k-x replica of an sf dir.

For n in (1, k): write the replica <outDir>/x<n>, then run `graft.Bench`
(SPARK_GRAFT_SF_DIR), `graft.Verify` and tools/check_oracle.py on it,
keeping the results in <outDir>/run_x<n>. Then print per query t1, tk,
the fixed cost F = (k*t1 - tk)/(k-1), the slope (tk - t1)/(k-1) and the
census jobs of the kept run at each rung; each rung's total, census drain
and oracle result; the 20 largest slopes; and every query with F < 0
(superlinear) or more jobs at k.

A replica is k copies r = 0..k-1 of every table but region and nation;
copy 0 is the source row for row. Keys and foreign keys get r*B, B the
power of ten above the referenced table's max key, so `id % 25` keeps its
distribution and join fan-out per row stays. Dates are kept; events.ts
gains r us, keeping it unique. For r > 0 document tokens get the suffix
`_r` and embeddings a deterministic jitter; DERIVED columns are
recomputed where the source holds the identity. Checks, any failing one
exiting non-zero: rows exactly xk, copy 0 equal to the source, columns
unique in the source stay unique (save COPIED_VALUES), foreign keys
resolve, arrow schemas equal; no output under the testdata root.

Usage: python3 tools/scale_ladder.py <sfDir> <outDir> <k>
"""
import json, os, shutil, subprocess, sys, time

import duckdb
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTDATA_ROOT = "/root/testdata"
UNCHANGED = ["region", "nation"]
KEYS = {"customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
        "orders": "o_orderkey", "events": "event_id", "documents": "doc_id",
        "embeddings": "vec_id"}
TABLES = UNCHANGED + ["lineitem"] + list(KEYS)
# (table, column) -> the table whose key it references
FKS = {("nation", "n_regionkey"): "region", ("customer", "c_nationkey"): "nation",
       ("supplier", "s_nationkey"): "nation", ("orders", "o_custkey"): "customer",
       ("lineitem", "l_orderkey"): "orders", ("lineitem", "l_partkey"): "part",
       ("lineitem", "l_suppkey"): "supplier", ("events", "user_id"): "customer"}
PARENT_KEY = {"region": "r_regionkey", "nation": "n_nationkey", **KEYS}
DERIVED = {("customer", "c_name"): "printf('Customer#%09d', c_custkey)",
           ("supplier", "s_name"): "printf('Supplier#%09d', s_suppkey)",
           ("documents", "n_chars"): "length(text)"}
# unique in the sf0.1 source by chance (1,000 random balances); copied as
# values, like every other measure
COPIED_VALUES = {("supplier", "s_acctbal")}


def fail(msg):
    sys.exit(f"[ladder] CHECK FAILED: {msg}")


def refuse_testdata(src, out):
    out = os.path.realpath(out)
    for root in {os.path.realpath(TESTDATA_ROOT), os.path.dirname(os.path.realpath(src))}:
        if out == root or out.startswith(root + os.sep):
            fail(f"output {out} lies under the testdata root {root}")


def replicate(src, dst, k):
    """Write the k-x replica of `src` to `dst` and check it."""
    refuse_testdata(src, dst)
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2; SET memory_limit = '3GB'")
    q = lambda sql: con.execute(sql).fetchone()[0]
    base = {t: 10 ** len(str(q(f"SELECT max({c}) FROM '{src}/{t}.parquet'")))
            for t, c in KEYS.items()}
    unit = q(f"SELECT bool_and(abs(list_sum(list_transform(embedding, x -> x * x)) - 1) < 1e-5) "
             f"FROM '{src}/embeddings.parquet'")
    for t in TABLES:
        cols = [c[0] for c in con.execute(f"DESCRIBE FROM '{src}/{t}.parquet'").fetchall()]
        reps = "(SELECT 0 AS r)" if t in UNCHANGED else f"range({k}) reps(r)"
        inner = ", ".join(f"{rewrite(t, c, base)} AS {c}" for c in cols)
        outer = ", ".join(f"{finish(t, c, unit, q, src)} AS {c}" for c in cols)
        con.execute(f"COPY (SELECT {outer} FROM (SELECT r, file_row_number, {inner} FROM {reps}, "
                    f"read_parquet('{src}/{t}.parquet', file_row_number = true)) "
                    f"ORDER BY r, file_row_number) "
                    f"TO '{dst}/{t}.parquet' (FORMAT parquet, ROW_GROUP_SIZE 1048576)")
    check(con, src, dst, k)


def rewrite(t, c, base):
    """Column `c` of table `t` in copy `r`, before derived columns."""
    if KEYS.get(t) == c:
        return f"{c} + r * {base[t]}"
    if FKS.get((t, c)) in base:
        return f"{c} + r * {base[FKS[t, c]]}"
    if (t, c) == ("events", "ts"):
        return "ts + to_microseconds(r)"
    if (t, c) == ("documents", "text"):
        return r"CASE WHEN r = 0 THEN text ELSE regexp_replace(text, '(\S+)', '\1_' || r, 'g') END"
    if (t, c) == ("embeddings", "embedding"):
        return (f"CASE WHEN r = 0 THEN embedding ELSE list_transform(embedding, (x, i) -> x + "
                f"((hash(vec_id + r * {base[t]}, i) % 2001)::INTEGER - 1000) * 1e-5) END")
    return c


def finish(t, c, unit, q, src):
    """Column `c` as written: derived columns recomputed where the source
    holds the derivation, jittered vectors re-normalized."""
    if (t, c) in DERIVED and q(f"SELECT bool_and({c} = {DERIVED[t, c]}) FROM '{src}/{t}.parquet'"):
        return DERIVED[t, c]
    if (t, c) == ("embeddings", "embedding"):
        norm = "sqrt(list_sum(list_transform(embedding, y -> y * y)))" if unit else "1"
        return f"(CASE WHEN r = 0 THEN embedding ELSE list_transform(embedding, x -> x / {norm}) END)::FLOAT[]"
    return c


def check(con, src, dst, k):
    q = lambda sql: con.execute(sql).fetchone()[0]
    for t in TABLES:
        a, b = f"'{src}/{t}.parquet'", f"'{dst}/{t}.parquet'"
        n, m = q(f"SELECT count(*) FROM {a}"), q(f"SELECT count(*) FROM {b}")
        if m != (n if t in UNCHANGED else n * k):
            fail(f"{t}: {m} rows from {n} at x{k}")
        if q(f"SELECT count(*) FROM (FROM {a} EXCEPT ALL SELECT * EXCLUDE (file_row_number) "
             f"FROM read_parquet({b}, file_row_number = true) WHERE file_row_number < {n})"):
            fail(f"{t}: copy 0 differs from the source")
        sa, sb = pq.read_schema(f"{src}/{t}.parquet"), pq.read_schema(f"{dst}/{t}.parquet")
        if not sa.equals(sb, check_metadata=False):
            fail(f"{t}: arrow schema {sb} != {sa}")
        for c in sa.names:
            if (t, c) not in COPIED_VALUES and q(f"SELECT count(DISTINCT {c}) FROM {a}") == n \
                    and q(f"SELECT count(DISTINCT {c}) FROM {b}") != m:
                fail(f"{t}.{c}: unique in the source, not in the replica")
    for (t, c), p in FKS.items():
        dangling = q(f"SELECT count(*) FROM '{dst}/{t}.parquet' c ANTI JOIN "
                     f"'{dst}/{p}.parquet' p ON c.{c} = p.{PARENT_KEY[p]}")
        if dangling:
            fail(f"{t}.{c}: {dangling} rows reference no {p}")
    print(f"[ladder] replica x{k} at {dst}: every check passed", flush=True)


def run_rung(replica, out):
    """Bench, then Verify and the oracle, on one replica; returns the bench
    detail and the oracle's output, both also kept in `out`."""
    def sbt(task, env):
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", task], cwd=REPO,
                           env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode:
            sys.exit(f"{r.stdout[-4000:]}\n[ladder] sbt {task} exited {r.returncode}")
    os.makedirs(out, exist_ok=True)
    t0 = time.time()
    sbt("runMain graft.Bench", dict(os.environ, SPARK_GRAFT_SF_DIR=replica))
    shutil.copy(f"{REPO}/target/bench_detail.json", f"{out}/bench_detail.json")
    t1 = time.time()
    sbt(f"runMain graft.Verify {replica} {out}/verify", os.environ)
    oracle = subprocess.run([sys.executable, f"{REPO}/tools/check_oracle.py", replica,
                             f"{out}/verify"], stdout=subprocess.PIPE, text=True).stdout
    open(f"{out}/oracle.txt", "w").write(oracle)
    print(f"[ladder] {replica}: bench {t1 - t0:.0f} s, verify + oracle {time.time() - t1:.0f} s",
          flush=True)
    return json.load(open(f"{out}/bench_detail.json")), oracle


def jobs(entry):
    """Census jobs (eager + final) of the kept (fastest) run, or None."""
    if not entry or not entry["drained"]:
        return None
    run = min(entry["runs"], key=lambda r: r["eager_s"] + r["final_s"])
    return run["eager"]["jobs"] + run["final"]["jobs"]


def report(k, rungs):
    (d1, _), (dk, _) = rungs[1], rungs[k]
    rows = []
    for name in sorted(set(d1["queries"]) | set(dk["queries"])):
        t1, tk = d1["queries"].get(name), dk["queries"].get(name)
        fs = ((k * t1 - tk) / (k - 1), (tk - t1) / (k - 1)) if None not in (t1, tk) else (None, None)
        rows.append((name, t1, tk, *fs, jobs(d1["census"].get(name)), jobs(dk["census"].get(name))))
    fmt = lambda v: "-" if v is None else f"{v:.3f}" if isinstance(v, float) else str(v)
    show = lambda title, rs: print(f"\n{title}\n" + "".join("\t".join(map(fmt, r)) + "\n" for r in rs), end="")
    show(f"query\tt1_s\tt{k}_s\tF_s\tslope_s\tjobs1\tjobs{k}", rows)
    for n, (d, o) in rungs.items():
        drained = [e["drained"] for e in d["census"].values()]
        print(f"\nx{n}: sweep total {d['total']:.1f} s over {len(d['queries'])} queries; census "
              f"{sum(drained)}/{len(drained)} drained; oracle {o.strip().splitlines()[-1]}")
        print("".join(f"  {line[:160]}\n" for line in o.splitlines() if line.startswith("FAIL")), end="")
    timed = [r for r in rows if r[4] is not None]
    show("20 largest slopes:", sorted(timed, key=lambda r: -r[4])[:20])
    show("superlinear (F < 0):", [r for r in timed if r[3] < 0])
    show("job count grows with k:", [r for r in rows if None not in r[5:] and r[6] > r[5]])


def main(src, out, k):
    src, out, k = os.path.abspath(src), os.path.abspath(out), int(k)
    if k < 2:
        fail("k must be at least 2")
    rungs = {}
    for n in (1, k):
        replicate(src, f"{out}/x{n}", n)
        rungs[n] = run_rung(f"{out}/x{n}", f"{out}/run_x{n}")
    report(k, rungs)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    main(*sys.argv[1:])
