#!/usr/bin/env python3
"""Local oracle check: compare Verify parquet output vs DuckDB oracle SQL.

Mirrors the driver's compare: per query, sort columns by name, sort rows,
hash values. Exact for ints/strings/bools; doubles compared bit-exact."""
import sys, json, glob, os, resource
import concurrent.futures as cf
import multiprocessing as mp
import duckdb
import pandas as pd
import numpy as np

sf_dir, out_dir = sys.argv[1], sys.argv[2]
# DuckDB is sized to this machine. Its defaults (80% of RAM, every core)
# leave no room for the pandas frames this process holds, and the planner
# memory of the largest recursive-CTE oracles lies outside memory_limit
# altogether. So each statement runs in a forked child with half of
# MemTotal for DuckDB, the usable CPUs, spill files under the output dir,
# and an address-space cap of three quarters of MemTotal; a statement that
# hits a limit is a FAIL carrying DuckDB's error, and the next one starts
# in a fresh process.
with open("/proc/meminfo") as f:
    mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))

def duck(sql):
    cap = mem_kb * 1024 * 3 // 4
    resource.setrlimit(resource.RLIMIT_AS, (cap, cap))
    con = duckdb.connect(config={
        "memory_limit": f"{mem_kb // 2 // 1024}MB",
        "threads": len(os.sched_getaffinity(0)),
        "temp_directory": os.path.join(out_dir, ".duckdb_tmp")})
    for t in ["region","nation","customer","supplier","part","orders","lineitem",
              "events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con.execute(sql).df()

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails, passes = [], []
for name, sql in sorted(oracle.items()):
    pq = f"{out_dir}/{name}"
    if not os.path.isdir(pq):
        fails.append((name, "no spark output")); continue
    try:
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{pq}/*.parquet"))])
    except Exception as e:
        fails.append((name, f"spark read: {e}")); continue
    try:
        with cf.ProcessPoolExecutor(1, mp_context=mp.get_context("fork")) as ex:
            duck_df = ex.submit(duck, sql).result()
    except Exception as e:
        fails.append((name, f"duckdb: {type(e).__name__}: {e}")); continue
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        fails.append((name, f"columns: spark={sc} duck={dc}")); continue
    s = spark_df[sc].sort_values(sc).reset_index(drop=True)
    d = duck_df[sc].sort_values(sc).reset_index(drop=True)
    if len(s) != len(d):
        fails.append((name, f"rows: spark={len(s)} duck={len(d)}")); continue
    bad = None
    for c in sc:
        sv, dv = s[c], d[c]
        try:
            sv2 = sv.astype(object).where(pd.notnull(sv), None)
            dv2 = dv.astype(object).where(pd.notnull(dv), None)
            neq = [(i, a, b) for i, (a, b) in enumerate(zip(sv2, dv2))
                   if not (a == b or (a is None and b is None) or
                           (isinstance(a, float) and isinstance(b, float) and
                            (a == b or (np.isnan(a) and np.isnan(b)))))]
        except Exception as e:
            bad = (c, f"cmp error {e}"); break
        if neq:
            i, a, b = neq[0]
            bad = (c, f"{len(neq)} diffs; first row {i}: spark={a!r} duck={b!r}"); break
        # dtype check (schema-level)
        if str(sv.dtype) != str(dv.dtype):
            bad = (c, f"dtype spark={sv.dtype} duck={dv.dtype} (values equal)"); break
    if bad:
        fails.append((name, f"col {bad[0]}: {bad[1]}"))
    else:
        passes.append((name, len(s)))

for n, r in passes: print(f"PASS {n} ({r} rows)")
for n, m in fails: print(f"FAIL {n}: {m}")
print(f"\n{len(passes)} pass / {len(fails)} fail")
sys.exit(1 if fails else 0)
