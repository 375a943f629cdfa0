#!/usr/bin/env python3
"""Dev-side replica of the driver's DuckDB correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
Reads each <verifyOutDir>/<name>/ parquet (Spark result), runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB with the sfDir
tables registered by name, sorts columns by name + rows, and diffs.

Every oracle query with no Spark output is reported MISSING and fails the
check: graft.Verify logs a query that throws and writes nothing for it.
SPARK_GRAFT_VERIFY_ONLY=g4,g6,... restricts the expected queries with
Verify's own rule (name == prefix, or name starts with prefix + "_"). A
query with no oracle (g18) is not covered by this check.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

def default_mem_gb():
    """About 60 % of the host's memory, clamped to [2, 40] GB. A fixed 40 GB
    let DuckDB grow past a 15 GB host's RAM and thrash it for an hour."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return 2
    return max(2, min(40, int(kb * 0.6 / 2**20)))

def load(sf_dir, out_dir):
    con = duckdb.connect()
    # Bound DuckDB so heavy recursive-CTE oracles (g12 at sf0.1 needs >95 GB
    # unbounded — OOM-killed 2026-08-19) spill to disk instead of taking the
    # host down. Override via CHECK_MEM_GB.
    mem_gb = os.environ.get("CHECK_MEM_GB") or str(default_mem_gb())
    print(f"check.py: DuckDB memory_limit {mem_gb} GB", file=sys.stderr)
    con.sql(f"SET memory_limit='{mem_gb}GB'")
    con.sql("SET temp_directory='/tmp/duckdb_spill'")
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)[:-8]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    return con, oracles

def selected(name):
    """Verify's SPARK_GRAFT_VERIFY_ONLY prefix rule; unset = every query."""
    only = os.environ.get("SPARK_GRAFT_VERIFY_ONLY")
    if only is None:
        return True
    prefixes = [p.strip() for p in only.split(",") if p.strip()]
    return any(name == p or name.startswith(p + "_") for p in prefixes)

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con, oracles = load(sf_dir, out_dir)
    fails = 0
    # oracle_sql.json lists each query twice: bare and with ".parquet"
    expected = {n for n in oracles if not n.endswith(".parquet") and selected(n)}
    for name in sorted(expected):
        if not os.path.isdir(f"{out_dir}/{name}.parquet"):
            print(f"{name:28s} MISSING: no Spark output (the query failed or was not run)")
            fails += 1
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name.endswith(".parquet"):
            name = name[:-8]
        spark_df = pd.read_parquet(d)
        if name not in oracles:
            print(f"{name:28s} rows={len(spark_df):8d}  (no oracle: rows-only check)")
            continue
        try:
            ora = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"{name:28s} ORACLE SQL ERROR: {e}")
            fails += 1
            continue
        a, b = canon(spark_df.copy()), canon(ora.copy())
        if list(a.columns) != list(b.columns):
            print(f"{name:28s} SCHEMA MISMATCH spark={list(a.columns)} oracle={list(b.columns)}")
            fails += 1
            continue
        if len(a) != len(b):
            print(f"{name:28s} ROWCOUNT MISMATCH spark={len(a)} oracle={len(b)}")
            fails += 1
            continue
        # dtype-tolerant value compare
        mismatch = None
        for c in a.columns:
            av, bv = a[c], b[c]
            if av.dtype.kind in "fc" or bv.dtype.kind in "fc":
                import numpy as np
                if not np.allclose(av.astype(float), bv.astype(float), rtol=0, atol=1e-9, equal_nan=True):
                    mismatch = c
                    break
            else:
                if not (av.astype(str) == bv.astype(str)).all():
                    mismatch = c
                    break
        if mismatch:
            bad = a[mismatch] != b[mismatch]
            print(f"{name:28s} VALUE MISMATCH col={mismatch} ({bad.sum()} rows) e.g.\n{a[bad].head(3)}\nvs\n{b[bad].head(3)}")
            fails += 1
        else:
            print(f"{name:28s} OK rows={len(a)}")
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main()
