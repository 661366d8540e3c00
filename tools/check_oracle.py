#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate: run Verify's
parquet dumps against the DuckDB oracle SQL and compare row/schema/hash.

Usage: python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# DuckDB's caps: a machine with 4 cores and 16 GB must hold every oracle,
# so one that outgrows them fails here instead of passing on a larger host.
MEMORY_LIMIT = "3GB"
THREADS = 2

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize values to strings with rounded floats
    def cell(v):
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, bytes):
            return v.hex()
        return str(v)
    out = df.apply(lambda col: col.map(cell))
    rows = sorted(out.itertuples(index=False, name=None))
    return rows

def main(outdir, sfdir):
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT, "threads": THREADS})
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    n_ok = n_bad = 0
    for name in sorted(oracle):
        spark_dir = os.path.join(outdir, name)
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"MISSING  {name}: no spark output"); n_bad += 1; continue
        try:
            got = pd.read_parquet(spark_dir)
        except Exception as e:
            print(f"READERR  {name}: {e}"); n_bad += 1; continue
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"ORACLEERR {name}: {e}"); n_bad += 1; continue
        g, w = norm(got), norm(want)
        if [c.lower() for c in sorted(got.columns)] != [c.lower() for c in sorted(want.columns)]:
            print(f"SCHEMA   {name}: spark={sorted(got.columns)} duck={sorted(want.columns)}")
            n_bad += 1
        elif g == w:
            print(f"OK       {name} ({len(g)} rows)"); n_ok += 1
        else:
            print(f"MISMATCH {name}: spark {len(g)} rows vs duck {len(w)} rows")
            for i, (a, b) in enumerate(zip(g, w)):
                if a != b:
                    print(f"  first diff row {i}:\n    spark: {a}\n    duck:  {b}")
                    break
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
