#!/usr/bin/env python3
"""Local correctness harness mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet dir (written by graft.Verify) and the
oracle_sql.json, runs each oracle in DuckDB over views named after the parquet
tables in <sfDir>, then compares: schema (column names sorted), row count, and
a hash of all values with columns sorted by name and rows sorted. Each
query's line carries its DuckDB oracle seconds, and the five slowest oracles
are listed at the end.

The first line is `checking N oracles` and the last is `<ok> ok, <fail> fail`
(exit status 1 on any failure). A log that has the first line but not the
last is a failed check: the process died mid-run (an oracle killed for
memory prints nothing).
"""
import sys, json, glob, hashlib, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize value rendering
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    rows = sorted("|".join(cell(v) for v in row) for row in df.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    print(f"checking {len(oracle)} oracles", flush=True)
    ok = fail = 0
    duck_s = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output", flush=True)
            fail += 1
            continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            t0 = time.monotonic()
            try:
                duck_df = con.execute(sql).df()
            finally:
                duck_s[name] = time.monotonic() - t0
        except Exception as e:
            print(f"FAIL {name} [{duck_s.get(name, 0.0):.2f}s]: {e}", flush=True)
            fail += 1
            continue
        took = f"[{duck_s[name]:.2f}s]"
        sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
        if sc != dc:
            print(f"FAIL {name} {took}: columns spark={sc} duck={dc}", flush=True)
            fail += 1
            continue
        if len(spark_df) != len(duck_df):
            print(f"FAIL {name} {took}: rows spark={len(spark_df)} duck={len(duck_df)}", flush=True)
            fail += 1
            continue
        hs, hd = canon(spark_df), canon(duck_df)
        if hs != hd:
            print(f"FAIL {name} {took}: hash mismatch ({len(spark_df)} rows)")
            # show first differing rows for debugging
            s = spark_df.reindex(sorted(spark_df.columns), axis=1).astype(str)
            d = duck_df.reindex(sorted(duck_df.columns), axis=1).astype(str)
            s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
            d = d.sort_values(by=list(d.columns)).reset_index(drop=True)
            neq = (s != d).any(axis=1)
            if neq.any():
                i = neq.idxmax()
                print(f"  first diff row {i}:\n  spark: {s.iloc[i].to_dict()}\n  duck : {d.iloc[i].to_dict()}")
            sys.stdout.flush()
            fail += 1
            continue
        print(f"OK   {name} {took} ({len(spark_df)} rows)", flush=True)
        ok += 1
    print("\nslowest oracles:")
    for name, s in sorted(duck_s.items(), key=lambda kv: -kv[1])[:5]:
        print(f"  {s:8.2f}s  {name}")
    print(f"\n{ok} ok, {fail} fail")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
