#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/local_verify.py <sfDir> <outDir> [entry ...]
  (run `sbt "runMain graft.Verify <sfDir> <outDir> [entry ...]"` first)

Optional entry names after the two positional args restrict the compare to
those entries, as `graft.Verify` does; a named entry with no output dir
fails, so a typo cannot pass silently.

For each query parquet in outDir, runs the matching oracle_sql.json entry in
DuckDB against the raw testdata parquet, then compares: column-name sets,
row counts, and a hash of all values with columns sorted by name and rows
sorted by all columns. Floats are rounded to 9 significant digits before
hashing to absorb representation noise, but stay TYPE-STRICT: a float cell
always renders with a fractional marker (10000.0 -> "10000.0", never
"10000"), so an integer-typed Spark column vs a float-typed oracle column
(e.g. DuckDB HUGEINT -> pandas float) hash-differs exactly as it does in
the driver's hasher (the r6 skew_profile failure class).
"""
import sys, os, json, hashlib
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            s = f"{v:.9g}"
            # keep the float-ness visible: "10000" would collide with int 10000
            if "." not in s and "e" not in s and "n" not in s:  # n: nan/inf
                s += ".0"
            return s
        return str(v)
    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()

def main(sf_dir, out_dir, only=()):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    names = sorted(set(only)) if only else sorted(os.listdir(out_dir))
    for name in names:
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            if only:
                print(f"  {name:24s} FAIL no output dir")
                n_fail += 1
            continue
        spark_df = pq.read_table(d).to_pandas()
        if name not in oracle:
            status = f"rows-only ({len(spark_df)} rows)"
            print(f"  {name:24s} {status}")
            continue
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"  {name:24s} FAIL oracle-sql-error: {e}")
            n_fail += 1
            continue
        sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
        if sc != dc:
            print(f"  {name:24s} FAIL columns spark={sc} duck={dc}")
            n_fail += 1
            continue
        if len(spark_df) != len(duck_df):
            print(f"  {name:24s} FAIL rows spark={len(spark_df)} duck={len(duck_df)}")
            n_fail += 1
            continue
        hs, hd = canon(spark_df), canon(duck_df)
        if hs != hd:
            print(f"  {name:24s} FAIL hash ({len(spark_df)} rows)")
            # show a diff sample
            s = spark_df.reindex(sorted(spark_df.columns), axis=1).astype(str)
            dd = duck_df.reindex(sorted(duck_df.columns), axis=1).astype(str)
            s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
            dd = dd.sort_values(by=list(dd.columns)).reset_index(drop=True)
            neq = (s != dd).any(axis=1)
            if neq.any():
                i = neq.idxmax()
                print(f"    first diff row {i}:\n    spark: {s.iloc[i].to_dict()}\n    duck : {dd.iloc[i].to_dict()}")
            n_fail += 1
            continue
        print(f"  {name:24s} PASS ({len(spark_df)} rows)")
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
