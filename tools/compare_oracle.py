#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the sf parquet tables, compare to the Spark parquet output in
outDir/<name>/ (columns sorted by name, rows sorted, values hashed).

Usage: python3 tools/compare_oracle.py /root/testdata/sf0.01 /tmp/verify_out
"""
import sys, json, glob, math, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rel):
    """Canonicalize through pandas, like the driver does: DuckDB HUGEINT
    (integer sum()/list_sum() results) becomes float64 there, so an oracle
    whose fetchall() looks identical can still hash-mismatch. Going through
    .df() reproduces that dtype path; list cells raise, like the driver's
    sort_values does."""
    df = rel.df()
    cols = sorted(df.columns, key=str.lower)
    out = []
    for r in df[cols].itertuples(index=False):
        vals = []
        for v in r:
            if isinstance(v, float):
                if math.isnan(v): v = "NaN"
                else: v = repr(round(v, 9))
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                raise TypeError(f"list-typed output column (driver compare crashes on these): {v!r:.60}")
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; a Spark-written table
        # is a directory of part files — glob those
        path = f"{sfdir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        spark_files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not spark_files:
            print(f"MISSING spark output: {name}")
            n_bad += 1
            continue
        try:
            o = con.sql(sql)
            ocols, co = [d[0] for d in o.description], canon(o)
        except Exception as e:
            print(f"ORACLE-FAIL {name}: {e}")
            n_bad += 1
            continue
        try:
            s = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'")
            scols, cs = [d[0] for d in s.description], canon(s)
        except Exception as e:
            print(f"SPARK-SIDE-FAIL {name}: {e}")
            n_bad += 1
            continue
        if sorted(map(str.lower, ocols)) != sorted(map(str.lower, scols)):
            print(f"SCHEMA-MISMATCH {name}: oracle={sorted(ocols)} spark={sorted(scols)}")
            n_bad += 1
            continue
        if len(co) != len(cs):
            print(f"ROWCOUNT {name}: oracle={len(co)} spark={len(cs)}")
            n_bad += 1
        elif co != cs:
            diffs = [(a, b) for a, b in zip(co, cs) if a != b][:3]
            print(f"VALUES {name}: first diffs {diffs}")
            n_bad += 1
        else:
            n_ok += 1
            print(f"OK {name} ({len(co)} rows)")
    print(f"\n{n_ok} ok, {n_bad} bad")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
