#!/usr/bin/env python3
"""Replays every benchmarked operation's oracle once in DuckDB and stores
the expected digests in framesbench/oracle/digests.json. Run from the
repository root after changing an operation, its oracle or the data:

    python3 framesbench/make_oracle.py

The JVM lists each operation's oracle SQL; DuckDB runs it over
framesbench/data and the seed-0 CSV inputs (inputs.py), and
the canonical digest of each result (benchlib.digest, the canonical form
of tools/compare_oracle.py) is stored. Every benchmark run compares the
digest of its check-pass outputs with these. The seed only reorders and
re-splits rows, so one digest serves every seed.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import build  # noqa: E402
import inputs  # noqa: E402
from run import JVM_FLAGS  # noqa: E402


def main():
    import duckdb
    classes = build.build(os.getcwd())
    work = os.path.join(build.build_dir(), f"oracle-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs.generate(os.path.join(work, "inputs"), 0, [], csv=True)
        sql_path = os.path.join(work, "oracle_sql.json")
        subprocess.run(["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work}", "-cp",
                        f"{classes}:{os.path.join(build.spark_jars(os.getcwd()), '*')}",
                        "framesbench.Main", "oracle", sql_path], check=True)
        with open(sql_path) as f:
            ops = json.load(f)
        con = duckdb.connect()
        con.sql("SET threads = 4")
        con.sql(f"SET temp_directory = '{work}/duckdb_tmp'")
        for t in inputs.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{HERE}/data/{t}.parquet'")
        csv = {"csv_lineitem": f"{work}/inputs/csv/lineitem"}
        digests = {}
        for name, o in ops.items():
            sql = o["sql"]
            for k, v in csv.items():
                sql = sql.replace("{" + k + "}", v)
            t0 = time.monotonic()
            d, rows = benchlib.digest(con.sql(sql).df())
            digests[name] = {"workload": o["workload"], "digest": d, "rows": rows}
            print(f"{name:<36} {rows:>8} rows  {time.monotonic() - t0:6.1f} s  {d[:16]}")
        out = os.path.join(HERE, "oracle", "digests.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump({"data": "framesbench/data (sf0.01)", "duckdb": duckdb.__version__,
                       "digests": digests}, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{len(digests)} digests written to {out}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
