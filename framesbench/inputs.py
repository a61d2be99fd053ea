"""Seeded benchmark inputs, written with pyarrow (the writer of the source
data, not the program's own): each table of framesbench/data becomes four
parquet files, and lineitem also four CSV files. The seed sets the
row order and which rows land in which file; the file count is fixed, so
scan parallelism does not depend on the seed, and no correct result does.
"""
import os

import numpy as np
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
TABLES = ["part", "lineitem", "documents", "embeddings"]
CSV_TABLES = ["lineitem"]
FILES = 4


def _parts(table, seed):
    rows = table.take(np.random.default_rng(seed).permutation(table.num_rows))
    bounds = np.linspace(0, rows.num_rows, FILES + 1).astype(int)
    return [rows.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]


def generate(out, seed, tables, csv):
    """Writes <out>/<table>.parquet/ for `tables` and, if `csv`, the CSV
    directory <out>/csv/lineitem/."""
    for t in tables:
        d = os.path.join(out, f"{t}.parquet")
        os.makedirs(d)
        for k, part in enumerate(_parts(pq.read_table(os.path.join(DATA, f"{t}.parquet")),
                                        [seed, TABLES.index(t)])):
            pq.write_table(part, os.path.join(d, f"part-{k}.parquet"))
    if csv:
        opts = pacsv.WriteOptions(quoting_style="needed")
        for i, t in enumerate(CSV_TABLES):
            d = os.path.join(out, "csv", t)
            os.makedirs(d)
            for k, part in enumerate(_parts(pq.read_table(os.path.join(DATA, f"{t}.parquet")),
                                            [seed, 100 + i])):
                pacsv.write_csv(part, os.path.join(d, f"part-{k}.csv"), opts)
