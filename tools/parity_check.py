#!/usr/bin/env python3
"""Row-by-row parity of two graft.Verify output directories.

A refactor that claims "same results" is checked here, not against the
oracle: for every registry row, the Spark result written by side A must
equal side B's, and the DuckDB result of A's `oracle_sql.json` entry
must equal the result of B's. Both sides are canonicalized exactly as
oracle_check.py does (columns sorted by name, rows sorted) and must
agree on columns, row count, dtype family and every value. A row that
exists on one side only is a difference.

    python3 tools/parity_check.py <verifyDirA> <verifyDirB> <sfDir>

`sfDir` holds the parquet tables both sides' oracle SQL reads (Verify
does not record it). Exit 1 if any row differs.
"""
import glob
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from oracle_check import TABLES, canon, dtype_family, values_equal  # noqa: E402


def frame_diff(a, b):
    """None when the canonical frames are identical, else the first
    difference."""
    a, b = canon(a), canon(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    fam = [(c, str(a[c].dtype), str(b[c].dtype)) for c in a.columns
           if dtype_family(a[c].dtype) != dtype_family(b[c].dtype)]
    if fam:
        return f"dtype family {fam}"
    if a.equals(b):
        return None
    for i in range(len(a)):
        for c in a.columns:
            va, vb = a[c].iloc[i], b[c].iloc[i]
            if not values_equal(va, vb):
                return f"row {i} col {c}: A={va!r} B={vb!r}"
    return None


def spark_result(out_dir, name):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        raise FileNotFoundError(f"no result parquet under {out_dir}/{name}")
    return pq.ParquetDataset(files).read().to_pandas()


def rows_of(out_dir):
    """Every row a Verify directory names: its oracle entries and its
    result directories."""
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {os.path.basename(os.path.dirname(p))
               for p in glob.glob(f"{out_dir}/*/*.parquet")}
    return oracle, results


def main(dir_a, dir_b, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle_a, results_a = rows_of(dir_a)
    oracle_b, results_b = rows_of(dir_b)
    names = sorted(set(oracle_a) | set(oracle_b) | results_a | results_b)
    n_same = n_diff = 0
    for name in names:
        problems = []
        try:
            d = frame_diff(spark_result(dir_a, name),
                           spark_result(dir_b, name))
            if d:
                problems.append(f"spark {d}")
        except Exception as e:
            problems.append(f"spark result: {e}")
        if name in oracle_a or name in oracle_b:
            try:
                d = frame_diff(con.sql(oracle_a[name]).df(),
                               con.sql(oracle_b[name]).df())
                if d:
                    problems.append(f"oracle {d}")
            except KeyError as e:
                problems.append(f"oracle entry missing on one side: {e}")
            except Exception as e:
                problems.append(f"oracle: {e}")
        if problems:
            print(f"DIFF {name}: " + "; ".join(problems))
            n_diff += 1
        else:
            print(f"SAME {name}")
            n_same += 1
    print(f"== {n_same} identical, {n_diff} differ ==")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3]))
