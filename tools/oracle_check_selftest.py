#!/usr/bin/env python3
"""Self-test for oracle_check.py's dtype hardening and parity_check.py.

Round 9 shipped three queries green locally and red under the driver's
repr-sensitive hash because DuckDB HUGEINT outputs materialize as
float64 in pandas while Spark writes int64 — value-equal, hash-
divergent. oracle_check.py now fails that class in two independent
ways; this self-test proves BOTH detectors fire (and that a clean
fixture still passes), so a regression in the checker itself cannot
silently re-open the gap. A second leg plants a one-value difference
between two Verify directories, once in a Spark result and once in an
oracle, and proves parity_check.py reports exactly those rows.

    python3 tools/oracle_check_selftest.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))


def run_check(sf_dir, out_dir):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle_check.py"), sf_dir,
         out_dir],
        capture_output=True, text=True)
    return p.returncode, p.stdout


def run_parity(dir_a, dir_b, sf_dir):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "parity_check.py"), dir_a,
         dir_b, sf_dir],
        capture_output=True, text=True)
    return p.returncode, p.stdout


def parity_leg(tmp, sf_dir):
    """Two Verify directories, identical except one value of t_spark's
    Spark result and one value of t_oracle's oracle SQL."""
    sides = {}
    for side, (n, k) in {"a": (2, 2), "b": (3, 3)}.items():
        d = os.path.join(tmp, f"parity_{side}")
        for name, vals in [("t_same", [1, 2]), ("t_spark", [1, n]),
                           ("t_oracle", [1, 2])]:
            os.makedirs(os.path.join(d, name))
            pd.DataFrame({"n": pd.Series(vals, dtype="int64")}).to_parquet(
                os.path.join(d, name, "part-0.parquet"))
        json.dump({"t_same": "SELECT 1::BIGINT AS n",
                   "t_spark": "SELECT 1::BIGINT AS n",
                   "t_oracle": f"SELECT {k}::BIGINT AS n"},
                  open(os.path.join(d, "oracle_sql.json"), "w"))
        sides[side] = d
    rc, out = run_parity(sides["a"], sides["a"], sf_dir)
    problems = []
    if rc != 0 or "3 identical, 0 differ" not in out:
        problems.append("a directory is not identical to itself")
    rc, out = run_parity(sides["a"], sides["b"], sf_dir)
    if rc == 0:
        problems.append("parity exited 0 with planted differences")
    if "SAME t_same" not in out:
        problems.append("the unchanged row was not reported identical")
    if "DIFF t_spark: spark row 1 col n: A=2 B=3" not in out:
        problems.append("the one-value Spark difference was not reported")
    if "DIFF t_oracle: oracle row 0 col n: A=2 B=3" not in out:
        problems.append("the one-value oracle difference was not reported")
    return problems, out


def main():
    tmp = tempfile.mkdtemp(prefix="oracle_check_selftest_")
    try:
        sf_dir = os.path.join(tmp, "sf")
        out_dir = os.path.join(tmp, "out")
        os.makedirs(sf_dir)
        os.makedirs(out_dir)
        # minimal corpus: every table oracle_check registers as a view
        con = duckdb.connect()
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents",
                  "embeddings"]:
            con.execute(
                f"COPY (SELECT 1::BIGINT AS k, 2::BIGINT AS v) "
                f"TO '{sf_dir}/{t}.parquet' (FORMAT parquet)")

        def spark_result(name, df):
            os.makedirs(os.path.join(out_dir, name))
            df.to_parquet(os.path.join(out_dir, name, "part-0.parquet"))

        # 1. clean: int64 both sides -> must PASS
        spark_result("t_clean", pd.DataFrame({"n": pd.Series([2], dtype="int64")}))
        # 2. the round-9 class: uncast sum() -> HUGEINT oracle output.
        #    Spark side int64, values EQUAL -> must FAIL (both detectors)
        spark_result("t_hugeint", pd.DataFrame({"n": pd.Series([2], dtype="int64")}))
        # 3. dtype-family divergence without a HUGEINT: oracle DOUBLE,
        #    spark int64, values numerically equal -> must FAIL
        spark_result("t_family", pd.DataFrame({"n": pd.Series([2], dtype="int64")}))
        oracle = {
            "t_clean": "SELECT sum(v)::BIGINT AS n FROM documents",
            "t_hugeint": "SELECT sum(v) AS n FROM documents",
            "t_family": "SELECT sum(v)::DOUBLE AS n FROM documents",
        }
        json.dump(oracle, open(os.path.join(out_dir, "oracle_sql.json"), "w"))

        rc, out = run_check(sf_dir, out_dir)
        ok = True

        def expect(cond, msg):
            nonlocal ok
            if not cond:
                ok = False
                print(f"SELFTEST FAIL: {msg}\n--- checker output ---\n{out}")

        expect(rc != 0, "checker exited 0 with planted dtype bugs")
        expect("PASS t_clean" in out, "clean int64 fixture did not pass")
        expect("FAIL t_hugeint" in out and "HUGEINT" in out,
               "HUGEINT oracle output not reported")
        expect("FAIL t_family" in out and "dtype divergence" in out,
               "int64-vs-float64 family divergence not reported")
        problems, out = parity_leg(tmp, sf_dir)
        for msg in problems:
            expect(False, f"parity_check: {msg}")
        if ok:
            print("SELFTEST OK: clean passes, HUGEINT and dtype-family "
                  "divergence both detected; parity_check catches a "
                  "one-value difference in a Spark result and in an "
                  "oracle")
        return 0 if ok else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
