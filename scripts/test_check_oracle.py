#!/usr/bin/env python3
"""Self-test of scripts/check_oracle.py's exact compare.

Usage: python3 scripts/test_check_oracle.py

Builds, per case, a tiny Verify-style dump in a temp dir with DuckDB — an
oracle_sql.json holding one oracle plus a Spark-style result directory
(`<query>/part-0.parquet`) — and runs the checker's main over it:
  - a BIGINT off by one above 2^53 must FAIL (exit 1);
  - NULL against NaN in a DOUBLE column must FAIL (exit 1);
  - -0.0 against +0.0 must FAIL (exit 1);
  - identical results must PASS (exit 0).
Exits nonzero if any case gets the wrong verdict.
"""
import contextlib, io, json, os, sys, tempfile
import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check_oracle  # noqa: E402

ROWS = ("(9007199254740993, 1.0::DOUBLE), (NULL, 'NaN'::DOUBLE), (3, NULL),"
        " (4, '-0.0'::DOUBLE)")

# (case, oracle rows, Spark rows, expected exit status)
CASES = [
    ("bigint off by one above 2^53", ROWS,
     ROWS.replace("9007199254740993", "9007199254740992"), 1),
    ("NULL vs NaN", ROWS, ROWS.replace("'NaN'::DOUBLE", "NULL"), 1),
    ("-0.0 vs +0.0", ROWS, ROWS.replace("'-0.0'", "'0.0'"), 1),
    ("identical", ROWS, ROWS, 0),
]


def rows_sql(values):
    return f"SELECT a::BIGINT AS a, b::DOUBLE AS b FROM (VALUES {values}) t(a, b)"


def run_case(oracle_rows, spark_rows):
    with tempfile.TemporaryDirectory() as tmp:
        sf_dir, out_dir = os.path.join(tmp, "sf"), os.path.join(tmp, "out")
        os.makedirs(sf_dir)
        os.makedirs(os.path.join(out_dir, "q_case"))
        with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
            json.dump({"q_case": rows_sql(oracle_rows)}, f)
        duckdb.connect().execute(
            f"COPY ({rows_sql(spark_rows)}) TO "
            f"'{os.path.join(out_dir, 'q_case', 'part-0.parquet')}' (FORMAT PARQUET)")
        log = io.StringIO()
        with contextlib.redirect_stdout(log):
            status = check_oracle.main([sf_dir, out_dir])
        return status, log.getvalue()


def main():
    bad = 0
    for case, oracle_rows, spark_rows, want in CASES:
        status, log = run_case(oracle_rows, spark_rows)
        verdict = log.splitlines()[0] if log else ""
        ok = status == want
        bad += not ok
        print(f"{'ok ' if ok else 'BAD'} {case}: exit {status} (want {want}) — {verdict}")
    print("all cases ok" if not bad else f"{bad} case(s) wrong")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
