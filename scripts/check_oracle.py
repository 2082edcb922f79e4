#!/usr/bin/env python3
"""DuckDB oracle gate: each oracle of a graft.Verify dump against its Spark
result, with per-query wall timing and a per-query timeout.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
           [--only q1,q2] [--timeout SEC] [--out timings.json]
           [--frag fragmentsFile] [--db prefix.duckdb]

Reads <verifyOutDir>/oracle_sql.json, registers each testdata parquet as a
DuckDB view, runs each oracle and compares it with the parquet Verify wrote
to <verifyOutDir>/<query>:
  - column name sets must match (the result hash sorts columns by name
    before hashing), then row counts;
  - up to 200k rows, values are fetched exactly (no pandas: a nullable
    BIGINT would turn into float64 and NULL into NaN) with the columns in
    sorted order, and rows compared after sorting. Floats compare BITWISE
    (IEEE-754 bit pattern; inside lists their exact repr), as in the result
    hash: -0.0 != +0.0 and NULL != NaN; every NaN is one token;
  - above 200k rows, a multiset EXCEPT ALL runs inside DuckDB, with a
    signbit companion for every float column so a -0.0/+0.0 flip still
    fails; a float nested deeper than a list is refused.

Each oracle runs on a fresh connection under a watchdog (--timeout, default
1800 s) and a free-disk guard on the spill volume (DUCK_TMP when set, else
'/'): the guard interrupts a spilling oracle (DISKKILL) before it fills the
disk. --frag/--db serve the sf10 sweep: an oracle that starts with a shared
calibrated prefix (the output of `graft.tools.PrintOracleFragments`) has it
stripped, so its CTE names resolve to the tables `build_cal_prefix.py`
materialized in --db. --out writes a per-query JSON record.

Prints one PASS/FAIL/TIMEOUT/DISKKILL line per query and a summary line.
Exit status: 0 when every query passes, 1 on any FAIL, TIMEOUT or DISKKILL
(or an unknown --only name), 2 on bad arguments.
"""
import argparse, json, math, sys, glob, os, shutil, struct, threading, time
import duckdb

# Up to this many rows the values are fetched and compared exactly in
# Python; above it the compare is an EXCEPT ALL inside DuckDB.
EXCEPT_THRESHOLD = 200_000

# Spill floor: interrupt an oracle once free disk drops below it (the q124
# sf10 oracle spilled >60 GB and took the whole box's tempdir with it — a
# diagnosed-DISK result must never cascade into other jobs). 25 GiB, or
# half of the free space at start on a smaller disk.
MIN_FREE_BYTES = 25 * (1 << 30)


def spill_dir():
    """The filesystem the guard watches = where DuckDB spills: DUCK_TMP
    when set, else '/'."""
    d = os.environ.get("DUCK_TMP")
    return d if d and os.path.isdir(d) else "/"


def free_bytes():
    return shutil.disk_usage(spill_dir()).free


def canon(v):
    """One fetched value as a comparable token: NULL stays None, floats by
    bit pattern (one token for every NaN), anything else by str() — a list
    prints each float as its exact round-trip repr ('nan' for every NaN,
    '-0.0' apart from '0.0')."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else struct.pack("<d", v).hex()
    return str(v)


def canon_rows(rows):
    out = [tuple(canon(v) for v in row) for row in rows]
    out.sort(key=lambda t: tuple((x is None, x if x is not None else "") for x in t))
    return out


def views(con, sf_dir):
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-8]
        # Driver tiers are single parquet FILES; builder-synthesized tiers
        # (GenData/GenRel) are Spark-written DIRECTORIES of part files.
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}')")


def load_fragments(path):
    frag = open(path).read()
    pairs = frag.split("===PAIRS_CTES===\n")[1].split("\n===EDGES_CTES===")[0]
    comps = frag.split("===COMPS_PREFIX===\n")[1].split("\n===END===")[0]
    return pairs, comps


def rewrite_prefix(sql, fragments):
    """If `sql` opens with a shared calibrated CTE prefix, strip it so the
    suffix's CTE names resolve to the tables `build_cal_prefix.py`
    materialized (same text, derived once — still DuckDB's own work)."""
    pairs_ctes, comps_prefix = fragments
    for prefix, kw in ((comps_prefix, "WITH RECURSIVE "),
                       ("WITH " + pairs_ctes, "WITH ")):
        if sql.startswith(prefix):
            suffix = sql[len(prefix):].lstrip("\n ")
            if suffix.startswith(","):
                return kw + suffix.lstrip(", \n"), True
            return suffix, True
    return sql, False


def except_all_diff(con):
    """Rows in __d and __s that the other lacks, as a multiset, or a
    refusal reason. Plain EXCEPT ALL treats -0.0 == +0.0, so every float
    column (scalars and list elements) gets a signbit companion. NaN masks
    to false: DuckDB's hardware-division NaN often carries a set sign bit
    while Java's is positive, and the exact path folds every NaN to one
    token too."""
    rel = con.sql("SELECT * FROM __d")
    if any(c.startswith("__sb_") for c in rel.columns):
        return None, "column(s) collide with the signbit companion prefix __sb_"
    aug, nested = [], []
    for c, ctype in zip(rel.columns, rel.types):
        ts = str(ctype)
        aug.append(f'"{c}"')
        if ts in ("DOUBLE", "FLOAT", "REAL"):
            aug.append(f'CASE WHEN isnan("{c}") THEN false ELSE signbit("{c}") END'
                       f' AS "__sb_{c}"')
        elif ts in ("DOUBLE[]", "FLOAT[]", "REAL[]"):
            aug.append(f'list_transform("{c}", x -> CASE WHEN isnan(x) THEN false'
                       f' ELSE signbit(x) END) AS "__sb_{c}"')
        elif any(f in ts for f in ("DOUBLE", "FLOAT", "REAL")):
            nested.append((c, ts))
    if nested:
        # DOUBLE[][], STRUCT(... DOUBLE ...), MAP: no companion here, so
        # refuse like Verify.bitwise rather than let the -0.0 hole persist.
        return None, f"unhandled nested float type(s) {nested} in the EXCEPT path"
    p = ", ".join(aug)
    return con.sql(
        f"SELECT count(*) FROM ((SELECT {p} FROM __d EXCEPT ALL SELECT {p} FROM __s)"
        f" UNION ALL (SELECT {p} FROM __s EXCEPT ALL SELECT {p} FROM __d))"
    ).fetchone()[0], None


def compare(con, sql, spark_path):
    """(status, detail, rows) of one oracle against its Spark result."""
    duck_cols = sorted(con.sql(sql).columns)
    spark = f"read_parquet('{spark_path}/*.parquet')"
    sp_cols = sorted(con.sql(f"SELECT * FROM {spark}").columns)
    if duck_cols != sp_cols:
        return "fail", f"cols duck={duck_cols} spark={sp_cols}", None
    proj = ", ".join(f'"{c}"' for c in duck_cols)
    con.execute(f"CREATE TEMP TABLE __d AS SELECT {proj} FROM ({sql})")
    con.execute(f"CREATE TEMP TABLE __s AS SELECT {proj} FROM {spark}")
    nd = con.sql("SELECT count(*) FROM __d").fetchone()[0]
    ns = con.sql("SELECT count(*) FROM __s").fetchone()[0]
    if nd != ns:
        return "fail", f"rows duck={nd} spark={ns}", nd
    if nd <= EXCEPT_THRESHOLD:
        d = canon_rows(con.sql("SELECT * FROM __d").fetchall())
        s = canon_rows(con.sql("SELECT * FROM __s").fetchall())
        if d != s:
            diff = [(a, b) for a, b in zip(d, s) if a != b][:3]
            return "fail", f"value mismatch, first diffs (duck, spark): {diff}", nd
        return "pass", None, nd
    n_diff, refused = except_all_diff(con)
    if refused:
        return "fail", refused, nd
    if n_diff:
        return "fail", f"value mismatch, except_all_diff_rows={n_diff}", nd
    return "pass", None, nd


def main(argv=None):
    ap = argparse.ArgumentParser(description="DuckDB oracle gate for a graft.Verify dump")
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--only", help="comma-separated query names")
    ap.add_argument("--timeout", type=float, default=1800.0, help="seconds per oracle")
    ap.add_argument("--out", help="write a per-query JSON record here")
    ap.add_argument("--frag", help="PrintOracleFragments output (prefix stripping)")
    ap.add_argument("--db", help="DuckDB file holding the materialized prefix")
    a = ap.parse_args(argv)
    fragments = load_fragments(a.frag) if a.frag else None
    oracle = json.load(open(os.path.join(a.out_dir, "oracle_sql.json")))
    if a.only:
        only = set(a.only.split(","))
        missing = only - set(oracle)
        if missing:
            # A typo'd name must not yield "0 pass / 0 fail" with exit 0.
            print(f"FAIL unknown query name(s): {', '.join(sorted(missing))}")
            return 1
        oracle = {k: v for k, v in oracle.items() if k in only}
    floor = min(MIN_FREE_BYTES, free_bytes() // 2)
    results = {}
    n_pass = n_fail = n_stop = 0
    for name in sorted(oracle):
        spark_path = os.path.join(a.out_dir, name)
        if not os.path.isdir(spark_path):
            print(f"FAIL {name}: no spark result dir", flush=True)
            results[name] = {"status": "fail", "reason": "no spark result"}
            n_fail += 1
            continue
        sql, rewritten = rewrite_prefix(oracle[name], fragments) if fragments \
            else (oracle[name], False)
        # Fresh connection per query: an interrupt can leave a connection
        # unusable, and view setup is metadata-only (lazy scans).
        con = duckdb.connect(a.db) if a.db else duckdb.connect()
        tmpdir = os.environ.get("DUCK_TMP")
        if tmpdir:
            os.makedirs(tmpdir, exist_ok=True)
            con.execute(f"SET temp_directory='{tmpdir}'")
        views(con, a.sf_dir)
        timed_out, disk_killed, done = (threading.Event() for _ in range(3))

        def watchdog(c=con, ev=timed_out):
            ev.set()
            c.interrupt()

        def disk_guard(c=con, ev=disk_killed, fin=done):
            while not fin.wait(10):
                if free_bytes() < floor:
                    ev.set()
                    c.interrupt()
                    return

        free_before = free_bytes()
        threading.Thread(target=disk_guard, daemon=True).start()
        timer = threading.Timer(a.timeout, watchdog)
        timer.start()
        t0 = time.monotonic()
        try:
            status, detail, rows = compare(con, sql, spark_path)
        except Exception as e:
            status, detail, rows = ("diskkill" if disk_killed.is_set() else
                                    "timeout" if timed_out.is_set() else "fail"), str(e), None
        dt = time.monotonic() - t0
        timer.cancel()
        done.set()
        con.close()
        rec = {"status": status, "sec": round(dt, 1)}
        if status == "pass":
            print(f"PASS {name} ({rows} rows, {dt:.1f}s)", flush=True)
            rec.update(rows=rows, rewritten=rewritten)
            n_pass += 1
        elif status == "fail":
            print(f"FAIL {name}: {detail}", flush=True)
            rec["reason"] = detail[:300]
            n_fail += 1
        else:
            print(f"{status.upper()} {name} after {dt:.1f}s", flush=True)
            n_stop += 1
            if status == "diskkill":
                # A killed spiller's temp cleanup is asynchronous: let the
                # disk recover before the next query, or one DISKKILL
                # cascades into killing its successors.
                for _ in range(30):
                    if free_bytes() >= free_before - (1 << 30):
                        break
                    time.sleep(10)
        results[name] = rec
    print(f"== {n_pass} pass / {n_fail} fail / {n_stop} timeout ==")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    return 1 if n_fail or n_stop else 0


if __name__ == "__main__":
    sys.exit(main())
