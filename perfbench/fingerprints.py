#!/usr/bin/env python3
"""Compute perfbench/fingerprints.json: the expected result of every
closed-loop query, from its DuckDB oracle (SparkEntry.oracleSql) on the
sf0.1 test data, or its row count where the query has no oracle.

Usage, from the repository root:  python3 perfbench/fingerprints.py

The canonical form matches Fingerprint.scala exactly: FingerprintSpec and
test_fingerprints.py pin both to the same golden value.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (build and paths shared with the runner)

EPOCH = datetime.datetime(1970, 1, 1)


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return struct.pack(">d", 0.0 if v == 0.0 else v).hex()
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, str):
        return v.replace("\\", "\\\\").replace("\x1f", "\\x1f").replace("\n", "\\n")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def sha256(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hashes = sorted(sha256("\x1f".join(value(r[i]) for i in order)) for r in rows)
    return len(hashes), sha256(",".join(sorted(columns)) + "\n" + "\n".join(hashes))


def main():
    import duckdb
    classpath = run.build(run.digest(run.source_files()))
    work = os.path.join(run.WORK, "oracle")
    os.makedirs(work, exist_ok=True)
    out = subprocess.run(
        ["java", f"-Xmx{run.heap()}", f"-Djava.io.tmpdir={work}",
         f"-Dlog4j.configurationFile={os.path.join(run.HERE, 'log4j2.properties')}"]
        + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        + ["-cp", classpath, "perfbench.OracleDump", run.DATA, work],
        cwd=run.ROOT, stdout=subprocess.PIPE, check=True, text=True).stdout
    dump = json.loads(out.splitlines()[-1])
    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(run.DATA, f)}')")
    queries = {}
    for q, e in sorted(dump.items()):
        if "sql" in e:
            rel = con.sql(e["sql"])
            n, sha = fingerprint(rel.columns, rel.fetchall())
            queries[q] = {"rows": n, "sha": sha}
        else:
            queries[q] = {"rows": e["rows"]}
        print(q, queries[q], file=sys.stderr)
    with open(os.path.join(run.HERE, "fingerprints.json"), "w") as fh:
        json.dump({"data": run.DATA, "queries": queries}, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
