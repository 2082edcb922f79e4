#!/usr/bin/env python3
"""Materialize the shared calibrated-oracle CTE prefix once, in DuckDB.

The calibrated near-dup family's oracles (q53/q65/q101/q111/q114/q124/
q171/q173/q175) are PREFIX + suffix, where PREFIX re-derives the 5-gram →
quantile-cap → banded-minhash → exact-verify → closure chain from
`documents`. At sf10 (500k docs, 48M shingle rows) one in-query evaluation
of that prefix spills past this box's disk, so the sweep materializes it
ONCE: each prefix CTE becomes a TABLE (same body text, executed stepwise —
still entirely DuckDB's own derivation, never the engine's output), and
the per-query harness strips the textual prefix so suffix CTE names
resolve to these tables.

Usage: build_cal_prefix.py <fragmentsFile> <sfDir> <dbFile>
  fragmentsFile = output of `graft.tools.PrintOracleFragments`
"""
import sys, time
import duckdb


def parse_ctes(text):
    """Split 'name AS (body), name AS (body), ...' via balanced parens.

    LIMITATION (documented per round-12 advice): the scan counts every
    paren, so a CTE body containing a STRING LITERAL with an unbalanced
    paren (e.g. ``'('``) would desynchronize it. The calibrated prefix's
    fragments carry no such literals today; if one ever appears, the scan
    must learn to skip quoted spans. The guard below at least refuses
    loudly instead of mis-splitting silently."""
    out = []
    i = 0
    n = len(text)
    while i < n:
        j = text.index(" AS (", i)
        name = text[i:j].strip().lstrip(",").strip()
        k = j + len(" AS (")
        depth = 1
        while depth:
            c = text[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            k += 1
        body = text[j + len(" AS ("):k - 1]
        if not name.replace("_", "").isalnum():
            raise ValueError(
                f"parse_ctes desynchronized at offset {i}: parsed CTE name "
                f"{name!r} is not an identifier — a string literal with "
                "unbalanced parens upstream? (see docstring)")
        out.append((name, body))
        i = k
        while i < n and text[i] in ",\n ":
            i += 1
    return out


def main(frag_path, sf_dir, db_path):
    frag = open(frag_path).read()
    comps_prefix = frag.split("===COMPS_PREFIX===\n")[1].split("\n===END===")[0]
    body = comps_prefix[len("WITH RECURSIVE "):]
    ctes = parse_ctes(body)
    con = duckdb.connect(db_path)
    # threads and memory_limit stay at DuckDB's defaults (all cores, 80% of
    # RAM), which fit whatever machine runs the sweep.
    con.execute("SET temp_directory='.ducktmp'")
    import glob, os, hashlib
    # Provenance pin (round-12 advice): a reused .db whose tables were built
    # from DIFFERENT fragment text or a different sf dir would silently feed
    # every prefix-rewritten oracle a wrong derivation. Hash (fragment text,
    # resolved sf dir) into a metadata table at build time and REFUSE to
    # reuse on mismatch — the done-skip below may then only skip tables this
    # exact (fragments, sfDir) derivation created.
    build_key = hashlib.sha256(
        (frag + "\x00" + os.path.realpath(sf_dir)).encode()).hexdigest()
    con.execute("CREATE TABLE IF NOT EXISTS __cal_prefix_meta (build_key VARCHAR)")
    prior = [r[0] for r in con.execute(
        "SELECT build_key FROM __cal_prefix_meta").fetchall()]
    if prior and prior != [build_key]:
        print(f"REFUSE: {db_path} was built from a different (fragments, sfDir) "
              f"derivation (key {prior[0][:16]}… != {build_key[:16]}…); "
              "delete the .db or point at the matching one", flush=True)
        con.close()
        sys.exit(2)
    if not prior:
        con.execute("INSERT INTO __cal_prefix_meta VALUES (?)", [build_key])
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-8]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    done = {r[0] for r in con.execute(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_type='BASE TABLE'").fetchall()} - {"__cal_prefix_meta"}
    for name, cte_body in ctes:
        if name in done:
            print(f"SKIP {name} (exists)", flush=True)
            continue
        t0 = time.monotonic()
        if name == "walk":
            # Recursive: folded into comps below.
            print("SKIP walk (recursive; folded into comps)", flush=True)
            continue
        if name == "comps":
            walk_body = dict(ctes)["walk"]
            con.execute(
                "CREATE TABLE comps AS WITH RECURSIVE walk AS (" + walk_body +
                ") SELECT node, min(comp) AS comp FROM walk GROUP BY node")
        else:
            con.execute(f"CREATE TABLE {name} AS {cte_body}")
        nrows = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
        print(f"BUILT {name}: {nrows} rows in {time.monotonic()-t0:.1f}s",
              flush=True)
    con.close()
    print("done")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3])
