#!/usr/bin/env python3
"""Hash every query output a graft.Verify run wrote.

Usage: python3 tools/hash_outputs.py <verifyOutA> [<verifyOutB>]

For each query dir under a Verify output dir, read its parquet files
through DuckDB, drop the wall-clock `ingested_at` column, order the
columns by name and the rows by all values, and print the SHA-256 of
the rows. With one dir, prints `<sha256>  <query>` for every query.
With two dirs, prints only the queries whose hashes differ (or that
exist on one side only) and exits 1 if there are any, else 0.
"""
import glob
import hashlib
import os
import sys

import duckdb

WALL_CLOCK = {"ingested_at"}


def query_hashes(out_dir: str) -> dict:
    con = duckdb.connect()
    hashes = {}
    for qdir in sorted(glob.glob(os.path.join(out_dir, "*", ""))):
        name = os.path.basename(qdir.rstrip("/"))
        if not glob.glob(os.path.join(qdir, "*.parquet")):
            hashes[name] = "no-parquet-output"
            continue
        src = f"read_parquet('{os.path.join(qdir, '*.parquet')}')"
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        keep = ", ".join(f'"{c}"' for c in sorted(cols) if c not in WALL_CLOCK)
        digest = hashlib.sha256()
        for row in con.execute(f"SELECT {keep} FROM {src} ORDER BY ALL").fetchall():
            digest.update(repr(row).encode("utf-8"))
            digest.update(b"\n")
        hashes[name] = digest.hexdigest()
    return hashes


def main(argv: list) -> int:
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a = query_hashes(argv[1])
    if len(argv) == 2:
        for name, h in a.items():
            print(f"{h}  {name}")
        return 0
    b = query_hashes(argv[2])
    differ = sorted(n for n in a.keys() | b.keys() if a.get(n) != b.get(n))
    for n in differ:
        print(f"[DIFF] {n}: {a.get(n, 'missing')} != {b.get(n, 'missing')}")
    print(f"{len(a.keys() | b.keys()) - len(differ)} identical, {len(differ)} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
