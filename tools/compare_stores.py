"""Diff two store directories written by `run_pipeline`, table by table.

Every table both stores contain is compared as a multiset of rows with
DuckDB `EXCEPT ALL`, in both directions. One line per table:

    <table>: rows A=<n> B=<n>, differing rows <d>

Tables present in only one store are listed but not compared. Exit code
0 when every shared table has identical rows and columns, 1 otherwise.

Usage: python tools/compare_stores.py STORE_A STORE_B
"""

from __future__ import annotations

import argparse
import glob
import os
import sys

import duckdb


def tables(store: str) -> set[str]:
    return {
        name for name in os.listdir(store)
        if glob.glob(os.path.join(store, name, "*.parquet"))
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args(argv)

    con = duckdb.connect()
    ta, tb = tables(args.a), tables(args.b)
    same = True
    for name in sorted(ta | tb):
        if name not in ta or name not in tb:
            print(f"{name}: only in {'A' if name in ta else 'B'}, not compared")
            continue
        rel = {s: f"read_parquet('{os.path.join(s, name)}/*.parquet')"
               for s in (args.a, args.b)}
        cols = {s: [c[0] for c in con.execute(
                    f"DESCRIBE SELECT * FROM {r}").fetchall()]
                for s, r in rel.items()}
        n = {s: con.execute(f"SELECT count(*) FROM {r}").fetchone()[0]
             for s, r in rel.items()}
        if cols[args.a] != cols[args.b]:
            same = False
            print(f"{name}: rows A={n[args.a]} B={n[args.b]}, columns differ "
                  f"({cols[args.a]} vs {cols[args.b]})")
            continue
        a, b = (f"SELECT * FROM {rel[s]}" for s in (args.a, args.b))
        diff = sum(
            con.execute(f"SELECT count(*) FROM ({x} EXCEPT ALL {y})").fetchone()[0]
            for x, y in ((a, b), (b, a))
        )
        same &= diff == 0
        print(f"{name}: rows A={n[args.a]} B={n[args.b]}, differing rows {diff}")
    con.close()
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
