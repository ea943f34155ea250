#!/usr/bin/env python3
"""Compare two `graft.Verify` dump directories query by query: each
query's rows (OUTDIR/<name>/*.parquet) as a sorted multiset, values
normalized by oracle_check.py's `norm`, columns matched by name. Prints
PASS/FAIL per query and exits non-zero on any difference, including a
query dumped on one side only.

Usage: dump_diff.py PARENT_OUT CHANGE_OUT [names...]
With no names, every query dumped on either side is compared.
"""
import sys
from collections import Counter
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
from oracle_check import norm  # noqa: E402


def dumped(outdir):
    return {p.parent.name for p in Path(outdir).glob("*/*.parquet")}


def rows(con, qdir):
    df = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')").fetchdf()
    cols = sorted(df.columns)
    return cols, Counter(tuple(norm(v) for v in r) for r in df[cols].itertuples(index=False))


def main(parent, change, names):
    names = names or sorted(dumped(parent) | dumped(change))
    con = duckdb.connect()
    n_fail = 0
    for name in names:
        sides = [Path(parent) / name, Path(change) / name]
        missing = [str(d) for d in sides if not any(d.glob("*.parquet"))]
        if missing:
            print(f"FAIL {name}: no dump in {', '.join(missing)}"); n_fail += 1
            continue
        (pcols, prows), (ccols, crows) = (rows(con, d) for d in sides)
        if pcols != ccols:
            print(f"FAIL {name}: columns {pcols} vs {ccols}"); n_fail += 1
        elif prows != crows:
            only_p = list((prows - crows).elements())[:3]
            only_c = list((crows - prows).elements())[:3]
            print(f"FAIL {name}: only-in-parent: {only_p}; only-in-change: {only_c}")
            n_fail += 1
        else:
            print(f"PASS {name} ({sum(prows.values())} rows)")
    print(f"== {len(names) - n_fail} identical / {n_fail} differ ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
