"""Local stand-in for the driver's CORRECTNESS gate.

Runs every ``queries()`` entry on Spark at the given sf dir and the matching
``oracle_sql()`` on DuckDB over the same parquet files, then compares
row-count, schema width and the order-insensitive multiset of row values
(columns sorted by name, floats kept raw — same spirit as the driver's
value-hash).

Usage: python tools/check_oracles.py [--cpus N] [--shuffle-partitions P]
                                     [sf_dir] [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if hasattr(v, "as_py"):
        v = v.as_py()
    return v


def _cell_key(c):
    # NULL/NaN-safe sort key: NULLs first, then strings apart from numbers
    # (norm_cell maps NaN to the string "NaN", so a float column with NaNs
    # mixes types), then the value itself. Numeric cells carry NO str(c)
    # tiebreaker: Python compares int/float exactly, so 1 and 1.0 get
    # sort-equal keys (and compare == in the final rowset check), whereas
    # str(c) made their keys unequal and could sort two equal multisets
    # into pairwise-unequal lists when a column mixes numeric types.
    # Non-numeric, non-string cells (dates, bytes) keep the repr tiebreak.
    if c is None:
        return (0, False, 0, "")
    if isinstance(c, str):
        return (1, True, 0, c)
    if isinstance(c, (bool, int, float)):
        return (1, False, c, "")
    return (1, False, c, str(c))


def rowset(cols: list[str], rows: list[tuple]):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(normed, key=lambda r: tuple(_cell_key(c) for c in r))


def main() -> int:
    ap = argparse.ArgumentParser(usage=__doc__.split("Usage: ")[1])
    # None lets get_spark decide: SPARK_GRAFT_CPUS or the CPU affinity, and
    # max(cpus, 8) shuffle partitions
    ap.add_argument("--cpus", type=int, default=None, help="local[N] core count")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    # the layout flags may appear anywhere; the rest is [sf_dir] [query ...]
    args, sys.argv[1:] = ap.parse_known_args()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from cms_topn_spark.spark_session import get_spark

    spark = get_spark(
        "oracle-check", cpus=args.cpus, shuffle_partitions=args.shuffle_partitions
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.monotonic()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({len(rows)} rows, {dt:.1f}s) — no oracle by design")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_count = len(rows) == len(orows)
        ok_schema = sorted(c.lower() for c in cols) == sorted(c.lower() for c in ocols)
        ok_vals = rowset(cols, rows) == rowset(ocols, orows)
        if ok_count and ok_schema and ok_vals:
            print(f"PASS {name} ({len(rows)} rows, {dt:.1f}s)")
        else:
            print(
                f"FAIL {name}: count={ok_count} ({len(rows)} vs {len(orows)}), "
                f"schema={ok_schema} ({cols} vs {ocols}), values={ok_vals}"
            )
            if not ok_vals and ok_schema and ok_count:
                a, b = rowset(cols, rows), rowset(ocols, orows)
                diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
                print("   first diffs:", diff)
            failures.append(name)
    spark.stop()
    # denominator = queries actually executed (a name filter shrinks it),
    # not the registry size — "67/67" for a 17-query run misleads in logs
    print(f"\n{ran - len(failures)}/{ran} queries pass ({len(qs)} registered)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
