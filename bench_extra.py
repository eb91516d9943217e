"""Per-query measurement harness (optimization guide §1) — bench.py stays
FROZEN for the driver; all local iteration timing lives here.

Times individual declared queries with the SAME methodology as bench.py's
headline section (construct + .count(), warm pass at sf0.001, fixed passes,
per-query min), over any data dir — including the scaled stand-in from
tools/make_scaled_data.py — plus:

- ``--noop``: time ``df.write.format("noop")`` instead of ``.count()`` so the
  full row set is computed (guide §1.4);
- ``--queries a,b,c``: subset (default: bench.py's HEADLINE list).

Usage:
  SPARK_GRAFT_SF_DIR=/tmp/sfscaled_10x python bench_extra.py --queries minhash_lsh_pairs
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from bench import HEADLINE, warmup
    from cms_topn_spark.spark_session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    names = args.queries.split(",") if args.queries else list(HEADLINE)

    spark = get_spark("bench-extra", cpus=cpus)
    qs = entrymod.queries()
    warmup(spark, cpus)
    if not args.no_warm:
        warm_dir = "/root/testdata/sf0.001"
        for name in names:
            qs[name](spark, warm_dir).count()
        print("warm pass done", file=sys.stderr)

    out: dict[str, float] = {}
    for p in range(args.passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            if df is not None:
                if args.noop:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.count()
            wall = round(time.monotonic() - t0, 3)
            out[name] = min(out.get(name, wall), wall)
            print(f"  pass{p} {name}: {wall}s", file=sys.stderr)
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf_dir": sf_dir, "queries": out,
                      "total": round(sum(out.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
