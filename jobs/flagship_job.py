"""spark-submit entry point for the flagship pipeline (ship shape per the
north star: ``spark-submit --py-files cms_topn_spark.zip jobs/flagship_job.py``).

Stages (each checkpointed with lineage, resumable — rerunning the same
--workdir skips completed stages):

  1. input: read a webpages parquet table, or synthesize one ("synth:N")
  2. partials: per-partition composite sketch states (url/host/token/HLL)
  3. result: merge partials, write top-n tables + metrics JSON

Example:
  spark-submit --master local[8] --py-files /tmp/cms_topn_spark.zip \\
      jobs/flagship_job.py --input synth:100000 --workdir /tmp/flagship_run
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or synth:N")
    ap.add_argument("--workdir", required=True, help="checkpoint + output dir")
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--n-urls", type=int, default=20)
    ap.add_argument("--n-hosts", type=int, default=10)
    ap.add_argument("--n-tokens", type=int, default=50)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cms-topn-flagship").getOrCreate()

    from cms_topn_spark.core.composite import CompositeSketch
    from cms_topn_spark.core.base import fold_states
    from cms_topn_spark.operators.build import build_partials
    from cms_topn_spark.plans.checkpoint import lineage_summary, run_stage
    from cms_topn_spark.plans.flagship import flagship_factory, flagship_ingest
    from cms_topn_spark.sources.webpages import generate_webpages
    from cms_topn_spark.spark_session import local_frame

    t0 = time.monotonic()
    if args.input.startswith("synth:"):
        n = int(args.input.split(":", 1)[1])
        input_path = os.path.join(args.workdir, "input.parquet")
        if not os.path.exists(os.path.join(input_path, "_SUCCESS")):
            generate_webpages(spark, n).write.mode("overwrite").parquet(input_path)
    else:
        input_path = args.input
    pages = spark.read.parquet(input_path).select("url", "text")

    states = run_stage(
        spark,
        args.workdir,
        "partials",
        args.run_id,
        lambda: build_partials(
            pages, flagship_factory(args.n_urls, args.n_hosts, args.n_tokens), flagship_ingest
        ),
    )
    lineage = lineage_summary(states)

    sk: CompositeSketch = fold_states(r["state"] for r in states.collect())

    out = os.path.join(args.workdir, "results")
    for name in ("url_topn", "host_topn", "token_topn"):
        rows = [(i, f) for i, f in sk[name].topn_list()]
        local_frame(spark, rows, "item string, frequency long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, name))
    metrics = {
        "input_rows": lineage["input_rows"],
        "n_partials": lineage["n_partials"],
        "build_wall_ms": lineage["build_wall_ms"],
        "distinct_urls": sk["url_hll"].estimate(),
        "total_wall_sec": round(time.monotonic() - t0, 2),
        "docs_per_sec": round(lineage["input_rows"] / max(time.monotonic() - t0, 1e-9), 1),
    }
    with open(os.path.join(args.workdir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
