"""Physical-plan dumps of the key queries, run from the repo root.

Usage:
  python tools/dump_plans.py > plans.md
      Regenerate BENCH/PLANS.md — then MERGE into it: the committed file
      also carries per-round manually-added sections (grouped KLL,
      bucketed/as-of/range joins, partition pruning — everything after the
      IVF section) that this mode does NOT regenerate. A blind redirect
      erases that history (it happened in round 7; restored).
  python tools/dump_plans.py --explain OUT_DIR SUFFIX NAME...
      Write ``.explain("formatted")`` of each NAME to
      ``OUT_DIR/<NAME>_<SUFFIX>.txt`` (the plans/r08/ layout: run once per
      tree with SUFFIX before/after). NAME is a ``queries()`` name or one of
      the stage forms of :data:`STAGES`. Their gate queries eagerly
      localCheckpoint the result and so show only the post-checkpoint tail;
      a stage form instead writes the executed plan of the SQL execution
      that materialized the result (:func:`executed_plan`).
"""
import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def _minhash_stage(docs, tmp):
    from cms_topn_spark.operators import dedup

    return dedup.minhash_lsh_pairs(docs, 0.8)


def _incremental_stage(docs, tmp):
    """A small batch (doc_id % 150 == 0) against a persisted index of
    doc_id % 3 != 0 — disjoint ids, and the batch's bucket set is a strict
    subset of the key buckets, so the bucketed bands.parquet read engages
    (the growing-corpus regime)."""
    from pyspark.sql import functions as F

    from cms_topn_spark.operators import dedup

    idx_dir = os.path.join(tmp, "minhash_idx")
    idx = dedup.minhash_index_build(docs.where(F.col("doc_id") % 3 != 0), idx_dir)
    batch = docs.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 50 == 0))
    return dedup.incremental_near_dup(batch, idx, 0.8, index_dir=idx_dir)


STAGES = {
    "minhash_lsh_pairs_stage": _minhash_stage,
    "incremental_near_dup_stage": _incremental_stage,
}


def executed_plan(spark, run) -> str:
    """Call ``run()`` and return the formatted physical plan of the last SQL
    execution it started, read from the SQL status store — for an operator
    that eagerly materializes its result, the executed (final adaptive)
    plan that produced it."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last():
        lst = store.executionsList()
        n = lst.size()
        return lst.apply(n - 1) if n else None

    before = last()
    mark = before.executionId() if before is not None else -1
    run()
    # the store is filled by an asynchronous listener
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    e = last()
    if e is None or e.executionId() <= mark:
        raise RuntimeError("the call started no SQL execution")
    return e.physicalPlanDescription()


def explain(spark, sf: str, out_dir: str, suffix: str, names: list[str]) -> None:
    import __spark_entry__ as e

    os.makedirs(out_dir, exist_ok=True)
    qs = e.queries()
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    tmp = tempfile.mkdtemp(prefix="dump_plans_")
    try:
        for name in names:
            if name in STAGES:
                what = "executed plan (formatted)"
                plan = executed_plan(spark, lambda: STAGES[name](docs, tmp))
            else:
                what = ".explain('formatted')"
                buf = io.StringIO()
                with redirect_stdout(buf):
                    qs[name](spark, sf).explain("formatted")
                plan = buf.getvalue()
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(f"# {name} — {what}, {suffix} "
                        "(sf0.01 input; plan shape is sf-independent)\n")
                f.write(plan)
            print(f"{name}_{suffix}.txt written", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    from cms_topn_spark.spark_session import get_spark
    import __spark_entry__ as e

    spark = get_spark("plans", cpus=4)
    sf = "/root/testdata/sf0.01"
    if sys.argv[1:2] == ["--explain"]:
        explain(spark, sf, sys.argv[2], sys.argv[3], sys.argv[4:])
        spark.stop()
        sys.exit(0)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString

    def executed(run):
        # the final plan's operator tree: the formatted plan's first
        # paragraph, without the adaptive plan's initial form
        tree = executed_plan(spark, run).split("\n\n", 1)[0]
        return tree.split("\n+- == Initial Plan ==", 1)[0]

    def show(title, df, note, grep=None, fmt="formatted"):
        """``df`` is a lazy frame, or a plan string from :func:`executed`."""
        if isinstance(df, str):
            plan = df
        else:
            plan = df._jdf.queryExecution().explainString(mode(fmt))
        print(f"## {title}\n\n{note}\n\n```")
        if grep:
            for line in plan.splitlines():
                if any(g in line for g in grep):
                    print(line.rstrip()[:200])
        else:
            print(plan[:2500])
        print("```\n")

    print("# PLANS — physical-plan snapshots (sf0.01, local[4])\n")
    from cms_topn_spark.operators.build import build_partials
    from cms_topn_spark.plans.flagship import flagship_factory, flagship_ingest
    from cms_topn_spark.sources.webpages import generate_webpages

    pages = generate_webpages(spark, 1000, partitions=4)
    pages.write.mode("overwrite").parquet("/tmp/_plans_wp.parquet")
    wp = spark.read.parquet("/tmp/_plans_wp.parquet")
    states = build_partials(wp.select("url", "text"), flagship_factory(), flagship_ingest)
    show("Flagship partial build", states, "one scan → composite states, no input shuffle")
    show("TPC-H q1", e.q_tpch_q1_pricing(spark, sf), "pushdown + pruning",
         grep=("PushedFilters", "ReadSchema", "WholeStageCodegen"))
    show("Nations revenue", e.q_top_nations_revenue(spark, sf), "broadcast joins",
         grep=("Join", "Exchange"), fmt="simple")

    from cms_topn_spark.operators import dedup, similarity

    docs = spark.read.parquet(sf + "/documents.parquet")
    show(
        "Jaccard DF-pruned",
        dedup.jaccard_pairs_pruned(docs, 0.8, max_df=20),
        "no per-document BroadcastExchange: AQE decides join strategy; the "
        "pruning groupBy shares the shingle shuffle key",
        grep=("Join", "Exchange"),
        fmt="simple",
    )
    show(
        "MinHash LSH pairs (single-pass features)",
        executed(lambda: dedup.minhash_lsh_pairs(docs, 0.8)),
        "ONE MapInArrow pass emits band keys + gram-hash sets; the exact "
        "verify joins candidate pairs straight back to the cached per-doc "
        "frame — no second corpus scan, no driver-side step",
        grep=("Join", "Exchange", "MapInArrow", "InMemory"),
    )
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    show(
        "Cosine near-dup (bucketed)",
        executed(lambda: similarity.cosine_near_dup_pairs_lsh(emb, 0.9)),
        "LSH bucket self-join — candidate generation never broadcasts the "
        "corpus and never goes O(n²)",
        grep=("Join", "Exchange"),
    )
    show(
        "Cosine exact pairs (block-GEMM, the demonstrated query)",
        executed(lambda: similarity.cosine_near_dup_pairs_blocked(emb, 0.4)),
        "block-pair cogroup: each vector shuffles to B+1 GEMM tasks — the "
        "whole lineage is scan → explode → two hash exchanges → "
        "FlatMapCoGroupsInArrow; NO collect, NO BroadcastExchange of the "
        "corpus anywhere",
        grep=("Exchange", "FlatMapCoGroupsInArrow", "Scan", "Generate"),
    )
    from cms_topn_spark.operators.sessions import sessionize

    show(
        "Sessionization (windows + agg, one exchange)",
        sessionize(spark.read.parquet(sf + "/events.parquet")),
        "lag/running-sum windows shuffle once on user_id; the (user_id, "
        "session_id) aggregation reuses that clustering — NO second exchange",
        grep=("Exchange", "Window", "HashAggregate", "Sort"),
        fmt="simple",
    )
    from cms_topn_spark.operators import pipeline

    show(
        "Curation pipeline (composed)",
        pipeline.curate(docs),
        "lang + quality + repetition gates fused into the scan projection; "
        "ONE exchange total (the md5-key dedup groupBy) — filters run before "
        "the shuffle, and the exchange carries digests + features, never text",
        grep=("Exchange", "Scan", "HashAggregate", "Project", "Filter"),
        fmt="simple",
    )
    from cms_topn_spark.operators import ivf

    show(
        "IVF ANN search",
        ivf.ivf_topk(emb, list(range(5)), k=3, n_cells=8, n_probe=2, iters=1),
        "probe-cells broadcast join onto the one-scan cell assignment; only "
        "the QUERY embeddings broadcast for the re-rank",
        grep=("Join", "Exchange"),
        fmt="simple",
    )

    # round-7 staging audit: executed FINAL-plan FileScan counts for the two
    # operators round 6 caught re-scanning the corpus, plus an unstaged
    # control. Staged operators pay their one corpus scan inside the
    # eager-checkpoint staging job, so the FINAL plan carries 0 FileScans;
    # tests/test_scan_counts.py pins the whole headline table.
    from cms_topn_spark.operators import textops
    from cms_topn_spark.plans.bucketing import scan_count

    print("## Executed-plan FileScan counts (round-7 staging audit)\n")
    print("| query | FileScans in executed final plan | round-6 defect |")
    print("|---|---|---|")
    audit = [
        ("tfidf_top_terms (tf staged)", textops.tfidf_top_terms(docs, k=3), "2 scans"),
        (
            "jaccard_pairs_pruned (sh + kept staged)",
            dedup.jaccard_pairs_pruned(docs, 0.8, max_df=20),
            "8 scans",
        ),
        ("tpch_q1_pricing (unstaged single-scan control)",
         e.q_tpch_q1_pricing(spark, sf), "—"),
    ]
    for name, df, was in audit:
        print(f"| {name} | {scan_count(df)} | {was} |")
    print()
    spark.stop()
