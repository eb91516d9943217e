"""Index-stage pruning contracts (round-7 verdict #5 + #2).

The scan-count gate pins HOW MANY scans a lifecycle query runs; these pin
that the scans are PRUNED — partition filters on the band-bucket near-dup
index, pushed filters on the ANN stages — and that pruning shrinks with the
batch instead of streaming the whole stage.
"""

import os

import pytest
from pyspark.sql import functions as F


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def minhash_index(spark, sf001_dir, tmp_path_factory):
    from cms_topn_spark.operators.dedup import minhash_index_build, minhash_index_load

    d = str(tmp_path_factory.mktemp("mh_index"))
    docs = spark.read.parquet(os.path.join(sf001_dir, "documents.parquet"))
    minhash_index_build(docs.where(F.col("doc_id") % 3 != 0), d)
    return d, minhash_index_load(spark, d), docs


def test_near_dup_bands_partition_pruning(spark, minhash_index):
    """A small batch's candidate join must read only the bands partitions
    matching the batch's own key buckets: the partition filter appears in
    the executed plan and the pruned read is a strict subset of the stage."""
    from cms_topn_spark.operators.dedup import (
        N_KEY_BUCKETS,
        _band_bucket_col,
        incremental_near_dup,
        minhash_doc_features,
        minhash_index_bands,
    )

    d, idx, docs = minhash_index
    batch = docs.where(F.col("doc_id") % 3 == 0).limit(2)
    feats = minhash_doc_features(batch).localCheckpoint(eager=True)
    buckets = [
        r["bucket"]
        for r in feats.select(F.posexplode("keys").alias("band", "key"))
        .select(_band_bucket_col().alias("bucket"))
        .distinct()
        .collect()
    ]
    # 2 docs carry ≤ 64 keys → a strict subset of the 256 buckets
    assert 0 < len(buckets) < N_KEY_BUCKETS

    pruned = minhash_index_bands(spark, d, buckets)
    full = minhash_index_bands(spark, d)
    n_pruned, n_full = pruned.count(), full.count()
    assert n_pruned < n_full, "bucket filter did not shrink the index read"
    plan = _final_plan(pruned)
    assert "PartitionFilters" in plan and "bucket" in plan, plan[:2000]

    # pruned-read volume shrinks with batch size (the verdict's contract)
    batch8 = docs.where(F.col("doc_id") % 3 == 0).limit(8)
    feats8 = minhash_doc_features(batch8).localCheckpoint(eager=True)
    buckets8 = [
        r["bucket"]
        for r in feats8.select(F.posexplode("keys").alias("band", "key"))
        .select(_band_bucket_col().alias("bucket"))
        .distinct()
        .collect()
    ]
    n8 = minhash_index_bands(spark, d, buckets8).count()
    assert n_pruned <= n8 <= n_full

    # and the pruned path answers EXACTLY like the unpruned one
    got = sorted(
        tuple(r)
        for r in incremental_near_dup(batch, idx, threshold=0.8, index_dir=d).collect()
    )
    want = sorted(
        tuple(r)
        for r in incremental_near_dup(batch, idx, threshold=0.8).collect()
    )
    assert got == want


def test_near_dup_append_grows_bands(spark, minhash_index):
    """minhash_index_append keeps both layouts consistent: bands row count
    stays 32 keys per indexed document after an append."""
    from cms_topn_spark.operators.dedup import (
        N_BANDS,
        minhash_index_append,
        minhash_index_bands,
        minhash_index_load,
    )

    d, idx, docs = minhash_index
    extra = docs.where(F.col("doc_id") % 3 == 0).limit(3)
    grown = minhash_index_append(extra, d)
    n_docs = grown.count()
    assert minhash_index_bands(spark, d).count() == n_docs * N_BANDS
    assert minhash_index_load(spark, d).count() == n_docs


def test_ann_stage_scans_carry_pushed_filters(spark, sf001_dir):
    """The lifecycle queries' index-stage scans must show pushdown evidence
    in the executed plan: an In(cell…) filter on the IVF assignments stage
    and an In(vec_id…) filter on the LSH signature stage (the query-side
    read)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    plan_ivf = _final_plan(qs["ann_ivf_built_topk"](spark, sf001_dir))
    assert "PushedFilters" in plan_ivf and "In(cell" in plan_ivf, plan_ivf[:2000]
    plan_lsh = _final_plan(qs["ann_lsh_built_topk"](spark, sf001_dir))
    assert "In(vec_id" in plan_lsh, plan_lsh[:2000]
