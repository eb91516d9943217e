"""Redundant-corpus-scan regression gate (round-7 verdict item #2).

Round 6 found two operators whose final AQE plans silently re-scanned the
source table (2× for tfidf_top_terms, 8× for jaccard_pairs_pruned) because a
shared subframe was unstaged — a defect class the Exchange-count asserts
missed two rounds running, and the single worst scale failure mode for a
100 TB corpus where the scan+tokenize pass dominates cost.

This gate runs every headline operator (bench.py HEADLINE) plus the two
formerly-defective off-headline operators once at sf0.001 and pins the
DISTINCT FileScan count of the executed final plan to a declared expectation:

- most single-input operators: 1 scan;
- staged operators (shared subframe localCheckpoint'ed, or output eagerly
  materialized — the corpus scan runs once inside the staging job): 0 scans
  in the FINAL plan, so a removed staging shows up as a jump to ≥2;
- multi-input joins: one scan per input slice (asof 2; range-join 3 — its
  three reads of `events` carry different pushed filters + column sets, so
  separate pruned scans beat one superset scan).

An expectation here is a *plan contract*, not a measurement: if a refactor
changes a count, the right response is to re-derive why the new plan shape
is the one you'd want at 100×, then update the table WITH the reason.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cms_topn_spark.plans.bucketing import rdd_scan_count, scan_count

# name -> expected FileScan count in the executed final plan at sf0.001.
# 0 = staged/eagerly-materialized (see module docstring).
EXPECTED_SCANS = {
    "cms_topn_event_types": 0,  # sketch states collected; result built driver-side from state
    "cms_topn_doc_tokens": 0,
    "cms_topn_frequency_probe": 1,
    "hll_distinct_parts": 0,
    "kll_price_quantiles": 0,
    "tdigest_median_by_type": 1,
    "bloom_customer_semijoin": 1,
    "tpch_q1_pricing": 1,
    "top_nations_revenue": 3,  # lineitem + orders + customer/nation slices
    "minhash_lsh_pairs": 0,  # features persisted; output localCheckpoint'ed
    "simhash_near_pairs": 1,
    "ann_brute_topk": 1,
    "exact_dedup": 1,
    "lang_id_ngram": 1,
    "winnow_fingerprints": 1,
    "repetition_stats": 1,
    "cosine_near_dup_pairs": 0,  # blocked-GEMM path materializes its stages
    # round 8: the curate feature frame (digest + gate scalars, text
    # dropped) is staged before the gates — unstaged, Catalyst pushed the
    # gate predicates to the scan and re-inlined every split/filter lambda
    # (~20 split(text) per row, below the parallelism spread)
    "curate_corpus": 0,
    "tfidf_top_terms": 0,  # tf staged (round-6 defect: was 2)
    "kll_length_gate": 1,
    # columnar-direct ingest: tasks read their parquet splits via pyarrow
    # inside the kernel; Spark's plan has no FileScan node (round-7 #5)
    "grouped_kll_quantiles": 0,
    "asof_join_events": 2,  # two inputs, one keyed exchange
    "range_join_attribution": 3,  # three filter/column slices of events
    "jaccard_pairs": 0,  # shingles staged (shares _jaccard_from_shingles)
    "jaccard_pairs_pruned": 0,  # sh + kept staged (round-6 defect: was 8)
    "contamination_report": 1,  # train/eval gram frames staged; eval-id re-join scans once
    # round-7 lifecycle gates. The counts include INDEX-STAGE parquet reads,
    # not just corpus reads: ivf = assignments stage + 1 pruned candidate-
    # embedding fetch; lsh = signature stage ×2 (query filter is a pushed
    # vec_id∈ids read — tiny — plus the probe join side) + 1 pruned
    # candidate-embedding fetch. Round 8 dropped one embedding scan from
    # each: query vectors now collect in their own tiny job and broadcast
    # into the scoring kernel (similarity._score_candidates_topk), so the
    # final plan no longer carries the emb_q join scan.
    # incremental_near_dup's output is eagerly materialized (0 scans).
    "ann_ivf_built_topk": 2,
    "ann_lsh_built_topk": 3,
    "incremental_near_dup": 0,
}


# Staged operators read eager localCheckpoints, so their FileScan count of
# 0 alone can't see a PARTIALLY removed staging (work recomputed from a
# remaining checkpoint — the blind spot a reviewer flagged in round 7).
# Pinning the ExistingRDD-scan count too closes it: unstage `kept` in
# jaccard_pairs_pruned and its final plan re-consumes the `sh` checkpoint
# per branch (the pruning join recomputed per consumer), moving this count
# off its pinned value.
EXPECTED_RDD_SCANS = {
    "jaccard_pairs": 3,  # sh: sizes + both self-join sides
    "jaccard_pairs_pruned": 3,  # kept: sizes + both self-join sides
    "tfidf_top_terms": 2,  # tf: df aggregation + score join
    "curate_corpus": 1,  # staged feature frame: gates + dedup consume it once
    # columnar-direct ingest: the split ids come from spark.range (a Range
    # leaf), not a parallelized RDD, so the final plan scans no RDD — a
    # return to 1 means the source is back on the RDD worker pool
    "grouped_kll_quantiles": 0,
}


@pytest.mark.parametrize("name", sorted(EXPECTED_RDD_SCANS))
def test_final_plan_rdd_scan_count(name, spark, sf001_dir):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, sf001_dir)
    got = rdd_scan_count(df)
    assert got == EXPECTED_RDD_SCANS[name], (
        f"{name}: executed final plan reads checkpointed RDDs {got} times, "
        f"expected {EXPECTED_RDD_SCANS[name]} — a staging layer was removed "
        f"or added (work is being recomputed behind a checkpoint)"
    )


def _bench_headline() -> list[str]:
    import bench

    return list(bench.HEADLINE)


def test_headline_list_is_covered():
    """Every bench headline operator must carry a declared scan expectation —
    a new headline entry without one is exactly the unreviewed-plan gap this
    gate exists to close."""
    missing = [n for n in _bench_headline() if n not in EXPECTED_SCANS]
    assert not missing, f"headline queries without a declared scan count: {missing}"


@pytest.mark.parametrize("name", sorted(EXPECTED_SCANS))
def test_final_plan_scan_count(name, spark, sf001_dir):
    import __spark_entry__ as entry

    q = entry.queries()[name]
    df = q(spark, sf001_dir)
    got = scan_count(df)
    assert got == EXPECTED_SCANS[name], (
        f"{name}: executed final plan has {got} FileScans, expected "
        f"{EXPECTED_SCANS[name]} — a shared subframe lost its staging or an "
        f"input is being re-scanned (see round-6 verdict 'What's wrong')"
    )
