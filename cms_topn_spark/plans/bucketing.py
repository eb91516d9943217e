"""Bucketed co-located joins: shuffle once at WRITE time, never at read time.

The reference delegates all relational execution to PostgreSQL, where a
btree-indexed equijoin never re-partitions (cms_topn's DDL leaves join
strategy to the host — SURVEY.md §2.4 "storage/exchange"). Spark's analogue
for repeated large-×-large equijoins is bucketing: both tables are written
pre-hash-partitioned (and per-file sorted) on the join key, so every future
join/aggregation on that key reads co-located buckets and elides the
Exchange entirely — the dominant cost of a 100-TB fact-to-fact join, paid
once at ingest instead of per query.

When it matters at scale:

- **Both sides big**: broadcast handles small dims; bucketing is for the
  fact-×-fact case (events×users, docs×embeddings) where every query would
  otherwise shuffle terabytes on the same key.
- **Bucket count is a real knob**: it fixes read parallelism for bucketed
  scans (one task per bucket; AQE does NOT split or coalesce bucketed
  scans), so size buckets to executor memory at TARGET scale —
  ~`table_bytes / 256 MB`, rounded to a power of two so a ×2 rescale can
  coalesce pairs of buckets. Too few buckets caps parallelism; too many
  makes small files.
- **Sorted buckets** (`sortBy` = bucket key, one file per bucket) keep
  each bucket file internally ordered; the Exchange elision is what is
  guaranteed, while the local per-task Sort under SortMergeJoin may or may
  not be elided by the reader (observed on Spark 4.1: a Sort node remains
  even at one file per bucket — a cheap, spill-free per-bucket sort, not
  the cluster-wide shuffle the layout removes).
- **Same bucketing both sides**: equal bucket counts join zero-shuffle;
  mismatched counts shuffle the smaller side only (still a win). Catalyst
  only recognizes the layout through the catalog — `spark.table(...)`, not
  `spark.read.parquet(...)` over the same files.

Helpers here are deliberately thin: the feature is Spark's, the value is
pinning the plan shape (tests assert the Exchange is gone and results match
the shuffled join bitwise) and the sizing discipline above.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    num_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a catalog-managed parquet table hash-bucketed (and
    per-file sorted, by default) on ``key``. This is the once-per-ingest
    shuffle that every later equijoin/aggregation on ``key`` skips. Use a
    qualified ``db.table`` name to control the storage location (create the
    database with an explicit LOCATION)."""
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    # one write-side shuffle so each bucket lands as ONE file per bucket id
    # (repartition by the same hash expression bucketing applies): without
    # it every write task emits a file for every bucket it touches — the
    # tasks×buckets small-file explosion — and a bucket's sort order holds
    # only within each fragment instead of across the whole bucket.
    w = df.repartition(num_buckets, key).write.format("parquet").mode(mode)
    w = w.bucketBy(num_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str,
    how: str = "inner",
    hint: str | None = None,
) -> DataFrame:
    """Equijoin two catalog tables on ``key``. If both were written with
    :func:`write_bucketed` on ``key`` with equal bucket counts, the physical
    plan is a zero-Exchange SortMergeJoin; callers can assert that with
    :func:`exchange_count`. ``hint`` (e.g. ``"merge"``) pins the join
    strategy on the left side — the conf-free way to keep a small gate
    corpus on the big-×-big plan a production table would get, instead of
    mutating ``autoBroadcastJoinThreshold`` on a shared session."""
    left = spark.table(left_table)
    if hint:
        left = left.hint(hint)
    return left.join(spark.table(right_table), key, how)


# physical-plan node names at the start of a tree line (after the drawing
# characters): Exchange (shuffle), BroadcastExchange, ReusedExchange. An
# anchored match keeps identifiers that merely CONTAIN the word (a column
# named ExchangeRate in a ReadSchema, mid-line text) out of the count.
_EXCHANGE_NODE = re.compile(r"(?m)^[\s:+\-*]*((?:Reused|Broadcast)?Exchange)\b")


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange operators in the EXECUTED plan — the metric
    bucketing exists to drive to zero. Counts shuffle and broadcast
    exchanges (for the big-×-big case a broadcast is just as much a data
    movement); ReusedExchange references are NOT re-counted — the one
    producing Exchange already was."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for m in _EXCHANGE_NODE.finditer(plan) if m.group(1) != "ReusedExchange")


# file-source leaves in the executed plan: "FileScan parquet ..." (also csv/
# json/orc/text). Node-anchored like _EXCHANGE_NODE so ReadSchema contents or
# column names containing "FileScan" can't trip it.
_FILESCAN_NODE = re.compile(r"(?m)^[\s:+\-*()\d]*FileScan\b")


def scan_count(df: DataFrame) -> int:
    """Number of FileScan leaves in the FINAL executed plan — the redundant-
    corpus-scan regression metric (round-6 verdict: two operators silently
    re-scanned their source 2× and 8× because a shared subframe was
    unstaged; Exchange counting missed it two rounds running).

    AQE only finalizes a frame's OWN QueryExecution when the frame itself is
    executed (a derived count() finalizes the derived plan, not this one), so
    this helper collect()s the frame first — callers pass frames over
    sf0.001-sized inputs, so the action is cheap. The finalized toString()
    carries an "== Initial Plan ==" echo section; only the final-plan section
    is counted. ReusedExchange subtrees print as references (their FileScan
    is not re-listed), so the count is of DISTINCT executed scans. Staged
    operators (localCheckpoint/persist of the shared subframe) pay their
    corpus scan inside the one-time staging job, so their FINAL plan has 0
    FileScans — the declared expectation per operator is what the regression
    gate pins."""
    return _final_plan_count(df, _FILESCAN_NODE)


_RDD_SCAN_NODE = re.compile(r"(?m)^[\s:+\-*()\d]*Scan ExistingRDD\b")


def rdd_scan_count(df: DataFrame) -> int:
    """Number of checkpointed-RDD scan leaves in the FINAL executed plan —
    the companion to :func:`scan_count` for STAGED operators, whose final
    plans read eager localCheckpoints instead of files. A FileScan count of
    0 alone certifies nothing about work hidden BEHIND a remaining
    checkpoint (drop the `kept` staging in jaccard_pairs_pruned while
    keeping `sh` staged and FileScans stay 0 — but the pruning join then
    recomputes per consumer, and THIS count jumps). Pinning both counts
    closes that blind spot. Same collect()-to-finalize/Initial-Plan-slice
    mechanics as scan_count."""
    return _final_plan_count(df, _RDD_SCAN_NODE)


def _final_plan_count(df: DataFrame, node: re.Pattern) -> int:
    """Collect ``df``, then count the ``node`` leaves in its final executed
    plan, cut at the ``== Initial Plan ==`` echo."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    cut = plan.find("== Initial Plan ==")
    if cut != -1:
        plan = plan[:cut]
    return len(node.findall(plan))
