"""Distributed sketch build: per-partition partials → merge.

This is the rebuild of the reference's aggregate pair (`cms_topn_add_agg`,
`cms_topn_union_agg`, §2.2 of SURVEY.md) in Spark's execution model, shaped
exactly as the north star prescribes (BASELINE.json:6):

- **partial build**: ``mapInArrow`` over the (optionally salted-repartitioned)
  input — each task streams its Arrow batches into ONE kernel state and emits
  a single row ``(partition_id, state BINARY, input_rows, build_wall_ms)``.
  No per-row Python anywhere: item bytes go zero-copy from Arrow buffers into
  the numpy murmur kernel.
- **salted repartition**: ``repartition(P)`` round-robins rows, so hot keys
  cannot skew task runtimes (building is key-shuffle-free; only partition
  *size* imbalance matters, and round-robin flattens it).
- **merge**: up to ``DIRECT_COLLECT_LIMIT`` partials are collected and folded
  on the driver with :func:`fold_states`. Above it, one shuffle of the
  sketch-sized rows to ``defaultParallelism`` tasks and one ``mapInArrow``
  fold per task cut the driver's fan-in to the core count. States are
  ~106 kB at default CMS parameters (BASELINE.md row 3), so that shuffle
  moves only P·106 kB.

Scale notes (100 TB / 1000 executors): the input scan is the only big data
motion; everything after the partial build moves `P` sketch-sized rows. The
partial build preserves input partitioning (no shuffle) unless
``salt_partitions`` forces one, which is worth it only when upstream
partitions are pathologically uneven.
"""

from __future__ import annotations

import time
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame

from ..core import encoding as enc
from ..core.base import ItemSketch, fold_states

STATE_SCHEMA = "partition_id int, state binary, input_rows long, build_wall_ms long"

# above this many partials the driver collects one folded state per core
# instead of one state per partial
DIRECT_COLLECT_LIMIT = 64

_PA_STATE_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("state", pa.binary()),
        ("input_rows", pa.int64()),
        ("build_wall_ms", pa.int64()),
    ]
)


# The item-type table, one decision for every surface that turns a column
# into sketch items or sketch items back into a column: Spark column type →
# encoding tag → (Arrow type in ``encoding.TAG_ARROW_TYPES``, topn item column
# type). Unbound tags render as strings in topn()/topn_explode.
SPARK_ITEM_TAGS = {
    "tinyint": enc.TYPE_INT32,
    "smallint": enc.TYPE_INT32,
    "int": enc.TYPE_INT32,
    "bigint": enc.TYPE_INT64,
    "float": enc.TYPE_FLOAT64,
    "double": enc.TYPE_FLOAT64,
    "string": enc.TYPE_STRING,
    "binary": enc.TYPE_BINARY,
}
# the encoding hashes every float as float64, and int items decode as bigint
TAG_TOPN_TYPES = {
    enc.TYPE_INT32: "bigint",
    enc.TYPE_INT64: "bigint",
    enc.TYPE_FLOAT64: "double",
    enc.TYPE_STRING: "string",
    enc.TYPE_BINARY: "binary",
}


def spark_item_tag(spark_type: str, caller: str) -> int:
    """The encoding tag of a Spark value-column type; ``TypeError`` for a
    type the table does not hold (boolean, timestamp, decimal, composites),
    so no caller ever hashes a stand-in encoding of it."""
    tag = SPARK_ITEM_TAGS.get(spark_type)
    if tag is None:
        raise TypeError(
            f"{caller} value column type {spark_type!r} has no sketch item "
            f"encoding (supported: {sorted(SPARK_ITEM_TAGS)})"
        )
    return tag


def ingest_array(sketch, arr: pa.Array) -> None:
    """Feed one Arrow array into a sketch, NULLs dropped, dispatching on the
    sketch's protocol: packed item bytes for an ``ItemSketch``
    (CMS/MMS/HLL/Bloom), float64 values for the numeric ones (KLL/t-digest,
    which take any numeric column, decimals included)."""
    if isinstance(sketch, ItemSketch):
        data, offsets, lengths, tag = enc.pack_arrow_array(arr)
        sketch.add_packed(data, offsets, lengths, type_tag=tag)
    else:
        if arr.null_count:
            arr = arr.drop_null()
        sketch.add_batch(arr.to_numpy(zero_copy_only=False).astype(np.float64))


def default_ingest(sketch, batch: pa.RecordBatch) -> None:
    """Feed column 0 of an Arrow batch into any sketch (see :func:`ingest_array`)."""
    arr = batch.column(0)
    if len(arr) == 0 or arr.null_count == len(arr):
        return
    ingest_array(sketch, arr)


def weighted_ingest(sketch, batch: pa.RecordBatch) -> None:
    """Feed (item, weight) pairs, rows with a NULL in either column dropped.
    The weight goes to ``add_packed`` positionally: a count for CMS (e.g. the
    partial counts of an upstream groupBy) and Bloom, a mask for MMS."""
    tbl = pa.Table.from_batches([batch]).drop_null()
    if tbl.num_rows == 0:
        return
    data, offsets, lengths, tag = enc.pack_arrow_array(tbl.column(0).combine_chunks())
    weights = tbl.column(1).combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
    sketch.add_packed(data, offsets, lengths, weights, type_tag=tag)


_NPARTS_CACHE: dict = {}


def plan_num_partitions(df: DataFrame) -> int:
    """Partition count of a DataFrame, memoized by the plan's semantic hash.

    ``df.rdd.getNumPartitions()`` is the only public API but forces a
    plan→RDD conversion per call: 48.6 ms median on a 4-CPU box for the
    perfbench webpages frame, against 5.6 ms through this memo. Memoizing
    makes repeated operator calls over the same source (the bench-loop
    shape) probe once. A hash collision can only mis-route a perf-only
    heuristic (direct-collect vs tree-merge, spread-or-not), never correctness —
    cheaper than materializing the states frame through the block cache,
    which costs ~0.3 s per call for MB-sized sketch states."""
    # keyed per Spark application: a new session (different parallelism /
    # file layout) must not inherit counts. Within one session, rewriting
    # the same path with a different file count can still serve a stale
    # count — acceptable because every consumer is a perf-only heuristic.
    key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
    n = _NPARTS_CACHE.get(key)
    if n is None:
        if len(_NPARTS_CACHE) > 256:
            _NPARTS_CACHE.clear()
        n = _NPARTS_CACHE[key] = df.rdd.getNumPartitions()
    return n


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin an under-partitioned input up to the cluster's default
    parallelism — the small-file remedy for compute-bound pipelines whose
    scan is a single split (a one-file gate table serializes tokenize/regex
    work on one core). No-op whenever the plan already has >= cores
    partitions (any real corpus), so nothing extra moves at scale; callers
    must be partition-layout-independent (aggregations, per-row maps —
    not bounded top-n retained sets with order-broken ties)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if plan_num_partitions(df) < parallelism:
        df = df.repartition(parallelism)
    return df


def _partials_fold(
    factory: Callable[[], object],
    ingest: Callable[[object, pa.RecordBatch], None],
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The one-state-per-task fold as a batches→batches kernel, shared by
    the DataFrame path and the columnar-direct parquet path."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.monotonic()
        sk = factory()
        rows = 0
        for rb in batches:
            ingest(sk, rb)
            rows += rb.num_rows
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        yield pa.RecordBatch.from_pydict(
            {
                "partition_id": [pid],
                "state": [sk.to_bytes()],
                "input_rows": [rows],
                "build_wall_ms": [int((time.monotonic() - t0) * 1000)],
            },
            schema=_PA_STATE_SCHEMA,
        )

    return fn


def build_partials(
    df: DataFrame,
    factory: Callable[[], object],
    ingest: Callable[[object, pa.RecordBatch], None] = default_ingest,
    salt_partitions: int | None = None,
) -> DataFrame:
    """One serialized partial sketch per partition of ``df``.

    ``df`` should already be projected to exactly the columns ``ingest``
    consumes (column pruning then reaches the parquet scan)."""
    if salt_partitions:
        df = df.repartition(salt_partitions)  # round-robin = salt
    return df.mapInArrow(_partials_fold(factory, ingest), STATE_SCHEMA)


def _fold_task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Fold every state one task sees into one row (NULL states skipped,
    ``input_rows`` summed); a task that sees no rows emits none."""
    t0 = time.monotonic()
    n = rows = 0

    def states():
        nonlocal n, rows
        for rb in batches:
            n += rb.num_rows
            rows += pc.sum(rb.column("input_rows")).as_py() or 0
            yield from rb.column("state").to_pylist()

    acc = fold_states(states())
    if n:
        ctx = TaskContext.get()
        yield pa.RecordBatch.from_pydict(
            {
                "partition_id": [ctx.partitionId() if ctx is not None else 0],
                "state": [acc.to_bytes() if acc is not None else None],
                "input_rows": [rows],
                "build_wall_ms": [int((time.monotonic() - t0) * 1000)],
            },
            schema=_PA_STATE_SCHEMA,
        )


def tree_merge_df(states: DataFrame, fanin: int) -> DataFrame:
    """Merge a states DataFrame down to ≤ ``fanin`` rows: one round-robin
    shuffle of the sketch-sized rows, then one fold per task."""
    return states.repartition(fanin).mapInArrow(_fold_task, STATE_SCHEMA)


def sketch_agg(
    df: DataFrame,
    factory: Callable[[], object],
    ingest: Callable[[object, pa.RecordBatch], None] = default_ingest,
    salt_partitions: int | None = None,
):
    """Full add_agg analogue: build partials, merge, return the sketch.

    NULL-only / empty inputs → None, matching cms_topn_union_agg over all-NULL
    rows (expected/union_agg.out:8-18).

    For moderate partition counts the partials are collected in ONE action and
    merged on the driver (P sketch-sized rows; merging is O(P·d·w) numpy adds,
    microseconds per state). The shuffled per-task fold only pays off when P
    is large — at 1000-executor scale — so it kicks in above
    ``DIRECT_COLLECT_LIMIT``."""
    states = build_partials(df, factory, ingest, salt_partitions)
    n_parts = (
        plan_num_partitions(df) if salt_partitions is None else salt_partitions
    )
    return _collect_states(states, n_parts)


def sketch_agg_parquet(
    spark,
    path: str,
    columns: list[str],
    factory: Callable[[], object],
    ingest: Callable[[object, pa.RecordBatch], None] = default_ingest,
    split_row_groups: bool = False,
    filters: list[tuple] | None = None,
):
    """:func:`sketch_agg` over a parquet path via the COLUMNAR-DIRECT ingest
    (sources/parquet_direct.py): one partial per FILE, or per row-group with
    ``split_row_groups`` (the giant-file remedy); pyarrow reads the pruned
    columns in the worker, so the batches never cross Spark's
    columnar→row→Arrow pivot — the transfer whose JVM CPU anti-scales with
    task threads (measured in BENCH/BASELINE.md §2b). Same states frame,
    same merge. The split list is computed ONCE (one listing, one footer
    pass) and both sizes the merge strategy and feeds the task mapping;
    ``filters`` push (column, op, literal) conjuncts into the scan —
    Arrow's row-group pruning plus its residual filter (see
    parquet_direct.map_parquet_batches)."""
    from ..sources.parquet_direct import map_parquet_batches, parquet_splits

    splits = parquet_splits(path, split_row_groups=split_row_groups, filters=filters)
    states = map_parquet_batches(
        spark, path, columns, _partials_fold(factory, ingest), STATE_SCHEMA,
        splits=splits, filters=filters,
    )
    return _collect_states(states, len(splits))


def _collect_states(states: DataFrame, n_parts: int):
    """Fold a states frame of ``n_parts`` partitions into one live sketch
    (None when every state is NULL)."""
    if n_parts > DIRECT_COLLECT_LIMIT:
        states = tree_merge_df(states, states.sparkSession.sparkContext.defaultParallelism)
    return fold_states(r["state"] for r in states.collect())
