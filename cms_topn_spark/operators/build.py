"""Distributed sketch build: one fold per task → one fold on the driver.

This is the rebuild of the reference's aggregate pair (`cms_topn_add_agg`,
`cms_topn_union_agg`, §2.2 of SURVEY.md) in Spark's execution model, shaped
exactly as the north star prescribes (BASELINE.json:6):

- **task fold**: ``mapInArrow`` over the (optionally salted-repartitioned)
  input — each task streams its Arrow batches into ONE kernel state and emits
  a single row ``(partition_id, state BINARY, input_rows, build_wall_ms)``.
  No per-row Python anywhere: item bytes go zero-copy from Arrow buffers into
  the numpy murmur kernel. :func:`build_partials` keeps one state per input
  partition (the checkpointable stage); every global fold first cuts its
  input to at most ``defaultParallelism`` (P) tasks with ``coalesce(P)`` —
  no shuffle — so each task runs ONE Python fold over its share.
- **salted repartition**: ``repartition(P)`` round-robins rows, so hot keys
  cannot skew task runtimes (building is key-shuffle-free; only partition
  *size* imbalance matters, and round-robin flattens it).
- **driver fold**: at most P state rows are collected and folded with
  :func:`fold_states` — one job at any partition count, no partition count
  read and no branch taken. States are ~106 kB at default CMS parameters
  (BASELINE.md row 3), so the collect moves only P·106 kB.

Scale notes (100 TB / 1000 executors): the input scan is the only big data
motion; everything after the task fold moves `P` sketch-sized rows. The
task fold preserves input partitioning (no shuffle) unless
``salt_partitions`` forces one, which is worth it only when upstream
partitions are pathologically uneven.
"""

from __future__ import annotations

import time
from typing import Callable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame

from ..core import encoding as enc
from ..core.base import fold_states

STATE_SCHEMA = "partition_id int, state binary, input_rows long, build_wall_ms long"

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


def default_ingest(sketch, batch: pa.RecordBatch) -> None:
    """Feed column 0 of an Arrow batch into any sketch, NULLs dropped
    (``add_arrow``)."""
    sketch.add_arrow(batch.column(0))


def weighted_ingest(sketch, batch: pa.RecordBatch) -> None:
    """Feed (item, weight) pairs, rows with a NULL in either column dropped
    (``add_arrow``): a count for CMS (e.g. the partial counts of an upstream
    groupBy) and t-digest, a mask for MMS."""
    sketch.add_arrow(batch.column(0), batch.column(1))


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin an under-partitioned input up to the cluster's default
    parallelism — the small-file remedy for compute-bound pipelines whose
    scan is a single split (a one-file gate table serializes tokenize/regex
    work on one core). No-op whenever the plan already has >= cores
    partitions (any real corpus), so nothing extra moves at scale; callers
    must be partition-layout-independent (aggregations, per-row maps —
    not bounded top-n retained sets with order-broken ties)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df._jdf.queryExecution().toRdd().getNumPartitions() < parallelism:
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


def _fold_collect(df: DataFrame, fold):
    """The one sketch-fold shape: ``df`` cut to at most ``defaultParallelism``
    tasks with no shuffle, ONE ``fold`` (a batches→state-row kernel) per
    task, at most that many state rows collected and folded on the driver
    (None when every state is NULL). The coalesce sits in front of the
    Python fold, so each task starts one Python worker."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    states = df.coalesce(parallelism).mapInArrow(fold, STATE_SCHEMA)
    return fold_states(r["state"] for r in states.collect())


def sketch_agg(
    df: DataFrame,
    factory: Callable[[], object],
    ingest: Callable[[object, pa.RecordBatch], None] = default_ingest,
    salt_partitions: int | None = None,
):
    """Full add_agg analogue: one fold per task, merged on the driver
    (:func:`_fold_collect`); ``salt_partitions`` round-robins the rows first
    (the skew remedy).

    NULL-only / empty inputs → None, matching cms_topn_union_agg over all-NULL
    rows (expected/union_agg.out:8-18)."""
    if salt_partitions:
        df = df.repartition(salt_partitions)  # round-robin = salt
    return _fold_collect(df, _partials_fold(factory, ingest))


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
    (sources/parquet_direct.py): at most ``defaultParallelism`` tasks, each
    folding a contiguous run of file splits (row-group splits with
    ``split_row_groups``, the giant-file remedy) into ONE state; pyarrow
    reads the pruned columns in the worker, so the batches never cross
    Spark's columnar→row→Arrow pivot — the transfer whose JVM CPU
    anti-scales with task threads (measured in BENCH/BASELINE.md §2b). The
    driver collects and folds the task states as :func:`sketch_agg` does.
    ``filters`` push (column, op, literal) conjuncts into the scan —
    Arrow's row-group pruning plus its residual filter (see
    parquet_direct.map_parquet_batches)."""
    from ..sources.parquet_direct import map_parquet_batches

    states = map_parquet_batches(
        spark, path, columns, _partials_fold(factory, ingest), STATE_SCHEMA,
        split_row_groups=split_row_groups, filters=filters,
    )
    return fold_states(r["state"] for r in states.collect())
