"""Columnar-direct parquet ingest — feed Python kernels WITHOUT the JVM row
pivot.

Spark's ``mapInArrow`` pipeline over a parquet scan is columnar parquet →
``ColumnarToRow`` → rows → ``ArrowWriter`` → Arrow: a double pivot executed
in the JVM for every row. Measured on this box (30M-row (long, double)
table, pass-through Python consumer): the pivot costs ~26 JVM-CPU-seconds
at 2 task threads and ~68 at 8 — it is ~8× the cost of the scan itself
(3.3 s for the same table through a JVM-only aggregate) AND its per-thread
throughput degrades ~2.6× as task threads increase, which caps the scaling
efficiency of any transfer-dominated Python operator regardless of how well
the kernel itself scales.

For operators whose Python kernel consumes whole columns (the sketch folds:
grouped quantiles, corpus profiles), the pivot is pure overhead — the data
is columnar on disk and columnar in the kernel. This source hands out the
parquet FILE SPLITS as ids and lets every task read its own run of
splits columnar-to-columnar with pyarrow:

    spark.range(split ids, ≤ P slices) → mapInArrow(read split[id] + fold)

The split frame is a ``Range``, so the kernel runs on the same Python
worker pool as every other ``mapInArrow`` operator (no RDD touch). Column
pruning happens via ``columns`` (pyarrow reads only those column chunks);
a file is the split unit — the same unit a 100-TB Iceberg table's manifest
hands out — and the splits are dealt to at most ``defaultParallelism`` (P)
tasks, a contiguous run each, so one Python fold per task covers them.
Predicate pushdown
happens via ``filters`` — (column, op, literal) conjuncts that become one
Arrow expression (``pq.filters_to_expression``), applied in two layers like
a lakehouse scan: Arrow's row-group statistics pruning
(``ParquetFileFragment.subset``) drops splits on the driver (pruned splits
are never scheduled) and row groups inside a task's whole-file split, and
tasks apply the residual filter columnar-side with the same expression.
Trade-offs, stated plainly: this bypasses Catalyst's scan node, so only
these explicit tri-op conjuncts push down — no derived expressions, no
partition-directory pruning, no join-side dynamic pruning; use the JVM scan
when a query needs those. A single giant file is one split unless
``split_row_groups=True``, which hands out one split per (file, row-group)
— the same split unit Spark's own scan uses.

When NOT to use it (measured, BENCH/BASELINE.md §2b): jobs whose kernel
dwarfs the transfer and whose columns are wide strings — Spark's vectorized
JVM parquet reader decodes string columns faster than single-threaded
pyarrow in the worker, and the pivot share is small when the kernel
dominates (flagship 9M-doc build: 49 s DataFrame vs 91 s direct at
local[2]). The direct path wins where transfer dominates: narrow/numeric
columns feeding cheap folds (grouped quantiles 15.6 s → 9.1 s there).
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def parquet_files(path: str) -> list[str]:
    """Sorted data-file list of a parquet file or directory tree.

    Recurses so Hive-partitioned layouts (``key=value`` subdirectories, as
    ``DataFrameWriter.partitionBy`` produces) are listed too — note the
    partition-key COLUMNS encoded in those directory names are not
    materialized by this source (they live in the path, not the file); use
    the JVM scan when the kernel needs them."""
    if os.path.isfile(path):
        return [path]
    out: list[str] = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out.extend(
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return sorted(out)


def spark_type_of(path: str, column: str) -> str:
    """Spark SQL type string of a parquet column (one listing + one footer
    read), as Spark's own parquet read types it: int8 → tinyint, int16 →
    smallint, a timestamp → timestamp."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    files = parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    return from_arrow_type(pq.read_schema(files[0]).field(column).type).simpleString()


# Filter conjuncts are (column, op, literal) triples, the same tri-op shape
# pyarrow's dataset filters use; a filter list means the AND of its entries.
# NULL comparison semantics are SQL's: a NULL never passes any conjunct.
_FILTER_OPS = {"==", "!=", "<", "<=", ">", ">=", "in"}


def _filter_expression(filters):
    """The Arrow expression for a conjunct list, or None without filters."""
    if not filters:
        return None
    for f in filters:
        if len(f) != 3 or f[1] not in _FILTER_OPS:
            raise ValueError(
                f"bad filter conjunct {f!r}: want (column, op, literal) with "
                f"op in {sorted(_FILTER_OPS)}"
            )
        if f[1] == "in":
            # a bare string would iterate per-CHARACTER (silently empty
            # results); a None element would make is_in pass NULL rows,
            # violating the documented SQL NULL semantics — reject both
            if isinstance(f[2], (str, bytes)) or not hasattr(f[2], "__iter__"):
                raise ValueError(
                    f"bad filter conjunct {f!r}: 'in' wants a non-string "
                    "iterable of literals"
                )
            if any(v is None for v in f[2]):
                raise ValueError(
                    f"bad filter conjunct {f!r}: None inside 'in' would pass "
                    "NULL rows; filter NULLs explicitly if you mean that"
                )
    import pyarrow.parquet as pq

    return pq.filters_to_expression(filters)


def _fragment(path: str, expr, row_groups: list[int] | None = None):
    """The parquet fragment of ``path`` (all row groups, or those listed),
    pruned by Arrow to the row groups whose statistics may match ``expr``.
    Missing statistics keep a row group; correctness never depends on
    pruning, only on the residual filter."""
    import pyarrow.dataset as ds
    from pyarrow.fs import LocalFileSystem

    frag = ds.ParquetFileFormat().make_fragment(
        path, LocalFileSystem(), row_groups=row_groups
    )
    return frag if expr is None else frag.subset(expr)


def shard_splits(
    splits: list[tuple[str, int]], min_splits: int
) -> list[tuple[str, int, int, int]]:
    """Fan a too-short split list out to ~``min_splits`` tasks by row RANGES:
    each (path, row_group) split becomes n ≥ 1 shards (path, row_group,
    shard, n_shards), shard i folding rows [i·rows/n, (i+1)·rows/n) of its
    split. The small-input remedy for the one-split-per-file rule: a single
    12 MB one-row-group file otherwise serializes the whole fold on one
    core. Each shard re-decodes its split's column chunks (parquet offers
    no sub-row-group random access), so this trades bounded duplicate
    decode — cheap for the narrow columns this source exists for — for fold
    parallelism; at real scale the split list is already ≥ cores long and
    this returns 1-shard entries unchanged. Only valid for folds whose
    merged result is partition-layout-independent (the mergeable-sketch
    contract all consumers of this source satisfy)."""
    base = [(p, rg, 0, 1) for p, rg in splits]
    if len(splits) >= min_splits or min_splits <= 1:
        return base
    import pyarrow.parquet as pq

    counts = []
    for p, rg in splits:
        md = pq.read_metadata(p)
        counts.append(md.row_group(rg).num_rows if rg >= 0 else md.num_rows)
    total = sum(counts)
    if total == 0:
        return base
    out: list[tuple[str, int, int, int]] = []
    for (p, rg), cnt in zip(splits, counts):
        n = max(1, min(round(min_splits * cnt / total), cnt))
        out.extend((p, rg, i, n) for i in range(n))
    return out


def map_parquet_batches(
    spark: SparkSession,
    path: str,
    columns: list[str],
    fold: Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]],
    out_schema: str,
    split_row_groups: bool = False,
    filters: list[tuple] | None = None,
    min_splits: int | None = None,
) -> DataFrame:
    """Run ``fold`` (a batches→batches kernel, same contract as a
    ``mapInArrow`` function) over ``columns`` of the parquet data at
    ``path``, reading columnar-direct in the worker: at most
    ``defaultParallelism`` (P) tasks, each running ONE ``fold`` over a
    contiguous run of splits.

    The split frame is ``spark.range(0, n, 1, min(n, P))``: Range slices
    its interval evenly and deterministically (unlike a round-robin
    ``repartition``, which can collide splits into one task), and the
    kernel looks up ``sharded[id]`` for each id of its slice from its
    closure. The closure
    therefore grows with the split count; PySpark broadcasts a pickled
    command above 1 MB, so a long split list ships once per executor, not
    per task.

    ``use_threads=False`` on the pyarrow reader: each task is already one
    core's worth of work — per-task thread pools would oversubscribe the
    executor and wreck the task-count = parallelism accounting.

    ``split_row_groups``: one split per (file, row-group) instead of per
    file — the remedy when a few giant files would otherwise serialize the
    scan (a parquet row group is the file's independently-readable unit,
    exactly what Spark's own scan splits on). Costs one footer read per
    file on the driver; a real lakehouse hands out the same splits from
    the table manifest without touching footers.

    ``filters``: conjunctive (column, op, literal) predicates, turned into
    one Arrow expression and pushed down in two layers exactly like a
    lakehouse scan: Arrow's statistics pruning drops the row groups that
    cannot match (on the DRIVER's split list — pruned splits are never
    scheduled, their column chunks never read — and inside a task's
    whole-file split), and each TASK applies the residual filter
    columnar-side before the fold sees a batch. Filter-only columns are
    read for the filter and dropped before the fold, so the fold's contract
    (exactly ``columns``) is unchanged. NULL semantics are SQL WHERE's:
    NULLs never pass."""
    expr = _filter_expression(filters)
    splits = parquet_splits(path, split_row_groups=split_row_groups, filters=filters)
    # ``min_splits`` (see shard_splits): fan small split lists out by row
    # ranges so the fold's parallelism isn't capped by the file count
    sharded = shard_splits(splits, min_splits or 0)
    n = len(sharded)
    ids = spark.range(0, n, 1, min(n, spark.sparkContext.defaultParallelism))

    read_cols = columns
    if filters:
        read_cols = columns + [
            f[0] for f in filters if f[0] not in columns
        ]

    def read_and_fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        def split_batches() -> Iterator[pa.RecordBatch]:
            for rb in batches:
                for i in rb.column(0).to_pylist():
                    p, rg, shard, n_shards = sharded[i]
                    frag = _fragment(p, expr, None if rg < 0 else [rg])
                    groups = frag.row_groups
                    if not groups:
                        continue
                    # shard row range over the split's RAW rows (before
                    # the residual filter) — every shard of a split derives
                    # the same range bounds, so shards partition the split
                    # exactly
                    split_rows = sum(g.num_rows for g in groups)
                    lo = split_rows * shard // n_shards
                    hi = split_rows * (shard + 1) // n_shards
                    pos = 0
                    # close each handle as its split is exhausted — a task
                    # over many splits must not hold every fd until GC
                    with pq.ParquetFile(p, metadata=frag.metadata) as pf:
                        for raw in pf.iter_batches(
                            columns=read_cols,
                            use_threads=False,
                            row_groups=[g.id for g in groups],
                        ):
                            nrows = raw.num_rows
                            if n_shards > 1:
                                s = max(lo - pos, 0)
                                e = min(hi - pos, nrows)
                                pos += nrows
                                if e <= s:
                                    if pos >= hi:
                                        break
                                    continue
                                raw = raw.slice(s, e - s)
                            if expr is None:
                                yield raw
                            else:
                                # a NULL filter result drops the row (SQL
                                # three-valued FALSE); RecordBatch.filter
                                # takes no expression, Table.filter does
                                yield from (
                                    pa.Table.from_batches([raw])
                                    .filter(expr)
                                    .select(columns)
                                    .to_batches()
                                )

        yield from fold(split_batches())

    return ids.mapInArrow(read_and_fold, out_schema)


def parquet_splits(
    path: str,
    split_row_groups: bool = False,
    filters: list[tuple] | None = None,
) -> list[tuple[str, int]]:
    """The (file, row_group) split list — row_group = -1 means whole file.

    With ``filters``, Arrow's statistics pruning
    (``ParquetFileFragment.subset``) drops the splits that cannot match —
    the manifest-pruning layer: a pruned split is never scheduled and its
    column chunks are never read. Without ``split_row_groups`` a file is
    kept if ANY of its row groups may match; the task then prunes the same
    way and reads only the matching groups. Stats-free columns/footers
    conservatively keep their splits; correctness never depends on pruning,
    only on the residual filter."""
    files = parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    expr = _filter_expression(filters)
    if not split_row_groups and expr is None:
        return [(f, -1) for f in files]
    splits: list[tuple[str, int]] = []
    for f in files:
        groups = _fragment(f, expr).row_groups
        if split_row_groups:
            splits.extend((f, g.id) for g in groups)
        elif groups:
            splits.append((f, -1))
    # two degenerate shapes fall back to one whole-file split so callers see
    # ordinary empty-RESULT semantics instead of an empty split frame:
    # footer-only files (0 row groups) and filters that prune every split
    # (the task's own pruning then reads no row of the one file)
    return splits or [(files[0], -1)]
