"""Two-level per-group sketch aggregation for high-cardinality GROUP BY.

``groupwise.groupwise_estimate`` shuffles whole groups to single tasks —
right when groups are few, wrong when a group's rows dwarf an executor. This
operator is the scale form, the same shape as the global build:

  stage 1 (map-side, shuffle-free): each task partitions its Arrow batches by
      key with one C++ sort, folds every key-slice into that key's sketch,
      and emits (group, state) — one row per (task, group-in-task);
  stage 2: hash-repartition the *sketch-sized* rows by group and fold each
      partition's states into one live sketch per group — fused with the
      statistic readout for the quantile/top-n/distinct forms, so the merged
      state never crosses back to the JVM (the states API keeps the unfused
      merge for probe-style consumers).

The shuffle therefore moves |groups-per-partition| · |state| bytes instead of
the raw rows — the count-min analogue of a map-side combine. Skewed groups
cost nothing extra: a hot key's rows stay where they are and fold locally.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.base import sketch_from_bytes
from .build import ingest_array


# stage-1 dice window bounds: flush on whichever trips first. ~512k rows
# keeps the per-window Python group loop amortized; ~128 MB of Arrow buffers
# bounds per-task memory even when the value column is document-sized text.
_DICE_MAX_ROWS = 524_288
_DICE_MAX_BYTES = 128 << 20

# Spark value-column dtype → topn item column type; the per-tag decode
# matches functions/sketch_api._TOPN_SCHEMAS (int family decodes to long,
# float family to double — the encoding hashes all floats as float64).
_ITEM_TYPES = {
    "tinyint": "long",
    "smallint": "long",
    "int": "long",
    "bigint": "long",
    "float": "double",
    "double": "double",
    "string": "string",
    "binary": "binary",
}


def _state_fold(
    group_col: str,
    value_col: str,
    factory: Callable[[], object],
    drop_null_keys: bool = False,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The stage-1 fold as a batches→batches kernel, shared by the
    DataFrame path (``mapInArrow`` after a Spark scan) and the
    columnar-direct :func:`grouped_quantiles_parquet` (no JVM row pivot).
    Each key-slice goes through ``build.ingest_array``, so the sketch's
    own protocol picks packed items or float64 values.
    ``drop_null_keys`` performs the NULL-group drop inside the kernel for
    the direct path, where no Catalyst filter ran upstream."""
    # snapshot the caps into the closure (captured by value, so they ship to
    # the workers with the task instead of re-resolving module globals there)
    max_rows, max_bytes = _DICE_MAX_ROWS, _DICE_MAX_BYTES
    cols = [group_col, value_col]

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sketches: dict = {}

        def dice(tbl: pa.Table) -> None:
            keys = tbl.column(0)
            order = pc.sort_indices(keys)
            tbl = tbl.take(order)
            keys = tbl.column(0).combine_chunks()
            vals = tbl.column(1).combine_chunks()
            if len(keys) == 0:
                return
            # group boundaries on the sorted key column (C++-side compare)
            kn = keys.to_numpy(zero_copy_only=False)
            bounds = np.flatnonzero(
                np.concatenate(([True], kn[1:] != kn[:-1], [True]))
            )
            for i in range(len(bounds) - 1):
                lo, hi = int(bounds[i]), int(bounds[i + 1])
                key = kn[lo]
                if key is None:
                    continue
                sl = vals.slice(lo, hi - lo)
                if sl.null_count == len(sl):
                    continue
                sk = sketches.get(key)
                if sk is None:
                    sk = sketches[key] = factory()
                ingest_array(sk, sl)

        # buffer a bounded window before dicing: one sort + one Python
        # group loop per ~512k rows instead of per 10k-row Arrow batch —
        # at G groups in the task this is G slice-ingests per window, not
        # G × (batches in window). Bounded in ROWS and BYTES: the row cap
        # alone would let a wide value column (e.g. grouped_topn over
        # document text) buffer GBs per task, so wide batches flush early
        # on accumulated Arrow buffer size.
        pend: list = []
        pend_rows = pend_bytes = 0
        for rb in batches:
            rb = rb.select(cols)  # order by NAME — file schema order varies
            if drop_null_keys and rb.column(0).null_count:
                rb = rb.filter(pc.is_valid(rb.column(0)))
            pend.append(rb)
            pend_rows += rb.num_rows
            pend_bytes += rb.nbytes
            if pend_rows >= max_rows or pend_bytes >= max_bytes:
                dice(pa.Table.from_batches(pend).combine_chunks())
                pend, pend_rows, pend_bytes = [], 0, 0
        if pend:
            dice(pa.Table.from_batches(pend).combine_chunks())
        if sketches:
            ks = list(sketches.keys())
            yield pa.RecordBatch.from_pydict(
                {
                    group_col: pa.array(ks),
                    "state": pa.array([sketches[k].to_bytes() for k in ks], pa.binary()),
                }
            )

    return partials


def _fold_partition_states(
    states: DataFrame, group_col: str
) -> tuple[DataFrame, Callable]:
    """Shared stage-2 shape: hash-repartition the (group, state) partials by
    group and return (repartitioned frame, per-partition folder) — the
    folder walks a partition's pandas chunks once and merges every group's
    states into a dict of live sketches. One Python-side fold per
    PARTITION instead of one ``applyInPandas`` slice per GROUP: at high
    group cardinality the per-group overhead (a pandas frame sliced in and
    another built out per group, ~0.5 ms each) dominated the whole
    operator — 15k groups cost ~7.5 s through applyInPandas and ~0.5 s
    through this fold over the same exchange. Merge order within a group is arrival order, exactly as
    unordered as the applyInPandas row order was; all gated readouts run in
    merge-order-independent regimes."""
    P = states.sparkSession.sparkContext.defaultParallelism

    def fold(pdfs: Iterator[pd.DataFrame]) -> dict:
        groups: dict = {}
        for pdf in pdfs:
            for g, st in zip(pdf[group_col], pdf["state"]):
                sk = sketch_from_bytes(bytes(st))
                acc = groups.get(g)
                groups[g] = sk if acc is None else acc.merge(sk)
        return groups

    return states.repartition(P, group_col), fold


def _merge_states(states: DataFrame, group_col: str, gtype: str) -> DataFrame:
    parts, fold = _fold_partition_states(states, group_col)

    def merge_partition(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        groups = fold(pdfs)
        if groups:
            yield pd.DataFrame(
                {
                    group_col: list(groups.keys()),
                    "state": [sk.to_bytes() for sk in groups.values()],
                }
            )

    return parts.mapInPandas(merge_partition, f"{group_col} {gtype}, state binary")


def _merge_readout(
    partials: DataFrame,
    group_col: str,
    gtype: str,
    readout: Callable[[object], dict],
    out_schema: str,
) -> DataFrame:
    """Merge each group's partial states AND read the final statistics out
    in the SAME Python eval. The two-step form (applyInPandas merge →
    mapInPandas readout) ships every merged state Python→JVM→Arrow→Python
    between the two evals — at KLL k=4096 over 1,500 groups that is
    ~100 MB of Arrow traffic whose only purpose is plumbing, and for the
    top-n readout it previously cost a SECOND shuffle (the merged frame was
    re-grouped for the explode). Here partials go in once, scalars come
    out, and the merged state dies inside the worker.

    ``readout`` maps a group's merged live sketch to column → list-of-values (one
    list entry per output row for that group; statistics readouts return
    length-1 lists, explodes return one entry per retained item).

    Stage 2 runs as ONE fold + ONE readout pass per partition
    (:func:`_fold_partition_states`), not one applyInPandas slice per
    group — the per-group pandas overhead dominated at high group
    cardinality."""
    parts, fold = _fold_partition_states(partials, group_col)

    def fn(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        groups = fold(pdfs)
        if not groups:
            return
        out_g: list = []
        out_cols: dict[str, list] = {}
        for g, acc in groups.items():
            cols = readout(acc)
            n = len(next(iter(cols.values())))
            out_g.extend([g] * n)
            for c, vals in cols.items():
                out_cols.setdefault(c, []).extend(vals)
        yield pd.DataFrame({group_col: out_g, **out_cols})

    return parts.mapInPandas(fn, f"{group_col} {gtype}, {out_schema}")


def grouped_sketch_states(
    df: DataFrame,
    group_col: str,
    value_col: str,
    factory: Callable[[], object],
) -> DataFrame:
    """(group, state): one merged serialized sketch per group, two-level.

    No input spreading here (unlike the dedup kernels): round-robin
    repartitioning scatters every group into every task, multiplying the
    stage-1 state count by the task count (measured 1.5× SLOWER on the
    single-file test corpus than the serial fold it parallelizes) — and at
    real scale inputs already have ≥ cores splits, so spreading buys
    nothing there either.

    NULL group keys are dropped up front (documented semantics, like
    aggregate functions skipping NULLs): letting them through would
    float64-coerce an int key column inside the Arrow kernel (NaN for the
    null), breaking the declared schema — and silently corrupting int keys
    above 2^53 in the same window."""
    states, gtype = _partial_states(df, group_col, value_col, factory)
    return _merge_states(states, group_col, gtype)


def _partial_states(
    df: DataFrame,
    group_col: str,
    value_col: str,
    factory: Callable[[], object],
) -> tuple[DataFrame, str]:
    """Stage 1 only: the shuffle-free per-(task, group) partial states (and
    the group type) — the input both the states API and the fused
    merge-readouts consume."""
    gtype = dict(df.dtypes)[group_col]
    df = df.where(F.col(group_col).isNotNull())
    partials = _state_fold(group_col, value_col, factory)
    return (
        df.select(group_col, value_col).mapInArrow(
            partials, f"{group_col} {gtype}, state binary"
        ),
        gtype,
    )


def grouped_probe(
    states: DataFrame,
    group_col: str,
    items: list,
    item_col: str = "item",
    item_type: str = "string",
    freq_col: str = "frequency",
) -> DataFrame:
    """Probe every group's sketch for a fixed item list, distributed.

    Input is the (group, state) frame from :func:`grouped_sketch_states`;
    output is one row per (group, item) with the estimated frequency. The
    probe runs inside ``mapInPandas`` over sketch-sized rows — no state ever
    reaches the driver, so the pattern holds at any group cardinality."""
    from ..core.base import sketch_from_bytes

    gtype = dict(states.dtypes)[group_col]
    schema = f"{group_col} {gtype}, {item_col} {item_type}, {freq_col} long"

    def probe(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            out_g, out_i, out_f = [], [], []
            for g, st in zip(pdf[group_col], pdf["state"]):
                sk = sketch_from_bytes(bytes(st))
                # one packed Murmur pass per state, not a per-item loop
                for it, f in zip(items, sk.estimate_many(items)):
                    out_g.append(g)
                    out_i.append(it)
                    out_f.append(f)
            yield pd.DataFrame({group_col: out_g, item_col: out_i, freq_col: out_f})

    return states.mapInPandas(probe, schema)


def grouped_topn(
    df: DataFrame, group_col: str, value_col: str, n: int, e: float = 0.001, p: float = 0.99
) -> DataFrame:
    """Per-group heavy hitters: (group, item, frequency), freq desc per group.

    Items come back with the sketch's BOUND type, matching the driver-level
    ``topn()`` / ``topn_explode`` — the item type is read from the VALUE
    column's Spark type (int family → long, float family → double, string /
    binary kept), so no driver action is needed. Only types the item
    encoding itself cannot represent (encoding.py raises for composites)
    are outside this table; nothing silently degrades to ``str(item)``."""
    from ..core.cms_topn import CmsTopn

    vtype = dict(df.dtypes)[value_col]
    item_type = _ITEM_TYPES.get(vtype)
    if item_type is None:
        raise TypeError(
            f"grouped_topn value column type {vtype!r} has no sketch item "
            f"encoding (supported: {sorted(_ITEM_TYPES)})"
        )

    partials, gtype = _partial_states(
        df, group_col, value_col, lambda: CmsTopn(n, e, p, update="linear")
    )
    return _merge_readout(
        partials, group_col, gtype, _topn_cols, f"item {item_type}, frequency long"
    )


def _topn_cols(sk) -> dict:
    items, freqs = [], []
    for item, freq in sk.topn_list():
        items.append(item)
        freqs.append(freq)
    return {
        "item": pd.Series(items, dtype=object),
        "frequency": pd.Series(freqs, dtype="int64"),
    }


def grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple = (0.25, 0.5, 0.75),
    q_names: tuple = ("q25", "q50", "q75"),
    k: int = 200,
) -> DataFrame:
    """Per-group KLL quantiles at ANY group cardinality — the map-side-combine
    scale form for numeric sketches: stage 1 folds each task's rows into
    per-(task, group) KLL states shuffle-free, stage 2 shuffles and merges
    STATES (k float64s per group, not the group's rows), stage 3 reads the
    quantiles out of each merged state distributed (mapInPandas — no state
    ever reaches the driver). Contrast ``groupwise.groupwise_estimate``,
    which ships whole groups to single tasks and only suits few-group cases.

    In the exact regime (per-group n below the compaction threshold for
    ``k``) each quantile equals DuckDB/PostgreSQL ``quantile_cont`` bitwise;
    beyond it the KLL rank-error bound applies per group."""
    from ..core.kll import KllSketch

    if len(qs) != len(q_names):
        raise ValueError("qs and q_names must have the same length")
    partials, gtype = _partial_states(df, group_col, value_col, lambda: KllSketch(k))
    return _merge_readout(
        partials, group_col, gtype, _quantile_cols(qs, q_names),
        ", ".join(f"{n} double" for n in q_names),
    )


def _quantile_cols(qs: tuple, q_names: tuple) -> Callable[[object], dict]:
    def readout(sk) -> dict:
        vals = sk.quantiles(qs)
        return {n: [v] for n, v in zip(q_names, vals)}

    return readout


def grouped_quantiles_parquet(
    spark,
    path: str,
    group_col: str,
    value_col: str,
    qs: tuple = (0.25, 0.5, 0.75),
    q_names: tuple = ("q25", "q50", "q75"),
    k: int = 200,
    split_row_groups: bool = False,
    filters: list[tuple] | None = None,
) -> DataFrame:
    """:func:`grouped_quantiles` over a parquet path via the COLUMNAR-DIRECT
    ingest (sources/parquet_direct.py) — identical semantics and oracle
    (same fold, same states-only exchange, same distributed readout). Each
    task reads its own file split with pyarrow and folds it, skipping
    Spark's columnar → row → Arrow double pivot: the pivot cost ~8× the
    scan itself in JVM CPU and its per-thread throughput dropped ~2.6× at
    8 task threads, which capped this operator's N→4N scaling at ~0.44
    while the fold itself scaled cleanly (BENCH/BASELINE.md §2b).
    The group type comes from the parquet footer. ``split_row_groups`` is
    the giant-file remedy (one task per row group); ``filters`` push
    (column, op, literal) conjuncts into the scan — statistics-pruned
    splits plus a columnar residual mask, the direct source's answer to
    Catalyst pushdown. A small input (one single-row-group file — the gate
    tables' shape) is row-range-sharded up to the core count
    (parquet_direct.shard_splits), which KLL's layout-independent merge
    allows (bitwise so in the exact regime)."""
    from ..core.kll import KllSketch
    from ..sources.parquet_direct import map_parquet_batches, spark_type_of

    if len(qs) != len(q_names):
        raise ValueError("qs and q_names must have the same length")
    gtype = spark_type_of(path, group_col)
    partials = map_parquet_batches(
        spark, path, [group_col, value_col],
        _state_fold(group_col, value_col, lambda: KllSketch(k), drop_null_keys=True),
        f"{group_col} {gtype}, state binary",
        split_row_groups=split_row_groups, filters=filters,
        min_splits=spark.sparkContext.defaultParallelism,
    )
    return _merge_readout(
        partials, group_col, gtype, _quantile_cols(qs, q_names),
        ", ".join(f"{n} double" for n in q_names),
    )


def grouped_estimate(
    df: DataFrame,
    group_col: str,
    value_col: str,
    factory: Callable[[], object],
    estimator: Callable[[object], object],
    out_field: str,
    out_type: str,
) -> DataFrame:
    """Two-level scale form of ``groupwise.groupwise_estimate``: one row
    (group, estimate) per group for ANY mergeable sketch, built through the
    same per-(task, group) partial-state fold + states-only exchange + fused
    merge-readout as the typed grouped forms. ``groupwise_estimate`` shuffles
    each group's RAW ROWS to one task — with few groups that is both a full
    row exchange and a parallelism cap equal to the group count; here stage 1
    folds shuffle-free at scan parallelism and only sketch states move.

    Stage 1 feeds the sketch through its own protocol (packed items or
    float64 values, ``build.ingest_array``). The estimate equals the
    single-sketch build wherever the sketch's merge is order-independent
    (HLL set/register union, KLL in the exact regime, t-digest with
    ``delta ≥ πN`` — singleton centroids survive any merge order), which is
    exactly the regime the correctness gates run in."""
    partials, gtype = _partial_states(df, group_col, value_col, factory)
    return _merge_readout(
        partials, group_col, gtype,
        lambda sk: {out_field: [estimator(sk)]}, f"{out_field} {out_type}",
    )


def grouped_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p: int = 14,
    sparse_limit: int | None = 1 << 22,
    out_col: str = "distinct_values",
) -> DataFrame:
    """Per-group distinct counts at ANY group cardinality — HLL states built
    map-side and merged through the same states-only exchange as the CMS/KLL
    grouped forms; the readout runs fused into the distributed merge, so no
    state reaches the driver. Exact while each group's distinct count stays within
    the sparse-exact regime (``sparse_limit``); beyond it the standard HLL
    error bound (~1.04/√2^p) applies per group."""
    from ..core.hll import HyperLogLog

    return grouped_estimate(
        df, group_col, value_col,
        lambda: HyperLogLog(p=p, sparse_limit=sparse_limit),
        lambda sk: int(sk.estimate()), out_col, "long",
    )
