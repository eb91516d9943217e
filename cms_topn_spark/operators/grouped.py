"""Two-level per-group sketch aggregation for GROUP BY at any cardinality.

Shuffling whole groups to single tasks moves every raw row and caps
parallelism at the group count — wrong when groups are few or a group's
rows dwarf an executor. This operator has the same shape as the global
build, with one ``mapInArrow`` per stage:

  stage 1 (map-side, shuffle-free): each task buffers its Arrow batches into
      bounded windows, sorts each window by key with one C++ sort and hands
      it to the sketch's ``fold_window`` hook, which folds every group's
      slice into the state the task carries for that group; the task emits
      (group, state), one row per (task, group-in-task);
  stage 2: hash-repartition the *sketch-sized* rows by group, sort each
      partition's states by group (stable, so arrival order holds within a
      group) and merge them through the sketch's ``merge_groups`` hook —
      fused with the readout (a statistic, or the serialized state for the
      states API), so no merged state crosses back to the JVM only to be
      read again.

The hooks live on the sketch protocol (core/base.py). Their defaults are a
per-group loop (stage 1) and the pairwise fold (stage 2). Count-min
overrides both with kernels that treat all groups at once
(core/cms_topn.py): one hash pass per window for linear update (conservative
update keeps the per-group loop, since its counters depend on how rows are
batched), and for either update mode a level-wise merge that folds the k-th
state of every group in one step.

The shuffle therefore moves |groups-per-partition| · |state| bytes instead of
the raw rows — the count-min analogue of a map-side combine. Skewed groups
cost nothing extra: a hot key's rows stay where they are and fold locally.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.base import sketch_from_bytes
from .build import TAG_TOPN_TYPES, spark_item_tag


# stage-1 dice window bounds: flush on whichever trips first. ~512k rows
# keeps the per-window sort and fold amortized; ~128 MB of Arrow buffers
# bounds per-task memory even when the value column is document-sized text.
_DICE_MAX_ROWS = 524_288
_DICE_MAX_BYTES = 128 << 20


def _key_runs(keys) -> tuple[np.ndarray, np.ndarray]:
    """A sorted key column as numpy, and its run boundaries: run i is rows
    ``bounds[i]:bounds[i + 1]``."""
    kn = keys.to_numpy()
    return kn, np.flatnonzero(np.concatenate(([True], kn[1:] != kn[:-1], [True])))


def _state_fold(
    group_col: str,
    value_col: str,
    factory: Callable[[], object],
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The stage-1 fold as a batches→batches kernel, shared by the
    DataFrame path (``mapInArrow`` after a Spark scan) and the
    columnar-direct :func:`grouped_quantiles_parquet` (no JVM row pivot).
    Each window goes through the sketch's ``fold_window`` hook; the default
    feeds every key-slice to the sketch's ``add_arrow``, which picks packed
    items or float64 values. NULL keys sort last
    and are dropped here, so the direct path, where no Catalyst filter ran
    upstream, needs no filter of its own."""
    # snapshot the caps into the closure (captured by value, so they ship to
    # the workers with the task instead of re-resolving module globals there)
    max_rows, max_bytes = _DICE_MAX_ROWS, _DICE_MAX_BYTES
    cols = [group_col, value_col]

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        proto = factory()
        carried: dict = {}

        def dice(tbl: pa.Table) -> None:
            tbl = tbl.take(pc.sort_indices(tbl.column(0)))
            tbl = tbl.slice(0, tbl.num_rows - tbl.column(0).null_count)
            if tbl.num_rows == 0:
                return
            kn, bounds = _key_runs(tbl.column(0))
            proto.fold_window(
                factory, carried, list(kn[bounds[:-1]]), tbl.column(1).combine_chunks(), bounds
            )

        # buffer a bounded window before dicing: one sort and one fold per
        # ~512k rows instead of per 10k-row Arrow batch. Bounded in ROWS and
        # BYTES: the row cap alone would let a wide value column (e.g.
        # grouped_topn over document text) buffer GBs per task, so wide
        # batches flush early on accumulated Arrow buffer size.
        pend: list = []
        pend_rows = pend_bytes = 0
        for rb in batches:
            rb = rb.select(cols)  # order by NAME — file schema order varies
            pend.append(rb)
            pend_rows += rb.num_rows
            pend_bytes += rb.nbytes
            if pend_rows >= max_rows or pend_bytes >= max_bytes:
                dice(pa.Table.from_batches(pend).combine_chunks())
                pend, pend_rows, pend_bytes = [], 0, 0
        if pend:
            dice(pa.Table.from_batches(pend).combine_chunks())
        if carried:
            ks = list(carried.keys())
            yield pa.RecordBatch.from_pydict(
                {
                    group_col: pa.array(ks),
                    "state": pa.array([carried[k].to_bytes() for k in ks], pa.binary()),
                }
            )

    return partials


def _merge_readout(
    partials: DataFrame,
    group_col: str,
    gtype: str,
    readout: Callable[[object], dict],
    out_schema: str,
) -> DataFrame:
    """Merge each group's partial states AND read the final statistics out
    in the SAME ``mapInArrow``: partials go in once, typed columns come
    out, and the merged state dies inside the worker. A separate merge
    would ship every merged state Python→JVM→Arrow→Python before the
    readout, and the top-n explode would cost a second shuffle.

    ``readout`` maps a group's merged live sketch to column → list-of-values
    (one entry per output row for that group: statistics readouts return
    length-1 lists, explodes one entry per retained item, and the states
    API the serialized state). Each output column is built with the Arrow
    type that ``out_schema`` declares; the group column passes through with
    the type it arrived with.

    The partials are hash-repartitioned by group. Each partition is sorted
    by group with one stable C++ sort and its groups go through the
    sketch's ``merge_groups`` hook in one call — one step per merge level
    for count-min, the pairwise fold by default — instead of one
    Python slice per group. Merge order within a group is arrival order,
    exactly as unordered as the shuffle's row order; all gated readouts run
    in merge-order-independent regimes."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    P = partials.sparkSession.sparkContext.defaultParallelism
    fields = list(to_arrow_schema(DataType.fromDDL(out_schema)))

    def merge_readout(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = [rb for rb in batches if rb.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        # sort the keys only: the states stay where they arrived
        order = pc.sort_indices(tbl.column(group_col))
        keys = tbl.column(group_col).take(order)
        _, bounds = _key_runs(keys)
        states = tbl.column("state").to_pylist()
        order = order.to_numpy().tolist()
        sketch_cls = type(sketch_from_bytes(states[0]))
        reps: list[int] = []
        out: dict[str, list] = {f.name: [] for f in fields}
        for sk in sketch_cls.merge_groups(
            [states[i] for i in order[lo:hi]]
            for lo, hi in zip(bounds[:-1].tolist(), bounds[1:].tolist())
        ):
            cols = readout(sk)
            reps.append(len(cols[fields[0].name]))
            for c, vals in cols.items():
                out[c].extend(vals)
        yield pa.RecordBatch.from_arrays(
            [keys.take(np.repeat(bounds[:-1], reps)).combine_chunks()]
            + [pa.array(out[f.name], f.type) for f in fields],
            [group_col] + [f.name for f in fields],
        )

    return partials.repartition(P, group_col).mapInArrow(
        merge_readout, f"{group_col} {gtype}, {out_schema}"
    )


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
    aggregate functions skipping NULLs), by a filter Catalyst can push into
    the scan."""
    states, gtype = _partial_states(df, group_col, value_col, factory)
    return _merge_readout(
        states, group_col, gtype, lambda sk: {"state": [sk.to_bytes()]}, "state binary"
    )


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
    probe runs inside ``mapInArrow`` over sketch-sized rows — no state ever
    reaches the driver, so the pattern holds at any group cardinality."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DataType

    gtype = dict(states.dtypes)[group_col]
    schema = f"{group_col} {gtype}, {item_col} {item_type}, {freq_col} long"
    # built with the declared item type: mapInArrow reads each output vector
    # as the schema says, so an int64 vector under an ``int`` column fails
    item_arr = pa.array(items, to_arrow_type(DataType.fromDDL(item_type)))
    n_items = len(items)
    nulls = item_arr.is_null().to_numpy(zero_copy_only=False)

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            # one packed Murmur pass per state, not a per-item loop
            sks = map(sketch_from_bytes, rb.column("state").to_pylist())
            freqs = np.array([sk._probe(item_arr, sk.estimate_packed, 0) for sk in sks], np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(group_col).take(np.repeat(np.arange(n), n_items)),
                    item_arr.take(np.tile(np.arange(n_items), n)),
                    pa.array(freqs.ravel(), mask=np.tile(nulls, n)),
                ],
                [group_col, item_col, freq_col],
            )

    return states.mapInArrow(probe, schema)


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

    tag = spark_item_tag(dict(df.dtypes)[value_col], "grouped_topn")
    partials, gtype = _partial_states(
        df, group_col, value_col, lambda: CmsTopn(n, e, p, update="linear")
    )
    return _merge_readout(
        partials, group_col, gtype, _topn_cols, f"item {TAG_TOPN_TYPES[tag]}, frequency long"
    )


def _topn_cols(sk) -> dict:
    top = sk.topn_list()
    return {"item": [item for item, _ in top], "frequency": [freq for _, freq in top]}


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
    STATES (k float64s per group, not the group's rows) and reads the
    quantiles out of each merged state in the same distributed pass — no
    state ever reaches the driver, and no group's raw rows are shuffled.

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
    task reads its own run of file splits with pyarrow and folds it, skipping
    Spark's columnar → row → Arrow double pivot: the pivot cost ~8× the
    scan itself in JVM CPU and its per-thread throughput dropped ~2.6× at
    8 task threads, which capped this operator's N→4N scaling at ~0.44
    while the fold itself scaled cleanly (BENCH/BASELINE.md §2b).
    The group type comes from the parquet footer. ``split_row_groups`` is
    the giant-file remedy (one split per row group); ``filters`` push
    (column, op, literal) conjuncts into the scan — Arrow's row-group
    pruning plus its residual filter, the direct source's answer to
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
        _state_fold(group_col, value_col, lambda: KllSketch(k)),
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
    """One row (group, estimate) per group for ANY mergeable sketch, built
    through the same per-(task, group) partial-state fold + states-only
    exchange + fused merge-readout as the typed grouped forms. Shuffling
    each group's RAW ROWS to one task would be both a full row exchange and
    a parallelism cap equal to the group count with few groups; here stage 1
    folds shuffle-free at scan parallelism and only sketch states move.

    Stage 1 feeds the sketch through its own ``add_arrow`` (packed items
    or float64 values). The estimate equals the
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
