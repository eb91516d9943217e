"""SQL-facade mirroring the reference's function surface (SURVEY.md §2.2).

Name-for-name analogues of the upstream API, re-expressed over DataFrames:

    cms_topn(n, e, p)                 → CmsTopn constructor (errors verbatim)
    cms_topn_add(sketch, item)        → CmsTopn.add (kernel, golden walkthrough)
    cms_topn_add_agg(df, col, n,e,p)  → distributed build+merge → CmsTopn
    cms_topn_union(a, b)              → merge (kernel)
    cms_topn_union_agg(df, state_col) → distributed merge of a sketch column
    topn(spark, sketch, type)         → DataFrame(item, frequency)
    cms_topn_frequency(sketch, item)  → point estimate / column-probe UDF
    cms_topn_info(sketch)             → info string

plus the companion aggregates (hll_add_agg, bloom_add_agg, kll_add_agg,
tdigest_add_agg, mms_add_agg) sharing the same build/merge machinery.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import BinaryType, BooleanType, LongType, Row, StructField, StructType

from ..core import (
    BloomFilter,
    CmsTopn,
    HyperLogLog,
    KllSketch,
    MinMaskSketch,
    TDigest,
    sketch_from_bytes,
)
from ..core import encoding as enc
from ..operators.build import (
    TAG_TOPN_TYPES,
    _fold_collect,
    _fold_task,
    default_ingest,
    sketch_agg,
    weighted_ingest,
)
from ..spark_session import local_frame

# ---------------------------------------------------------------- cms_topn


def cms_topn(n: int, e: float = 0.001, p: float = 0.99, update: str = "conservative") -> CmsTopn:
    return CmsTopn(n, e, p, update=update)


def cms_topn_add(sketch: CmsTopn | None, item) -> CmsTopn | None:
    """NULL sketch → NULL; NULL item → unchanged (expected/add.out:4-36)."""
    if sketch is None:
        return None
    return sketch.add(item)


def cms_topn_add_agg(
    df: DataFrame,
    column: str,
    n: int,
    e: float = 0.001,
    p: float = 0.99,
    update: str = "linear",
    salt_partitions: int | None = None,
    count_col: str | None = None,
) -> CmsTopn | None:
    """Distributed cms_topn_add_agg: validates parameters eagerly (verbatim
    errors), folds each task's rows into one state, merges those on the
    driver (:func:`sketch_agg`). With ``count_col``
    the input is treated as pre-aggregated (item, count) pairs."""
    CmsTopn(n, e, p)  # eager parameter validation, same error order
    cols = [column] if count_col is None else [column, count_col]
    return sketch_agg(
        df.select(*cols),
        lambda: CmsTopn(n, e, p, update=update),
        default_ingest if count_col is None else weighted_ingest,
        salt_partitions=salt_partitions,
    )


def cms_topn_union(a: CmsTopn | None, b: CmsTopn | None) -> CmsTopn | None:
    if a is None:
        return b
    if b is None:
        return a
    return a.merge(b)


def cms_topn_union_agg(df: DataFrame, state_col: str = "state") -> CmsTopn | None:
    """Merge a DataFrame column of serialized sketch states (NULLs skipped;
    all-NULL → None, expected/union_agg.out:8-18).

    The same fold shape as :func:`sketch_agg` (``build._fold_collect``): at
    most ``defaultParallelism`` tasks, no shuffle, one fold per task, and
    the task states folded on the driver."""
    return _fold_collect(
        df.select(F.col(state_col).alias("state"), F.lit(0).cast("long").alias("input_rows")),
        _fold_task,
    )


def topn(spark: SparkSession, sketch: CmsTopn | None, type_tag: int | None = None) -> DataFrame:
    """The topn() SRF: DataFrame(item, frequency) sorted frequency desc.
    Empty/NULL sketch → 0 rows (expected/results.out:5-15)."""
    item_t = TAG_TOPN_TYPES.get(
        type_tag if type_tag is not None else (sketch.item_type if sketch else enc.TYPE_STRING),
        "string",
    )
    rows = [] if sketch is None else [Row(item=i, frequency=f) for i, f in sketch.topn_list(type_tag)]
    return local_frame(spark, rows, f"item {item_t}, frequency bigint")


def cms_topn_frequency(sketch: CmsTopn | None, item) -> int | None:
    if sketch is None or item is None:
        return None
    return sketch.estimate(item)


def cms_topn_info(sketch: CmsTopn | None) -> str | None:
    return None if sketch is None else sketch.info()


def cms_topn_add_udf():
    """Row-wise cms_topn_add over a sketch-state column: (state BINARY, item)
    → new state BINARY. NULL state → NULL, NULL item → state unchanged
    (expected/add.out:4-36). This mirrors the reference's scalar form for
    tables that carry sketch columns (sql/add.sql); the bulk path
    (cms_topn_add_agg) is the one to use for building."""

    @arrow_udf(BinaryType())
    def add(states: pa.Array, items: pa.Array) -> pa.Array:
        out = []
        for st, item in zip(states.to_pylist(), items.to_pylist()):
            if st is None:
                out.append(None)
                continue
            sk = sketch_from_bytes(st)
            if item is not None:
                sk.add(item)
            out.append(sk.to_bytes())
        return pa.array(out, type=pa.binary())

    return add


def topn_explode(
    df: DataFrame, state_col: str = "state", type_tag: int | None = None
) -> DataFrame:
    """Per-row topn() SRF over a table of serialized sketches — the COPY
    round-trip scenario (output/copy.source:9-17: 6 sketches → concatenated
    groups). NULL/empty states contribute 0 rows.

    Items come back with the sketches' BOUND type (int family → long, float
    family → double, string/binary kept), matching the driver-level
    :func:`topn`. When ``type_tag`` is not given it is read from the first
    non-NULL state (one footer-sized driver action). Every encodable tag is
    in the item-type table (``build.TAG_TOPN_TYPES``), so typed columns are
    the rule; only unbound (TYPE_UNSET) sketches render as strings, and a
    column mixing bound tags raises rather than silently stringifying."""
    if type_tag is None:
        probe = df.select(state_col).where(F.col(state_col).isNotNull()).first()
        if probe is not None:
            type_tag = sketch_from_bytes(bytes(probe[0])).item_type
    native = type_tag in TAG_TOPN_TYPES
    item_t = TAG_TOPN_TYPES.get(type_tag, "string")
    # int32 items widen to the declared bigint on the way back to the JVM
    out_arrow = pa.list_(
        pa.struct(
            [("item", enc.TAG_ARROW_TYPES.get(type_tag, pa.string())), ("frequency", pa.int64())]
        )
    )

    @arrow_udf(f"array<struct<item:{item_t},frequency:bigint>>")
    def explode_topn(states: pa.Array) -> pa.Array:
        out = []
        for st in states.to_pylist():
            if st is None:
                out.append([])
                continue
            # topn_list raises for a sketch bound to another tag
            top = sketch_from_bytes(st).topn_list(type_tag if native else None)
            out.append([{"item": i if native else str(i), "frequency": int(f)} for i, f in top])
        return pa.array(out, type=out_arrow)

    return df.select(
        "*", F.explode(explode_topn(F.col(state_col))).alias("_t")
    ).select(*[c for c in df.columns], F.col("_t.item").alias("item"), F.col("_t.frequency").alias("frequency"))


_WORKER_SKETCH_CACHE: dict = {}


def _cached_sketch(b: bytes):
    """Per-worker deserialization cache: probe UDFs receive the same sketch
    bytes on every batch; parsing a multi-MB state per batch is pure waste.
    Keyed by the bytes themselves (dict equality compares content, so a hash
    collision can never return the wrong sketch)."""
    sk = _WORKER_SKETCH_CACHE.get(b)
    if sk is None:
        if len(_WORKER_SKETCH_CACHE) > 8:
            _WORKER_SKETCH_CACHE.clear()
        sk = _WORKER_SKETCH_CACHE[b] = sketch_from_bytes(b)
    return sk


def _probe_udf(sketch_bytes: bytes, method: str, return_type):
    """Vectorized point probe of a column against a broadcast sketch: one
    :meth:`ItemSketch._probe` per Arrow batch, with ``method``
    (``estimate_packed`` / ``get_masks_packed`` / ``contains_packed``) as
    its query (§3.2 of SURVEY.md — one JVM→Python crossing per batch, zero
    per-row Python). A column probes by the rule a Python value does: a
    cross-family column raises, and a value the bound type cannot hold
    exactly reads as never added. A NULL item gives NULL, except in a
    BooleanType membership probe, where a NULL is never contained and gives
    False (``bloom_anti_join`` keeps NULL-keyed rows); a mask keeps its 64
    bits as a bigint."""
    membership = isinstance(return_type, BooleanType)

    @arrow_udf(return_type)
    def probe(items: pa.Array) -> pa.Array:
        sk = _cached_sketch(sketch_bytes)
        out = sk._probe(items, getattr(sk, method), False if membership else 0)
        return pa.array(
            out, mask=None if membership else items.is_null().to_numpy(zero_copy_only=False)
        )

    return probe


def frequency_udf(sketch_bytes: bytes):
    """Column form of cms_topn_frequency: frequency(s, NULL) → NULL."""
    return _probe_udf(sketch_bytes, "estimate_packed", LongType())


def mask_udf(mms_bytes: bytes):
    """Column form of mms_get_mask (§2.1 #8): mask(s, NULL) → NULL."""
    return _probe_udf(mms_bytes, "get_masks_packed", LongType())


def bloom_contains_udf(bloom_bytes: bytes):
    """Column Bloom membership: NULL → False."""
    return _probe_udf(bloom_bytes, "contains_packed", BooleanType())


def rare_token_probe_udf(sketch_bytes: bytes, threshold: int, delimiter: str = " "):
    """Per-document rare-token statistics as a PURE MAP: split each text,
    probe EVERY token against the broadcast sketch in one packed Murmur pass,
    and segment-sum per document — returns a struct (n_tokens,
    n_rare_tokens) per row; a NULL text gives NULL fields.

    This is the 100-TB shape for "how many below-threshold-frequency tokens
    does each document contain": the explode→probe→groupBy(doc_id)
    formulation shuffles one row PER TOKEN (a corpus-token-count-sized
    exchange ~50× the document count) to recombine what was never apart;
    here tokens never leave the task and the plan has zero exchanges.

    ``delimiter`` is a regex, as in Spark's ``F.split``, but in Arrow's RE2
    dialect rather than Java's: plain delimiters and character classes split
    identically; Java-only constructs (lookaround, backreferences) are not
    supported."""
    schema = StructType(
        [
            StructField("n_tokens", LongType()),
            StructField("n_rare_tokens", LongType()),
        ]
    )

    @arrow_udf(schema)
    def probe(texts: pa.Array) -> pa.Array:
        # NULL text → NULL fields (split(NULL) yields no tokens in the
        # explode formulation and its SQL oracle; fabricating a 1-token row
        # for NULL would silently diverge from both)
        toks = pc.split_pattern_regex(texts, delimiter)
        lens = pc.list_value_length(toks).fill_null(0).to_numpy().astype(np.int64)
        sk = _cached_sketch(sketch_bytes)
        est = sk._probe(pc.list_flatten(toks), sk.estimate_packed, 0)
        rare = np.concatenate(([0], np.cumsum(est < threshold, dtype=np.int64)))
        ends = np.cumsum(lens)
        rare_out = rare[ends] - rare[ends - lens]
        nulls = texts.is_null().to_numpy(zero_copy_only=False)
        return pa.StructArray.from_arrays(
            [pa.array(lens, mask=nulls), pa.array(rare_out, mask=nulls)],
            names=["n_tokens", "n_rare_tokens"],
        )

    return probe


# ------------------------------------------------------------- companions


def hll_add_agg(
    df: DataFrame, column: str, p: int = 14, sparse_limit: int | None = None, **kw
) -> HyperLogLog | None:
    return sketch_agg(df.select(column), lambda: HyperLogLog(p, sparse_limit), default_ingest, **kw)


def bloom_add_agg(df: DataFrame, column: str, capacity: int, fpp: float = 1e-6, **kw):
    return sketch_agg(
        df.select(column), lambda: BloomFilter(capacity, fpp), default_ingest, **kw
    )


def kll_add_agg(df: DataFrame, column: str, k: int = 200, **kw) -> KllSketch | None:
    return sketch_agg(df.select(column), lambda: KllSketch(k), default_ingest, **kw)


def tdigest_add_agg(df: DataFrame, column: str, delta: float = 100.0, **kw) -> TDigest | None:
    return sketch_agg(df.select(column), lambda: TDigest(delta), default_ingest, **kw)


def mms_add_agg(
    df: DataFrame, item_col: str, mask_col: str, e: float = 0.001, p: float = 0.99, **kw
) -> MinMaskSketch | None:
    return sketch_agg(
        df.select(item_col, mask_col), lambda: MinMaskSketch(e, p), weighted_ingest, **kw
    )


def bloom_semi_join(
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    capacity: int,
    fpp: float = 1e-6,
) -> DataFrame:
    """Semi-join ``probe`` against a Bloom filter of ``build[build_key]``.

    The filter is built as a single pass of per-task filters OR-merged
    through sketch_agg (one scan of the build side, no driver-side count), then
    shipped once per executor inside the probe UDF. Returns the probe rows
    whose key is (probably) present — false positives at ``fpp``, never false
    negatives.

    Scale note: the bit array is ~1.2·capacity·ln(1/fpp)/ln²2 bits; at 10⁹
    build keys and fpp=1e-6 that is ~3.6 GB — at that scale raise fpp (each
    10× costs ~4.8 bits/key) or pre-partition both sides on the key and build
    per-partition filters instead of one global one."""
    bf = sketch_agg(
        build.select(build_key), lambda: BloomFilter(capacity, fpp), default_ingest
    )
    if bf is None:  # empty build side: nothing can match
        return probe.where(F.lit(False))
    return probe.where(bloom_contains_udf(bf.to_bytes())(F.col(probe_key)))


def bloom_anti_join(
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    capacity: int,
    fpp: float = 1e-6,
) -> DataFrame:
    """Anti-join ``probe`` against a Bloom filter of ``build[build_key]``:
    keep the probe rows whose key is definitely NOT in the build side.

    The incremental-dedup primitive for a growing corpus: dedupe a new crawl
    batch against N prior snapshots WITHOUT joining against them — one scan
    of the old corpus builds the filter (OR-merged partials), the new batch
    filters as a pure map. One-sided error: a false positive DROPS a genuinely
    new row (rate ``fpp``, tune per the retention budget); kept rows are
    guaranteed new (no false negatives ⇒ no duplicate survives). At 10⁹ old
    keys and fpp=1e-6 the filter is ~3.6 GB — raise fpp or partition both
    sides by key range and build per-range filters (bloom_semi_join note)."""
    bf = sketch_agg(
        build.select(build_key), lambda: BloomFilter(capacity, fpp), default_ingest
    )
    if bf is None:  # empty old corpus: everything is new
        return probe
    return probe.where(~bloom_contains_udf(bf.to_bytes())(F.col(probe_key)))
