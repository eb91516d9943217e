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

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    Row,
    StringType,
    StructField,
    StructType,
)

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
    STATE_SCHEMA,
    _collect_states,
    _fold_task,
    build_partials,
    default_ingest,
    numeric_ingest,
    pack_arrow_array,
    plan_num_partitions,
    sketch_agg,
)

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
    errors), builds per-partition partials, merges them. With ``count_col``
    the input is treated as pre-aggregated (item, count) pairs."""
    from ..operators.build import weighted_ingest

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

    Each input partition folds its own states in place (no shuffle), and the
    per-partition results merge like the partials of :func:`sketch_agg`."""
    states = df.select(
        F.col(state_col).alias("state"), F.lit(0).cast("long").alias("input_rows")
    ).mapInArrow(_fold_task, STATE_SCHEMA)
    return _collect_states(states, plan_num_partitions(df))


# item decode type per encoding tag for the topn() SRF family; unbound /
# unknown tags render as string (upstream's text output for untyped calls)
_TOPN_SCHEMAS = {
    enc.TYPE_INT32: LongType(),
    enc.TYPE_INT64: LongType(),
    enc.TYPE_STRING: StringType(),
    enc.TYPE_FLOAT64: DoubleType(),
    enc.TYPE_BINARY: BinaryType(),
}


def topn(spark: SparkSession, sketch: CmsTopn | None, type_tag: int | None = None) -> DataFrame:
    """The topn() SRF: DataFrame(item, frequency) sorted frequency desc.
    Empty/NULL sketch → 0 rows (expected/results.out:5-15)."""
    item_t = _TOPN_SCHEMAS.get(
        type_tag if type_tag is not None else (sketch.item_type if sketch else enc.TYPE_STRING),
        StringType(),
    )
    schema = StructType(
        [StructField("item", item_t, True), StructField("frequency", LongType(), True)]
    )
    rows = [] if sketch is None else [Row(item=i, frequency=f) for i, f in sketch.topn_list(type_tag)]
    return spark.createDataFrame(rows, schema)


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
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def add(states: pd.Series, items: pd.Series) -> pd.Series:
        out = []
        for st, item in zip(states, items):
            if st is None:
                out.append(None)
                continue
            sk = sketch_from_bytes(bytes(st))
            if item is not None:
                sk.add(item)
            out.append(sk.to_bytes())
        return pd.Series(out)

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
    in the schema table, so typed columns are the rule; only unbound
    (TYPE_UNSET) sketches render as strings, and a column mixing bound tags
    raises rather than silently stringifying."""
    from pyspark.sql.types import ArrayType

    if type_tag is None:
        probe = df.select(state_col).where(F.col(state_col).isNotNull()).first()
        if probe is not None:
            type_tag = sketch_from_bytes(bytes(probe[0])).item_type
    item_t = _TOPN_SCHEMAS.get(type_tag, StringType())
    native = type_tag in _TOPN_SCHEMAS
    item_schema = StructType(
        [StructField("item", item_t, True), StructField("frequency", LongType(), True)]
    )

    @pandas_udf(ArrayType(item_schema))
    def explode_topn(states: pd.Series) -> pd.Series:
        out = []
        for st in states:
            if st is None:
                out.append([])
                continue
            sk = sketch_from_bytes(bytes(st))
            if native and sk.item_type not in (type_tag, enc.TYPE_UNSET):
                raise TypeError(
                    f"sketch bound to item type tag {sk.item_type} in a "
                    f"column exploded as tag {type_tag}"
                )
            out.append(
                [
                    (i if native else str(i), int(f))
                    for i, f in sk.topn_list(type_tag if native else None)
                ]
            )
        return pd.Series(out)

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


_TAG_TO_ARROW = {
    enc.TYPE_INT32: pa.int32(),
    enc.TYPE_INT64: pa.int64(),
    enc.TYPE_FLOAT64: pa.float64(),
    enc.TYPE_STRING: pa.string(),
    enc.TYPE_BINARY: pa.binary(),
}


def _pack_for_probe(items: pd.Series, sk) -> tuple:
    """Encode a probe column with the sketch's BOUND item type.

    A nullable integer column reaches pandas as float64 (NaN for nulls); naive
    packing would tag it TYPE_FLOAT64 and every estimate would silently be 0.
    Dropping nulls first, then casting the Arrow array to the sketch's bound
    type, restores build-time encoding; a genuinely incompatible column (e.g.
    strings probed against an int sketch, or 7.5 against int64) raises instead
    of hashing garbage. Returns (data, offsets, lengths, notnull_mask).

    Contract asymmetry (deliberate): the scalar API (CmsTopn.estimate) rejects
    ANY float probe against an int-bound sketch, while this column path
    accepts a float64 column whose values are all integral — because pandas
    delivers every NULL-bearing int column as float64, and rejecting those
    would make NULL-tolerant probes impossible. The cast is checked (non-
    integral values or >2^53 magnitudes raise), so the loosening can never
    hash a different key than the build did."""
    from ..operators.build import arrow_type_tag

    mask = items.notna().to_numpy()
    arr = pa.Array.from_pandas(items)
    if arr.null_count:
        arr = arr.drop_null()
    want = getattr(sk, "item_type", enc.TYPE_UNSET)
    numeric = (enc.TYPE_INT32, enc.TYPE_INT64, enc.TYPE_FLOAT64)
    if want != enc.TYPE_UNSET and len(arr) and arrow_type_tag(arr.type) != want:
        have = arrow_type_tag(arr.type)
        if not (have in numeric and want in numeric):
            # int vs string sketch etc. — cross-family probes are type errors,
            # not silently-zero estimates ("not proper type for this cms_topn")
            raise TypeError(
                f"probe column type tag {have} is not compatible with the "
                f"sketch's bound item type tag {want}"
            )
        if have == enc.TYPE_FLOAT64 and want != enc.TYPE_FLOAT64:
            # a NULL-bearing int column reached pandas as float64; above 2^53
            # the low bits were already rounded away — probing the rounded
            # value would silently return the wrong key's estimate
            vals = arr.to_numpy(zero_copy_only=False)
            if np.any(np.abs(vals) > 2.0**53):
                raise ValueError(
                    "probe values above 2^53 arrived as float64 (NULL-bearing"
                    " batch) and cannot be recovered exactly; filter NULLs"
                    " upstream or probe via a string column"
                )
        try:
            arr = arr.cast(_TAG_TO_ARROW[want])
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
            raise TypeError(
                f"probe column type {arr.type} has values not representable "
                f"in the sketch's bound item type tag {want}"
            ) from e
    data, offsets, lengths, tag = pack_arrow_array(arr)
    if want != enc.TYPE_UNSET and len(lengths) and tag != want:
        raise TypeError(
            f"probe column encoded as tag {tag}, sketch is bound to {want}"
        )
    return data, offsets, lengths, mask


def frequency_udf(sketch_bytes: bytes):
    """Vectorized column probe: broadcast the serialized sketch, estimate a
    whole Arrow batch per call (§3.2 of SURVEY.md — one JVM→Python crossing
    per batch, zero per-row Python)."""

    @pandas_udf(LongType())
    def probe(items: pd.Series) -> pd.Series:
        sk = _cached_sketch(sketch_bytes)
        data, offsets, lengths, mask = _pack_for_probe(items, sk)
        out = np.zeros(len(items), dtype=np.int64)
        if mask.any():
            out[mask] = sk.estimate_packed(data, offsets, lengths)
        res = pd.Series(out, dtype="Int64")
        res[~mask] = pd.NA  # frequency(s, NULL) → NULL
        return res

    return probe


def rare_token_probe_udf(sketch_bytes: bytes, threshold: int, delimiter: str = " "):
    """Per-document rare-token statistics as a PURE MAP: split each text,
    probe EVERY token against the broadcast sketch in one packed Murmur pass,
    and segment-sum per document — returns a struct (n_tokens,
    n_rare_tokens) per row.

    This is the 100-TB shape for "how many below-threshold-frequency tokens
    does each document contain": the explode→probe→groupBy(doc_id)
    formulation shuffles one row PER TOKEN (a corpus-token-count-sized
    exchange ~50× the document count) to recombine what was never apart;
    here tokens never leave the task and the plan has zero exchanges."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("n_tokens", LongType()),
            StructField("n_rare_tokens", LongType()),
        ]
    )

    @pandas_udf(schema)
    def probe(texts: pd.Series) -> pd.DataFrame:
        sk = _cached_sketch(sketch_bytes)
        # NULL text → NULL struct fields (split(NULL) yields no tokens in
        # the explode formulation and its SQL oracle; fabricating a
        # 1-token row for NULL would silently diverge from both)
        null_mask = texts.isna().to_numpy()
        # regex=True matches Spark's F.split, which ALWAYS treats the
        # delimiter as a regex (pandas' default would treat a single-char
        # "." literally while the explode formulation splits on any char).
        # Residual caveat: exotic patterns can still differ between Java's
        # and Python's regex dialects; plain delimiters are identical.
        toks = texts.fillna("").str.split(delimiter, regex=True)
        lens = toks.str.len().to_numpy(dtype=np.int64)
        if lens.sum() == 0:
            rare_out = lens.copy()
        else:
            flat = pa.Array.from_pandas(toks.explode(), type=pa.string())
            data, offsets, lengths, _tag = pack_arrow_array(flat)
            est = sk.estimate_packed(data, offsets, lengths)
            rare = np.concatenate(([0], np.cumsum(est < threshold, dtype=np.int64)))
            ends = np.cumsum(lens)
            rare_out = rare[ends] - rare[ends - lens]
        out = pd.DataFrame(
            {
                "n_tokens": pd.Series(lens, dtype="Int64"),
                "n_rare_tokens": pd.Series(rare_out, dtype="Int64"),
            }
        )
        out.loc[null_mask, ["n_tokens", "n_rare_tokens"]] = pd.NA
        return out

    return probe


def mask_udf(mms_bytes: bytes):
    """Vectorized mms_get_mask column probe (§2.1 #8) — the distributed form
    of probing a min-mask sketch for a whole column of items; mirrors
    frequency_udf (same worker cache, same typed encoding)."""

    @pandas_udf(LongType())
    def probe(items: pd.Series) -> pd.Series:
        sk = _cached_sketch(mms_bytes)
        data, offsets, lengths, mask = _pack_for_probe(items, sk)
        out = np.zeros(len(items), dtype=np.int64)
        if mask.any():
            out[mask] = sk.get_masks_packed(data, offsets, lengths).astype(np.int64)
        res = pd.Series(out, dtype="Int64")
        res[~mask] = pd.NA
        return res

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
    return sketch_agg(df.select(column), lambda: KllSketch(k), numeric_ingest, **kw)


def tdigest_add_agg(df: DataFrame, column: str, delta: float = 100.0, **kw) -> TDigest | None:
    return sketch_agg(df.select(column), lambda: TDigest(delta), numeric_ingest, **kw)


def mms_add_agg(
    df: DataFrame, item_col: str, mask_col: str, e: float = 0.001, p: float = 0.99, **kw
) -> MinMaskSketch | None:
    def ingest(sk: MinMaskSketch, batch: pa.RecordBatch) -> None:
        tbl = pa.Table.from_batches([batch])
        tbl = tbl.drop_null()
        if tbl.num_rows == 0:
            return
        data, offsets, lengths, tag = pack_arrow_array(tbl.column(0).combine_chunks())
        masks = tbl.column(1).combine_chunks().to_numpy(zero_copy_only=False).astype(np.uint64)
        sk.add_packed(data, offsets, lengths, masks, tag)

    return sketch_agg(df.select(item_col, mask_col), lambda: MinMaskSketch(e, p), ingest, **kw)


def bloom_contains_udf(bloom_bytes: bytes):
    @pandas_udf(BooleanType())
    def probe(items: pd.Series) -> pd.Series:
        bf = _cached_sketch(bloom_bytes)
        data, offsets, lengths, mask = _pack_for_probe(items, bf)
        out = np.zeros(len(items), dtype=bool)
        if mask.any():
            out[mask] = bf.contains_packed(data, offsets, lengths)
        return pd.Series(out)

    return probe


def bloom_semi_join(
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    capacity: int,
    fpp: float = 1e-6,
) -> DataFrame:
    """Semi-join ``probe`` against a Bloom filter of ``build[build_key]``.

    The filter is built as a single pass of per-partition partials OR-merged
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
