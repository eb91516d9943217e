"""Canonical item → hash-input-bytes encoding, over Arrow arrays.

Mirrors the reference's ``_convertDatumToBytes`` (cms_mms.c:394-418): by-value
fixed-width types hash as their first ``typlen`` little-endian bytes (int4 → 4
LE bytes, int8 → 8 LE bytes), varlena types hash as their payload bytes with no
header (text → UTF-8 bytes, bytea → raw). This table is frozen: cross-language
hash compatibility (and therefore golden parity) depends on it.

There is one encoder, :func:`pack_arrow_array`: an Arrow array →
``(data, offsets, lengths)`` in the packed layout consumed by
:func:`cms_topn_spark.core.murmur.hash128`, plus the item-type tag stored in
the serialized sketch header (§1.2 of SURVEY.md: type stickiness). Python
values reach it through :func:`python_items`, which makes them one Arrow
array; ``TAG_ARROW_TYPES`` and :func:`arrow_type_tag` map tags to Arrow types
and back.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# item-type tags stored in the serialized header
TYPE_UNSET = 0
TYPE_INT32 = 1
TYPE_INT64 = 2
TYPE_STRING = 3
TYPE_BINARY = 4
TYPE_FLOAT64 = 5

TYPE_NAMES = {
    TYPE_UNSET: "unset",
    TYPE_INT32: "int32",
    TYPE_INT64: "int64",
    TYPE_STRING: "string",
    TYPE_BINARY: "binary",
    TYPE_FLOAT64: "float64",
}

# the Arrow type each tag encodes from (inverse: arrow_type_tag)
TAG_ARROW_TYPES = {
    TYPE_INT32: pa.int32(),
    TYPE_INT64: pa.int64(),
    TYPE_FLOAT64: pa.float64(),
    TYPE_STRING: pa.string(),
    TYPE_BINARY: pa.binary(),
}
NUMERIC_TAGS = (TYPE_INT32, TYPE_INT64, TYPE_FLOAT64)  # one item family


def pack_bytes(items: list[bytes]) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Items that are already ``bytes`` → the packed layout, no per-item checks."""
    lengths = np.fromiter(map(len, items), dtype=np.int64, count=len(items))
    offsets = np.zeros(len(items), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    return b"".join(items), offsets, lengths


def encode_arrow_strings(arr) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Zero-copy fast path for a pyarrow StringArray / BinaryArray chunk."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.drop_null()
    if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
        off_dtype = np.int64
    else:
        off_dtype = np.int32
    buffers = arr.buffers()
    offs_all = np.frombuffer(buffers[1], dtype=off_dtype)
    start = arr.offset
    offs = offs_all[start : start + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(buffers[2], dtype=np.uint8) if buffers[2] is not None else b""
    return data, offs[:-1], np.diff(offs)


def arrow_type_tag(t) -> int:
    """Item-type tag of a pyarrow type; composite types raise ``TypeError``."""
    if pa.types.is_int32(t) or pa.types.is_int16(t) or pa.types.is_int8(t):
        return TYPE_INT32
    if pa.types.is_int64(t):
        return TYPE_INT64
    if pa.types.is_floating(t):
        return TYPE_FLOAT64
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return TYPE_STRING
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return TYPE_BINARY
    raise TypeError(f"composite types are not supported (got {t})")


def pack_arrow_array(arr) -> tuple[bytes | np.ndarray, np.ndarray, np.ndarray, int]:
    """Arrow array → (data, offsets, lengths, type_tag), nulls dropped.

    Strings/binary are zero-copy views over the Arrow buffers; fixed-width
    types are views of the value buffer in their canonical little-endian
    forms (§2.1 #10), int8/int16 widened to int32 and float32 to float64."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_dictionary(arr.type):
        arr = arr.cast(arr.type.value_type)
    tag = arrow_type_tag(arr.type)
    if arr.null_count:
        arr = arr.drop_null()
    if tag in (TYPE_STRING, TYPE_BINARY):
        return (*encode_arrow_strings(arr), tag)
    if arr.type != TAG_ARROW_TYPES[tag]:
        arr = arr.cast(TAG_ARROW_TYPES[tag])
    width = arr.type.byte_width
    n = len(arr)
    # the value buffer is native-endian: these are the little-endian forms
    # on a little-endian host
    data = np.frombuffer(
        arr.buffers()[1], dtype=np.uint8, count=n * width, offset=arr.offset * width
    )
    return data, np.arange(n, dtype=np.int64) * width, np.full(n, width, dtype=np.int64), tag


def python_items(values, type_tag: int | None = None, bound: int = TYPE_UNSET) -> pa.Array:
    """Python item values → one Arrow array for :func:`pack_arrow_array`, a
    ``None`` a NULL (all ``None``: Arrow's ``null`` type).

    Arrow infers the type from every value, so values of two families (int
    and str, int and bool) or an int outside int64 raise ``TypeError``; a
    float among ints makes the batch float64. An int batch narrows to int32
    (PG's int4) unless a value is outside int32 range or ``bound`` is int64.
    A given ``type_tag`` is a checked cast within the item's family (numbers,
    or strings and bytes): 1.5 forced to an int raises, and so does 5 forced
    to a string."""
    try:
        arr = pa.array(values)
        if type_tag is None:
            if not pa.types.is_integer(arr.type):
                return arr
            if bound != TYPE_INT64:
                try:
                    return arr if pa.types.is_int32(arr.type) else arr.cast(pa.int32())
                except pa.ArrowInvalid:
                    pass  # a value outside int32: the whole batch is int64
            type_tag = TYPE_INT64
        elif (arrow_type_tag(arr.type) in NUMERIC_TAGS) != (type_tag in NUMERIC_TAGS):
            raise TypeError(f"{arr.type} items cannot be {TYPE_NAMES[type_tag]} items")
        want = TAG_ARROW_TYPES[type_tag]
        return arr if arr.type == want else arr.cast(want)
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError, OverflowError) as e:
        raise TypeError(f"cannot convert the items to one item type: {e}") from e


def held_items(arr: pa.Array, tag: int) -> pa.Array:
    """Numeric items as the numeric item type ``tag``: NULL where an item is
    NULL or does not survive the round trip through ``tag`` (2**40 as an
    int32, 7.5 or NaN as an int, 2**60 + 1 as a float64). A float outside an
    int type's range takes the trip as 0, so the test never reads what an
    out-of-range cast returns."""
    want = TAG_ARROW_TYPES[tag]
    v = arr.fill_null(0).to_numpy()

    def cast(x, dt):
        if x.dtype.kind == "f" and dt.kind == "i":
            lim = 2.0 ** (8 * dt.itemsize - 1)
            x = np.where((x >= -lim) & (x < lim), x, 0)
        return x.astype(dt)

    t = cast(v, np.dtype(want.to_pandas_dtype()))
    held = (cast(t, v.dtype) == v) & arr.is_valid().to_numpy(zero_copy_only=False)
    return pa.array(t, want, mask=~held)


def decode_one(item: bytes, type_tag: int):
    if type_tag == TYPE_INT32:
        return int.from_bytes(item, "little", signed=True)
    if type_tag == TYPE_INT64:
        return int.from_bytes(item, "little", signed=True)
    if type_tag == TYPE_FLOAT64:
        return float(np.frombuffer(item, dtype="<f8")[0])
    if type_tag == TYPE_STRING:
        return item.decode("utf-8")
    return item
