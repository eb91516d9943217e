"""Canonical item → hash-input-bytes encoding.

Mirrors the reference's ``_convertDatumToBytes`` (cms_mms.c:394-418): by-value
fixed-width types hash as their first ``typlen`` little-endian bytes (int4 → 4
LE bytes, int8 → 8 LE bytes), varlena types hash as their payload bytes with no
header (text → UTF-8 bytes, bytea → raw). This table is frozen: cross-language
hash compatibility (and therefore golden parity) depends on it.

All encoders return ``(data, offsets, lengths)`` in the packed layout consumed
by :func:`cms_topn_spark.core.murmur.hash128`, plus the item-type tag stored in
the serialized sketch header (§1.2 of SURVEY.md: type stickiness).
"""

from __future__ import annotations

import numpy as np

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


def encode_fixed(values: np.ndarray, itemsize: int) -> tuple[bytes, np.ndarray, np.ndarray]:
    data = np.ascontiguousarray(values).tobytes()
    n = len(values)
    lengths = np.full(n, itemsize, dtype=np.int64)
    offsets = np.arange(n, dtype=np.int64) * itemsize
    return data, offsets, lengths


def encode_int32(values) -> tuple[bytes, np.ndarray, np.ndarray]:
    a = np.asarray(values)
    if a.size and (int(a.max()) >= 2**31 or int(a.min()) < -(2**31)):
        # a silent C-cast wrap would hash a DIFFERENT identity (verified:
        # 2**40 wraps to 0) — callers must promote the batch to int64 first
        # (resolve_batch_tag does); raising here is the backstop
        raise OverflowError("int32-tagged batch contains values outside int32 range")
    return encode_fixed(a.astype("<i4"), 4)


def encode_int64(values) -> tuple[bytes, np.ndarray, np.ndarray]:
    return encode_fixed(np.asarray(values).astype("<i8"), 8)


def encode_float64(values) -> tuple[bytes, np.ndarray, np.ndarray]:
    return encode_fixed(np.asarray(values).astype("<f8"), 8)


def encode_bytes_list(values) -> tuple[bytes, np.ndarray, np.ndarray]:
    """values: sequence of ``bytes`` (or str, encoded UTF-8). Nones dropped by
    caller. Anything else raises: ``bytes(3)`` would silently encode the
    integer 3 as three NUL bytes and merge unrelated items' counts."""
    bs = []
    for v in values:
        if isinstance(v, str):
            bs.append(v.encode("utf-8"))
        elif isinstance(v, (bytes, bytearray, memoryview)):
            bs.append(bytes(v))
        else:
            raise TypeError(
                f"cannot encode {type(v).__name__} as a string/binary item"
            )
    return pack_bytes(bs)


def pack_bytes(items: list[bytes]) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Items that are already ``bytes`` → the packed layout, no per-item checks."""
    lengths = np.fromiter(map(len, items), dtype=np.int64, count=len(items))
    offsets = np.zeros(len(items), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    return b"".join(items), offsets, lengths


def encode_arrow_strings(arr) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Zero-copy fast path for a pyarrow StringArray / BinaryArray chunk."""
    import pyarrow as pa

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
    import pyarrow as pa

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
    types are encoded via their canonical little-endian forms (§2.1 #10)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_dictionary(arr.type):
        arr = arr.cast(arr.type.value_type)
    tag = arrow_type_tag(arr.type)
    if arr.null_count:
        arr = arr.drop_null()
    if tag in (TYPE_STRING, TYPE_BINARY):
        data, offsets, lengths = encode_arrow_strings(arr)
    elif tag == TYPE_INT32:
        data, offsets, lengths = encode_int32(arr.to_numpy(zero_copy_only=False))
    elif tag == TYPE_INT64:
        data, offsets, lengths = encode_int64(arr.to_numpy(zero_copy_only=False))
    else:
        data, offsets, lengths = encode_float64(arr.to_numpy(zero_copy_only=False))
    return data, offsets, lengths, tag


def encode_any(values, type_tag: int) -> tuple[bytes, np.ndarray, np.ndarray]:
    if type_tag == TYPE_INT32:
        return encode_int32(values)
    if type_tag == TYPE_INT64:
        return encode_int64(values)
    if type_tag == TYPE_FLOAT64:
        return encode_float64(values)
    if type_tag in (TYPE_STRING, TYPE_BINARY):
        return encode_bytes_list(values)
    raise ValueError(f"unknown item type tag {type_tag}")


def infer_type_tag(value) -> int:
    if isinstance(value, bool):
        raise TypeError("composite types are not supported")
    if isinstance(value, (int, np.integer)):
        v = int(value)
        if -(2**31) <= v < 2**31:
            return TYPE_INT32
        return TYPE_INT64
    if isinstance(value, (float, np.floating)):
        return TYPE_FLOAT64
    if isinstance(value, str):
        return TYPE_STRING
    if isinstance(value, (bytes, bytearray, memoryview)):
        return TYPE_BINARY
    raise TypeError("composite types are not supported")


def resolve_batch_tag(vals, bound_tag: int = TYPE_UNSET) -> int:
    """Batch encoding tag from the first value, with the int-width rules
    every sketch must share: any value outside int32 range promotes the
    WHOLE batch to int64 (a per-value wrap would hash a different identity),
    and a sketch already bound to int64 keeps int64 encoding (stickiness)."""
    tag = infer_type_tag(vals[0])
    if tag == TYPE_INT32 and any(not (-(2**31) <= v < 2**31) for v in vals):
        tag = TYPE_INT64
    if tag == TYPE_INT32 and bound_tag == TYPE_INT64:
        tag = TYPE_INT64
    return tag


def encode_one(value, type_tag: int) -> bytes:
    if type_tag == TYPE_INT32:
        return int(value).to_bytes(4, "little", signed=True)
    if type_tag == TYPE_INT64:
        return int(value).to_bytes(8, "little", signed=True)
    if type_tag == TYPE_FLOAT64:
        return np.float64(value).tobytes()
    if type_tag == TYPE_STRING:
        return value.encode("utf-8") if isinstance(value, str) else bytes(value)
    if type_tag == TYPE_BINARY:
        return bytes(value)
    raise ValueError(f"unknown item type tag {type_tag}")


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
