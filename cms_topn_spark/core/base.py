"""One mergeable-state protocol shared by every sketch in the library.

Every sketch (CMS+top-n, HLL, Bloom, KLL, t-digest, min-mask) implements the
same surface so the Spark layer (one fold per task → driver fold →
checkpoint) is written once and works for all of them:

    empty(**params)      -> sketch            (class constructor)
    add_batch(values)    -> None              (Python values)
    add_arrow(items, weights=None) -> None    (an Arrow column: every Spark path)
    merge(other)         -> sketch            (commutative + associative)
    to_bytes()           -> bytes             (canonical little-endian layout)
    from_bytes(b)        -> sketch            (exact inverse; round-trip == b)

``add_arrow`` is the one place a column becomes sketch input. ``weights``
is an aligned Arrow column: a count for CMS+top-n and t-digest, a mask for
min-mask, ignored by HLL and Bloom (KLL takes none). A row whose item or
weight is NULL is dropped, and a weight column of another length raises.

Two hooks serve the grouped build (operators/grouped.py) and have working
defaults, so a sketch overrides them only with a kernel that treats many
groups at once:

    fold_window(...)     -> None              (stage 1: one sorted window)
    merge_groups(groups) -> iter of sketches  (stage 2: per-group folds)

The four hashed sketches (CMS+top-n, min-mask, HLL, Bloom) take items, not
numbers, and share one item-type policy through :class:`ItemSketch`, the
reference's "dynamic but sticky" typing (SURVEY.md §1.2): the first add binds
the type; a batch of Python values is one Arrow array
(:func:`encoding.python_items`) typed from every value, so a batch of two
families raises ``TypeError``, ints and floats together are float64, and a
batch holding an int outside int32 range encodes as int64 whole; an add or a
union of another bound type raises. A probe list needs no one item type: each
value answers as it would alone (:meth:`ItemSketch._probe_values`). Every
point probe, Python value or Spark column, is Arrow under one rule
(:meth:`ItemSketch._probe`):
numbers (int32, int64, float64) are one family and strings and bytes one
family each; a probe from another family raises; a NULL, or a number the
bound type cannot hold exactly (2**40 in an int32 sketch, 7.5 in an int
one), was never added; any other number probes as the bound type (7.0 as
the int 7, an int32 as an int64). The error messages are built from the
class attributes ``NAME`` and ``PLURAL``. KLL and t-digest take numeric
values and have no item type.

The serialized frame starts with a common 8-byte header::

    magic  b"SKS1"  | kind u8 | version u8 | item_type u8 | flags u8

followed by a kind-specific payload; an ``item_type`` outside
``encoding.TYPE_NAMES`` is a corrupt frame. ``kind`` dispatches
deserialization via the registry below. Byte-for-byte merge determinism
(north star: serialized ``merge(merge(a,b),c) == merge(a,merge(b,c))``) is
part of the contract and is covered by property tests.
"""

from __future__ import annotations

import functools
import struct
from abc import ABC, abstractmethod
from typing import Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import encoding as enc

MAGIC = b"SKS1"
HEADER = struct.Struct("<4sBBBB")

KIND_CMS_TOPN = 1
KIND_MMS = 2
KIND_HLL = 3
KIND_BLOOM = 4
KIND_KLL = 5
KIND_TDIGEST = 6

_REGISTRY: dict[int, type] = {}


class SketchError(ValueError):
    """Raised with reference-verbatim messages for golden parity."""


def register(kind: int):
    def deco(cls):
        cls.KIND = kind
        _REGISTRY[kind] = cls
        return cls

    return deco


def frame_guarded(fn):
    """Wrap a deserializer (a ``from_bytes`` implementation, or
    :func:`sketch_from_bytes`) so ANY malformed frame — truncated payload,
    short header, impossible field values — surfaces as SketchError, never a
    raw numpy/struct exception."""

    @functools.wraps(fn)
    def wrapped(*args):
        try:
            return fn(*args)
        except SketchError:
            raise
        except (ValueError, struct.error, IndexError, OverflowError) as e:
            raise SketchError(f"corrupt serialized sketch: {e}") from e

    return wrapped


class MergeableSketch(ABC):
    KIND: int = 0
    VERSION: int = 1

    @abstractmethod
    def add_batch(self, values, counts=None) -> None: ...

    @abstractmethod
    def merge(self, other: "MergeableSketch") -> "MergeableSketch": ...

    @abstractmethod
    def to_bytes(self) -> bytes: ...

    @classmethod
    @abstractmethod
    def from_bytes(cls, b: bytes) -> "MergeableSketch": ...

    def add_arrow(self, items, weights=None) -> None:
        """Add an Arrow column, and an aligned weight column, under the rule
        of the module docstring: rows with a NULL item or weight dropped, a
        weight column of another length raising."""
        if weights is not None:
            if len(weights) != len(items):
                raise SketchError("weights length must match items length")
            if items.null_count or weights.null_count:
                live = pc.and_(pc.is_valid(items), pc.is_valid(weights))
                items, weights = items.filter(live), weights.filter(live)
            weights = weights.to_numpy(zero_copy_only=False)
        elif items.null_count:
            items = items.drop_null()
        if len(items):
            self._add_live(items, weights)

    def _add_live(self, items, weights) -> None:
        """:meth:`add_arrow` past the NULL drop, ``weights`` a numpy array or
        None. This default serves the numeric sketches (KLL, t-digest): the
        values go to ``add_batch`` as float64, decimals included."""
        self.add_batch(items.to_numpy(zero_copy_only=False).astype(np.float64), weights)

    # ---- grouped-build hooks (operators/grouped.py) ----

    def fold_window(self, factory, carried: dict, keys: list, values, bounds) -> None:
        """Stage-1 hook: fold one group-sorted window into the states a task
        carries. ``values[bounds[i]:bounds[i + 1]]`` (an Arrow array) holds
        the rows of group ``keys[i]``; ``carried`` maps a group to its
        sketch and gains an entry for every group with a non-NULL value.
        ``self`` is an empty sketch from ``factory`` and is not modified.
        The default feeds each group's slice to its carried sketch with
        :meth:`add_arrow`, one call per group."""
        for i, key in enumerate(keys):
            lo, hi = int(bounds[i]), int(bounds[i + 1])
            sl = values.slice(lo, hi - lo)
            if sl.null_count == len(sl):
                continue
            sk = carried.get(key)
            if sk is None:
                sk = carried[key] = factory()
            sk.add_arrow(sl)

    @classmethod
    def merge_groups(cls, groups: Iterable[Sequence[bytes]]) -> Iterator["MergeableSketch"]:
        """Stage-2 hook: one merged sketch per group, in group order, each
        folding the group's serialized states in arrival order. The default
        is the pairwise fold, :func:`fold_states`."""
        for states in groups:
            yield fold_states(states)

    def pack_header(self, item_type: int = 0, flags: int = 0) -> bytes:
        return HEADER.pack(MAGIC, self.KIND, self.VERSION, item_type, flags)

    @staticmethod
    def unpack_header(b: bytes) -> tuple[int, int, int, int]:
        magic, kind, version, item_type, flags = HEADER.unpack_from(b, 0)
        if magic != MAGIC:
            raise SketchError("not a serialized sketch (bad magic)")
        if item_type not in enc.TYPE_NAMES:
            raise SketchError(f"corrupt serialized sketch: unknown item type tag {item_type}")
        return kind, version, item_type, flags


class ItemSketch(MergeableSketch):
    """A sketch over hashed items, with the item-type policy of the module
    docstring. Subclasses set ``NAME`` and ``PLURAL`` for the error messages
    and implement ``add_packed``, which takes packed item bytes and binds
    ``type_tag`` through :meth:`_bind_type` before touching any state."""

    NAME = ""
    PLURAL = ""
    item_type = enc.TYPE_UNSET  # until the first add binds it

    def _bind_type(self, tag: int) -> None:
        if self.item_type == enc.TYPE_UNSET:
            self.item_type = tag
        elif self.item_type != tag:
            raise SketchError(f"not proper type for this {self.NAME}")

    def add_batch(self, values, counts=None, type_tag: int | None = None) -> None:
        """Add Python values as one Arrow array (:func:`encoding.python_items`),
        and their ``counts`` as another, through :meth:`add_arrow`.

        Python ints carry no width, so a batch binds int32 unless it holds an
        int outside int32 range: two partials of one int stream can bind
        int32 and int64 and then refuse to merge. Pass
        ``type_tag=TYPE_INT64``, or feed an Arrow int64 column, to bind every
        partial to int64."""
        weights = None if counts is None else pa.array(counts)
        self.add_arrow(enc.python_items(values, type_tag, self.item_type), weights)

    def _add_live(self, items, weights) -> None:
        data, offsets, lengths, tag = enc.pack_arrow_array(items)
        self.add_packed(data, offsets, lengths, weights, type_tag=tag)

    def _probe(self, items: pa.Array, query, miss) -> np.ndarray:
        """The one point-probe rule of the module docstring: one answer per
        item, ``query(data, offsets, lengths)`` where the item is live,
        encoded as the bound type would have added it, and ``miss`` (whose
        dtype the answers take) where it is NULL or was never added. An
        all-NULL array answers ``miss`` without a type check."""
        out = np.full(len(items), miss)
        if pa.types.is_null(items.type):
            return out
        bound, tag = self.item_type, enc.arrow_type_tag(items.type)
        if bound not in (enc.TYPE_UNSET, tag):
            if tag not in enc.NUMERIC_TAGS or bound not in enc.NUMERIC_TAGS:
                raise SketchError(f"not a proper {self.NAME} for the result type")
            items = enc.held_items(items, bound)
        live = items.is_valid().to_numpy(zero_copy_only=False)
        if live.any():
            out[live] = query(*enc.pack_arrow_array(items)[:3])
        return out

    def _probe_values(self, values: list, query, miss) -> np.ndarray:
        """:meth:`_probe` over a list of Python values. When Arrow can type no
        one array for the list (a float beside an int above 2**53), its ints
        and its other values are probed apart, so each value answers as it
        would alone."""
        try:
            return self._probe(enc.python_items(values, bound=self.item_type), query, miss)
        except TypeError:
            is_int = [type(v) is int for v in values]
            if all(is_int) or not any(is_int):
                raise
        out = np.full(len(values), miss)
        for want in (True, False):
            pos = [i for i, t in enumerate(is_int) if t == want]
            items = enc.python_items([values[i] for i in pos], bound=self.item_type)
            out[pos] = self._probe(items, query, miss)
        return out

    def _merged_type(self, other: "ItemSketch") -> int:
        """The item type of ``self ∪ other``: the one either side bound; two
        different bound types raise."""
        a, b = self.item_type, other.item_type
        if a != enc.TYPE_UNSET and b != enc.TYPE_UNSET and a != b:
            raise SketchError(f"cannot merge {self.PLURAL} of different types")
        return a if a != enc.TYPE_UNSET else b


@frame_guarded
def sketch_from_bytes(b: bytes) -> MergeableSketch:
    """Polymorphic deserializer: dispatch on the kind byte."""
    kind, _, _, _ = MergeableSketch.unpack_header(b)
    cls = _REGISTRY.get(kind)
    if cls is None:
        raise SketchError(f"unknown sketch kind {kind}")
    return cls.from_bytes(b)


def sketch_to_hex(sk: MergeableSketch) -> str:
    """Printable text form of a serialized sketch — the analogue of the
    reference's ``cms_out``/``mms_out``, which are byteaout passthroughs
    (cms_mms.c:117-126): PG bytea hex literal ``\\x`` + lowercase hex."""
    return "\\x" + sk.to_bytes().hex()


def sketch_from_hex(s: str) -> MergeableSketch:
    """Inverse of :func:`sketch_to_hex` (reference ``cms_in``/``mms_in``,
    byteain passthrough, cms_mms.c:105-113). Malformed literals raise
    SketchError."""
    if not s.startswith("\\x"):
        raise SketchError('malformed bytea hex literal (must start with "\\x")')
    try:
        b = bytes.fromhex(s[2:])
    except ValueError as e:
        raise SketchError(f"malformed bytea hex literal: {e}") from e
    return sketch_from_bytes(b)


def merge_serialized(a: bytes | None, b: bytes | None) -> bytes | None:
    """NULL-identity merge on serialized states (reference: expected/union.out:4-21)."""
    if a is None:
        return b
    if b is None:
        return a
    return sketch_from_bytes(a).merge(sketch_from_bytes(b)).to_bytes()


def fold_states(states: Iterable[bytes | None]) -> MergeableSketch | None:
    """Merge serialized states left to right on live sketches: each state is
    deserialized once and the accumulator is never re-serialized. NULLs are
    skipped; no non-NULL state → None (expected/union_agg.out:8-18). Gives
    the same bytes as a ``merge_serialized`` chain in the same order:
    serialization is an exact round-trip, and the one non-canonical live
    layout (KLL's unsorted levels) is re-sorted by compaction and by
    ``to_bytes`` before it can change a result."""
    acc = None
    for b in states:
        if b is not None:
            sk = sketch_from_bytes(bytes(b))
            acc = sk if acc is None else acc.merge(sk)
    return acc
