"""Bloom filter under the shared mergeable protocol (SURVEY.md §2.3).

Classic Bloom (Bloom 1970) with the same double-hashing scheme the reference
uses for the CMS rows (Kirsch–Mitzenmacher, cms_mms.c:359-372): probe ``i`` is
``(h1 + i*h2) mod m``. Sizing from (capacity, fpp): ``m = ceil(-n ln p /
ln2²)``, ``k = round(m/n ln2)``. Merge = bitwise OR over equal-parameter
filters (commutative, associative, byte-for-byte).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import encoding as enc
from .base import KIND_BLOOM, ItemSketch, frame_guarded, SketchError, register
from .murmur import MURMUR_SEED, hash128, probe_index

U64 = np.uint64
_FIXED = struct.Struct("<QIQ")  # m_bits, k, n_added


@register(KIND_BLOOM)
class BloomFilter(ItemSketch):
    NAME = "bloom filter"
    PLURAL = "bloom filters"

    def __init__(self, capacity: int = 100_000, fpp: float = 1e-6):
        if capacity <= 0:
            raise SketchError("Bloom capacity has to be positive")
        if not (0.0 < fpp < 1.0):
            raise SketchError("Bloom fpp has to be between 0 and 1")
        ln2 = math.log(2)
        self.m_bits = int(math.ceil(-capacity * math.log(fpp) / (ln2 * ln2)))
        self.k = max(1, round(self.m_bits / capacity * ln2))
        self.bits = np.zeros((self.m_bits + 63) // 64, dtype=U64)
        self.n_added = 0

    @classmethod
    def with_geometry(cls, m_bits: int, k: int) -> "BloomFilter":
        out = cls.__new__(cls)
        out.m_bits, out.k = m_bits, k
        out.bits = np.zeros((m_bits + 63) // 64, dtype=U64)
        out.n_added = 0
        return out

    def add_packed(
        self, data, offsets, lengths, counts=None, type_tag: int = enc.TYPE_BINARY
    ) -> None:
        # counts accepted and ignored: membership semantics make weights a
        # no-op, and the shared weighted-ingest path passes them uniformly
        if len(lengths) == 0:
            return
        self._bind_type(type_tag)
        h1, h2 = hash128(data, offsets, lengths, MURMUR_SEED)
        pos = probe_index(h1, h2, self.k, self.m_bits).ravel()
        word, bit = pos >> 6, pos & 63
        np.bitwise_or.at(self.bits, word, U64(1) << bit.astype(U64))
        self.n_added += len(lengths)

    def contains_packed(self, data, offsets, lengths) -> np.ndarray:
        """Vectorized membership test → bool array."""
        h1, h2 = hash128(data, offsets, lengths, MURMUR_SEED)
        pos = probe_index(h1, h2, self.k, self.m_bits)  # (k, n)
        word, bit = pos >> 6, pos & 63
        hits = (self.bits[word] >> bit.astype(U64)) & U64(1)
        return hits.all(axis=0)

    def contains(self, value) -> bool:
        """Membership probe: NULL, or a value never added (see
        :meth:`ItemSketch._probe`) → False."""
        items = enc.python_items([value], bound=self.item_type)
        return bool(self._probe(items, self.contains_packed, False)[0])

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if not isinstance(other, BloomFilter) or self.m_bits != other.m_bits or self.k != other.k:
            raise SketchError("cannot merge bloom filters with different parameters")
        out = BloomFilter.with_geometry(self.m_bits, self.k)
        out.item_type = self._merged_type(other)
        out.bits = self.bits | other.bits
        out.n_added = self.n_added + other.n_added
        return out

    def to_bytes(self) -> bytes:
        return b"".join(
            [
                self.pack_header(item_type=self.item_type),
                _FIXED.pack(self.m_bits, self.k, self.n_added),
                np.ascontiguousarray(self.bits, dtype="<u8").tobytes(),
            ]
        )

    @classmethod
    @frame_guarded
    def from_bytes(cls, b: bytes) -> "BloomFilter":
        kind, _, item_type, _ = cls.unpack_header(b)
        if kind != KIND_BLOOM:
            raise SketchError("not a serialized bloom filter")
        m_bits, k, n_added = _FIXED.unpack_from(b, 8)
        out = cls.with_geometry(m_bits, k)
        out.item_type = item_type
        out.n_added = n_added
        pos = 8 + _FIXED.size
        out.bits = np.frombuffer(b, dtype="<u8", count=(m_bits + 63) // 64, offset=pos).copy()
        return out
