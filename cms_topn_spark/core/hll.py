"""HyperLogLog with a sparse-exact mode, under the shared mergeable protocol.

No reference code exists for HLL (SURVEY.md §2.3) — semantics follow the
published HyperLogLog paper (Flajolet et al. 2007) and the HLL++ practice of
keeping an exact sparse set below a threshold (Heule et al. 2013):

- sparse mode: the state is the sorted set of 64-bit item hashes; estimates
  are *exact* distinct counts. This is the correctness-gate mode: at test
  scale the estimate equals DuckDB's COUNT(DISTINCT) exactly.
- dense mode (entered when the sparse set exceeds ``sparse_limit``): 2**p
  uint8 registers, register = max leading-zero rank; estimate = harmonic mean
  with small/large range corrections.

Merges: sparse∪sparse (degrading if over the limit), sparse→dense fold,
dense = elementwise max. All three are commutative/associative; sparse states
serialize as *sorted* hash arrays so merge equality is byte-for-byte.

Hashing reuses the library's Murmur3 h1 (same canonical item encoding as the
CMS, so one pass over an Arrow batch can feed every sketch).
"""

from __future__ import annotations

import struct

import numpy as np

from . import encoding as enc
from .base import KIND_HLL, ItemSketch, frame_guarded, SketchError, register
from .murmur import MURMUR_SEED, hash128

U64 = np.uint64

_FIXED = struct.Struct("<BBIQ")  # p, mode, sparse_limit, payload_count
MODE_SPARSE = 0
MODE_DENSE = 1


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


@register(KIND_HLL)
class HyperLogLog(ItemSketch):
    NAME = "hll"
    PLURAL = "hll sketches"

    def __init__(self, p: int = 14, sparse_limit: int | None = None):
        if not (4 <= p <= 18):
            raise SketchError("HLL precision has to be between 4 and 18")
        self.p = p
        self.m = 1 << p
        # default: stay exact while the sparse set is cheaper than registers
        self.sparse_limit = sparse_limit if sparse_limit is not None else self.m // 4
        self.mode = MODE_SPARSE
        self.sparse: np.ndarray = np.empty(0, dtype=U64)  # sorted unique hashes
        self.registers: np.ndarray | None = None

    # ---------------- add ----------------

    def add_packed(
        self,
        data,
        offsets,
        lengths,
        counts=None,
        type_tag: int = enc.TYPE_BINARY,
        hashes: tuple[np.ndarray, np.ndarray] | None = None,
    ) -> None:
        """Bulk add over packed byte strings. ``counts`` is ignored (weights
        are a no-op for a distinct count); ``hashes`` lets callers reuse one
        Murmur pass across several sketches, as ``CmsTopn.add_packed``."""
        if len(lengths) == 0:
            return
        self._bind_type(type_tag)
        h1 = hashes[0] if hashes is not None else hash128(data, offsets, lengths, MURMUR_SEED)[0]
        self._add_hashes(np.unique(h1))

    def _add_hashes(self, hashes: np.ndarray) -> None:
        if self.mode == MODE_SPARSE:
            h = hashes.astype(U64)
            # skip the O(S log S) re-sort when the batch brings nothing new
            # (common once the sparse set saturates the live key space)
            pos = np.searchsorted(self.sparse, h)
            pos_c = np.minimum(pos, len(self.sparse) - 1) if len(self.sparse) else pos
            is_new = (
                np.ones(len(h), dtype=bool)
                if len(self.sparse) == 0
                else self.sparse[pos_c] != h
            )
            if is_new.any():
                self.sparse = np.union1d(self.sparse, h[is_new])
                if len(self.sparse) > self.sparse_limit:
                    self._to_dense()
        else:
            self._dense_update(hashes.astype(U64))

    def _to_dense(self) -> None:
        self.registers = np.zeros(self.m, dtype=np.uint8)
        self._dense_update(self.sparse)
        self.sparse = np.empty(0, dtype=U64)
        self.mode = MODE_DENSE

    def _dense_update(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        idx = (hashes >> U64(64 - self.p)).astype(np.int64)
        rest = hashes << U64(self.p)
        # rho = leading zeros of the remaining 64-p bits + 1, capped; integer
        # binary-search clz (float log2 misrounds near 2**64)
        x = rest.copy()
        clz = np.zeros(len(hashes), dtype=np.int64)
        for shift in (32, 16, 8, 4, 2, 1):
            m = x < (U64(1) << U64(64 - shift))  # top `shift` bits all zero
            clz[m] += shift
            x[m] = x[m] << U64(shift)
        clz[rest == 0] = 64 - self.p  # no set bit in the remaining bits
        rho = np.minimum(clz + 1, 64 - self.p + 1).astype(np.uint8)
        # sorted segmented max + one vectorized maximum (same trick as the
        # CMS conservative path — np.maximum.at scatters unbuffered)
        o = np.argsort(idx, kind="stable")
        si = idx[o]
        starts = np.flatnonzero(np.concatenate(([True], si[1:] != si[:-1])))
        seg_max = np.maximum.reduceat(rho[o], starts)
        ui = si[starts]
        self.registers[ui] = np.maximum(self.registers[ui], seg_max)

    # ---------------- query ----------------

    def estimate(self) -> int:
        if self.mode == MODE_SPARSE:
            return int(len(self.sparse))
        m = self.m
        regs = self.registers.astype(np.float64)
        e = _alpha(m) * m * m / np.sum(np.exp2(-regs))
        if e <= 2.5 * m:
            zeros = int(np.count_nonzero(self.registers == 0))
            if zeros:
                e = m * np.log(m / zeros)  # linear counting
        elif e > (1 / 30) * 2**64:
            e = -(2**64) * np.log(1 - e / 2**64)
        return int(round(e))

    # ---------------- merge ----------------

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if not isinstance(other, HyperLogLog) or self.p != other.p:
            raise SketchError("cannot merge hll sketches with different parameters")
        # min() keeps merge commutative when the two sides were configured
        # with different sparse limits: mode transitions and serialized bytes
        # must not depend on argument order (base.py merge-determinism
        # contract — the driver fold sees task states in arbitrary order)
        out = HyperLogLog(self.p, min(self.sparse_limit, other.sparse_limit))
        out.item_type = self._merged_type(other)
        if self.mode == MODE_SPARSE and other.mode == MODE_SPARSE:
            out.sparse = np.union1d(self.sparse, other.sparse)
            if len(out.sparse) > out.sparse_limit:
                out._to_dense()
        else:
            out.registers = np.zeros(out.m, dtype=np.uint8)
            out.mode = MODE_DENSE
            for src in (self, other):
                if src.mode == MODE_DENSE:
                    np.maximum(out.registers, src.registers, out=out.registers)
                else:
                    out._dense_update(src.sparse)
        return out

    # ---------------- serialization ----------------

    def to_bytes(self) -> bytes:
        payload = self.sparse if self.mode == MODE_SPARSE else self.registers
        count = len(payload)
        return b"".join(
            [
                self.pack_header(item_type=self.item_type, flags=self.mode),
                _FIXED.pack(self.p, self.mode, self.sparse_limit, count),
                np.ascontiguousarray(
                    payload, dtype="<u8" if self.mode == MODE_SPARSE else "u1"
                ).tobytes(),
            ]
        )

    @classmethod
    @frame_guarded
    def from_bytes(cls, b: bytes) -> "HyperLogLog":
        kind, _, item_type, _ = cls.unpack_header(b)
        if kind != KIND_HLL:
            raise SketchError("not a serialized hll")
        p, mode, sparse_limit, count = _FIXED.unpack_from(b, 8)
        pos = 8 + _FIXED.size
        out = cls(p, sparse_limit)
        out.item_type = item_type
        out.mode = mode
        if mode == MODE_SPARSE:
            out.sparse = np.frombuffer(b, dtype="<u8", count=count, offset=pos).copy()
        else:
            out.registers = np.frombuffer(b, dtype="u1", count=count, offset=pos).copy()
        return out
