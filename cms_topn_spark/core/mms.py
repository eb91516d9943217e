"""Min-mask sketch (mms) — the reference's second type, rebuilt faithfully.

Same d×w geometry and hashing as the CMS, but cells hold 64-bit permission/
policy bitmasks (cms_mms.c:55-65, 479-776):

- add(item, mask): estimate = probed cell with the fewest set bits
  (cms_mms.c:717-737), new = estimate | mask, overwrite probed cells whose
  popcount is strictly smaller than popcount(new) (cms_mms.c:682-713),
- get_mask(item): the min-popcount probed cell (cms_mms.c:741-762),
- sizing/validation identical to the CMS with the mms error strings
  (cms_mms.c:616-627).

The reference defines no mms union; the write rule is order-dependent under
collisions, so the faithful mergeable generalization used here is cellwise OR
— a monotone upper bound of any interleaving, same one-sided error direction
as the min-popcount read (SURVEY.md §2.3 note). This is a documented
rebuild-defined extension.
"""

from __future__ import annotations

import struct

import numpy as np

from . import encoding as enc
from .base import KIND_MMS, ItemSketch, frame_guarded, SketchError, register
from .cms_topn import sizing
from .murmur import MURMUR_SEED, hash128, probe_index

U64 = np.uint64
_FIXED = struct.Struct("<IIddQ")  # depth, width, eps, conf, total


def popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (SWAR; numpy<2 has no bitwise_count)."""
    x = x - ((x >> U64(1)) & U64(0x5555555555555555))
    x = (x & U64(0x3333333333333333)) + ((x >> U64(2)) & U64(0x3333333333333333))
    x = (x + (x >> U64(4))) & U64(0x0F0F0F0F0F0F0F0F)
    return (x * U64(0x0101010101010101)) >> U64(56)


@register(KIND_MMS)
class MinMaskSketch(ItemSketch):
    NAME = "mms"
    PLURAL = "mms sketches"

    def __init__(self, eps: float = 0.001, confidence: float = 0.99):
        # validation messages per _createMms (cms_mms.c:616-627)
        if not (0.0 < eps < 1.0):
            raise SketchError("Error bound has to be between 0 and 1")
        if not (0.0 < confidence < 1.0):
            raise SketchError("Confidence interval has to be between 0 and 1")
        self.eps = float(eps)
        self.confidence = float(confidence)
        self.depth, self.width = sizing(eps, confidence)
        self.masks = np.zeros((self.depth, self.width), dtype=U64)
        self.total = 0

    def _min_pop_mask(self, cols: np.ndarray) -> np.ndarray:
        """Per item: the probed cell mask with minimum popcount, scanning rows
        in order with a strict '<' (first minimum wins, cms_mms.c:753-757)."""
        best = self.masks[0, cols[0]].copy()
        best_pc = popcount64(best)
        for i in range(1, self.depth):
            cell = self.masks[i, cols[i]]
            pc = popcount64(cell)
            take = pc < best_pc
            best[take] = cell[take]
            best_pc[take] = pc[take]
        return best

    # ---------------- add ----------------

    def add(self, value, mask: int) -> "MinMaskSketch":
        self.add_batch([value], [mask])
        return self

    def add_batch(self, values, masks, type_tag: int | None = None) -> None:
        pairs = [(v, m) for v, m in zip(values, masks) if v is not None and m is not None]
        if not pairs:
            return
        data, offsets, lengths, type_tag = self._encode_batch([v for v, _ in pairs], type_tag)
        self.add_packed(data, offsets, lengths, [m for _, m in pairs], type_tag)

    def add_packed(self, data, offsets, lengths, masks, type_tag: int) -> None:
        """Bulk add; ``masks`` is cast to uint64 keeping the bits (an int64
        -1 is the all-ones mask)."""
        n = len(lengths)
        if n == 0:
            return
        masks = np.asarray(masks, dtype=U64)
        self._bind_type(type_tag)
        h1, h2 = hash128(data, offsets, lengths, MURMUR_SEED)
        cols = probe_index(h1, h2, self.depth, self.width)
        # sequential per update, as the write rule is order-dependent
        # (cms_mms.c:705-709); mask streams are short in practice
        for j in range(n):
            cj = cols[:, j]
            cells = self.masks[np.arange(self.depth), cj]
            pcs = popcount64(cells)
            est = cells[int(np.argmin(pcs))]  # argmin = first strict minimum
            new = est | masks[j]
            new_pc = popcount64(np.array([new]))[0]
            write = new_pc > pcs
            self.masks[np.arange(self.depth)[write], cj[write]] = new
        self.total += n

    # ---------------- query ----------------

    def get_mask(self, value) -> int | None:
        """mms_get_mask: NULL → None; a value never added (see
        :meth:`ItemSketch._probe`) → empty mask 0."""
        if value is None:
            return None
        items = enc.python_items([value], bound=self.item_type)
        return int(self._probe(items, self.get_masks_packed, np.uint64(0))[0])

    def get_masks_packed(self, data, offsets, lengths) -> np.ndarray:
        h1, h2 = hash128(data, offsets, lengths, MURMUR_SEED)
        return self._min_pop_mask(probe_index(h1, h2, self.depth, self.width))

    def info(self) -> str:
        size_kb = len(self.to_bytes()) // 1024
        return f"Sketch depth = {self.depth}, Sketch width = {self.width}, Size = {size_kb}kB"

    # ---------------- merge (rebuild-defined extension) ----------------

    def merge(self, other: "MinMaskSketch") -> "MinMaskSketch":
        if (
            not isinstance(other, MinMaskSketch)
            or self.depth != other.depth
            or self.width != other.width
            or self.eps != other.eps
            or self.confidence != other.confidence
        ):
            raise SketchError("cannot merge mms sketches with different parameters")
        out = MinMaskSketch(self.eps, self.confidence)
        out.item_type = self._merged_type(other)
        out.masks = self.masks | other.masks
        out.total = self.total + other.total
        return out

    # ---------------- serialization ----------------

    def to_bytes(self) -> bytes:
        return b"".join(
            [
                self.pack_header(item_type=self.item_type),
                _FIXED.pack(self.depth, self.width, self.eps, self.confidence, self.total),
                np.ascontiguousarray(self.masks, dtype="<u8").tobytes(),
            ]
        )

    @classmethod
    @frame_guarded
    def from_bytes(cls, b: bytes) -> "MinMaskSketch":
        kind, _, item_type, _ = cls.unpack_header(b)
        if kind != KIND_MMS:
            raise SketchError("not a serialized mms")
        depth, width, eps, conf, total = _FIXED.unpack_from(b, 8)
        out = cls(eps, conf)
        out.item_type = item_type
        out.total = total
        pos = 8 + _FIXED.size
        out.masks = (
            np.frombuffer(b, dtype="<u8", count=depth * width, offset=pos)
            .reshape(depth, width)
            .copy()
        )
        return out
