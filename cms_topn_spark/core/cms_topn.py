"""Count-min sketch with an attached top-n heap (the reference's core type).

Semantics follow the reference extension and its golden regression outputs:

- sizing ``width = ceil(e/eps)``, ``depth = ceil(ln(1/(1-conf)))``, zeroed
  counters (cms_mms.c:292-298; pinned by expected/create.out:28-32),
- one MurmurHash3_x64_128 per item at seed 304837963, row hashes
  ``g_i = h1 + i*h2 (mod 2**64) mod width`` (cms_mms.c:349-372),
- conservative ("selective") update: only counters below the item's new
  estimate are raised (cms_mms.c:374-383), plus an order-free ``linear`` mode
  (plain ``+= count``) whose partial states merge exactly; both satisfy
  ``f(x) <= f̂(x) <= f(x) + eps*N`` (cms_mms.c:152-157),
- point estimate = min over the d probed cells, 0 for unseen items
  (cms_mms.c:425-445; expected/results.out:126-130),
- top-n array maintenance: an item enters/updates when its estimate qualifies,
  eviction replaces the lowest-frequency entry, output sorted frequency desc
  with insertion-order ties (expected/add.out:44-133, expected/add_agg.out),
- union: counters sum elementwise, candidates = union of both top-n sets
  re-estimated against the merged counters (expected/union.out:51-88), one
  numpy kernel for a single merge and for every group of a grouped build;
  merges of sketches with different parameters or item types raise the
  reference's verbatim errors (expected/union.out:41-49),
- item-type stickiness: first item binds the type; mismatched adds/reads raise
  (expected/add.out:38-43, expected/results.out:17-19), by the policy every
  hashed sketch shares (:class:`~cms_topn_spark.core.base.ItemSketch`).

Batch adds are fully vectorized (numpy). A new top-n takes its n entries with
one ``lexsort`` by (estimate desc, first index asc), the order the sequential
strict-eviction loop keeps; a non-empty one runs that loop, bounded by an
``est > current-min`` prefilter once full, so it only touches candidates that
can enter. In ``conservative`` mode a batch is applied as a
"parallel conservative" update (estimates read from the pre-batch state, cells
raised with ``maximum.at``), which preserves the one-sided error guarantee and
equals the reference's sequential behavior whenever the batch is
collision-free (the regime of all golden tests).
"""

from __future__ import annotations

import functools
import math
import struct

import numpy as np

from . import encoding as enc
from .base import (
    KIND_CMS_TOPN,
    ItemSketch,
    SketchError,
    frame_guarded,
    register,
    sketch_from_bytes,
)
from .murmur import MURMUR_SEED, hash128, probe_index

U64 = np.uint64

UPDATE_CONSERVATIVE = 0
UPDATE_LINEAR = 1

_FIXED = struct.Struct("<IIIIddQQ")  # depth, width, n, topn_count, eps, conf, total, next_seq
_ENTRY = struct.Struct("<QQI")  # freq, seq, item_len

# counters per block in the grouped kernels (groups × depth × width). One
# array for every group of a task or partition, plus its bincount and sum
# transients, costs more worker memory than the per-group loops it replaces;
# at 2^18 (2 MB of uint64) a worker retains no more than with those loops
_BLOCK_CELLS = 1 << 18


def sizing(eps: float, confidence: float) -> tuple[int, int]:
    """width/depth formula, identical to the reference (cms_mms.c:292-293)."""
    width = int(math.ceil(math.e / eps))
    depth = int(math.ceil(math.log(1.0 / (1.0 - confidence))))
    return depth, width


@register(KIND_CMS_TOPN)
class CmsTopn(ItemSketch):
    NAME = "cms_topn"
    PLURAL = "cms_topns"

    def __init__(
        self,
        n: int,
        eps: float = 0.001,
        confidence: float = 0.99,
        update: str = "conservative",
    ):
        # parameter validation order and messages per expected/create.out:6-20
        if n is None or int(n) <= 0:
            raise SketchError("Number of top items has to be positive")
        if not (0.0 < eps < 1.0):
            raise SketchError("Error bound has to be between 0 and 1")
        if not (0.0 < confidence < 1.0):
            raise SketchError("Confidence interval has to be between 0 and 1")
        self.n = int(n)
        self.eps = float(eps)
        self.confidence = float(confidence)
        self.update_mode = UPDATE_CONSERVATIVE if update == "conservative" else UPDATE_LINEAR
        self.depth, self.width = sizing(self.eps, self.confidence)
        self.counters = np.zeros((self.depth, self.width), dtype=U64)
        self.total = 0  # items added (N in the eps*N bound)
        self.next_seq = 0  # insertion sequence for tie-breaks
        self.topn: dict[bytes, list] = {}  # item_bytes -> [freq, seq]

    # ---------------- hashing ----------------

    def _cols(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        return probe_index(h1, h2, self.depth, self.width)

    def _estimate_cols(self, cols: np.ndarray) -> np.ndarray:
        est = self.counters[0, cols[0]]
        for i in range(1, self.depth):
            est = np.minimum(est, self.counters[i, cols[i]])
        return est

    # ---------------- add ----------------

    def add(self, value) -> "CmsTopn":
        """Single-item add through ``add_batch``: None is a no-op
        (cms_topn_add(s, NULL) returns s unchanged, expected/add.out:20-36),
        and a small int added to an int64-bound sketch gets the batch path's
        sticky coercion."""
        self.add_batch([value])
        return self

    def add_packed(
        self,
        data,
        offsets: np.ndarray,
        lengths: np.ndarray,
        counts: np.ndarray | None = None,
        type_tag: int = enc.TYPE_BINARY,
        hashes: tuple[np.ndarray, np.ndarray] | None = None,
    ) -> None:
        """Vectorized bulk add over packed byte strings (the Spark hot path).
        ``hashes`` lets callers reuse one Murmur pass across several sketches."""
        n_items = len(lengths)
        if n_items == 0:
            return
        self._bind_type(type_tag)
        if counts is None:
            counts = np.ones(n_items, dtype=np.int64)
        else:
            counts = np.asarray(counts, dtype=np.int64)
            if counts.size and int(counts.min()) < 0:
                # a negative count would wrap through uint64 and silently
                # poison the counters (and everything merged with them)
                raise SketchError("item counts must be non-negative")

        if hashes is not None:
            h1, h2 = hashes
        else:
            h1, h2 = hash128(data, offsets, lengths, MURMUR_SEED)
        # group duplicate items within the batch by the FULL 128-bit hash —
        # a folded 64-bit key could collide two distinct items and merge their
        # counts, breaking the one-sided f̂ ≥ f guarantee. Stable lexsort +
        # run-boundary dedupe (void-dtype np.unique comparisons were ~4× the
        # cost); stability makes each group's first element the smallest
        # original index, i.e. np.unique's return_index semantics exactly.
        sort_ix = np.lexsort((h2, h1))
        h1s, h2s = h1[sort_ix], h2[sort_ix]
        new = np.ones(n_items, dtype=bool)
        new[1:] = (h1s[1:] != h1s[:-1]) | (h2s[1:] != h2s[:-1])
        grp = np.cumsum(new) - 1
        # bincount's float64 weight accumulation is exact only while every
        # possible sum stays ≪ 2^53; max·n bounds the largest sum without
        # int64-overflow risk. Huge-count batches take the unbuffered exact
        # scatter instead — the one-sided f̂ ≥ f guarantee must hold for any
        # int64 counts (public add()/add_packed() accepts them)
        exact_scatter = int(counts.max()) * n_items > (1 << 52)
        if exact_scatter:
            u_counts = np.zeros(int(grp[-1]) + 1, dtype=np.int64)
            np.add.at(u_counts, grp, counts[sort_ix])
        else:
            u_counts = np.bincount(grp, weights=counts[sort_ix]).astype(np.int64)
        first_idx = sort_ix[new]
        uh1, uh2 = h1[first_idx], h2[first_idx]
        cols = self._cols(uh1, uh2)

        if self.update_mode == UPDATE_LINEAR:
            # bincount into width-sized bins beats np.add.at's unbuffered
            # scatter ~10× in the common small-count case; huge-count batches
            # (see exact_scatter above) keep the exact path
            if exact_scatter:
                uc64 = u_counts.astype(U64)
                for i in range(self.depth):
                    np.add.at(self.counters[i], cols[i], uc64)
            else:
                for i in range(self.depth):
                    self.counters[i] += np.bincount(
                        cols[i], weights=u_counts, minlength=self.width
                    ).astype(U64)
        else:
            # parallel conservative update: estimates from the pre-batch state
            est_pre = self._estimate_cols(cols)
            newval = est_pre + u_counts.astype(U64)
            # sorted segmented max + one vectorized maximum beats
            # np.maximum.at's unbuffered scatter ~5× (same result: each
            # touched cell gets max(cell, max of newvals hitting it))
            for i in range(self.depth):
                ci = cols[i]
                o = np.argsort(ci, kind="stable")
                cs = ci[o]
                starts = np.flatnonzero(np.concatenate(([True], cs[1:] != cs[:-1])))
                seg_max = np.maximum.reduceat(newval[o], starts)
                uc = cs[starts]
                self.counters[i][uc] = np.maximum(self.counters[i][uc], seg_max)

        self.total += int(counts.sum())
        est_post = self._estimate_cols(cols)

        # ---- top-n maintenance (first-appearance order for tie parity) ----
        if not self.topn:
            # a new top-n: the strict-eviction loop below keeps the top n by
            # (estimate desc, first index asc), so take those directly
            keep = _fresh_rank(est_post, first_idx)[: self.n]
            kfirst = first_idx[keep]
            self.topn = {
                item: [freq, self.next_seq + j]
                for item, freq, j in zip(
                    _item_bytes(data, offsets, lengths, kfirst),
                    est_post[keep].tolist(),
                    kfirst.tolist(),
                )
            }
            self.next_seq += int(n_items)
            return
        # prefilter: when the array is full, the entry rule is STRICT
        # (freq > evicted min, expected/add.out:60-76), so only est > cur_min
        # can change anything: a member at est == cur_min would be a no-op
        # update (stored ≥ min and counters are monotone force stored == est).
        # This strictness is what keeps long-tail keys (est == cur_min == 1,
        # e.g. mostly-unique URLs) out of the Python loop once the top-n is
        # full; a new top-n never reaches the loop.
        if len(self.topn) >= self.n:
            cur_min = min(e[0] for e in self.topn.values())
            cand = np.nonzero(est_post > U64(cur_min))[0]
        else:
            cand = np.arange(len(first_idx))
        if len(cand) == 0:
            self.next_seq += int(n_items)
            return
        order = cand[np.argsort(first_idx[cand], kind="stable")]
        base_seq = self.next_seq
        # lazy-invalidated min-heap keyed by the eviction rule (lowest freq,
        # then newest seq) — O(log n) per candidate instead of an O(n) scan
        import heapq

        heap = [(int(e[0]), -int(e[1]), it) for it, e in self.topn.items()]
        heapq.heapify(heap)

        def pop_valid_min() -> tuple[int, bytes] | None:
            while heap:
                f, ns, it = heap[0]
                e = self.topn.get(it)
                if e is not None and e[0] == f and -e[1] == ns:
                    return f, it
                heapq.heappop(heap)  # stale
            return None

        est_list = est_post.tolist()
        first_list = first_idx.tolist()
        full = self.n
        for k, item in zip(order.tolist(), _item_bytes(data, offsets, lengths, first_idx[order])):
            j = first_list[k]
            freq = est_list[k]
            ent = self.topn.get(item)
            if ent is not None:
                if ent[0] != freq:
                    ent[0] = freq
                    heapq.heappush(heap, (freq, -ent[1], item))
            elif len(self.topn) < full:
                self.topn[item] = [freq, base_seq + j]
                heapq.heappush(heap, (freq, -(base_seq + j), item))
            else:
                vm = pop_valid_min()
                if vm is not None and freq > vm[0]:
                    del self.topn[vm[1]]
                    heapq.heappop(heap)
                    self.topn[item] = [freq, base_seq + j]
                    heapq.heappush(heap, (freq, -(base_seq + j), item))
        self.next_seq = base_seq + int(n_items)

    # ---------------- query ----------------

    def estimate_packed(self, data, offsets, lengths) -> np.ndarray:
        """Point estimates for a packed batch of items → int64 array."""
        h1, h2 = hash128(data, offsets, lengths, MURMUR_SEED)
        cols = self._cols(h1, h2)
        return self._estimate_cols(cols).astype(np.int64)

    def estimate(self, value) -> int | None:
        """cms_topn_frequency: NULL item → None (expected/results.out:61-84)."""
        return self.estimate_many([value])[0]

    def estimate_many(self, values) -> list:
        """Vectorized ``cms_topn_frequency`` over a probe list: the probe rule
        of :meth:`ItemSketch._probe` (a cross-family probe is the
        reference's type error, expected/results.out:17-19), ONE Murmur pass
        + one counter gather for the whole list, and None for a NULL."""
        est = self._probe(enc.python_items(values, bound=self.item_type), self.estimate_packed, 0)
        return [None if v is None else e for v, e in zip(values, est.tolist())]

    def _ordered_entries(self) -> list[tuple[bytes, int, int]]:
        items = [(it, int(e[0]), int(e[1])) for it, e in self.topn.items()]
        items.sort(key=lambda t: (-t[1], t[2], t[0]))
        return items

    def topn_list(self, type_tag: int | None = None) -> list[tuple[object, int]]:
        """The ``topn()`` SRF: [(item, frequency)] sorted frequency desc."""
        if type_tag is not None and self.item_type != enc.TYPE_UNSET and type_tag != self.item_type:
            raise SketchError("not a proper cms_topn for the result type")
        tag = self.item_type
        return [(enc.decode_one(it, tag), freq) for it, freq, _ in self._ordered_entries()]

    def info(self) -> str:
        """Verbatim info string (cms_mms.c:244-255; expected/create.out:28-32)."""
        size_kb = len(self.to_bytes()) // 1024
        return f"Sketch depth = {self.depth}, Sketch width = {self.width}, Size = {size_kb}kB"

    # ---------------- merge ----------------

    def merge(self, other: "CmsTopn") -> "CmsTopn":
        """Union per expected/union.out, by :meth:`_merge_level`.

        Associativity: counters, totals and all estimates are associative for
        any merge tree. Serialized bytes are additionally identical across
        merge orders whenever the candidate set is stable (no intermediate
        truncation drops an item that re-enters later) — the normal
        heavy-hitter regime; a dropped-and-re-entered item keeps its frequency
        but gets a merge-path-dependent insertion-order tie-break, exactly as
        the reference's insertion-ordered array would (property-tested in
        tests/test_properties.py)."""
        return CmsTopn._merge_level([self], [other])[0]

    def _merge_check(self, other) -> int:
        """The checks of :meth:`merge`, with its verbatim errors → the merged
        item type."""
        if not isinstance(other, CmsTopn):
            raise SketchError("cannot merge cms_topns of different types")
        if (
            self.n != other.n
            or self.eps != other.eps
            or self.confidence != other.confidence
            or self.depth != other.depth
            or self.width != other.width
            # mixed update modes would make the merged bytes (flags) and all
            # future updates depend on merge order — refuse loudly
            or self.update_mode != other.update_mode
        ):
            raise SketchError("cannot merge cms_topns with different parameters")
        return self._merged_type(other)

    def _like(self, counters, item_type: int, total: int, next_seq: int, topn: dict) -> "CmsTopn":
        """A sketch with this one's parameters and the given state."""
        out = CmsTopn.__new__(CmsTopn)
        out.n, out.eps, out.confidence = self.n, self.eps, self.confidence
        out.update_mode = self.update_mode
        out.depth, out.width = self.depth, self.width
        out.counters, out.item_type = counters, item_type
        out.total, out.next_seq, out.topn = total, next_seq, topn
        return out

    # ---------------- grouped kernels ----------------

    def fold_window(self, factory, carried: dict, keys: list, values, bounds, ingest) -> None:
        """Stage-1 hook (see :meth:`MergeableSketch.fold_window`). Linear
        update builds every group's state for the window in one kernel,
        :meth:`_window_states`. A task that folds several windows keeps this
        contract: a fresh state per window, then :meth:`merge` into the
        carried state in window order. Conservative update keeps the
        per-group loop: its counters depend on how the rows are batched."""
        if self.update_mode != UPDATE_LINEAR:
            return super().fold_window(factory, carried, keys, values, bounds, ingest)
        fresh = self._window_states(values, bounds)
        again = [i for i in fresh if keys[i] in carried]
        if again:
            merged = CmsTopn._merge_level(
                [carried[keys[i]] for i in again], [fresh[i] for i in again]
            )
            fresh.update(zip(again, merged))
        for i, sk in fresh.items():
            carried[keys[i]] = sk

    def _window_states(self, values, bounds) -> dict[int, "CmsTopn"]:
        """Segment index → the state ``add_packed`` gives a new sketch for
        the non-NULL values of ``values[bounds[i]:bounds[i + 1]]``, byte for
        byte; an all-NULL segment gets none. One Murmur pass for the window,
        one ``lexsort`` dedupe on (segment, h1, h2), one ``bincount`` per
        block of at most ``_BLOCK_CELLS`` counters, and each segment's top n
        by :func:`_fresh_rank`, the order a new sketch keeps."""
        data, offsets, lengths, tag = enc.pack_arrow_array(values)
        n_seg = len(bounds) - 1
        seg = np.repeat(np.arange(n_seg), np.diff(bounds))
        if values.null_count:
            seg = seg[values.is_valid().to_numpy(zero_copy_only=False)]
        if len(seg) == 0:
            return {}
        seg_items = np.bincount(seg, minlength=n_seg)  # each state's total and next_seq
        seg_first = np.cumsum(seg_items) - seg_items
        h1, h2 = hash128(data, offsets, lengths, MURMUR_SEED)
        # stable, so each (segment, item) run starts at the item's first index
        order = np.lexsort((h2, h1, seg))
        ss, s1, s2 = seg[order], h1[order], h2[order]
        new = np.ones(len(order), dtype=bool)
        new[1:] = (ss[1:] != ss[:-1]) | (s1[1:] != s1[:-1]) | (s2[1:] != s2[:-1])
        first = order[new]
        useg = ss[new]
        counts = np.diff(np.append(np.flatnonzero(new), len(order)))
        cols = self._cols(h1[first], h2[first])
        groups, gstart, gsize = np.unique(useg, return_index=True, return_counts=True)
        ustart = np.append(gstart, len(first))

        d, w = self.depth, self.width
        rows = np.arange(d).reshape(d, 1)
        per_block = max(1, _BLOCK_CELLS // (d * w))
        blocks = []
        est = np.empty(len(first), dtype=U64)
        for b in range(0, len(groups), per_block):
            nb = min(per_block, len(groups) - b)
            lo, hi = ustart[b], ustart[b + nb]
            local = np.repeat(np.arange(nb), gsize[b : b + nb])
            c = cols[:, lo:hi]
            # float64 weights stay exact: no cell can exceed the window's rows
            block = np.bincount(
                ((local * d + rows) * w + c).ravel(),
                weights=np.tile(counts[lo:hi], d),
                minlength=nb * d * w,
            ).astype(U64).reshape(nb, d, w)
            est[lo:hi] = block[local, rows, c].min(axis=0)
            blocks.append(block)

        rank = _fresh_rank(est, first, useg)
        keep = rank[np.arange(len(first)) - np.repeat(gstart, gsize) < self.n]
        kfirst = first[keep]
        seqs = (kfirst - seg_first[useg[keep]]).tolist()
        freqs = est[keep].tolist()
        items = _item_bytes(data, offsets, lengths, kfirst)
        out = {}
        t = 0
        for j, (g, k) in enumerate(zip(groups.tolist(), np.minimum(gsize, self.n).tolist())):
            topn = {items[i]: [freqs[i], seqs[i]] for i in range(t, t + k)}
            t += k
            total = int(seg_items[g])
            out[g] = self._like(blocks[j // per_block][j % per_block], tag, total, total, topn)
        return out

    @classmethod
    def merge_groups(cls, groups):
        """Stage-2 hook (see :meth:`MergeableSketch.merge_groups`): the
        level-wise merge, for either update mode. Groups are taken in blocks
        of about ``_BLOCK_CELLS`` state counters, and level k merges the k-th
        state of every group in the block into that group's accumulator in
        one :meth:`_merge_level` call, so each result is the pairwise fold
        of the group's states in arrival order."""
        block, cells = [], 0
        for states in groups:
            block.append([sketch_from_bytes(bytes(b)) for b in states])
            cells += sum(len(b) for b in states) // 8
            if cells >= _BLOCK_CELLS:
                yield from _merge_block(block)
                block, cells = [], 0
        if block:
            yield from _merge_block(block)

    @staticmethod
    def _merge_level(accs: list, others: list) -> list:
        """The count-min union (expected/union.out:51-88) of each pair
        ``(accs[i], others[i])``, all of one (depth, width, n); :meth:`merge`
        is the one-pair case. Each pair passes :meth:`_merge_check` first.
        Counters sum elementwise, totals and ``next_seq`` add, and the item
        type is the one either side bound. The candidates are the union of
        both top-n sets with b's seqs shifted by a's ``next_seq`` (an item in
        both keeps the smaller seq). Concatenating the seq ranges puts a's
        items before b's on frequency ties (expected/union.out:63-68) and
        gives ``(a⊕b)⊕c`` and ``a⊕(b⊕c)`` the same seqs. Every candidate is
        hashed in one Murmur pass, estimated against the summed counters and
        ranked by (−freq, seq, item bytes) with one ``lexsort``; each pair
        keeps its first n."""
        a0 = accs[0]
        d, w, n = a0.depth, a0.width, a0.n
        counters = np.empty((len(accs), d, w), dtype=U64)
        pair, items, seqs, types = [], [], [], []
        for i, (a, b) in enumerate(zip(accs, others)):
            types.append(a._merge_check(b))
            np.add(a.counters, b.counters, out=counters[i])
            cand = {it: e[1] for it, e in a.topn.items()}
            for it, e in b.topn.items():
                seq = e[1] + a.next_seq
                if it not in cand or seq < cand[it]:
                    cand[it] = seq
            pair += [i] * len(cand)
            items += cand
            seqs += cand.values()
        c = len(items)
        p = np.asarray(pair, dtype=np.int64)
        s = np.asarray(seqs, dtype=U64)
        h1, h2 = hash128(*enc.pack_bytes(items), MURMUR_SEED)
        cols = a0._cols(h1, h2)
        est = counters[p, np.arange(d).reshape(d, 1), cols].min(axis=0).astype(np.int64)
        # ~est ascending is est descending, with no int64 overflow
        order = np.lexsort((s, ~est, p))
        po, fo, so = p[order], est[order], s[order]
        if np.any((po[1:] == po[:-1]) & (fo[1:] == fo[:-1]) & (so[1:] == so[:-1])):
            # an equal (freq, seq) falls to the item bytes
            by_item = np.empty(c, dtype=np.int64)
            by_item[sorted(range(c), key=items.__getitem__)] = np.arange(c)
            order = np.lexsort((by_item, s, ~est, p))
        # po's runs are the pairs: keep each run's first n
        keep = order[np.arange(c) - np.searchsorted(po, po) < n]
        topns: list[dict] = [{} for _ in accs]
        freqs = est.tolist()
        for t in keep.tolist():
            topns[pair[t]][items[t]] = [freqs[t], seqs[t]]
        return [
            a._like(
                counters[i],
                types[i],
                a.total + b.total,
                a.next_seq + b.next_seq,
                topns[i],
            )
            for i, (a, b) in enumerate(zip(accs, others))
        ]

    # ---------------- serialization ----------------

    def to_bytes(self) -> bytes:
        parts = [
            self.pack_header(item_type=self.item_type, flags=self.update_mode),
            _FIXED.pack(
                self.depth,
                self.width,
                self.n,
                len(self.topn),
                self.eps,
                self.confidence,
                self.total,
                self.next_seq,
            ),
            np.ascontiguousarray(self.counters, dtype="<u8").tobytes(),
        ]
        for it, freq, seq in self._ordered_entries():
            parts.append(_ENTRY.pack(freq, seq, len(it)))
            parts.append(it)
        return b"".join(parts)

    @classmethod
    @frame_guarded
    def from_bytes(cls, b: bytes) -> "CmsTopn":
        kind, version, item_type, flags = cls.unpack_header(b)
        if kind != KIND_CMS_TOPN:
            raise SketchError("not a serialized cms_topn")
        pos = 8
        depth, width, n, count, eps, conf, total, next_seq = _FIXED.unpack_from(b, pos)
        pos += _FIXED.size
        out = cls.__new__(cls)
        out.n, out.eps, out.confidence = n, eps, conf
        out.update_mode = flags
        out.depth, out.width = depth, width
        out.counters = (
            np.frombuffer(b, dtype="<u8", count=depth * width, offset=pos)
            .reshape(depth, width)
            .copy()
        )
        pos += depth * width * 8
        out.item_type = item_type
        out.total = total
        out.next_seq = next_seq
        out.topn = {}
        for _ in range(count):
            freq, seq, ln = _ENTRY.unpack_from(b, pos)
            pos += _ENTRY.size
            if pos + ln > len(b):
                raise SketchError("corrupt serialized sketch: truncated topn item")
            out.topn[bytes(b[pos : pos + ln])] = [freq, seq]
            pos += ln
        if pos != len(b):
            raise SketchError("corrupt serialized sketch: trailing bytes")
        return out

    # convenience for tests
    def __eq__(self, other) -> bool:
        return isinstance(other, CmsTopn) and self.to_bytes() == other.to_bytes()

    # deliberately unhashable: the sketch is MUTABLE and value-equal, so an
    # identity hash would break the hash/eq contract the moment two equal
    # sketches met in a set; key containers by to_bytes() instead
    __hash__ = None


def _fresh_rank(est: np.ndarray, first: np.ndarray, seg: np.ndarray | None = None) -> np.ndarray:
    """Candidate indices by estimate desc, then first index asc, within
    ascending ``seg`` when given.

    On a new top-n the sequential strict-eviction loop keeps exactly the
    head n of this order: its heap minimum is the member with the lowest
    estimate and, among equal estimates, the latest first index, and a later
    item enters only when its estimate is strictly higher, that is, when it
    ranks above that member here. ``~est`` ascending is ``est`` descending,
    with no overflow."""
    return np.lexsort((first, ~est) if seg is None else (first, ~est, seg))


def _item_bytes(data, offsets, lengths, idx: np.ndarray) -> list[bytes]:
    """The payloads of items ``idx`` of a packed batch."""
    mv = memoryview(data) if isinstance(data, (bytes, bytearray)) else memoryview(
        np.ascontiguousarray(data)
    )
    return [
        bytes(mv[o : o + ln])
        for o, ln in zip(np.asarray(offsets)[idx].tolist(), np.asarray(lengths)[idx].tolist())
    ]


def _merge_block(block: list[list]) -> list:
    """One merged sketch per group of live states. The level-wise merge
    needs one (depth, width, n) for the block, which one counter array can
    hold; anything else (another kind, mixed shapes) takes the pairwise
    fold, which reaches the same kernel through :meth:`CmsTopn.merge` and
    raises merge's errors where they occur."""
    head = block[0][0]
    if not all(
        isinstance(sk, CmsTopn)
        and (sk.depth, sk.width, sk.n) == (head.depth, head.width, head.n)
        for states in block
        for sk in states
    ):
        return [functools.reduce(lambda a, b: a.merge(b), states) for states in block]
    accs = [states[0] for states in block]
    for k in range(1, max(map(len, block))):
        live = [i for i, states in enumerate(block) if len(states) > k]
        merged = CmsTopn._merge_level([accs[i] for i in live], [block[i][k] for i in live])
        for i, sk in zip(live, merged):
            accs[i] = sk
    return accs
