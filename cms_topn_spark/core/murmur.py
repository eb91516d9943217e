"""Vectorized MurmurHash3_x64_128 (numpy), bit-compatible with the reference.

The reference sketch hashes every item once with MurmurHash3_x64_128 at seed
304837963 (reference: cms_mms.c:36, cms_mms.c:349) and derives the d row hashes
as ``g_i = h1 + i*h2 (mod 2**64)`` (Kirsch–Mitzenmacher; cms_mms.c:359-372).
This module reimplements the 128-bit hash from the published algorithm
(MurmurHash3 by Austin Appleby, public domain) as a numpy kernel that is
vectorized across a *batch* of variable-length byte strings:

- all payloads are packed into one zero-padded ``(n, blocks*16)`` uint8 matrix
  by a row gather over a sliding-window view of the payload bytes, with the
  bytes past each row's length zeroed (no per-byte index arrays and no Python
  per-row loop),
- the 16-byte body rounds loop over ``max(nblocks)`` *columns* while staying
  vectorized over rows,
- the tail is handled branch-free: because padding bytes are zero, reading the
  tail as two little-endian uint64 words and unconditionally applying the tail
  mix is bit-identical to the reference's fall-through switch (a zero ``k``
  contributes nothing to ``h ^= mixed(k)``).

Bit parity with the reference C implementation is pinned by
``tests/fixtures/murmur_vectors.tsv`` (vectors generated by running the
reference's own MurmurHash3.c; no reference code is included here).
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64

MURMUR_SEED = 304837963  # reference: cms_mms.c:36

_C1 = U64(0x87C37B91114253D5)
_C2 = U64(0x4CF5AD432745937F)
_F1 = U64(0xFF51AFD7ED558CCD)
_F2 = U64(0xC4CEB9FE1A85EC53)
_M5 = U64(5)
_A1 = U64(0x52DCE729)
_A2 = U64(0x38495AB5)
_SIXTY_FOUR = U64(64)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    """In-place-leaning rotate: one temp instead of three."""
    r = U64(r)
    t = x >> (_SIXTY_FOUR - r)
    x <<= r
    x |= t
    return x


def _fmix(k: np.ndarray) -> np.ndarray:
    k ^= k >> U64(33)
    k *= _F1
    k ^= k >> U64(33)
    k *= _F2
    k ^= k >> U64(33)
    return k


def hash128(
    data: bytes | np.ndarray,
    offsets: np.ndarray,
    lengths: np.ndarray,
    seed: int = MURMUR_SEED,
) -> tuple[np.ndarray, np.ndarray]:
    """MurmurHash3_x64_128 over ``n`` byte strings, vectorized.

    ``data`` is the concatenation of all payloads; item ``i`` is
    ``data[offsets[i] : offsets[i] + lengths[i]]``. Returns ``(h1, h2)`` as
    uint64 arrays of shape ``(n,)``.

    The dense kernel pads every row to the batch's max length; one long
    outlier among short tokens would inflate that matrix by n × outlier_len
    (an OOM hazard on the hot path). When padding would exceed ~4× the
    payload, rows are bucketed into geometric length classes (each ≤2×
    internal spread) and hashed class-by-class — identical bits, bounded
    memory."""
    lens = np.asarray(lengths, dtype=np.int64)
    offs = np.asarray(offsets, dtype=np.int64)
    n = lens.shape[0]
    if n == 0:
        return np.empty(0, dtype=U64), np.empty(0, dtype=U64)
    nblocks = lens // 16
    maxb = int(nblocks.max())
    padded = n * (maxb + 1) * 16
    if padded > max(4 * int(lens.sum()) + (n << 5), 1 << 20):
        cls = np.floor(np.log2(nblocks + 1)).astype(np.int64)
        h1 = np.empty(n, dtype=U64)
        h2 = np.empty(n, dtype=U64)
        for c in np.unique(cls):
            idx = np.nonzero(cls == c)[0]
            a, b = _hash128_dense(data, offs[idx], lens[idx], seed)
            h1[idx] = a
            h2[idx] = b
        return h1, h2
    return _hash128_dense(data, offs, lens, seed)


def _hash128_dense(
    data: bytes | np.ndarray,
    offs: np.ndarray,
    lens: np.ndarray,
    seed: int,
) -> tuple[np.ndarray, np.ndarray]:
    n = lens.shape[0]
    nblocks = lens // 16
    maxb = int(nblocks.max())
    # maxb body blocks + one zero-padded tail block per row
    W = (maxb + 1) * 16
    if isinstance(data, (bytes, bytearray, memoryview)):
        flat = np.frombuffer(data, dtype=np.uint8)
    else:
        flat = np.asarray(data, dtype=np.uint8)
    L = int(lens[0])
    equal = bool((lens == L).all())
    if equal and np.array_equal(offs, np.arange(n, dtype=np.int64) * L):
        # back-to-back equal-length payloads (fixed-width encodings, k-gram
        # words): one strided block copy
        buf = np.zeros((n, W), dtype=np.uint8)
        buf[:, :L] = flat[: n * L].reshape(n, L)
    else:
        # row gather: row i is the W bytes from offs[i] of the zero-padded
        # payload (a window view, so no per-byte index arrays), then every
        # byte at or past the row's length, which belongs to the next
        # payloads, is zeroed. Peak memory is about the payload plus two
        # (n, W) arrays.
        windows = np.lib.stride_tricks.sliding_window_view(
            np.concatenate((flat, np.zeros(W, dtype=np.uint8))), W
        )
        buf = windows[offs]
        if equal:
            buf[:, L:] = 0
        else:
            np.multiply(buf, np.arange(W) < lens[:, None], out=buf)

    words = buf.view("<u8")  # (n, 2*(maxb+1)) little-endian 64-bit words

    h1 = np.full(n, seed, dtype=U64)
    h2 = np.full(n, seed, dtype=U64)

    for i in range(maxb):
        m = nblocks > i
        if not m.any():
            break
        k1 = words[m, 2 * i]
        k2 = words[m, 2 * i + 1]
        a1 = h1[m]
        a2 = h2[m]
        k1 = k1 * _C1
        k1 = _rotl(k1, 31)
        k1 *= _C2
        a1 ^= k1
        a1 = _rotl(a1, 27)
        a1 += a2
        a1 = a1 * _M5 + _A1
        k2 = k2 * _C2
        k2 = _rotl(k2, 33)
        k2 *= _C1
        a2 ^= k2
        a2 = _rotl(a2, 31)
        a2 += a1
        a2 = a2 * _M5 + _A2
        h1[m] = a1
        h2[m] = a2

    # Tail: zero padding makes the unconditional word-read equivalent to the
    # reference's byte-wise fall-through switch.
    ridx = np.arange(n)
    k1 = words[ridx, 2 * nblocks] * _C1
    k1 = _rotl(k1, 31)
    k1 *= _C2
    h1 ^= k1
    k2 = words[ridx, 2 * nblocks + 1] * _C2
    k2 = _rotl(k2, 33)
    k2 *= _C1
    h2 ^= k2

    ulen = lens.astype(U64)
    h1 ^= ulen
    h2 ^= ulen
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = h1 + h2
    h2 = h2 + h1
    return h1, h2


def probe_index(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(k, n) probe indices ``g_i = (h1 + i*h2) mod 2**64 mod m`` for
    ``i < k`` (Kirsch–Mitzenmacher; cms_mms.c:359-372)."""
    i = np.arange(k, dtype=U64).reshape(k, 1)
    return ((h1[None, :] + i * h2[None, :]) % U64(m)).astype(np.int64)


def hash128_one(item: bytes, seed: int = MURMUR_SEED) -> tuple[int, int]:
    """Scalar convenience wrapper (used by tests and driver-side probes)."""
    h1, h2 = hash128(item, np.array([0]), np.array([len(item)]), seed)
    return int(h1[0]), int(h2[0])
