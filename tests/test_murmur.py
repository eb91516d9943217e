"""Bit-parity of the vectorized Murmur3 kernel with the reference C hash.

Fixture vectors in tests/fixtures/murmur_vectors.tsv were produced by running
the reference's own MurmurHash3.c (seed 304837963, cms_mms.c:36) over strings,
int4 (4-byte LE) and int8 (8-byte LE) payloads — the exact encodings of
cms_mms.c:394-418. One bit of drift here breaks every golden test downstream.
"""

import os
import random

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cms_topn_spark.core.murmur import hash128, hash128_one

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "murmur_vectors.tsv")


def load_vectors():
    out = []
    with open(FIXTURE, encoding="utf-8") as f:
        for line in f:
            kind, val, h1, h2 = line.rstrip("\n").split("\t")
            if kind == "str":
                b = val.encode("utf-8")
            elif kind == "int4":
                b = int(val).to_bytes(4, "little", signed=True)
            else:
                b = int(val).to_bytes(8, "little", signed=True)
            out.append((kind, val, b, int(h1), int(h2)))
    return out


@pytest.mark.parametrize("kind,val,payload,h1,h2", load_vectors())
def test_reference_vectors(kind, val, payload, h1, h2):
    assert hash128_one(payload) == (h1, h2)


def test_batch_matches_scalar():
    random.seed(1)
    items = [os.urandom(random.randint(0, 70)) for _ in range(500)]
    data = b"".join(items)
    lens = np.array([len(x) for x in items])
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    h1, h2 = hash128(data, offs, lens)
    for i, it in enumerate(items):
        assert (int(h1[i]), int(h2[i])) == hash128_one(it)


def test_noncontiguous_offsets():
    # Arrow buffers can be sliced: offsets need not start at 0 or be dense
    blob = b"XXXhelloYYYcms_topnZZZ"
    offs = np.array([3, 11])
    lens = np.array([5, 8])
    h1, h2 = hash128(blob, offs, lens)
    assert (int(h1[0]), int(h2[0])) == hash128_one(b"hello")
    assert (int(h1[1]), int(h2[1])) == hash128_one(b"cms_topn")


def test_empty_batch():
    h1, h2 = hash128(b"", np.empty(0, np.int64), np.empty(0, np.int64))
    assert len(h1) == 0 and len(h2) == 0


@settings(max_examples=250, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    items=st.lists(st.binary(max_size=40), min_size=1, max_size=60),
    gaps=st.lists(st.binary(max_size=5), min_size=61, max_size=61),
    cut=st.integers(0, 60),
    outlier=st.integers(0, 3000),
    seed=st.integers(0, 2**31 - 1),
)
def test_row_gather_bit_identical(items, gaps, cut, outlier, seed):
    """The row gather that fills the padded matrix is bit-identical to
    hashing each item alone: with junk bytes between payloads, through an
    Arrow-sliced array (non-zero ``offset``), and with one long outlier
    that makes ``hash128`` bucket rows by length class."""
    import pyarrow as pa

    from cms_topn_spark.core.encoding import encode_arrow_strings

    def check(data, offs, lens, want):
        h1, h2 = hash128(data, np.asarray(offs), np.asarray(lens), seed)
        assert [(int(a), int(b)) for a, b in zip(h1, h2)] == [hash128_one(w, seed) for w in want]

    # junk between and after payloads
    data, offs = gaps[0], []
    for it, junk in zip(items, gaps[1:]):
        offs.append(len(data))
        data += it + junk
    check(data, offs, [len(it) for it in items], items)

    # an Arrow slice: offsets start past the buffer's first payloads
    arr = pa.array(items, pa.binary()).slice(cut)
    check(*encode_arrow_strings(arr), items[cut:])

    # a long outlier at the front, so rows are hashed by length class
    big = [bytes(range(256)) * (outlier // 256) + bytes(outlier % 256)] + items
    data = b"".join(big)
    lens = np.array([len(b) for b in big])
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    check(data, offs, lens, big)


def test_hash_peak_memory_is_bounded_by_payload():
    """Filling the padded matrix takes no per-byte index arrays: hashing
    40,000 strings of about 41 bytes peaks below 8× the payload (the former
    scatter fill peaked near 28×)."""
    import tracemalloc

    rng = np.random.default_rng(7)
    lens = rng.integers(30, 53, 40_000)
    data = rng.integers(97, 123, int(lens.sum()), dtype=np.uint8).tobytes()
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    tracemalloc.start()
    try:
        hash128(data, offs, lens)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 8 * len(data)
