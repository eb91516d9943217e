"""Companion sketches (HLL, Bloom, KLL, t-digest) + min-mask sketch.

Covers: protocol round-trips, merge algebra (byte-for-byte where contracted),
exact-regime equality against plain Python/numpy oracles, statistical bounds
in the compressed regime, and min-mask reference semantics (cms_mms.c:479-776).
"""

import numpy as np
import pytest

from cms_topn_spark.core import (
    BloomFilter,
    HyperLogLog,
    KllSketch,
    MinMaskSketch,
    SketchError,
    TDigest,
    fold_states,
    merge_serialized,
    sketch_from_bytes,
)
from cms_topn_spark.core import encoding as enc


def roundtrip(s):
    b = s.to_bytes()
    s2 = sketch_from_bytes(b)
    assert s2.to_bytes() == b
    return s2


# ---------------- HLL ----------------


class TestHll:
    def test_sparse_exact(self):
        rng = np.random.default_rng(1)
        vals = rng.integers(0, 5000, 20000)
        h = HyperLogLog(p=14, sparse_limit=1 << 16)
        h.add_batch(vals.tolist(), type_tag=enc.TYPE_INT64)
        assert h.estimate() == len(np.unique(vals))  # exact in sparse mode
        assert roundtrip(h).estimate() == h.estimate()

    def test_sparse_merge_exact_and_associative(self):
        rng = np.random.default_rng(2)
        parts = []
        allvals = []
        for _ in range(4):
            vals = rng.integers(0, 3000, 5000)
            allvals.append(vals)
            h = HyperLogLog(p=14, sparse_limit=1 << 16)
            h.add_batch(vals.tolist(), type_tag=enc.TYPE_INT64)
            parts.append(h.to_bytes())
        m = merge_serialized
        o1 = m(m(m(parts[0], parts[1]), parts[2]), parts[3])
        o2 = m(m(parts[0], parts[1]), m(parts[2], parts[3]))
        assert o1 == o2  # byte-for-byte associativity
        assert fold_states(parts).to_bytes() == o1
        merged = sketch_from_bytes(o1)
        assert merged.estimate() == len(np.unique(np.concatenate(allvals)))

    def test_dense_within_error(self):
        rng = np.random.default_rng(3)
        vals = rng.integers(0, 200_000, 400_000)
        h = HyperLogLog(p=14, sparse_limit=1000)
        h.add_batch(vals.tolist(), type_tag=enc.TYPE_INT64)
        exact = len(np.unique(vals))
        rel_err = abs(h.estimate() - exact) / exact
        assert rel_err < 0.03  # ~1.04/sqrt(2^14) = 0.8% expected

    def test_dense_merge_equals_single_build(self):
        rng = np.random.default_rng(4)
        a_vals = rng.integers(0, 50_000, 60_000)
        b_vals = rng.integers(25_000, 75_000, 60_000)
        build = lambda v: [
            HyperLogLog(p=12, sparse_limit=100).add_batch(v.tolist(), type_tag=enc.TYPE_INT64)
        ]
        a = HyperLogLog(p=12, sparse_limit=100)
        a.add_batch(a_vals.tolist(), type_tag=enc.TYPE_INT64)
        b = HyperLogLog(p=12, sparse_limit=100)
        b.add_batch(b_vals.tolist(), type_tag=enc.TYPE_INT64)
        whole = HyperLogLog(p=12, sparse_limit=100)
        whole.add_batch(np.concatenate([a_vals, b_vals]).tolist(), type_tag=enc.TYPE_INT64)
        assert a.merge(b).to_bytes() == whole.to_bytes()  # registers are max-stable

    def test_param_mismatch(self):
        with pytest.raises(SketchError, match="different parameters"):
            HyperLogLog(p=12).merge(HyperLogLog(p=14))


# ---------------- Bloom ----------------


class TestBloom:
    def test_membership_no_false_negatives(self):
        bf = BloomFilter(capacity=10_000, fpp=1e-6)
        members = [f"key-{i}" for i in range(5000)]
        bf.add_batch(members)
        data, offs, lens = enc.pack_bytes([m.encode() for m in members])
        assert bf.contains_packed(data, offs, lens).all()

    def test_fpp_bound(self):
        bf = BloomFilter(capacity=10_000, fpp=1e-4)
        bf.add_batch([f"key-{i}" for i in range(10_000)])
        probes = [f"other-{i}" for i in range(20_000)]
        data, offs, lens = enc.pack_bytes([p.encode() for p in probes])
        fp = int(bf.contains_packed(data, offs, lens).sum())
        assert fp / 20_000 < 1e-3  # order of magnitude headroom

    def test_merge_or_byte_exact(self):
        a = BloomFilter(capacity=1000, fpp=1e-4)
        b = BloomFilter(capacity=1000, fpp=1e-4)
        a.add_batch(["x", "y"])
        b.add_batch(["z"])
        whole = BloomFilter(capacity=1000, fpp=1e-4)
        whole.add_batch(["x", "y", "z"])
        merged = a.merge(b)
        assert np.array_equal(merged.bits, whole.bits)
        assert merged.contains("x") and merged.contains("z")
        assert roundtrip(merged).contains("y")

    def test_param_mismatch(self):
        with pytest.raises(SketchError, match="different parameters"):
            BloomFilter(1000, 1e-4).merge(BloomFilter(1000, 1e-6))


# ---------------- KLL ----------------


def exact_quantile_cont(vals, q):
    """DuckDB/PostgreSQL quantile_cont: lerp at rank q*(n-1)."""
    v = np.sort(np.asarray(vals, dtype=np.float64))
    t = q * (len(v) - 1)
    i = int(np.floor(t))
    frac = t - i
    j = min(i + 1, len(v) - 1)
    return float(v[i] + (v[j] - v[i]) * frac)


class TestKll:
    def test_exact_regime_matches_quantile_cont(self):
        rng = np.random.default_rng(5)
        vals = rng.normal(100, 15, 150)
        s = KllSketch(k=200)  # n < k ⇒ exact
        s.add_batch(vals)
        for q in (0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0):
            assert s.quantile(q) == exact_quantile_cont(vals, q)

    def test_compacted_within_bound(self):
        rng = np.random.default_rng(6)
        vals = rng.exponential(10, 100_000)
        s = KllSketch(k=200)
        for i in range(0, len(vals), 10_000):
            s.add_batch(vals[i : i + 10_000])
        assert s.n == len(vals)
        sv = np.sort(vals)
        for q in (0.1, 0.5, 0.9, 0.99):
            est = s.quantile(q)
            # rank error: position of est in exact data vs target rank
            rank = np.searchsorted(sv, est) / len(sv)
            assert abs(rank - q) < 0.02  # KLL(200) rank error ~1%

    def test_merge_matches_single_build_exact_regime(self):
        rng = np.random.default_rng(7)
        vals = rng.uniform(0, 1, 120)
        a, b = KllSketch(256), KllSketch(256)
        a.add_batch(vals[:60])
        b.add_batch(vals[60:])
        m = a.merge(b)
        for q in (0.25, 0.5, 0.75):
            assert m.quantile(q) == exact_quantile_cont(vals, q)
        roundtrip(m)

    def test_rank(self):
        s = KllSketch(64)
        s.add_batch(np.arange(50, dtype=np.float64))
        assert s.rank(24.5) == 25

    def test_param_mismatch(self):
        with pytest.raises(SketchError, match="different parameters"):
            KllSketch(64).merge(KllSketch(128))


# ---------------- t-digest ----------------


class TestTDigest:
    def test_exact_regime_matches_quantile_cont(self):
        rng = np.random.default_rng(8)
        vals = rng.normal(0, 1, 200)
        t = TDigest(delta=4 * len(vals))  # delta >= pi*N ⇒ all singletons
        t.add_batch(vals)
        assert np.all(t.weights == 1.0)
        for q in (0.0, 0.25, 0.5, 0.75, 1.0):
            assert t.quantile(q) == exact_quantile_cont(vals, q)

    def test_compressed_accuracy(self):
        rng = np.random.default_rng(9)
        vals = rng.normal(50, 10, 100_000)
        t = TDigest(delta=200)
        for i in range(0, len(vals), 10_000):
            t.add_batch(vals[i : i + 10_000])
        assert len(t.means) < 500  # actually compressed
        sv = np.sort(vals)
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            est = t.quantile(q)
            rank = np.searchsorted(sv, est) / len(sv)
            assert abs(rank - q) < 0.01

    def test_merge_exact_regime(self):
        rng = np.random.default_rng(10)
        vals = rng.uniform(-5, 5, 100)
        a, b = TDigest(delta=1000), TDigest(delta=1000)
        a.add_batch(vals[:50])
        b.add_batch(vals[50:])
        m = a.merge(b)
        assert m.quantile(0.5) == exact_quantile_cont(vals, 0.5)
        assert roundtrip(m).quantile(0.5) == m.quantile(0.5)

    def test_param_mismatch(self):
        with pytest.raises(SketchError, match="different parameters"):
            TDigest(100).merge(TDigest(200))


# ---------------- min-mask sketch ----------------


class TestMms:
    def test_param_errors(self):  # cms_mms.c:616-627
        with pytest.raises(SketchError, match="Error bound has to be between 0 and 1"):
            MinMaskSketch(eps=1.5)
        with pytest.raises(SketchError, match="Confidence interval has to be between 0 and 1"):
            MinMaskSketch(confidence=0.0)

    def test_add_and_get_mask(self):
        s = MinMaskSketch(0.001, 0.99)
        s.add("alice", 0b0001).add("alice", 0b0100).add("bob", 0b0010)
        assert s.get_mask("alice") == 0b0101  # OR-accumulated
        assert s.get_mask("bob") == 0b0010
        assert s.get_mask("carol") == 0  # unseen → empty mask
        assert s.get_mask(None) is None

    def test_masks_accumulate_or_collision_free(self):
        # the reference write rule ("overwrite iff strictly more bits",
        # cms_mms.c:705-709) gives exact OR-accumulation only when the probed
        # cells are collision-free; under collisions bits can be both added
        # and missed — faithful to the reference, so we pin the exact regime
        s = MinMaskSketch(0.0001, 0.99)  # w=27183: 10 keys are collision-free
        users = [f"user-{i}" for i in range(10)]
        expected = {}
        rng = np.random.default_rng(11)
        for rep in range(3):
            masks = rng.integers(0, 2**16, 10)
            s.add_batch(users, masks.tolist())
            for u, m in zip(users, masks.tolist()):
                expected[u] = expected.get(u, 0) | int(m)
        for u in users:
            assert s.get_mask(u) == expected[u]

    def test_merge_or_upper_bound(self):
        a, b = MinMaskSketch(0.01, 0.99), MinMaskSketch(0.01, 0.99)
        a.add("x", 0b01)
        b.add("x", 0b10)
        m = a.merge(b)
        assert m.get_mask("x") & 0b11 == 0b11
        roundtrip(m)

    def test_info(self):
        assert MinMaskSketch(0.001, 0.99).info().startswith(
            "Sketch depth = 5, Sketch width = 2719"
        )

    def test_type_stickiness(self):
        s = MinMaskSketch(0.01, 0.99)
        s.add("x", 1)
        with pytest.raises(SketchError, match="not proper type for this mms"):
            s.add(3, 1)


def test_quantile_bitwise_parity_with_duckdb_exact_regime():
    """KLL and t-digest exact-regime quantiles equal DuckDB quantile_cont
    BITWISE at every practical quantile across varied corpus sizes (the
    oracle contract; adversarial 17-digit q literals may differ by ulps)."""
    import duckdb
    import numpy as np

    from cms_topn_spark.core import KllSketch, TDigest

    for seed, n in ((3, 23), (4, 150), (5, 997)):
        vals = np.random.default_rng(seed).uniform(-1000, 1000, n)
        k = KllSketch(1 << 15)
        k.add_batch(vals)
        t = TDigest(delta=1e8)
        t.add_batch(vals)
        con = duckdb.connect()
        con.execute("CREATE TABLE v (x DOUBLE)")
        con.executemany("INSERT INTO v VALUES (?)", [(float(x),) for x in vals])
        for q in (0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99):
            want = con.execute(f"SELECT quantile_cont(x, {q}) FROM v").fetchone()[0]
            assert k.quantile(q) == want, (seed, n, q)
            assert t.quantile(q) == want, (seed, n, q)
