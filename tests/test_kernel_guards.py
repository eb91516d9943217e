"""Kernel edge-case guards: the item-type policy, NaN/weight handling, merge
determinism under mixed configs, and the murmur outlier-batch path."""

import numpy as np
import pyarrow as pa
import pytest

from cms_topn_spark.core import (
    BloomFilter,
    CmsTopn,
    HyperLogLog,
    KllSketch,
    MinMaskSketch,
    SketchError,
    TDigest,
)
from cms_topn_spark.core import encoding as enc


def _add_masks(sk, values, **kw):
    sk.add_batch(values, [3] * len(values), **kw)


# sketch → (empty sketch, batch add, one-item add, point probe, its packed
# query, probe result for an item added once, probe result for an item never
# added)
_ITEM_SKETCHES = {
    "cms_topn": (
        lambda: CmsTopn(5),
        CmsTopn.add_batch,
        CmsTopn.add,
        CmsTopn.estimate,
        "estimate_packed",
        1,
        0,
    ),
    "mms": (
        lambda: MinMaskSketch(0.001),
        _add_masks,
        lambda sk, v: sk.add(v, 3),
        MinMaskSketch.get_mask,
        "get_masks_packed",
        3,
        0,
    ),
    "hll": (
        HyperLogLog,
        HyperLogLog.add_batch,
        lambda sk, v: sk.add_batch([v]),
        None,
        None,
        None,
        None,
    ),
    "bloom": (
        lambda: BloomFilter(100),
        BloomFilter.add_batch,
        lambda sk, v: sk.add_batch([v]),
        BloomFilter.contains,
        "contains_packed",
        True,
        False,
    ),
}


def _probe_entry(entry, probe, query, never):
    """A probe of a value list through one entry point: the Python method,
    one value at a time, or one Arrow array through ``ItemSketch._probe``
    (the path of the Spark column probes)."""
    if probe is None:
        return None
    if entry == "python":
        return lambda sk, values: [probe(sk, v) for v in values]
    return lambda sk, values: sk._probe(pa.array(values), getattr(sk, query), never).tolist()


# mixed-family Python batch → (type_tag given to add_batch, the bound type
# or the error); Arrow infers one type from every value, never the first only
_MIXED_BATCHES = {
    "int_float": ([2, 1.5], None, enc.TYPE_FLOAT64),
    "int_bool": ([5, True], None, TypeError),
    "int_str": ([1, "a"], None, TypeError),
    "float_as_int32": ([2, 1.5], enc.TYPE_INT32, TypeError),
}


class TestTypedQueryRules:
    @pytest.mark.parametrize(
        "name, mixed, entry",
        [
            # the Python entry point keeps the bare sketch[-batch] id
            pytest.param(n, m, e, id="-".join(filter(None, (n, m, e if e == "arrow" else None))))
            for e in ("python", "arrow")
            for n in _ITEM_SKETCHES
            for m in (None, *_MIXED_BATCHES)
        ],
    )
    def test_item_type_policy(self, name, mixed, entry):
        """The item-type policy every hashed sketch shares (ItemSketch), with
        the one probe rule held through both probe entry points."""
        make, add, add_one, probe, query, hit, never = _ITEM_SKETCHES[name]
        probe = _probe_entry(entry, probe, query, never)
        if mixed is not None:
            batch, type_tag, want = _MIXED_BATCHES[mixed]
            sk = make()
            if want is TypeError:
                with pytest.raises(TypeError, match="cannot convert the items to one item type"):
                    add(sk, batch, type_tag=type_tag)
                assert sk.item_type == enc.TYPE_UNSET  # a refused batch binds nothing
            else:
                add(sk, batch, type_tag=type_tag)
                assert sk.item_type == want
                if probe is not None:
                    # an int held exactly by float64 probes as that float
                    assert probe(sk, [2.0, 1.5, 2]) == [hit, hit, hit]
                    add(sk, [float(2**60)])
                    assert probe(sk, [2**60, 2**60 + 1]) == [hit, never]  # 2**60 + 1 is not held
            return
        narrow = make()
        add_one(narrow, 5)  # the first add binds the type
        assert narrow.item_type == enc.TYPE_INT32
        wide = make()
        add(wide, [2**40, 5])  # one wide int encodes the whole batch as int64
        assert wide.item_type == enc.TYPE_INT64
        one_by_one = make()
        add_one(one_by_one, 2**40)
        add_one(one_by_one, 5)  # an int32-looking add to an int64 sketch is int64
        assert one_by_one.to_bytes() == wide.to_bytes()
        if probe is not None:
            # a NULL answers None through a Python value probe (False for a
            # Bloom membership), and the miss through an Arrow array
            null = None if entry == "python" and name != "bloom" else never
            # cannot fit int32 ⇒ never added
            assert probe(narrow, [5, 2**40, None]) == [hit, never, null]
            # a float that an int holds exactly probes as that int
            assert probe(narrow, [5.0, 5.5, float("nan")]) == [hit, never, never]
            assert probe(wide, [5, 2**40]) == [hit, hit]  # int32-looking probe reads as int64
            with pytest.raises(SketchError, match=f"not a proper {narrow.NAME} for the result type"):
                probe(narrow, ["5"])
        with pytest.raises(SketchError, match=f"not proper type for this {narrow.NAME}"):
            add(narrow, ["5"])
        strings = make()
        add_one(strings, "5")
        with pytest.raises(SketchError, match=f"cannot merge {narrow.PLURAL} of different types"):
            narrow.merge(strings)
        assert make().merge(narrow).item_type == enc.TYPE_INT32  # the bound side's type

    def test_bloom_contains_wide_int_is_false_not_crash(self):
        b = BloomFilter(100)
        b.add_batch([5, 7])  # binds int32
        assert b.contains(2**40) is False  # cannot fit ⇒ never added
        assert b.contains(5) is True
        with pytest.raises(SketchError):
            b.contains("5")  # cross-family query is a type error

    def test_bloom_small_int_probe_on_int64_filter(self):
        b = BloomFilter(100)
        b.add_batch([2**40, 5])  # binds int64 (wide value in batch)
        assert b.contains(5) is True  # int32-looking probe coerces to int64
        assert b.contains(2**40) is True


class TestNanAndWeightHandling:
    def test_tdigest_nan_in_list_dropped(self):
        t = TDigest()
        t.add_batch([1.0, float("nan"), 2.0, None])
        assert t.n == 2
        assert not np.isnan(t.quantile(0.5))
        u = TDigest()
        u.add_batch(np.array([1.0, np.nan, 2.0]))
        assert t.to_bytes() == u.to_bytes()  # container type is irrelevant

    def test_tdigest_weighted_adds(self):
        t = TDigest(delta=1e6)  # exact regime
        t.add_batch([1.0, 100.0], counts=[99, 1])
        assert t.n == 100
        assert t.quantile(0.5) == pytest.approx(1.0, abs=1e-9)
        with pytest.raises(SketchError):
            TDigest().add_batch([1.0], counts=[-1])
        with pytest.raises(SketchError):
            TDigest().add_batch([1.0, 2.0], counts=[1])

    def test_kll_nan_in_list_dropped_and_counts_rejected(self):
        k = KllSketch()
        k.add_batch([1.0, float("nan"), 2.0])
        assert k.n == 2
        assert not np.isnan(k.quantile(0.99))
        with pytest.raises(SketchError):
            KllSketch().add_batch([1.0, 100.0], counts=[99, 1])

    def test_cms_negative_counts_rejected(self):
        s = CmsTopn(3)
        with pytest.raises(SketchError):
            s.add_batch(["a"], counts=[-1])
        assert s.total == 0  # nothing was folded before the raise


class TestMergeDeterminism:
    def test_hll_mixed_sparse_limit_merge_commutes(self):
        a = HyperLogLog(14, sparse_limit=2)
        a.add_batch([1, 2])
        b = HyperLogLog(14, sparse_limit=1000)
        b.add_batch([3, 4, 5])
        ab, ba = a.merge(b), b.merge(a)
        assert ab.mode == ba.mode
        assert ab.to_bytes() == ba.to_bytes()
        assert ab.estimate() == ba.estimate()

    def test_cms_mixed_update_mode_merge_refused(self):
        c1 = CmsTopn(5, update="conservative")
        c2 = CmsTopn(5, update="linear")
        with pytest.raises(SketchError):
            c1.merge(c2)


class TestMurmurOutlierBatch:
    def test_outlier_batch_bit_parity_without_blowup(self):
        from cms_topn_spark.core.murmur import hash128, hash128_one

        rng = np.random.default_rng(3)
        items = [bytes(rng.integers(0, 256, int(l), dtype=np.uint8)) for l in rng.integers(0, 40, 2000)]
        items[777] = bytes(rng.integers(0, 256, 200_000, dtype=np.uint8))
        data = b"".join(items)
        lens = np.array([len(x) for x in items], dtype=np.int64)
        offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
        h1, h2 = hash128(data, offs, lens)
        for i in (0, 777, 1999, 17):
            assert (int(h1[i]), int(h2[i])) == hash128_one(items[i])


class TestEstimateBatchAndOverflow:
    def test_estimate_many_matches_estimate(self):
        sk = CmsTopn(5, 0.001, 0.99, update="linear")
        for w, c in (("a", 3), ("b", 7), ("c", 1)):
            sk.add_batch([w], counts=[c])
        probes = ["a", "b", "c", "missing", None]
        assert sk.estimate_many(probes) == [sk.estimate(p) for p in probes]

    def test_estimate_many_int_coercion_rules(self):
        sk = CmsTopn(5, update="linear")
        sk.add_batch([np.int32(7).item()], counts=[2])  # binds int32
        # int64 too wide for an int32-bound sketch ⇒ 0, not a crash
        got = sk.estimate_many([7, 2**40, None])
        assert got[0] == 2 and got[1] == 0 and got[2] is None
        with pytest.raises(SketchError):
            sk.estimate_many(["a string"])

    def test_linear_huge_counts_stay_exact(self):
        # a per-batch count sum beyond 2^53 would silently round through the
        # bincount float64 weights; the guard must route to the exact path
        # and keep the one-sided f-hat >= f guarantee
        sk = CmsTopn(5, 0.01, 0.99, update="linear")
        big = (1 << 53) + 3
        sk.add_batch(["x"], counts=[big])
        sk.add_batch(["x"], counts=[5])
        assert sk.estimate("x") == big + 5
        assert sk.total == big + 5


class TestEmbeddingMatrix:
    @pytest.mark.parametrize("dtype", [np.float64, np.float32])
    def test_matrix_and_null_or_ragged_rows_raise(self, dtype):
        import pyarrow as pa

        from cms_topn_spark.operators.similarity import _batch_embedding_matrix

        f32_list = pa.list_(pa.float32())
        arr = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]], type=f32_list)
        mat = _batch_embedding_matrix(arr.slice(1), dtype)  # non-zero offset
        assert mat.dtype == dtype and mat.tolist() == [[3.0, 4.0], [5.0, 6.0]]
        with pytest.raises(ValueError, match="1 nulls"):
            _batch_embedding_matrix(pa.array([[1.0, 2.0], None], type=f32_list), dtype)
        with pytest.raises(ValueError, match="lengths 1..2"):
            _batch_embedding_matrix(pa.array([[1.0, 2.0], [3.0]], type=f32_list), dtype)
