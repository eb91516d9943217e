"""``add_arrow``, the one entry by which a column reaches a sketch: a NULL
item or weight drops its row, and the result is byte-for-byte the
``add_batch`` of the surviving Python values and weights."""

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

STRINGS = ["a", None, "b", "a", "c", "d", "b", None]
FLOATS = [2.5, None, 1.0, 2.5, 7.0, -3.0, 1.0, None]
WEIGHTS = [2, 1, None, 3, 1, 4, 5, None]
MASKS = [1, 2, None, 4, -1, 8, 16, 32]

# name → (factory, items, weights or None)
CASES = {
    "cms_linear": (lambda: CmsTopn(3, 0.01, 0.99, update="linear"), STRINGS, WEIGHTS),
    "cms_conservative": (lambda: CmsTopn(3, 0.01, 0.99), STRINGS, WEIGHTS),
    "mms": (lambda: MinMaskSketch(0.01, 0.99), STRINGS, MASKS),
    "hll": (lambda: HyperLogLog(10), STRINGS, None),
    "bloom": (lambda: BloomFilter(1000, 0.01), STRINGS, None),
    "kll": (lambda: KllSketch(8), FLOATS, None),
    "tdigest": (lambda: TDigest(10), FLOATS, WEIGHTS),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_add_arrow_equals_add_batch_of_surviving_rows(name):
    factory, items, weights = CASES[name]
    got = factory()
    got.add_arrow(pa.array(items), None if weights is None else pa.array(weights))
    want = factory()
    if weights is None:
        want.add_batch([v for v in items if v is not None])
    else:
        live = [(v, w) for v, w in zip(items, weights) if v is not None and w is not None]
        want.add_batch([v for v, _ in live], [w for _, w in live])
    assert got.to_bytes() == want.to_bytes()
    # an all-NULL column adds nothing, and binds no item type
    empty = factory()
    empty.add_arrow(pa.array([None, None], pa.string() if items is STRINGS else pa.float64()))
    assert empty.to_bytes() == factory().to_bytes()


def test_add_arrow_weights_of_another_length_raise():
    with pytest.raises(SketchError, match="weights length must match items length"):
        CmsTopn(3).add_arrow(pa.array(["a", "b"]), pa.array([1]))


@pytest.mark.filterwarnings("error::DeprecationWarning")
@pytest.mark.parametrize("mask", [-1, 2**64 - 1])
def test_mms_all_ones_mask_spellings(mask):
    """-1 and 2**64 - 1 are both the all-ones mask, through ``add_batch``
    and through ``add_packed``, with no numpy out-of-bound conversion."""
    batch = MinMaskSketch(0.01, 0.99)
    batch.add_batch([5], [mask])
    packed = MinMaskSketch(0.01, 0.99)
    data, offsets, lengths, tag = enc.pack_arrow_array(pa.array([5], pa.int32()))
    packed.add_packed(data, offsets, lengths, [mask], tag)
    assert batch.get_mask(5) == packed.get_mask(5) == 2**64 - 1
    assert batch.to_bytes() == packed.to_bytes()
    # both spellings, and a small mask beside the largest, in one list
    both = MinMaskSketch(0.01, 0.99)
    both.add_batch([5, 6, 7], [-1, 2**64 - 1, 1])
    data, offsets, lengths, tag = enc.pack_arrow_array(pa.array([5, 6, 7], pa.int32()))
    packed = MinMaskSketch(0.01, 0.99)
    packed.add_packed(data, offsets, lengths, [-1, 2**64 - 1, 1], tag)
    assert [both.get_mask(v) for v in (5, 6, 7)] == [2**64 - 1, 2**64 - 1, 1]
    assert both.to_bytes() == packed.to_bytes()
