"""Serialized-state format stability: committed v1 fixtures must deserialize
identically in every future version (the analogue of the reference's
data/in_out_test binary fixtures). If a layout change is ever required, bump
VERSION in core/base.py and keep reading v1."""

import os

from cms_topn_spark.core import sketch_from_bytes

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "states_v1")


def _load(name: str):
    with open(os.path.join(FIXTURES, f"{name}.bin"), "rb") as f:
        return f.read()


def test_cms_topn_v1():
    b = _load("cms_topn")
    sk = sketch_from_bytes(b)
    assert sk.topn_list() == [("alpha", 5), ("beta", 3), ("gamma", 1)]
    assert sk.estimate("alpha") == 5 and sk.estimate("zeta") == 0
    assert sk.to_bytes() == b  # byte-for-byte round trip


def test_hll_v1():
    b = _load("hll")
    sk = sketch_from_bytes(b)
    assert sk.estimate() == 100
    assert sk.to_bytes() == b


def test_bloom_v1():
    b = _load("bloom")
    sk = sketch_from_bytes(b)
    assert sk.contains("x") and sk.contains("y") and sk.contains("z")
    assert not sk.contains("definitely-not-present")
    assert sk.to_bytes() == b


def test_kll_v1():
    b = _load("kll")
    sk = sketch_from_bytes(b)
    assert sk.quantile(0.5) == 24.5
    assert sk.to_bytes() == b


def test_tdigest_v1():
    b = _load("tdigest")
    sk = sketch_from_bytes(b)
    assert abs(sk.quantile(0.5) - 24.5) < 1.0
    assert sk.to_bytes() == b


def test_mms_v1():
    b = _load("mms")
    sk = sketch_from_bytes(b)
    assert sk.get_mask("u") == 0b101
    assert sk.to_bytes() == b


def test_truncated_frames_raise_sketcherror_everywhere():
    """Round-6 verify probe: truncated/corrupt frames must surface as
    SketchError from BOTH entry points — the polymorphic sketch_from_bytes
    AND each class's own from_bytes (which previously leaked struct.error
    on a header-truncating cut)."""
    import pytest

    from cms_topn_spark.core import SketchError
    from cms_topn_spark.core.base import _REGISTRY

    for name in ("cms_topn", "hll", "bloom", "kll", "tdigest", "mms"):
        b = _load(name)
        cls = type(sketch_from_bytes(b))
        for cut in (4, 12, 40, len(b) - 1):
            if cut >= len(b):
                continue
            with pytest.raises(SketchError):
                sketch_from_bytes(b[:cut])
            with pytest.raises(SketchError):
                cls.from_bytes(b[:cut])
    # unknown kind byte still rejected
    bad = _load("cms_topn")
    bad = bad[:4] + bytes([99]) + bad[5:]
    with pytest.raises(SketchError):
        sketch_from_bytes(bad)
    # unknown item-type tag (header byte 6) rejected by every kind
    for name in ("cms_topn", "hll", "bloom", "kll", "tdigest", "mms"):
        b = _load(name)
        cls = type(sketch_from_bytes(b))
        for tag in (9, 200):
            bad = b[:6] + bytes([tag]) + b[7:]
            with pytest.raises(SketchError, match="unknown item type tag"):
                sketch_from_bytes(bad)
            with pytest.raises(SketchError, match="unknown item type tag"):
                cls.from_bytes(bad)
    assert _REGISTRY  # registry populated (guard applied to registered classes)


def test_hex_text_form():
    """cms_in/cms_out analogue: PG bytea hex literal round-trip (cms_mms.c:105-126)."""
    import pytest

    from cms_topn_spark.core import SketchError, sketch_from_hex, sketch_to_hex

    b = _load("cms_topn")
    sk = sketch_from_bytes(b)
    s = sketch_to_hex(sk)
    assert s.startswith("\\x") and s == "\\x" + b.hex()
    back = sketch_from_hex(s)
    assert back.to_bytes() == b
    assert back.topn_list() == sk.topn_list()
    with pytest.raises(SketchError):
        sketch_from_hex("deadbeef")  # missing \x prefix
    with pytest.raises(SketchError):
        sketch_from_hex("\\xZZ")  # not hex
