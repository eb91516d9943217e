"""No-Spark microbench of the ``core`` kernels and the flagship ingest, on
seeded arrays. Each figure is the median of several repetitions."""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

from telemetry import median

REPS = 5


def _timed(fn, setup=lambda: None, reps: int = REPS) -> float:
    """Median wall seconds of ``fn(setup())``; setup runs untimed."""
    out = []
    for _ in range(reps):
        arg = setup()
        t0 = time.perf_counter()
        fn(arg)
        out.append(time.perf_counter() - t0)
    return median(out)


def _tokens(rng: np.random.Generator, n: int) -> pa.Array:
    """Zipf-ish token strings like the flagship's token stream."""
    ranks = np.minimum(rng.zipf(1.2, n), 100_000)
    return pa.array(np.char.add("tok", ranks.astype(str)), pa.string())


def core_metrics(seed: int, n_items: int = 100_000) -> dict:
    from cms_topn_spark.core import CmsTopn, HyperLogLog, KllSketch, merge_serialized
    from cms_topn_spark.core import encoding as enc
    from cms_topn_spark.core.murmur import MURMUR_SEED, hash128

    rng = np.random.default_rng([seed, 7])
    data, offs, lens = enc.encode_arrow_strings(_tokens(rng, n_items))
    S = enc.TYPE_STRING

    def cms(update: str) -> CmsTopn:
        return CmsTopn(20, 0.001, 0.99, update=update)

    def per_item(seconds: float) -> float:
        return seconds / n_items * 1e9

    m = {
        "core.hash128_ns_per_item": per_item(
            _timed(lambda _: hash128(data, offs, lens, MURMUR_SEED))
        ),
        "core.cms_add_linear_ns_per_item": per_item(
            _timed(lambda sk: sk.add_packed(data, offs, lens, type_tag=S), lambda: cms("linear"))
        ),
        "core.cms_add_conservative_ns_per_item": per_item(
            _timed(lambda sk: sk.add_packed(data, offs, lens, type_tag=S), lambda: cms("conservative"))
        ),
        "core.hll_add_ns_per_item": per_item(
            _timed(lambda sk: sk.add_packed(data, offs, lens, type_tag=S), lambda: HyperLogLog(14))
        ),
    }
    full = cms("linear")
    full.add_packed(data, offs, lens, type_tag=S)
    m["core.cms_estimate_ns_per_item"] = per_item(
        _timed(lambda _: full.estimate_packed(data, offs, lens))
    )
    other = cms("linear")
    d2, o2, l2 = enc.encode_arrow_strings(_tokens(rng, n_items))
    other.add_packed(d2, o2, l2, type_tag=S)
    a_b, b_b = full.to_bytes(), other.to_bytes()

    kll_a, kll_b = KllSketch(200), KllSketch(200)
    kll_a.add_batch(rng.lognormal(3.0, 1.0, n_items))
    kll_b.add_batch(rng.lognormal(3.0, 1.0, n_items))
    ka_b, kb_b = kll_a.to_bytes(), kll_b.to_bytes()

    us = 1e6
    m["core.cms_to_bytes_us"] = _timed(lambda _: full.to_bytes()) * us
    m["core.cms_from_bytes_us"] = _timed(lambda _: CmsTopn.from_bytes(a_b)) * us
    m["core.cms_merge_us"] = _timed(
        lambda ab: ab[0].merge(ab[1]), lambda: (CmsTopn.from_bytes(a_b), CmsTopn.from_bytes(b_b))
    ) * us
    m["core.kll_to_bytes_us"] = _timed(lambda _: kll_a.to_bytes()) * us
    m["core.kll_merge_us"] = _timed(
        lambda ab: ab[0].merge(ab[1]), lambda: (KllSketch.from_bytes(ka_b), KllSketch.from_bytes(kb_b))
    ) * us
    m["core.merge_serialized_us"] = _timed(lambda _: merge_serialized(a_b, b_b)) * us
    return m


def flagship_metrics(seed: int, docs: int = 20_000) -> dict:
    from cms_topn_spark.plans.flagship import flagship_factory, flagship_ingest
    from cms_topn_spark.sources.webpages import _columns_for_ids

    offset = (seed % 100_000) * 10_000_000 + 5_000_000
    cols = _columns_for_ids(np.arange(offset, offset + docs, dtype=np.int64))
    batch = pa.RecordBatch.from_arrays([cols["url"], cols["text"]], ["url", "text"])
    factory = flagship_factory()
    s = _timed(lambda sk: flagship_ingest(sk, batch), factory)
    return {"flagship.ingest_ns_per_doc": s / docs * 1e9}
