"""The flagship north-star job: one scan → four sketches (BASELINE.json:6).

Heavy-hitter URLs, hostnames and text tokens plus distinct-URL HLL over the
web-pages table, in a SINGLE pass:

- projection (url, text) is pushed to the parquet scan (2 of 5 columns read),
- host extraction and tokenization run *inside the Python worker* with Arrow
  C++ kernels (``extract_regex``, ``split_pattern``) — measured 3× faster
  than JVM-side ``explode(split())`` because the exploded token stream never
  crosses the JVM→Python boundary (token rows outnumber docs ~50×),
- all four kernels update per task (at most ``defaultParallelism`` tasks,
  one Python fold each), one composite state row ships per task, and the
  driver folds those rows (``operators.build.sketch_agg``).

This module is what the scaling benchmark times.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..core import CmsTopn, HyperLogLog
from ..core import encoding as enc
from ..core.composite import CompositeSketch
from ..core.murmur import MURMUR_SEED, hash128
from ..operators.build import sketch_agg

HOST_RE = r"^[a-z]+://(?P<host>[^/]+)/"


def flagship_factory(
    n_urls: int = 20, n_hosts: int = 10, n_tokens: int = 50, eps: float = 0.001, hll_p: int = 14
):
    def factory() -> CompositeSketch:
        return CompositeSketch(
            {
                "url_topn": CmsTopn(n_urls, eps, 0.99, update="linear"),
                "host_topn": CmsTopn(n_hosts, eps, 0.99, update="linear"),
                "token_topn": CmsTopn(n_tokens, eps, 0.99, update="linear"),
                "url_hll": HyperLogLog(p=hll_p),
            }
        )

    return factory


def flagship_ingest(sk: CompositeSketch, batch: pa.RecordBatch) -> None:
    """batch columns: (url string, text string)."""
    urls = batch.column(0)
    texts = batch.column(1)
    data, offs, lens = enc.encode_arrow_strings(urls)
    hashes = hash128(data, offs, lens, MURMUR_SEED)  # one hash pass, two sketches
    sk["url_topn"].add_packed(data, offs, lens, type_tag=enc.TYPE_STRING, hashes=hashes)
    sk["url_hll"].add_packed(data, offs, lens, type_tag=enc.TYPE_STRING, hashes=hashes)
    # hosts and tokens repeat heavily (few distincts per batch): pre-aggregate
    # in Arrow C++ so the hash/CMS kernel sees each distinct once with its
    # count (linear update: c adds == one add weighted c) — measured ~7x on
    # the host stage. A URL without a host is a NULL value, which add_arrow
    # drops with its count.
    vc = pc.value_counts(pc.struct_field(pc.extract_regex(urls, HOST_RE), "host"))
    sk["host_topn"].add_arrow(vc.field("values"), vc.field("counts"))
    vc = pc.value_counts(pc.list_flatten(pc.split_pattern(texts, " ")))
    sk["token_topn"].add_arrow(vc.field("values"), vc.field("counts"))


def run_flagship(pages: DataFrame, **params) -> CompositeSketch:
    """One-scan build of the four-sketch composite over a webpages DataFrame."""
    return sketch_agg(pages.select("url", "text"), flagship_factory(**params), flagship_ingest)
