"""One-scan corpus profile: the flagship multi-sketch shape over documents.

The flagship job (plans/flagship.py) demonstrates "one scan → many
sketches" over the synthetic webpages table inside the benchmark; this
module puts the SAME shape under the correctness gate on the shared
``documents`` table: a single pass builds

- a token CMS top-n (heavy-hitter vocabulary),
- a distinct-text HLL (corpus dedup rate, sparse-exact at gate scale),
- a per-document token-length KLL (length distribution),

as ONE composite mergeable state — one projection-pruned scan, one
state-sized shuffle, every statistic read from the merged state. At 100 TB
this replaces N separate full-corpus aggregation jobs with one pass whose
exchange is a few sketch-sized rows.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from ..core import CmsTopn, HyperLogLog
from ..core.composite import CompositeSketch
from ..core.kll import KllSketch
from ..operators.build import sketch_agg


def profile_factory(n_tokens: int = 5, eps: float = 0.00002, hll_p: int = 14, kll_k: int = 1 << 18):
    def factory() -> CompositeSketch:
        return CompositeSketch(
            {
                "token_topn": CmsTopn(n_tokens, eps, 0.99, update="linear"),
                "text_hll": HyperLogLog(p=hll_p, sparse_limit=1 << 22),
                "len_kll": KllSketch(kll_k),
            }
        )

    return factory


def profile_ingest(sk: CompositeSketch, batch: pa.RecordBatch) -> None:
    """batch columns: (text string); a NULL text adds to no sketch."""
    texts = batch.column(0)
    sk["text_hll"].add_arrow(texts)
    split = pc.split_pattern(texts, " ")
    sk["len_kll"].add_arrow(pc.list_value_length(split))
    # tokens: pre-aggregate in Arrow C++ so the hash kernel sees each
    # distinct token once with its count (same trick as the flagship)
    vc = pc.value_counts(pc.list_flatten(split))
    sk["token_topn"].add_arrow(vc.field("values"), vc.field("counts"))


def corpus_profile(docs, text_col: str = "text", n_tokens: int = 5) -> dict:
    """One-scan profile → dict of scalars (all exact at gate widths).

    Empty / all-NULL corpora return the well-defined empty profile instead
    of crashing (sketch_agg yields None there). A tie at the maximum token
    frequency is broken lexicographically — the CMS top-n's own tie order
    is insertion-sequence (merge-order dependent), which would make the
    reported token nondeterministic across partitionings. Limitation: the
    tie-break only sees the ``n_tokens`` entries the heap RETAINS — if more
    than ``n_tokens`` tokens tie at the maximum frequency, which tied
    tokens survive the heap is itself merge-order dependent, so
    ``top_token`` is deterministic only while max-frequency ties fit within
    ``n_tokens``. Corpora that may tie wider should raise ``n_tokens``
    above the expected tie width (both entry points take it)."""
    sk = sketch_agg(
        docs.select(text_col), profile_factory(n_tokens=n_tokens), profile_ingest
    )
    return _profile_readout(sk)


def corpus_profile_parquet(
    spark,
    path: str,
    text_col: str = "text",
    split_row_groups: bool = False,
    n_tokens: int = 5,
) -> dict:
    """:func:`corpus_profile` over a parquet path via the columnar-direct
    ingest (operators/build.py sketch_agg_parquet): one partial composite
    state per task over its run of files (or row groups — the giant-file
    remedy), pyarrow-pruned to the text column, no JVM row pivot — the
    global-build analogue of
    grouped_quantiles_parquet, with the same readout and the same oracle
    (gated as ``corpus_profile_direct``)."""
    from ..operators.build import sketch_agg_parquet

    sk = sketch_agg_parquet(
        spark, path, [text_col], profile_factory(n_tokens=n_tokens),
        profile_ingest, split_row_groups=split_row_groups,
    )
    return _profile_readout(sk)


def _profile_readout(sk) -> dict:
    if sk is None:
        return {
            "distinct_texts": 0,
            "total_tokens": 0,
            "top_token": None,
            "top_token_freq": 0,
            "len_q25": None,
            "len_q50": None,
            "len_q75": None,
        }
    top = sk["token_topn"].topn_list()
    top_freq = int(top[0][1]) if top else 0
    tied = sorted(str(t) for t, f in top if int(f) == top_freq)
    q25, q50, q75 = sk["len_kll"].quantiles([0.25, 0.5, 0.75])
    return {
        "distinct_texts": int(sk["text_hll"].estimate()),
        "total_tokens": int(sk["token_topn"].total),
        "top_token": tied[0] if tied else None,
        "top_token_freq": top_freq,
        "len_q25": float(q25) if q25 is not None else None,
        "len_q50": float(q50) if q50 is not None else None,
        "len_q75": float(q75) if q75 is not None else None,
    }
