"""Sketch kernels: one mergeable-state protocol, six sketches.

CMS+top-n and min-mask rebuild the reference types (cms_mms.c); HLL, Bloom,
KLL and t-digest are the north-rule companions (BASELINE.json). Everything is
numpy-vectorized and serializes to a canonical little-endian frame dispatched
by :func:`sketch_from_bytes`.
"""

from .base import (
    KIND_BLOOM,
    KIND_CMS_TOPN,
    KIND_HLL,
    KIND_KLL,
    KIND_MMS,
    KIND_TDIGEST,
    MergeableSketch,
    SketchError,
    fold_states,
    merge_serialized,
    sketch_from_bytes,
    sketch_from_hex,
    sketch_to_hex,
)
from .bloom import BloomFilter
from .cms_topn import CmsTopn, sizing

# importing the module REGISTERS serialization kind 7: without this, a
# worker that only imported core/operators (e.g. a task running the
# operators.build fold kernel) could not deserialize a composite state
from .composite import CompositeSketch  # noqa: E402  (registration side effect)
from .hll import HyperLogLog
from .kll import KllSketch
from .mms import MinMaskSketch
from .murmur import MURMUR_SEED, hash128, hash128_one
from .tdigest import TDigest

__all__ = [
    "MergeableSketch",
    "SketchError",
    "fold_states",
    "merge_serialized",
    "sketch_from_bytes",
    "sketch_from_hex",
    "sketch_to_hex",
    "CmsTopn",
    "MinMaskSketch",
    "HyperLogLog",
    "BloomFilter",
    "KllSketch",
    "TDigest",
    "sizing",
    "hash128",
    "hash128_one",
    "MURMUR_SEED",
    "KIND_CMS_TOPN",
    "KIND_MMS",
    "KIND_HLL",
    "KIND_BLOOM",
    "KIND_KLL",
    "KIND_TDIGEST",
]
