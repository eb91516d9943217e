"""Multimodal (image / audio / video) columns as opaque binary + typed metadata.

The Spark-side plumbing is real and tested: schema convention, Arrow batch
shapes, ``mapInArrow`` UDF signatures, partition preservation, and the
decode → pixel-statistics gate operator (:func:`media_pixel_stats`). The
*codec* is the only stub: this container ships no image/audio libraries,
so decode dispatches on mime —

- ``x-fake/*`` (the deterministic synthetic format below) decodes for real,
- real formats (image/jpeg, audio/wav, …) use Pillow/soundfile when
  importable and raise ``NotImplementedError`` otherwise (clearly marked).

Schema convention for a media column group:

    media   BINARY      -- encoded payload
    mime    STRING      -- dispatch key
    width   INT, height INT, n_frames INT   -- typed metadata

The fake format: ``b"FIMG" | u16 w | u16 h | seed u64`` — pixels are
splitmix64-generated from (seed, pixel index), so decode is deterministic,
content-addressed, and cheap; exactly what the plumbing tests need.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..sources.webpages import _splitmix64

_IMG = struct.Struct("<4sHHQ")
MAGIC_IMG = b"FIMG"
MAGIC_VID = b"FVID"
_VID = struct.Struct("<4sHHHQ")  # magic, w, h, n_frames, seed

MEDIA_SCHEMA = "media_id long, media binary, mime string, width int, height int, n_frames int"


def encode_fake_image(w: int, h: int, seed: int) -> bytes:
    return _IMG.pack(MAGIC_IMG, w, h, seed)


def encode_fake_video(w: int, h: int, n_frames: int, seed: int) -> bytes:
    return _VID.pack(MAGIC_VID, w, h, n_frames, seed)


def decode_image(payload: bytes, mime: str) -> np.ndarray:
    """→ (h, w, 3) uint8. Real decode for the fake format; gated imports for
    real formats; NotImplementedError when the codec library is absent."""
    if mime == "x-fake/image":
        magic, w, h, seed = _IMG.unpack_from(payload, 0)
        if magic != MAGIC_IMG:
            raise ValueError("bad fake-image payload")
        idx = np.arange(h * w * 3, dtype=np.int64) + (seed << 1)
        return (_splitmix64(idx) % np.uint64(256)).astype(np.uint8).reshape(h, w, 3)
    try:  # pragma: no cover - library not in this container
        import io

        from PIL import Image

        return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    except ImportError as e:  # clearly-marked stub boundary
        raise NotImplementedError(
            f"decoding {mime} requires Pillow, which is not installed; "
            "only x-fake/image decodes in this environment"
        ) from e


def decode_video_frames(payload: bytes, mime: str, every: int = 1) -> np.ndarray:
    """→ (n_sampled, h, w, 3) uint8, frames [0, every, 2*every, ...]."""
    if mime == "x-fake/video":
        magic, w, h, n_frames, seed = _VID.unpack_from(payload, 0)
        if magic != MAGIC_VID:
            raise ValueError("bad fake-video payload")
        frames = []
        for f in range(0, n_frames, every):
            idx = np.arange(h * w * 3, dtype=np.int64) + ((seed + f) << 1)
            frames.append(
                (_splitmix64(idx) % np.uint64(256)).astype(np.uint8).reshape(h, w, 3)
            )
        return np.stack(frames) if frames else np.empty((0, h, w, 3), np.uint8)
    raise NotImplementedError(
        f"decoding {mime} requires a video codec library, not installed here"
    )


def synthesize_media(spark: SparkSession, n: int, partitions: int = 4) -> DataFrame:
    """Deterministic media table: 3/4 images, 1/4 videos, sizes from the id."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids = rb.column(0).to_numpy()
            w = (16 + _splitmix64(ids * 3 + 1) % np.uint64(48)).astype(np.int32)
            h = (16 + _splitmix64(ids * 3 + 2) % np.uint64(48)).astype(np.int32)
            is_vid = (_splitmix64(ids * 3 + 3) % np.uint64(4)) == 0
            nf = np.where(is_vid, 4 + (_splitmix64(ids * 3 + 4) % np.uint64(12)), 1).astype(
                np.int32
            )
            payloads, mimes = [], []
            for i, vid in enumerate(is_vid):
                if vid:
                    payloads.append(
                        encode_fake_video(int(w[i]), int(h[i]), int(nf[i]), int(ids[i]))
                    )
                    mimes.append("x-fake/video")
                else:
                    payloads.append(encode_fake_image(int(w[i]), int(h[i]), int(ids[i])))
                    mimes.append("x-fake/image")
            yield pa.RecordBatch.from_pydict(
                {
                    "media_id": pa.array(ids, pa.int64()),
                    "media": pa.array(payloads, pa.binary()),
                    "mime": pa.array(mimes, pa.string()),
                    "width": pa.array(w, pa.int32()),
                    "height": pa.array(h, pa.int32()),
                    "n_frames": pa.array(nf, pa.int32()),
                }
            )

    return spark.range(0, n, 1, partitions).mapInArrow(fn, MEDIA_SCHEMA)


def media_pixel_stats(df: DataFrame, every: int = 2) -> DataFrame:
    """Decode → INTEGER pixel statistics per media row — the multimodal
    family's correctness-gate operator: it drives the real decode path
    (image decode + video frame sampling) end-to-end and reduces each row to
    engine-exact integers, so the whole pipeline has a bit-exact DuckDB
    oracle (:func:`media_pixel_stats_sql` recomputes the deterministic
    x-fake pixel stream via the SQL splitmix64 rendering).

    Videos contribute frames [0, every, 2·every, …); images their single
    frame. Output per row: dimensions from the DECODED header (not the
    metadata columns — proving decode), total channel-value sum, and the
    lowest/highest grey-histogram bin counts, where grey binning uses the
    integer identity bin = min((r+g+b) // 96, 7) ≡ min(mean(r,g,b) // 32, 7)
    — no float in sight. Pure map (mapInArrow), no shuffle; at scale this is
    the shape every decode/feature stage shares: partition-preserving Arrow
    batches through a vectorized kernel."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids = rb.column(0).to_numpy()
            payloads = rb.column(1)
            mimes = rb.column(2).to_pylist()
            out: dict[str, list] = {
                k: []
                for k in (
                    "media_id", "mime", "width", "height",
                    "n_frames_sampled", "px_sum", "grey_lo", "grey_hi",
                )
            }
            for i in range(len(ids)):
                mime = mimes[i]
                payload = payloads[i].as_py()
                if mime == "x-fake/video":
                    frames = decode_video_frames(payload, mime, every=every)
                else:
                    frames = decode_image(payload, mime)[None]
                # per-pixel channel sum r+g+b in int64: exact, and the grey
                # bin is an integer divide of it (see docstring identity)
                s = frames.astype(np.int64).sum(axis=3)
                out["media_id"].append(int(ids[i]))
                out["mime"].append(mime)
                out["width"].append(frames.shape[2])
                out["height"].append(frames.shape[1])
                out["n_frames_sampled"].append(frames.shape[0])
                out["px_sum"].append(int(s.sum()))
                out["grey_lo"].append(int((s < 96).sum()))
                out["grey_hi"].append(int((s >= 672).sum()))
            yield pa.RecordBatch.from_pydict(
                {
                    "media_id": pa.array(out["media_id"], pa.int64()),
                    "mime": pa.array(out["mime"], pa.string()),
                    "width": pa.array(out["width"], pa.int64()),
                    "height": pa.array(out["height"], pa.int64()),
                    "n_frames_sampled": pa.array(out["n_frames_sampled"], pa.int64()),
                    "px_sum": pa.array(out["px_sum"], pa.int64()),
                    "grey_lo": pa.array(out["grey_lo"], pa.int64()),
                    "grey_hi": pa.array(out["grey_hi"], pa.int64()),
                }
            )

    return df.select("media_id", "media", "mime").mapInArrow(
        fn,
        "media_id long, mime string, width long, height long, "
        "n_frames_sampled long, px_sum long, grey_lo long, grey_hi long",
    )


def media_pixel_stats_sql(n: int, every: int = 2) -> str:
    """DuckDB oracle for :func:`media_pixel_stats` over
    ``synthesize_media(spark, n)``: re-derives the per-id media parameters
    (w, h, is_video, n_frames) AND every pixel's channel value — splitmix64
    of (3·pixel + channel + 2·(id + frame)) mod 256, exactly the payload the
    fake decoder generates — using the bit-exact SQL splitmix64 rendering
    shared with the winnowing/simhash oracles, then aggregates the same
    integer statistics. Bit-for-bit, no tolerance."""
    from .dedup import _splitmix64_sql as sm

    return f"""
    WITH ids AS (SELECT unnest(range(0, {n})) AS media_id),
    par AS (
      SELECT media_id,
             (16 + {sm("media_id*3+1")} % 48)::BIGINT AS w,
             (16 + {sm("media_id*3+2")} % 48)::BIGINT AS h,
             ({sm("media_id*3+3")} % 4 = 0) AS is_vid
      FROM ids
    ),
    par2 AS (
      SELECT media_id, w, h, is_vid,
             CASE WHEN is_vid THEN (4 + {sm("media_id*3+4")} % 12)::BIGINT
                  ELSE 1 END AS nf
      FROM par
    ),
    frames AS (
      SELECT media_id, w, h, unnest(range(0, nf, {every})) AS f
      FROM par2
    ),
    px AS (
      SELECT media_id, f, unnest(range(0, w*h)) AS p
      FROM frames
    ),
    vals AS (
      SELECT media_id,
             ({sm("3*p + 2*(media_id+f)")} % 256)::BIGINT
           + ({sm("3*p + 1 + 2*(media_id+f)")} % 256)::BIGINT
           + ({sm("3*p + 2 + 2*(media_id+f)")} % 256)::BIGINT AS s
      FROM px
    )
    SELECT v.media_id,
           CASE WHEN p2.is_vid THEN 'x-fake/video' ELSE 'x-fake/image' END AS mime,
           p2.w AS width, p2.h AS height,
           ((p2.nf + {every} - 1) // {every})::BIGINT AS n_frames_sampled,
           sum(v.s)::BIGINT AS px_sum,
           sum(CASE WHEN v.s < 96 THEN 1 ELSE 0 END)::BIGINT AS grey_lo,
           sum(CASE WHEN v.s >= 672 THEN 1 ELSE 0 END)::BIGINT AS grey_hi
    FROM vals v JOIN par2 p2 USING (media_id)
    GROUP BY v.media_id, p2.is_vid, p2.w, p2.h, p2.nf
    """

