"""Multimodal plumbing: schema, determinism, batch shapes, stub boundaries."""

import numpy as np
import pytest

from cms_topn_spark.operators.multimodal import (
    decode_image,
    decode_video_frames,
    encode_fake_image,
    synthesize_media,
)


class TestCodec:
    def test_fake_decode_deterministic(self):
        a = decode_image(encode_fake_image(20, 10, 42), "x-fake/image")
        b = decode_image(encode_fake_image(20, 10, 42), "x-fake/image")
        assert a.shape == (10, 20, 3) and a.dtype == np.uint8
        assert np.array_equal(a, b)
        c = decode_image(encode_fake_image(20, 10, 43), "x-fake/image")
        assert not np.array_equal(a, c)

    def test_real_codec_is_clearly_stubbed(self):
        with pytest.raises(NotImplementedError, match="Pillow"):
            decode_image(b"\xff\xd8\xff\xe0fakejpeg", "image/jpeg")
        with pytest.raises(NotImplementedError, match="codec"):
            decode_video_frames(b"whatever", "video/mp4")


class TestSparkPlumbing:
    def test_synthesize_schema_and_determinism(self, spark):
        df = synthesize_media(spark, 200, partitions=3)
        assert df.columns == ["media_id", "media", "mime", "width", "height", "n_frames"]
        a = df.orderBy("media_id").collect()
        b = synthesize_media(spark, 200, partitions=7).orderBy("media_id").collect()
        assert a == b  # partitioning-independent
        mimes = {r["mime"] for r in a}
        assert mimes == {"x-fake/image", "x-fake/video"}


def test_media_pixel_stats_matches_duckdb_oracle(spark):
    """The gate operator: decode → integer pixel stats equals the SQL
    re-derivation of the deterministic pixel stream, bit-for-bit, at several
    frame-sampling strides."""
    import duckdb

    from cms_topn_spark.operators.multimodal import (
        media_pixel_stats,
        media_pixel_stats_sql,
    )

    for every in (1, 2, 5):
        got = sorted(
            tuple(r)
            for r in media_pixel_stats(
                synthesize_media(spark, 24, partitions=3), every=every
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in duckdb.connect().execute(media_pixel_stats_sql(24, every=every)).fetchall()
        )
        assert got == want and len(got) == 24
