"""WEBP payloads on the gated container-metadata tier.

WEBP pixel decode (lossy VP8 and lossless VP8L) needs external
libraries; every RIFF/WEBP payload is read by
``containers.webp_metadata`` for its dimensions and codec, and
``decode_image_features`` turns it into a metadata-only gated row.
These tests pin the VP8L paths of that walk (the committed lossless
template, truncated and bad-signature VP8L chunks) and the routing of
lossless and lossy payloads through ``decode_image_features``.
"""

import struct

import pytest

import __spark_entry__ as entry
from photo_dedup_spark.functions.containers import webp_metadata


def wrap_webp(vp8l: bytes) -> bytes:
    """A simple-format RIFF/WEBP container around one VP8L chunk."""
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) & 1:
        chunk += b"\0"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


class TestWebpMalformed:
    def test_not_riff(self):
        with pytest.raises(ValueError):
            webp_metadata(b"ABCD" + b"\0" * 20)

    def test_truncated_stream(self):
        data = entry._WEBP_TEMPLATE
        assert webp_metadata(data)["codec"] == "vp8l"
        with pytest.raises(ValueError, match="truncated"):
            webp_metadata(data[: len(data) - 30])

    def test_bad_signature(self):
        with pytest.raises(ValueError, match="VP8L signature"):
            webp_metadata(wrap_webp(b"\x00" + b"\0" * 10))


class TestMediaIntegration:
    def test_decode_image_features_routes_webp(self, spark):
        from photo_dedup_spark.functions.multimodal import decode_image_features

        lossy = (
            b"RIFF" + struct.pack("<I", 16) + b"WEBP"
            + b"VP8 " + struct.pack("<I", 4) + b"\0\0\0\0"
        )
        rows = [
            (1, bytearray(entry._WEBP_TEMPLATE)),  # lossless 12x10
            (2, bytearray(lossy)),  # truncated VP8 header: decode_error row
        ]
        media = spark.createDataFrame(rows, "media_id long, payload binary")
        out = {r.media_id: r for r in decode_image_features(media).collect()}
        ok = out[1]
        assert (ok.width, ok.height) == (12, 10)
        assert ok.channels is None and ok.features is None
        assert "gated codec webp/vp8l" in ok.decode_error
        assert "external" in ok.decode_error
        bad = out[2]
        assert bad.width is None and bad.features is None
        assert bad.decode_error is not None and "VP8" in bad.decode_error
