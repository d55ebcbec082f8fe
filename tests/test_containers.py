"""Container-metadata tier: WEBP (VP8 / VP8L) + HEIF dimensions without
pixel decode (r4 VERDICT next-round #4; reference image envelope
hasher.py:23 / HEIC plugin hasher.py:301-310).

The fixtures are hand-assembled from the PUBLIC specs (RFC 6386 §9.1,
RFC 9649 §3, ISO 14496-12 / 23008-12 box structure) — the same
referee-construction pattern the other codec tests use.
"""

from __future__ import annotations

import struct

import pytest

from photo_dedup_spark.functions.containers import (
    heif_metadata,
    webp_metadata,
)


def _box(t: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + t + body


def _riff_webp(*chunks: tuple[bytes, bytes]) -> bytes:
    body = b""
    for cid, payload in chunks:
        body += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


def _vp8_key_payload(w: int, h: int, interframe: bool = False) -> bytes:
    tag = (64 << 5) | (1 << 4) | (1 if interframe else 0)
    hdr = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
    if not interframe:
        hdr += b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
    return hdr + b"\x00" * 64


def _heif(w: int, h: int, brand: bytes = b"heic", extra_ispe=()) -> bytes:
    ispe = b"".join(
        _box(b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II", ew, eh))
        for ew, eh in (*extra_ispe, (w, h))
    )
    iprp = _box(b"iprp", _box(b"ipco", ispe))
    hdlr = _box(b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4 + b"pict" + b"\x00" * 12)
    meta = _box(b"meta", b"\x00\x00\x00\x00" + hdlr + iprp)
    return _box(b"ftyp", brand + b"\x00\x00\x00\x00" + brand + b"mif1") + meta


class TestWebpMetadata:
    def test_lossy_vp8_keyframe_dims(self):
        data = _riff_webp((b"VP8 ", _vp8_key_payload(632, 480)))
        m = webp_metadata(data)
        assert m == {
            "codec": "vp8",
            "width": 632,
            "height": 480,
            "alpha": False,
            "animation": False,
        }

    def test_lossy_14bit_dims_mask_scale_bits(self):
        # upscale bits (top 2 of each 16-bit word) must not leak into dims
        payload = bytearray(_vp8_key_payload(1000, 700))
        w16 = 1000 | (2 << 14)
        h16 = 700 | (1 << 14)
        payload[6:10] = struct.pack("<HH", w16, h16)
        m = webp_metadata(_riff_webp((b"VP8 ", bytes(payload))))
        assert (m["width"], m["height"]) == (1000, 700)

    def test_vp8l_header_dims(self):
        # RFC 9649 §3: 0x2F then LSB-first 14-bit w-1 / h-1 / alpha / version
        bits = (12 - 1) | ((10 - 1) << 14) | (1 << 28)
        data = _riff_webp((b"VP8L", bytes([0x2F]) + struct.pack("<I", bits)))
        m = webp_metadata(data)
        assert m["codec"] == "vp8l"
        assert (m["width"], m["height"]) == (12, 10)
        assert m["alpha"] is True

    def test_vp8x_canvas_wins_and_flags(self):
        vp8x = bytes([0x10 | 0x02]) + b"\x00\x00\x00" + b"\x1f\x03\x00" + b"\x57\x02\x00"
        data = _riff_webp(
            (b"VP8X", vp8x), (b"VP8 ", _vp8_key_payload(16, 16))
        )
        m = webp_metadata(data)
        # canvas minus-one fields: 0x031f+1=800, 0x0257+1=600
        assert (m["width"], m["height"]) == (800, 600)
        assert m["codec"] == "vp8"
        assert m["alpha"] is True and m["animation"] is True

    def test_template_vp8l_matches_decoder(self):
        # the committed 12x10 VP8L template's header gives its size
        import __spark_entry__ as entry

        m = webp_metadata(entry._WEBP_TEMPLATE)
        assert m["codec"] == "vp8l"
        assert (m["width"], m["height"]) == (12, 10)

    @pytest.mark.parametrize(
        "data",
        [
            b"RIFF\x04\x00\x00\x00WAVE",  # not webp
            _riff_webp((b"VP8 ", _vp8_key_payload(10, 10, interframe=True))),
            _riff_webp((b"VP8 ", b"\x00\x00\x00" + b"\xde\xad\xbe" + b"\x00" * 8)),
            _riff_webp((b"ICCP", b"\x00" * 8)),  # no image chunk
            _riff_webp((b"VP8 ", b"\x00\x10")),  # truncated header
        ],
    )
    def test_malformed_raises_typed(self, data):
        with pytest.raises(ValueError):
            webp_metadata(data)


class TestHeifMetadata:
    def test_basic_heic_dims(self):
        m = heif_metadata(_heif(4032, 3024))
        assert m == {
            "brand": "heic",
            "width": 4032,
            "height": 3024,
            "n_extents": 1,
        }

    def test_primary_is_largest_extent(self):
        # thumbnail + auxiliary extents precede the primary
        m = heif_metadata(_heif(1600, 1200, extra_ispe=((160, 120), (240, 180))))
        assert (m["width"], m["height"]) == (1600, 1200)
        assert m["n_extents"] == 3

    def test_avif_brand_accepted(self):
        m = heif_metadata(_heif(640, 360, brand=b"avif"))
        assert m["brand"] == "avif"
        assert (m["width"], m["height"]) == (640, 360)

    def test_non_heif_brand_rejected(self):
        data = _heif(100, 100)
        data = _box(b"ftyp", b"isom\x00\x00\x00\x00isommp42") + data[
            len(_box(b"ftyp", b"heic\x00\x00\x00\x00heicmif1")) :
        ]
        with pytest.raises(ValueError, match="brand"):
            heif_metadata(data)

    def test_missing_ispe_raises(self):
        hdlr = _box(b"hdlr", b"\x00" * 24)
        meta = _box(b"meta", b"\x00\x00\x00\x00" + hdlr + _box(b"iprp", _box(b"ipco", b"")))
        data = _box(b"ftyp", b"heic\x00\x00\x00\x00heicmif1") + meta
        with pytest.raises(ValueError, match="ispe"):
            heif_metadata(data)

    def test_truncated_box_raises(self):
        data = _heif(800, 600)[:-6]
        with pytest.raises(ValueError):
            heif_metadata(data)


class TestGatedRowsCarryMetadata:
    """decode_image_features: gated codecs emit width/height + a
    ``gated codec`` marker with NULL features — never a task crash."""

    def test_media_rows(self, spark):
        import __spark_entry__ as entry

        from photo_dedup_spark.functions.multimodal import decode_image_features

        rows = [
            (1, bytearray(_riff_webp((b"VP8 ", _vp8_key_payload(320, 240))))),
            (2, bytearray(_heif(1920, 1080))),
            (3, bytearray(b"P5\n2 2\n255\n\x00\x40\x80\xc0")),  # real decode
            (4, bytearray(b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00")),  # gated, no meta
            (5, bytearray(entry._WEBP_TEMPLATE)),  # lossless VP8L: metadata only
            (6, bytearray(b"GIF89a" + bytes(20))),  # no GIF decoder
        ]
        media = spark.createDataFrame(rows, "media_id long, payload binary")
        got = {r.media_id: r for r in decode_image_features(media).collect()}
        assert (got[1].width, got[1].height) == (320, 240)
        assert got[1].features is None and "gated codec webp/vp8" in got[1].decode_error
        assert (got[2].width, got[2].height) == (1920, 1080)
        assert got[2].features is None and "gated codec heif/heic" in got[2].decode_error
        assert got[3].decode_error is None and got[3].features is not None
        assert got[4].width is None and got[4].decode_error  # typed per-row error
        assert (got[5].width, got[5].height) == (12, 10)
        assert got[5].features is None and "gated codec webp/vp8l" in got[5].decode_error
        assert got[6].width is None and "external" in got[6].decode_error
