"""Container-metadata decode for the gated codec tier (HEIC, WEBP).

The reference's image envelope includes ``.heic`` and ``.webp`` via PIL
(/root/reference/photo_dedup/hasher.py:23, opened at hasher.py:95-154;
HEIC plugin registration at hasher.py:301-310).  This repo gates WEBP
(lossy ``VP8 `` and lossless ``VP8L``) and HEIC pixel decode (VP8 /
VP8L / HEVC decoders need external libraries this container does not
ship), and parses the CONTAINER headers for dimensions/codec without
pixel decode instead, so ``media_features`` carries real metadata rows
(width/height/codec) instead of bare decode errors.

Everything implements public specifications from scratch:

  * RIFF/WEBP container walk + VP8 key-frame header — RFC 6386 §9.1
    (3-byte frame tag, 0x9D012A start code, 14-bit width/height with
    2-bit upscale fields) and the WebP container spec (VP8X extended
    header: 24-bit little-endian canvas minus-one fields, feature
    flags);
  * VP8L header — RFC 9649 §3 (0x2F signature byte, LSB-first 14-bit
    width-1/height-1, alpha hint, 3-bit version);
  * HEIF/ISOBMFF box walk — ISO/IEC 14496-12 box structure (32-bit
    big-endian size + fourcc, size==1 ⇒ 64-bit largesize, size==0 ⇒
    to-end) and ISO/IEC 23008-12 ``ispe`` ImageSpatialExtents property
    (FullBox + u32 width + u32 height) inside meta→iprp→ipco.

All failures raise typed ``ValueError`` — callers (the decode UDFs)
surface them as per-row ``decode_error`` data, never task crashes.
"""

from __future__ import annotations

import struct

# ftyp major/compatible brands that mark a HEIF-family still image (or
# image sequence) container.  avif/avis are the AV1 profile of the same
# ISO 23008-12 structure — the ispe walk is identical.
HEIF_BRANDS = frozenset(
    {"heic", "heix", "heim", "heis", "hevc", "hevx", "mif1", "msf1", "avif", "avis"}
)


# ---------------------------------------------------------------------------
# WEBP: RIFF walk + VP8 / VP8L / VP8X headers
# ---------------------------------------------------------------------------


def _vp8_frame_dims(payload: bytes) -> tuple[int, int]:
    """(width, height) from a lossy VP8 key-frame header (RFC 6386 §9.1).

    Layout: 3-byte little-endian frame tag (bit 0 frame type, bits 1-3
    version, bit 4 show_frame, bits 5-23 first-partition size), then —
    key frames only — the 0x9D 0x01 0x2A start code and two 16-bit
    little-endian words: low 14 bits dimension, top 2 bits upscale.
    """
    if len(payload) < 10:
        raise ValueError("truncated VP8 frame header")
    tag = payload[0] | payload[1] << 8 | payload[2] << 16
    if tag & 1:
        # interframe first — no dimensions without the preceding
        # keyframe; a valid still-image webp always starts with a key
        raise ValueError("VP8 payload starts with an interframe")
    if payload[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    (w16,) = struct.unpack_from("<H", payload, 6)
    (h16,) = struct.unpack_from("<H", payload, 8)
    return w16 & 0x3FFF, h16 & 0x3FFF


def _vp8l_header_dims(payload: bytes) -> tuple[int, int, bool]:
    """(width, height, alpha_hint) from a VP8L header (RFC 9649 §3)."""
    if len(payload) < 5 or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    bits = int.from_bytes(payload[1:5], "little")
    w = (bits & 0x3FFF) + 1
    h = ((bits >> 14) & 0x3FFF) + 1
    alpha = bool((bits >> 28) & 1)
    if (bits >> 29) & 7:
        raise ValueError(f"unsupported VP8L version {(bits >> 29) & 7}")
    return w, h, alpha


def webp_metadata(data: bytes) -> dict:
    """Container metadata of any RIFF/WEBP payload WITHOUT pixel decode.

    Returns ``{"codec", "width", "height", "alpha", "animation"}`` —
    codec is ``vp8`` (lossy), ``vp8l`` (lossless) or ``none`` (an
    extended container carrying only non-image chunks).  For extended
    (VP8X) files the canvas fields are authoritative for width/height;
    the codec is read from the first image chunk present.
    """
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")
    codec = "none"
    width = height = None
    alpha = animation = False
    off = 12
    end = min(len(data), 8 + struct.unpack_from("<I", data, 4)[0])
    while off + 8 <= end:
        cid = data[off : off + 4]
        (size,) = struct.unpack_from("<I", data, off + 4)
        body = data[off + 8 : off + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"VP8X":
            if size < 10:
                raise ValueError("truncated VP8X header")
            flags = body[0]
            alpha = bool(flags & 0x10)
            animation = bool(flags & 0x02)
            width = (int.from_bytes(body[4:7], "little")) + 1
            height = (int.from_bytes(body[7:10], "little")) + 1
        elif cid == b"VP8 " and codec == "none":
            codec = "vp8"
            if width is None:
                width, height = _vp8_frame_dims(body)
        elif cid == b"VP8L" and codec == "none":
            codec = "vp8l"
            w, h, a = _vp8l_header_dims(body)
            if width is None:
                width, height = w, h
            alpha = alpha or a
        elif cid == b"ALPH":
            alpha = True
        off += 8 + size + (size & 1)  # chunks are even-padded
    if width is None:
        raise ValueError("RIFF/WEBP with no VP8X/VP8/VP8L header")
    return {
        "codec": codec,
        "width": int(width),
        "height": int(height),
        "alpha": alpha,
        "animation": animation,
    }


# ---------------------------------------------------------------------------
# HEIF: ISOBMFF box walk → ftyp brand + ispe extents
# ---------------------------------------------------------------------------


def _iter_boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for ISO 14496-12 boxes."""
    off = start
    while off + 8 <= end:
        (size,) = struct.unpack_from(">I", data, off)
        typ = data[off + 4 : off + 8]
        hdr = 8
        if size == 1:
            if off + 16 > end:
                raise ValueError("truncated largesize box header")
            (size,) = struct.unpack_from(">Q", data, off + 8)
            hdr = 16
        elif size == 0:
            size = end - off
        if size < hdr or off + size > end:
            raise ValueError(f"bad {typ!r} box size {size}")
        yield typ, off + hdr, off + size
        off += size


def _find_box(data: bytes, start: int, end: int, typ: bytes) -> tuple[int, int]:
    for t, s, e in _iter_boxes(data, start, end):
        if t == typ:
            return s, e
    raise ValueError(f"missing {typ!r} box")


def heif_metadata(data: bytes) -> dict:
    """Dimensions + brand of a HEIF-family container WITHOUT pixel decode.

    Walks ftyp → meta (FullBox) → iprp → ipco and collects every
    ``ispe`` ImageSpatialExtents property (ISO 23008-12 §6.5.3).  The
    reported width/height is the LARGEST extent — the primary image;
    smaller ispe entries are thumbnails/auxiliaries (the same choice
    PIL's HEIF plugin surfaces as ``.size``).  ``n_extents`` carries
    the property count so callers can see multi-item files.
    """
    if len(data) < 16 or data[4:8] != b"ftyp":
        raise ValueError("not an ISOBMFF container (no leading ftyp)")
    ftyp_s, ftyp_e = _find_box(data, 0, len(data), b"ftyp")
    major = data[ftyp_s : ftyp_s + 4].decode("latin-1")
    compat = {
        data[o : o + 4].decode("latin-1") for o in range(ftyp_s + 8, ftyp_e - 3, 4)
    }
    brands = {major} | compat
    if not (brands & HEIF_BRANDS):
        raise ValueError(f"not a HEIF-family brand: {sorted(brands)}")
    meta_s, meta_e = _find_box(data, ftyp_e, len(data), b"meta")
    meta_s += 4  # meta is a FullBox: skip version/flags
    iprp_s, iprp_e = _find_box(data, meta_s, meta_e, b"iprp")
    ipco_s, ipco_e = _find_box(data, iprp_s, iprp_e, b"ipco")
    extents = []
    for t, s, e in _iter_boxes(data, ipco_s, ipco_e):
        if t == b"ispe":
            if e - s < 12:
                raise ValueError("truncated ispe property")
            w, h = struct.unpack_from(">II", data, s + 4)  # skip FullBox hdr
            extents.append((int(w), int(h)))
    if not extents:
        raise ValueError("HEIF meta box carries no ispe extents")
    width, height = max(extents, key=lambda wh: wh[0] * wh[1])
    return {
        "brand": major,
        "width": width,
        "height": height,
        "n_extents": len(extents),
    }
