"""Image column plumbing over mapInPandas.

The reference decodes real images (PIL) for pixel hashing and dHash
(/root/reference/photo_dedup/hasher.py:95-224).  In this engine, media
payloads are opaque ``binary`` columns with typed metadata.

Codec support is tiered, honestly:

  * REAL, pure numpy/stdlib (no external libs needed):
      - netpbm P5/P6 images (binary PGM/PPM, maxval ≤ 255) — decoded
        to pixels, then the reference's ACTUAL dHash algorithm
        (hasher.py:175-224: area-mean resize to 9×8 grayscale,
        horizontal gradient sign bits) produces the 64-dim feature,
        so resize-invariance is real and tested
        (test_core.py:1713-1728 transplant);
      - PNG images (stdlib zlib inflate + critical chunks; 8-bit
        gray/RGB/palette/alpha, all five scanline filters) — the
        compressed format the reference actually reads via PIL,
        decoded natively and fed to the same dHash;
      - baseline AND progressive JPEG (SOF0/SOF2: file-supplied
        Huffman/quant tables, restart markers, any chroma subsampling,
        multi-scan successive approximation — functions/jpeg.py) — the
        dominant photo codec, decoded natively to the same dHash, with
        EXIF capture datetime extracted from APP1 (metadata.py:63-90);
      - TIFF and DNG (functions/tiff.py: both byte orders, strips and
        tiles, LZW/PackBits/JPEG-in-TIFF compression, predictor 2,
        palette/bilevel/16-bit, SubIFD walk) — a DNG's raw CFA mosaic
        is not demosaicked; the decoder renders the best embedded
        RGB preview exactly as PIL does for the reference's ``.dng``
        entries (hasher.py:23).
  * METADATA-ONLY: WEBP (lossy VP8 and lossless VP8L) and
    HEIF/HEIC/AVIF pixel decode is gated, but those rows carry REAL
    container metadata — width/height/codec parsed from the VP8 frame
    header / VP8L header / VP8X canvas / ISOBMFF ispe boxes
    (functions/containers.py) — with NULL features and a
    ``gated codec …`` decode_error marker.
  * GATED: any other codec (GIF included) and malformed containers
    raise a per-row decode error (carried as DATA, the count-and-drop
    contract).

Operator:
  * decode_image_features — decode → (width, height, channels) +
    a 64-dim float feature vector (the dHash analog for media)

It is a ``mapInPandas`` iterator over Arrow batches — the pattern that
keeps peak memory at batch size, not partition size, which is the
constraint that matters when payloads are MBs each at 100 TB scale.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# real codecs (pure numpy/stdlib)
# ---------------------------------------------------------------------------

def _netpbm_tokens(data: bytes, n: int) -> tuple[list[int], int]:
    """First *n* whitespace-separated integer tokens after the magic,
    skipping ``#`` comments; returns (tokens, offset past the single
    whitespace that terminates the header)."""
    toks: list[int] = []
    i = 2  # past magic
    while len(toks) < n:
        if i >= len(data):
            raise ValueError("truncated netpbm header")
        c = data[i : i + 1]
        if c == b"#":
            i = data.index(b"\n", i) + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(data) and not data[j : j + 1].isspace():
                j += 1
            toks.append(int(data[i:j]))
            i = j
    return toks, i + 1  # exactly one whitespace after maxval


def decode_netpbm(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """P5 (gray) / P6 (RGB) binary netpbm → (w, h, channels,
    HxWxC uint8 pixels).  Raises ValueError on malformed input."""
    magic = data[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"unsupported codec (magic {magic!r})")
    channels = 1 if magic == b"P5" else 3
    (w, h, maxval), off = _netpbm_tokens(data, 3)
    if maxval > 255 or w <= 0 or h <= 0:
        raise ValueError(f"unsupported netpbm (maxval {maxval}, {w}x{h})")
    need = w * h * channels
    raster = np.frombuffer(data, dtype=np.uint8, count=need, offset=off)
    if raster.size < need:
        raise ValueError("truncated netpbm raster")
    return w, h, channels, raster.reshape(h, w, channels)


def decode_png(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """Pure-stdlib PNG decoder (zlib inflate + critical chunks) →
    (w, h, channels, HxWxC uint8 pixels).

    The reference's actual image path is PIL opening compressed files
    (hasher.py:95-154); this covers the PNG slice of that natively:
    8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette), 4
    (gray+alpha), 6 (RGBA), all five scanline filters (None/Sub/Up/
    Average/Paeth).  Adam7 interlacing and 16-bit depth raise
    ValueError (per-row decode_error, count-and-drop contract).
    Alpha is dropped after defiltering — dHash wants luminance.
    """
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("unsupported codec (not PNG)")
    i = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while i + 8 <= len(data):
        (size,) = struct.unpack(">I", data[i : i + 4])
        cid = data[i + 4 : i + 8]
        body = data[i + 8 : i + 8 + size]
        if cid == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif cid == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif cid == b"IDAT":
            idat += body
        elif cid == b"IEND":
            break
        i += 12 + size  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth {depth}, interlace {interlace})"
        )
    n_ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if n_ch is None or (color_type == 3 and plte is None):
        raise ValueError(f"unsupported PNG color type {color_type}")
    raw = zlib.decompress(bytes(idat))
    stride = w * n_ch
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG raster")
    recon = np.zeros((h, stride), dtype=np.uint8)
    bpp = n_ch  # bytes per pixel at 8-bit depth
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        up = recon[y - 1].astype(np.int64) if y else np.zeros(stride, np.int64)
        if ftype == 0:  # None
            out = line
        elif ftype == 2:  # Up
            out = line + up
        elif ftype == 1:  # Sub — per-lane cumsum over pixels
            lanes = line.reshape(-1, bpp)
            out = np.cumsum(lanes, axis=0).reshape(-1)
        else:  # Average (3) / Paeth (4): left-dependent, sequential
            out = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                left = out[x - bpp] & 0xFF if x >= bpp else 0
                above = up[x]
                if ftype == 3:
                    pred = (left + above) // 2
                elif ftype == 4:
                    ul = (recon[y - 1, x - bpp] if (y and x >= bpp) else 0)
                    p = left + above - ul
                    pa, pb, pc = abs(p - left), abs(p - above), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (above if pb <= pc else ul)
                else:
                    raise ValueError(f"bad PNG filter type {ftype}")
                out[x] = line[x] + pred
        recon[y] = out & 0xFF
    px = recon.reshape(h, w, n_ch)
    if color_type == 3:
        px = plte[px[:, :, 0]]
        n_ch = 3
    elif color_type == 4:
        px, n_ch = px[:, :, :1], 1
    elif color_type == 6:
        px, n_ch = px[:, :, :3], 3
    return w, h, n_ch, np.ascontiguousarray(px)


def _area_resize(gray: np.ndarray, oh: int, ow: int) -> np.ndarray:
    """Exact area-mean resize via an integral image — the LANCZOS-free
    stand-in for hasher.py:206 that keeps resize-invariance (block
    means are scale-stable)."""
    ii = np.zeros((gray.shape[0] + 1, gray.shape[1] + 1), dtype=np.float64)
    ii[1:, 1:] = np.cumsum(np.cumsum(gray, axis=0), axis=1)
    ys = np.linspace(0, gray.shape[0], oh + 1).round().astype(int)
    xs = np.linspace(0, gray.shape[1], ow + 1).round().astype(int)
    out = (
        ii[ys[1:, None], xs[None, 1:]]
        - ii[ys[:-1, None], xs[None, 1:]]
        - ii[ys[1:, None], xs[None, :-1]]
        + ii[ys[:-1, None], xs[None, :-1]]
    )
    areas = (ys[1:, None] - ys[:-1, None]) * (xs[None, 1:] - xs[None, :-1])
    return out / np.maximum(areas, 1)


def dhash64(pixels: np.ndarray) -> np.ndarray:
    """The reference dHash (hasher.py:175-224) at 64 bits: grayscale →
    area resize to 8×9 → horizontal gradient sign → 64 floats (0/1)."""
    gray = pixels.mean(axis=2) if pixels.ndim == 3 else pixels
    small = _area_resize(gray.astype(np.float64), 8, 9)
    bits = (small[:, 1:] > small[:, :-1]).astype(np.float32)
    return bits.reshape(-1)


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        # raw EXIF capture datetime (JPEG APP1, priority
        # DateTimeOriginal → DateTimeDigitized, metadata.py:83-89);
        # NULL for formats without EXIF.  Parsed downstream by the F5
        # chain (functions/dates.parse_datetime_multi — the
        # "2021:03:04"-style EXIF format is its first pattern)
        T.StructField("exif_datetime", T.StringType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def decode_image_features(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """media (id, payload binary) -> IMAGE_FEATURES_SCHEMA rows.

    Per-row decode failures produce a row with NULL features and a
    ``decode_error`` string — the reference's count-and-drop contract
    (scanner.py:471-479) with the error carried as data instead of a
    side channel.
    """

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [],
                "width": [],
                "height": [],
                "channels": [],
                "features": [],
                "exif_datetime": [],
                "decode_error": [],
            }
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                out["media_id"].append(mid)
                exif_dt = None
                gated = None  # gated-codec marker: metadata-only row
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    data = bytes(payload)
                    if data[:2] in (b"P5", b"P6"):
                        # REAL decode + the reference's actual dHash
                        w, h, c, px = decode_netpbm(data)
                        feats = dhash64(px)
                    elif data[:8] == b"\x89PNG\r\n\x1a\n":
                        # REAL compressed-codec decode (pure stdlib zlib)
                        w, h, c, px = decode_png(data)
                        feats = dhash64(px)
                    elif data[:2] == b"\xff\xd8":
                        # REAL baseline-JPEG decode (pure numpy Huffman+IDCT)
                        from photo_dedup_spark.functions.jpeg import (
                            decode_jpeg,
                            exif_datetime,
                        )

                        exif_dt = exif_datetime(data)  # never raises
                        w, h, c, px = decode_jpeg(data)
                        feats = dhash64(px)
                    elif data[:4] == b"RIFF" and data[8:12] == b"WEBP":
                        # WEBP pixel decode (lossy VP8 and lossless VP8L)
                        # is gated; the row carries REAL container
                        # metadata (width/height/codec from the VP8 /
                        # VP8L header or the VP8X canvas)
                        from photo_dedup_spark.functions.containers import (
                            webp_metadata,
                        )

                        m = webp_metadata(data)
                        w, h, c, feats = m["width"], m["height"], None, None
                        gated = (
                            f"gated codec webp/{m['codec']}: container "
                            "metadata only (WEBP pixel decode needs "
                            "external libraries)"
                        )
                    elif len(data) >= 16 and data[4:8] == b"ftyp":
                        # HEIF family (HEIC/AVIF): pixel decode is gated
                        # (HEVC/AV1), but dimensions come from the real
                        # ISOBMFF ispe walk (ISO 23008-12) — reference
                        # envelope includes .heic via a PIL plugin
                        # (hasher.py:301-310)
                        from photo_dedup_spark.functions.containers import (
                            heif_metadata,
                        )

                        m = heif_metadata(data)
                        w, h, c, feats = m["width"], m["height"], None, None
                        gated = (
                            f"gated codec heif/{m['brand']}: container "
                            "metadata only (HEVC/AV1 pixel decode needs "
                            "external libraries)"
                        )
                    elif data[:4] in (b"II*\0", b"MM\0*"):
                        # REAL TIFF/DNG decode (best decodable IFD —
                        # a DNG resolves to its embedded preview, as
                        # PIL does; reference hasher.py:23 lists .dng)
                        from photo_dedup_spark.functions.tiff import decode_tiff

                        w, h, c, px = decode_tiff(data)
                        feats = dhash64(px)
                    else:
                        raise NotImplementedError(
                            f"codec for magic {data[:2]!r} needs external "
                            "libraries this container does not ship"
                        )
                    out["width"].append(w)
                    out["height"].append(h)
                    out["channels"].append(c)
                    out["features"].append(
                        None
                        if feats is None
                        else np.asarray(feats, dtype=np.float32).tolist()
                    )
                    out["exif_datetime"].append(exif_dt)
                    out["decode_error"].append(gated)
                except Exception as e:  # noqa: BLE001 — count-and-drop contract
                    # Malformed payloads surface arbitrary internal errors
                    # (IndexError from a truncated JPEG entropy stream,
                    # struct.error from a short SOF/IHDR, zlib.error from
                    # corrupt IDAT) — ANY decode failure must become a
                    # per-row decode_error, never a task crash, mirroring
                    # the reference's broad catch (hasher.py:148).
                    # KeyboardInterrupt/SystemExit derive from
                    # BaseException and still propagate.
                    out["width"].append(None)
                    out["height"].append(None)
                    out["channels"].append(None)
                    out["features"].append(None)
                    out["exif_datetime"].append(exif_dt)
                    out["decode_error"].append(str(e))
            yield pd.DataFrame(out)

    cols = media.select(id_col, payload_col)
    return cols.mapInPandas(_map, IMAGE_FEATURES_SCHEMA)
