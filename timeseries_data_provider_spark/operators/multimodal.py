"""[EXT] Multimodal column plumbing + real stdlib codecs.

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct; decode / feature-extraction / frame-sampling run as Arrow-batched
pandas iterators (``mapInPandas``) so bytes move Spark→Python in columnar
batches, never row-at-a-time.

Decode is REAL for every format parseable without third-party codec
libraries (none are installed in this container):

- **BMP** (the full classic matrix as of r13: 1/4/8-bit palette,
  BI_RLE8/BI_RLE4, 16-bit X1R5G5B5, BI_BITFIELDS at 16/32 bpp,
  24/32-bit BI_RGB — JDK-cross-validated): full header + pixel
  decode, channel order normalized to RGB.
- **WAV**: full RIFF/fmt/data chunk walk — PCM 8 (unsigned offset-128)
  / 16 / 24-bit, IEEE float 32/64 (fmt code 3), and G.711 a-law/mu-law
  telephony bytes (fmt 6/7, CCITT table decode) — mono or interleaved
  multichannel, including the WAVE_FORMAT_EXTENSIBLE (0xFFFE) fmt
  chunk real-world multichannel/24-bit files ship with — to sample
  rate, width, and the sample array in the format's native domain.
- **AIFF/AIFC**: IFF FORM/COMM/SSND walk — big-endian signed PCM
  8/16/24 plus the AIFC ``sowt`` (little-endian PCM) and ``fl32``
  (IEEE float32) compression types; alac/ima4/ulaw stay the named
  register-a-codec boundary.
- **PNG** (the full PNG-valid depth/type matrix as of r12 late:
  1/2/4/8/16-bit gray, 8/16-bit RGB / gray+alpha / RGBA, 1/2/4/8-bit
  PALETTE, interlace 0 AND Adam7 — JDK-cross-validated): FULL pixel
  decode — chunk walk, ``zlib`` inflate of the IDAT stream,
  per-scanline unfiltering per pass (all five filter types:
  None/Sub/Up/Average/Paeth), PLTE lookup with MSB-first sub-byte
  index unpacking, 16-bit downconverted >>8 to the 8-bit codec
  contract (the TIFF rule). Header-only payloads (no IDAT)
  decode to metadata with ``pixels=None``.
- **JPEG/GIF/TIFF/WebP (VP8L + lossy VP8 + ALPH)/FLAC/JPX**:
  in-repo entropy codecs registered via ``register_builtin_codecs``
  (the plug-in contract); formats beyond those raise a named
  ``NotImplementedError`` as the documented plug-in point.

``synth_media`` generates real BMP/WAV files deterministically from
``doc_id`` so the decode path is exercised end-to-end against an exact
closed-form SQL oracle (the pixel/sample values are modular formulas a
DuckDB ``generate_series`` can reproduce).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BLOB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("byte_len", LongType()),
    ]
)

META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)

FRAME_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_byte_offset", LongType()),
    ]
)


def attach_blob(documents: DataFrame) -> DataFrame:
    """Derive an opaque binary payload column (UTF-8 bytes of the text —
    the testdata has no real media; the *column type and plan shape* are
    what production code reuses)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("byte_len"),
    )


# ---------------------------------------------------------------------------
# third-party codec plug-in point (VERDICT r4 #7)
# ---------------------------------------------------------------------------
# JPEG/WebP/MP4/FLAC/... are entropy-coded and genuinely need codec
# libraries this container doesn't ship. A deployment that has them
# registers a decoder per magic prefix; dispatch tries the stdlib
# codecs first, then the registry, then raises NotImplementedError.
#
# THE CONTRACT a registered decoder must satisfy (validated on every
# return — a scale pipeline wants loud schema errors at the first
# payload, not a cryptic KeyError deep in a feature fold):
#
# image decoder: bytes -> dict with EXACTLY these keys
#   format: str            e.g. "jpeg"
#   width:  int            pixels
#   height: int            pixels
#   pixels: np.ndarray of shape (height, width) or (height, width, c)
#           with an integer dtype, or None for a metadata-only decode
#           (feature folds then reject the payload like header-only
#           PNG).
#
# audio decoder: bytes -> dict with EXACTLY these keys
#   format:      str       e.g. "flac"
#   sample_rate: int       Hz
#   channels:    int
#   samples:     1-D np.ndarray with an integer dtype (interleaved if
#                multi-channel — same convention as the WAV decoder).
#
# DISTRIBUTION: decode runs inside mapInPandas PYTHON WORKERS, which
# import this module fresh — a registry mutated only on the driver is
# invisible there. Register codecs from a module imported on every
# worker, or pass ``codec_setup=`` to ``media_features`` (a picklable
# zero-arg callable, shipped with the closure and invoked once per
# worker partition before decoding).

IMAGE_CODECS: dict[bytes, "object"] = {}
AUDIO_CODECS: dict[bytes, "object"] = {}


def register_image_codec(magic: bytes, decoder) -> None:
    """Register ``decoder`` for image payloads starting with ``magic``
    (e.g. b"\\xff\\xd8\\xff" for JPEG). See the contract comment above;
    the return dict is validated by ``_check_image_dict``."""
    if not isinstance(magic, bytes) or not magic:
        raise ValueError("magic must be non-empty bytes")
    IMAGE_CODECS[magic] = decoder


def register_audio_codec(magic: bytes, decoder) -> None:
    """Register ``decoder`` for audio payloads starting with ``magic``
    (e.g. b"fLaC"). See the contract comment above."""
    if not isinstance(magic, bytes) or not magic:
        raise ValueError("magic must be non-empty bytes")
    AUDIO_CODECS[magic] = decoder


def _check_image_dict(out: dict, magic: bytes) -> dict:
    missing = {"format", "width", "height", "pixels"} - set(out)
    if missing:
        raise ValueError(
            f"image codec for magic {magic!r} returned a dict missing "
            f"keys {sorted(missing)} — see the codec contract in "
            "operators/multimodal.py"
        )
    px = out["pixels"]
    if px is not None:
        if not isinstance(px, np.ndarray) or px.ndim not in (2, 3):
            raise ValueError(
                f"image codec for magic {magic!r}: pixels must be a "
                "(h, w[, c]) ndarray or None"
            )
        if px.shape[:2] != (out["height"], out["width"]):
            raise ValueError(
                f"image codec for magic {magic!r}: pixels shape "
                f"{px.shape[:2]} != (height, width) "
                f"({out['height']}, {out['width']})"
            )
    return out


def _check_audio_dict(out: dict, magic: bytes) -> dict:
    missing = {"format", "sample_rate", "channels", "samples"} - set(out)
    if missing:
        raise ValueError(
            f"audio codec for magic {magic!r} returned a dict missing "
            f"keys {sorted(missing)} — see the codec contract in "
            "operators/multimodal.py"
        )
    s = out["samples"]
    if not isinstance(s, np.ndarray) or s.ndim != 1:
        raise ValueError(
            f"audio codec for magic {magic!r}: samples must be a 1-D "
            "ndarray"
        )
    return out


def _registry_lookup(registry: dict, payload: bytes):
    for magic, decoder in registry.items():
        if payload.startswith(magic):
            return magic, decoder
    return None, None


def is_audio_payload(payload: bytes) -> bool:
    """Route a payload to the audio or image decode path: WAV magic or
    any registered audio codec magic ⇒ audio (used by media_features —
    keeps sniffing in ONE place so plug-ins extend it too)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return True
    if payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        return True
    return _registry_lookup(AUDIO_CODECS, payload)[1] is not None


# ---------------------------------------------------------------------------
# real codecs (stdlib struct/numpy only — no PIL/opencv/libav)
# ---------------------------------------------------------------------------


def encode_bmp(width: int, height: int, pixels: np.ndarray) -> bytes:
    """Write a real 24-bit uncompressed BMP. ``pixels`` is (h, w) uint8;
    the single value is replicated across B, G, R. Rows are written
    bottom-up and padded to 4 bytes, per the format."""
    row_size = (3 * width + 3) // 4 * 4
    data_size = row_size * height
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + data_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    rows = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = np.repeat(pixels[y], 3).astype(np.uint8).tobytes()
        rows += row + b"\x00" * (row_size - len(row))
    return header + bytes(rows)


def _bmp_palette(payload: bytes, hdr_size: int, bpp: int) -> "np.ndarray":
    """Color table after the info header: BGRA quads, 2^bpp entries
    unless biClrUsed narrows it; returned as an (n, 3) RGB array."""
    (clr_used,) = struct.unpack_from("<I", payload, 14 + 32)
    n = clr_used or (1 << bpp)
    if n > 256:
        raise ValueError(f"bmp: palette of {n} entries")
    at = 14 + hdr_size
    if at + 4 * n > len(payload):
        raise ValueError("bmp: palette overruns file")
    quads = np.frombuffer(
        payload, np.uint8, count=4 * n, offset=at
    ).reshape(n, 4)
    return quads[:, 2::-1].copy()  # BGRx -> RGB


def _bmp_rle_indices(
    data: bytes, width: int, h: int, four_bit: bool
) -> "np.ndarray":
    """BI_RLE8 / BI_RLE4 decompression to an (h, width) index grid
    (rows in STORED bottom-up order; caller flips). Escapes: 0,0 end
    of line, 0,1 end of bitmap, 0,2 delta, 0,n absolute run (word-
    padded). RLE4 packs two pixel indices per byte, alternating."""
    grid = np.zeros((h, width), np.uint8)
    x = y = 0
    i, n = 0, len(data)

    def put(vals):
        nonlocal x
        for v in vals:
            if y >= h:
                raise ValueError("bmp: RLE writes past the bitmap")
            if x < width:
                grid[y, x] = v
                x += 1
            # pixels past the row width are tolerated (clamped):
            # real encoders occasionally overrun the last run

    while i + 2 <= n:
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt > 0:
            if four_bit:
                pair = (val >> 4, val & 0x0F)
                put(pair[k % 2] for k in range(cnt))
            else:
                put(val for _ in range(cnt))
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return grid
        elif val == 2:  # delta
            if i + 2 > n:
                raise ValueError("bmp: RLE delta truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
        else:  # absolute mode: val literal pixels
            if four_bit:
                nbytes = (val + 1) // 2
                if i + nbytes > n:
                    raise ValueError("bmp: RLE absolute truncated")
                chunk = data[i : i + nbytes]
                put(
                    (chunk[k // 2] >> 4) if k % 2 == 0
                    else (chunk[k // 2] & 0x0F)
                    for k in range(val)
                )
                i += nbytes + (nbytes % 2)  # word padding
            else:
                if i + val > n:
                    raise ValueError("bmp: RLE absolute truncated")
                put(data[i : i + val])
                i += val + (val % 2)
    raise ValueError("bmp: RLE stream ended without end-of-bitmap")


def _decode_bmp_body(
    payload: bytes,
    hdr_size: int,
    width: int,
    height: int,
    bpp: int,
    compression: int,
    data_off: int,
) -> dict:
    """BMP raster decode (r12 late: the full classic matrix):
    24/32-bit BI_RGB, 1/4/8-bit palette, BI_RLE8/BI_RLE4. Channel
    order is normalized BGR(x) -> RGB — the package-wide codec
    contract every other format follows (r12 review: BMP used to
    return BGR, putting the same image on a DIFFERENT dedup key
    than its PNG/JPEG siblings). 16-bit and bitfields stay named."""
    flipped = height > 0
    h = abs(height)
    if h <= 0 or width <= 0 or width * h > 64 * 1024 * 1024:
        raise ValueError(f"bmp: unreasonable canvas {width}x{h}")
    if compression in (1, 2):  # BI_RLE8 / BI_RLE4
        want_bpp = 8 if compression == 1 else 4
        if bpp != want_bpp:
            raise ValueError(
                f"bmp: RLE{want_bpp} with bpp={bpp} is malformed"
            )
        pal = _bmp_palette(payload, hdr_size, bpp)
        idx = _bmp_rle_indices(
            payload[data_off:], width, h, compression == 2
        )
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("bmp: palette index out of range")
        grid = pal[idx.astype(np.int64)]
        return {
            "format": "bmp",
            "width": width,
            "height": h,
            "pixels": grid[::-1] if flipped else grid,
        }
    if compression == 3 or (compression == 0 and bpp == 16):
        # r13 (VERDICT r12 item 7): 16-bit BI_RGB (implicit X1R5G5B5)
        # and BI_BITFIELDS at 16/32 bpp — the desktop-era screenshot
        # formats. Masks live at absolute offset 54 both for the
        # 40-byte header (they FOLLOW it) and for V4/V5 headers
        # (fields 40-51 INSIDE them). Channels scale round(v*255/max)
        # to the package-wide 8-bit contract; cross-validated against
        # files the JDK's independent javax.imageio BMP writer emits
        # for TYPE_USHORT_555/565_RGB (tests/test_multimodal.py).
        if bpp not in (16, 32):
            raise ValueError(f"bmp: bitfields with bpp={bpp}")
        if compression == 3:
            if len(payload) < 54 + 12:
                raise ValueError("bmp: bitfields masks truncated")
            masks = struct.unpack_from("<III", payload, 54)
        else:
            masks = (0x7C00, 0x03E0, 0x001F)
        nb = bpp // 8
        row_size = (nb * width + 3) // 4 * 4
        if data_off + row_size * h > len(payload):
            raise ValueError("bmp: pixel data overruns file")
        rows = np.frombuffer(
            payload, np.uint8, count=row_size * h, offset=data_off
        ).reshape(h, row_size)
        vals = (
            np.ascontiguousarray(rows[:, : nb * width])
            .view(np.dtype(f"<u{nb}"))
            .reshape(h, width)
            .astype(np.uint32)
        )
        chans = []
        for m in masks:
            if m == 0 or m >= (1 << bpp):
                raise ValueError(f"bmp: bitfield mask {m:#x} invalid "
                                 f"for bpp={bpp}")
            shift = (m & -m).bit_length() - 1
            mx = m >> shift
            if mx & (mx + 1):
                raise ValueError(
                    f"bmp: non-contiguous bitfield mask {m:#x}"
                )
            c = (vals & m) >> shift
            chans.append(((c * 255 + mx // 2) // mx).astype(np.uint8))
        grid = np.stack(chans, axis=2)
        return {
            "format": "bmp",
            "width": width,
            "height": h,
            "pixels": (grid[::-1] if flipped else grid).copy(),
        }
    if compression != 0:
        raise NotImplementedError(
            f"BMP compression={compression} (BI_RGB/BI_RLE8/BI_RLE4/"
            "BI_BITFIELDS only)"
        )
    if bpp in (24, 32):
        nb = bpp // 8
        row_size = (nb * width + 3) // 4 * 4
        if data_off + row_size * h > len(payload):
            raise ValueError("bmp: pixel data overruns file")
        grid = (
            np.frombuffer(
                payload, np.uint8, count=row_size * h, offset=data_off
            )
            .reshape(h, row_size)[:, : nb * width]
            .reshape(h, width, nb)
        )
        grid = grid[:, :, 2::-1]  # BGR(x) -> RGB, alpha dropped
        return {
            "format": "bmp",
            "width": width,
            "height": h,
            "pixels": (grid[::-1] if flipped else grid).copy(),
        }
    if bpp in (1, 4, 8):
        pal = _bmp_palette(payload, hdr_size, bpp)
        row_size = (bpp * width + 31) // 32 * 4
        if data_off + row_size * h > len(payload):
            raise ValueError("bmp: pixel data overruns file")
        rows = np.frombuffer(
            payload, np.uint8, count=row_size * h, offset=data_off
        ).reshape(h, row_size)
        if bpp == 8:
            idx = rows[:, :width]
        else:
            shifts = [8 - bpp * (j + 1) for j in range(8 // bpp)]
            parts = [(rows >> s) & ((1 << bpp) - 1) for s in shifts]
            idx = np.stack(parts, axis=2).reshape(h, -1)[:, :width]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("bmp: palette index out of range")
        grid = pal[idx.astype(np.int64)]
        return {
            "format": "bmp",
            "width": width,
            "height": h,
            "pixels": grid[::-1] if flipped else grid,
        }
    raise NotImplementedError(f"BMP bpp={bpp} (1/4/8/16/24/32 only)")


def decode_image(payload: bytes) -> dict:
    """Decode an image payload to ``{format, width, height, pixels}``.

    BMP: full pixel decode (``pixels`` is an (h, w, 3) uint8 array).
    PNG: full pixel decode via ``_decode_png`` (inflate + unfilter;
    ``pixels`` is (h, w) or (h, w, c), or None for header-only
    payloads with no IDAT). Anything else raises NotImplementedError
    naming the format — the plug-in point for codec-lib-backed
    decoders.
    """
    if payload[:2] == b"BM":
        size, _, _, data_off = struct.unpack_from("<IHHI", payload, 2)
        (
            hdr_size,
            width,
            height,
            _planes,
            bpp,
            compression,
        ) = struct.unpack_from("<IiiHHI", payload, 14)
        return _decode_bmp_body(
            payload, hdr_size, width, height, bpp, compression,
            data_off,
        )
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        # registry FIRST for WebP: the built-in is header-only, so a
        # registered full-decode plug-in keyed on the RIFF magic must
        # not be shadowed by it — media_features on WebP would raise
        # ValueError ('decoded to metadata only') for a registrant the
        # old NotImplementedError message explicitly steered toward
        # register_image_codec (review finding). BMP/PNG built-ins
        # stay ahead of the registry: they are full decodes.
        magic, decoder = _registry_lookup(IMAGE_CODECS, payload)
        if decoder is not None:
            return _check_image_dict(decoder(payload), magic)
        return _decode_webp_header(payload)
    magic, decoder = _registry_lookup(IMAGE_CODECS, payload)
    if decoder is not None:
        return _check_image_dict(decoder(payload), magic)
    raise NotImplementedError(
        f"no decoder for image format (magic={payload[:4].hex()}); "
        "formats beyond BMP/PNG/WebP-header/JPEG-baseline need a codec "
        "library registered via register_image_codec"
    )


def _decode_webp_header(payload: bytes) -> dict:
    """WebP container METADATA decode (public RIFF layout): dimensions
    from the first VP8 (lossy keyframe), VP8L (lossless signature
    stream), or VP8X (extended canvas) chunk — the routing fields a
    corpus build filters on. Pixel decode needs the VP8 entropy codec
    (a genuine codec-library dependency) — ``pixels`` is None, the
    same header-only contract as truncated-PNG decode. A full-decode
    WebP plug-in registered for the RIFF magic WINS over this
    built-in (decode_image consults the registry first for WebP —
    review finding); this runs only when no registrant matches.
    Container walking delegates to ``vp8l.riff_chunks`` — ONE RIFF
    walker for the header-only and full-decode paths (review
    finding)."""
    from timeseries_data_provider_spark.operators.vp8l import riff_chunks

    for tag, body in riff_chunks(payload, b"WEBP"):
        if tag == b"VP8 " and len(body) >= 10:
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("webp: bad VP8 keyframe sync code")
            w = struct.unpack("<H", body[6:8])[0] & 0x3FFF
            h = struct.unpack("<H", body[8:10])[0] & 0x3FFF
            return {
                "format": "webp", "width": w, "height": h,
                "pixels": None, "variant": "vp8",
            }
        if tag == b"VP8L" and len(body) >= 5:
            if body[0] != 0x2F:
                raise ValueError("webp: bad VP8L signature byte")
            bits = struct.unpack("<I", body[1:5])[0]
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
            return {
                "format": "webp", "width": w, "height": h,
                "pixels": None, "variant": "vp8l",
            }
        if tag == b"VP8X" and len(body) >= 10:
            w = int.from_bytes(body[4:7], "little") + 1
            h = int.from_bytes(body[7:10], "little") + 1
            return {
                "format": "webp", "width": w, "height": h,
                "pixels": None, "variant": "vp8x",
            }
    raise ValueError("webp: no VP8/VP8L/VP8X chunk found")


# channels per PNG color type at bit depth 8 (palette type 3 is
# handled separately via the PLTE lookup, incl. 1/2/4-bit packing)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body))
    )


def encode_png(
    width: int,
    height: int,
    pixels: np.ndarray,
    interlace: bool = False,
    bits: int = 8,
) -> bytes:
    """Write a real PNG: 8-bit gray ((h, w) uint8) or RGB
    ((h, w, 3)), optionally 16-bit (samples upscaled v*257 — the
    TIFF writer convention the decoder's >>8 inverts exactly) and/or
    Adam7-interlaced (r12 late). Scanline ``y`` of each pass uses
    filter type ``y % 5``, so a round-trip exercises every unfilter
    path (None/Sub/Up/Average/Paeth), with real chunk CRCs and a
    real DEFLATE stream."""
    px = np.asarray(pixels, np.uint8)
    nch = 1 if px.ndim == 2 else px.shape[2]
    if px.ndim == 2:
        px = px[:, :, None]
    color_type = {1: 0, 3: 2}[nch]
    if bits == 16:
        samples = px.astype(np.uint16) * 257
    elif bits == 8:
        samples = px.astype(np.uint16)
    else:
        raise ValueError(f"encode_png: bits {bits}")
    bpp = nch * (bits // 8)
    ihdr = struct.pack(
        ">IIBBBBB", width, height, bits, color_type, 0, 0,
        1 if interlace else 0,
    )
    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    out = bytearray()
    for x0, y0, xs, ys in passes:
        pw = max(0, -(-(width - x0) // xs)) if width > x0 else 0
        ph = max(0, -(-(height - y0) // ys)) if height > y0 else 0
        if pw == 0 or ph == 0:
            continue
        sub = samples[y0::ys, x0::xs]
        if bits == 16:
            rows = (
                sub.astype(">u2").view(np.uint8).reshape(ph, pw * nch * 2)
            )
        else:
            rows = sub.astype(np.uint8).reshape(ph, pw * nch)
        raw = rows.astype(np.int64)
        prior = np.zeros(raw.shape[1], dtype=np.int64)
        for y in range(ph):
            line = raw[y]
            f = y % 5
            left = np.concatenate(
                ([0] * bpp, line[:-bpp])
            ) if bpp <= len(line) else np.zeros_like(line)
            up_left = np.concatenate(
                ([0] * bpp, prior[:-bpp])
            ) if bpp <= len(prior) else np.zeros_like(prior)
            if f == 0:
                enc = line
            elif f == 1:
                enc = line - left
            elif f == 2:
                enc = line - prior
            elif f == 3:
                enc = line - (left + prior) // 2
            else:  # Paeth
                pp = left + prior - up_left
                pa, pb, pc = (
                    np.abs(pp - left),
                    np.abs(pp - prior),
                    np.abs(pp - up_left),
                )
                pred = np.where(
                    (pa <= pb) & (pa <= pc),
                    left,
                    np.where(pb <= pc, prior, up_left),
                )
                enc = line - pred
            out += bytes([f]) + (enc % 256).astype(np.uint8).tobytes()
            prior = line
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


# Adam7 interlace passes (PNG spec §8.2): (x0, y0, xstep, ystep)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(
    raw: bytes, height: int, stride: int, bpp: int
) -> "np.ndarray":
    """Per-scanline unfilter (PNG §9) of one (sub)image: ``raw`` is
    height*(stride+1) filter-prefixed bytes; returns (h, stride)
    uint8. Sub is vectorized as a per-channel prefix sum; Average/
    Paeth stay sequential (each byte depends on the RECONSTRUCTED
    left neighbor through a non-linear predictor — inherent)."""
    grid = np.zeros((height, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        if f == 0:
            rec = line
        elif f == 1:
            pad = (-stride) % bpp
            padded = np.concatenate([line, np.zeros(pad, np.int64)])
            rec = (
                padded.reshape(-1, bpp).cumsum(axis=0) % 256
            ).reshape(-1)[:stride]
        elif f == 2:
            rec = (line + prior) % 256
        elif f == 3:
            rec = line.copy()
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + (left + prior[x]) // 2) % 256
        elif f == 4:
            rec = line.copy()
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prior[x]
                c = prior[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) % 256
        else:
            raise ValueError(f"PNG filter type {f} out of range")
        grid[y] = rec
        prior = rec
    return grid.astype(np.uint8)


def _png_expand_samples(
    rows: "np.ndarray", w: int, nch: int, bit_depth: int
) -> "np.ndarray":
    """(h, stride) filtered bytes -> (h, w, nch) uint8 SAMPLE values
    (sub-byte unpacked MSB-first; 16-bit downconverted >>8 to the
    package-wide 8-bit codec contract, the TIFF rule)."""
    h = rows.shape[0]
    if bit_depth == 8:
        return rows[:, : w * nch].reshape(h, w, nch)
    if bit_depth == 16:
        hi = rows[:, : w * nch * 2 : 2]  # big-endian high bytes
        return hi.reshape(h, w, nch)
    shifts = [8 - bit_depth * (j + 1) for j in range(8 // bit_depth)]
    parts = [(rows >> s) & ((1 << bit_depth) - 1) for s in shifts]
    flat = np.stack(parts, axis=2).reshape(h, -1)[:, : w * nch]
    return flat.reshape(h, w, nch)


def _decode_png(payload: bytes) -> dict:
    """Full PNG decode: chunk walk -> IDAT inflate -> per-scanline
    unfilter, per Adam7 pass when interlaced (r12 late). 1/2/4/8-bit
    gray, 8-bit RGB/gray-alpha/RGBA, 16-bit gray/RGB/GA/RGBA
    (downconverted >>8 to the 8-bit codec contract, the TIFF rule),
    1/2/4/8-bit PALETTE (PLTE lookup), interlace 0 and 1. A header-
    only payload (no IDAT chunks) yields ``pixels=None``."""
    width, height = struct.unpack_from(">II", payload, 16)
    bit_depth, color_type, _comp, _filt, interlace = struct.unpack_from(
        ">BBBBB", payload, 24
    )
    meta = {
        "format": "png",
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "color_type": color_type,
        "pixels": None,
    }
    idat = bytearray()
    plte = None
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += payload[pos + 8 : pos + 8 + length]
        if tag == b"PLTE":
            plte = payload[pos + 8 : pos + 8 + length]
        if tag == b"IEND":
            break
        pos += 12 + length  # length + tag + body + CRC
    if not idat:
        return meta  # metadata-only payload
    paletted = color_type == 3
    ok = (
        (paletted and bit_depth in (1, 2, 4, 8))
        or (color_type == 0 and bit_depth in (1, 2, 4, 8, 16))
        or (
            color_type in (2, 4, 6) and bit_depth in (8, 16)
        )
    )
    if not ok or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG bit_depth={bit_depth} color_type={color_type} "
            f"interlace={interlace}: outside the PNG-valid "
            "depth/type matrix"
        )
    nch = 1 if paletted else _PNG_CHANNELS[color_type]
    bits_px = bit_depth * nch
    bpp = max(1, bits_px // 8)  # filter byte delta (spec: >= 1)
    raw = zlib.decompress(bytes(idat))
    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    full = np.zeros((height, width, nch), np.uint8)
    off = 0
    for x0, y0, xs, ys in passes:
        pw = max(0, -(-(width - x0) // xs)) if width > x0 else 0
        ph = max(0, -(-(height - y0) // ys)) if height > y0 else 0
        if pw == 0 or ph == 0:
            continue
        stride = -(-pw * bits_px // 8)
        need = (stride + 1) * ph
        if off + need > len(raw):
            raise ValueError(
                f"PNG IDAT size {len(raw)} short of pass data"
            )
        rows = _png_unfilter(raw[off : off + need], ph, stride, bpp)
        off += need
        full[y0::ys, x0::xs] = _png_expand_samples(
            rows, pw, nch, bit_depth
        )
    if off != len(raw):
        raise ValueError(
            f"PNG IDAT size {len(raw)} != expected {off}"
        )
    if paletted:
        if not plte or len(plte) % 3:
            raise ValueError("PNG palette image without a valid PLTE")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = full[:, :, 0].astype(np.int64)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        meta["pixels"] = pal[idx]
        return meta
    if bit_depth in (1, 2, 4):
        # linear sample scaling (§13.12): exact, 255 % (2^d - 1) == 0
        full = full * (255 // ((1 << bit_depth) - 1))
    meta["pixels"] = (
        full.reshape(height, width)
        if nch == 1
        else full
    )
    return meta


# KSDATAFORMAT_SUBTYPE_* GUID tail: every WAVE_FORMAT_EXTENSIBLE
# subformat GUID is {code:08x}-0000-0010-8000-00AA00389B71 — the
# first four little-endian bytes carry the effective format code
_WAVE_GUID_SUFFIX = b"\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"


def encode_wav(
    samples: np.ndarray,
    sample_rate: int = 8000,
    bits: int = 16,
    channels: int = 1,
    extensible: bool = False,
) -> bytes:
    """Write a real PCM/float WAV (RIFF + fmt + data chunks).

    ``bits`` selects the on-disk sample format the decoder supports:
    16/24 signed PCM (fmt 1), 8 UNSIGNED PCM offset-128 (fmt 1, the
    WAV convention), 32/64 IEEE float (fmt 3). For bits=8 pass samples
    in the signed -128..127 domain (the decoder's output domain); for
    bits=24 pass int32 in the +/-2^23 domain; for float pass values in
    [-1, 1]. ``channels > 1`` writes ``samples`` as the INTERLEAVED
    frame stream (caller interleaves; len must divide evenly).
    ``extensible=True`` writes the WAVE_FORMAT_EXTENSIBLE (0xFFFE)
    fmt chunk with the standard subformat GUID — how real-world
    multichannel/24-bit WAVs usually ship."""
    if channels < 1 or len(samples) % channels:
        raise ValueError(
            f"encode_wav: {len(samples)} samples do not interleave "
            f"into {channels} channels"
        )
    if bits == 16:
        fmt_code, data = 1, samples.astype("<i2").tobytes()
    elif bits == 8:
        fmt_code = 1
        data = (samples.astype(np.int16) + 128).astype(np.uint8).tobytes()
    elif bits == 24:
        fmt_code = 1
        le32 = samples.astype("<i4").tobytes()
        # keep the low three bytes of each little-endian int32: for
        # values already in +/-2^23 that IS the 24-bit two's complement
        data = bytes(
            b for i, b in enumerate(le32) if i % 4 != 3
        )
    elif bits == 32:
        fmt_code, data = 3, samples.astype("<f4").tobytes()
    elif bits == 64:
        fmt_code, data = 3, samples.astype("<f8").tobytes()
    else:
        raise ValueError(f"encode_wav: unsupported bits={bits}")
    block = max(1, bits // 8) * channels
    fmt_common = struct.pack(
        "<HHIIHH",
        0xFFFE if extensible else fmt_code,
        channels,
        sample_rate,
        sample_rate * block,
        block,
        bits,
    )
    if extensible:
        fmt_body = fmt_common + struct.pack(
            "<HHI", 22, bits, 0  # cbSize, valid bits, channel mask
        ) + struct.pack("<I", fmt_code) + _WAVE_GUID_SUFFIX
    else:
        fmt_body = fmt_common
    body = (
        struct.pack("<4sI", b"fmt ", len(fmt_body))
        + fmt_body
        + struct.pack("<4sI", b"data", len(data))
        + data
        + (b"\x00" if len(data) & 1 else b"")  # RIFF 2-byte alignment
    )
    return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body


def _read_extended80(b: bytes) -> int:
    """IEEE 754 80-bit extended float -> int sample rate (AIFF COMM
    stores the rate this way; every real audio rate is an integer, so
    the exact shift math loses nothing — non-integer rates raise)."""
    if len(b) != 10:
        raise ValueError("aiff: sample rate field must be 10 bytes")
    sign_exp = struct.unpack(">H", b[:2])[0]
    mantissa = struct.unpack(">Q", b[2:])[0]
    if sign_exp & 0x8000:
        raise ValueError("aiff: negative sample rate")
    exp = (sign_exp & 0x7FFF) - 16383 - 63
    if mantissa == 0:
        return 0
    if exp >= 0:
        return mantissa << exp
    if mantissa & ((1 << -exp) - 1):
        raise ValueError("aiff: non-integer sample rate")
    return mantissa >> -exp


def _decode_aiff(payload: bytes) -> dict:
    """AIFF / AIFC (IFF FORM/COMM/SSND chunks) — the second
    stdlib-parseable audio family after WAV. AIFF carries big-endian
    signed PCM at 8/16/24 bits; AIFC adds a compression 4cc in COMM:
    ``NONE`` (BE PCM, same depths), ``sowt`` (LITTLE-endian 16-bit
    PCM — the historical Mac byte-swap type), ``fl32``/``FL32``
    (big-endian IEEE float32), and the G.711 telephony bytes
    ``ulaw``/``ULAW``/``alaw``/``ALAW`` (r12 late — the same CCITT
    tables the WAV fmt 6/7 path uses, audioop-cross-validated).
    Compressed types (alac/ima4/...) raise the named plug-in
    error."""
    is_aifc = payload[8:12] == b"AIFC"
    channels = frames = bits = rate = None
    comp = b"NONE"
    ssnd = None
    pos = 12
    n = len(payload)
    while pos + 8 <= n:
        tag, size = struct.unpack_from(">4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"aiff: chunk {tag!r} truncated")
        if tag == b"COMM":
            if size < 18:
                raise ValueError("aiff: COMM chunk too short")
            channels, frames, bits = struct.unpack_from(">HIH", body, 0)
            rate = _read_extended80(body[8:18])
            if channels == 0:
                # zero channels would also skip the frame-count
                # consistency check below (review finding)
                raise ValueError("aiff: COMM claims zero channels")
            if is_aifc:
                if size < 22:
                    raise ValueError("aifc: COMM missing compression type")
                comp = body[18:22]
            if comp == b"sowt":
                if bits != 16:
                    raise ValueError(f"aifc: sowt requires 16-bit, got {bits}")
            elif comp in (b"ulaw", b"ULAW", b"alaw", b"ALAW"):
                if bits != 8:
                    # real writers declare 16 here too (the DECODED
                    # width); tolerate both declared widths
                    if bits != 16:
                        raise ValueError(
                            f"aifc: G.711 with bits={bits}"
                        )
            elif comp in (b"fl32", b"FL32"):
                if bits != 32:
                    raise ValueError(f"aifc: fl32 requires 32-bit, got {bits}")
            elif comp == b"NONE":
                if bits not in (8, 16, 24):
                    raise NotImplementedError(
                        f"aiff: {bits}-bit PCM (8/16/24 only; "
                        "register a codec for the rest)"
                    )
            else:
                raise NotImplementedError(
                    f"aifc: compression {comp!r} (NONE/sowt/fl32/"
                    "ulaw/alaw only; register a codec for "
                    "alac/ima4/...)"
                )
        elif tag == b"SSND":
            if size < 8:
                raise ValueError("aiff: SSND chunk too short")
            off = struct.unpack_from(">I", body, 0)[0]
            ssnd = body[8 + off :]
        pos += 8 + size + (size & 1)  # IFF chunks are 2-byte aligned
    if rate is None or ssnd is None:
        raise ValueError("aiff: missing COMM or SSND chunk")
    # decode AFTER the walk: hostile files may order SSND before COMM,
    # and the sample format isn't known until COMM is seen
    if comp in (b"fl32", b"FL32"):
        samples = np.frombuffer(ssnd, ">f4").astype(np.float32)
    elif comp in (b"ulaw", b"ULAW", b"alaw", b"ALAW"):
        table = (
            _ULAW_TABLE if comp in (b"ulaw", b"ULAW") else _ALAW_TABLE
        )
        samples = table[np.frombuffer(ssnd, np.uint8)]
        bits = 16  # decoded domain, matching the WAV fmt 6/7 path
    elif comp == b"sowt":
        samples = np.frombuffer(ssnd, "<i2").astype(np.int16)
    elif bits == 16:
        samples = np.frombuffer(ssnd, ">i2").astype(np.int16)
    elif bits == 8:
        # AIFF 8-bit is SIGNED (unlike WAV's unsigned offset-128)
        samples = np.frombuffer(ssnd, np.int8).astype(np.int16)
    else:  # 24-bit packed big-endian two's complement -> int32
        if len(ssnd) % 3:
            raise ValueError("aiff: 24-bit SSND not a multiple of 3")
        raw = np.frombuffer(ssnd, np.uint8).reshape(-1, 3).astype(np.int32)
        samples = (raw[:, 0] << 16) | (raw[:, 1] << 8) | raw[:, 2]
        samples = samples - ((samples & 0x800000) << 1)  # sign-extend
    if frames is not None and channels and len(samples) != frames * channels:
        raise ValueError(
            f"aiff: SSND carries {len(samples)} samples, COMM claims "
            f"{frames} frames x {channels} channels"
        )
    return {
        "format": "aifc" if is_aifc else "aiff",
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "samples": samples,
    }


def _pack_extended80(sample_rate: int) -> bytes:
    """Integer sample rate -> IEEE 754 80-bit extended (AIFF COMM)."""
    if sample_rate <= 0:
        # rate 0 would spin the mantissa-normalization loop forever
        # and a negative rate dies in struct.pack (review finding)
        raise ValueError(f"sample_rate must be > 0, got {sample_rate}")
    exp = 16383 + 63
    mant = int(sample_rate)
    while not (mant & (1 << 63)):
        mant <<= 1
        exp -= 1
    return struct.pack(">HQ", exp, mant)


def encode_aiff(
    samples: np.ndarray, sample_rate: int = 8000, bits: int = 16
) -> bytes:
    """Write a real mono big-endian signed-PCM AIFF (FORM/COMM/SSND)
    at 8, 16, or 24 bits. For bits=24 pass int32 in +/-2^23; the low
    three big-endian bytes are the packed two's complement."""
    if bits == 16:
        data = samples.astype(">i2").tobytes()
    elif bits == 8:
        data = samples.astype(np.int8).tobytes()
    elif bits == 24:
        be32 = samples.astype(">i4").tobytes()
        data = bytes(b for i, b in enumerate(be32) if i % 4 != 0)
    else:
        raise ValueError(f"encode_aiff: unsupported bits={bits}")
    comm = (
        struct.pack(">HIH", 1, len(samples), bits)
        + _pack_extended80(sample_rate)
    )
    ssnd = struct.pack(">II", 0, 0) + data
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
        + (b"\x00" if len(ssnd) & 1 else b"")  # IFF 2-byte alignment
    )
    return b"FORM" + struct.pack(">I", len(body)) + body


def encode_aifc(
    samples: np.ndarray,
    sample_rate: int = 8000,
    compression: bytes = b"sowt",
) -> bytes:
    """Write a real mono AIFC (FORM type ``AIFC`` with FVER and the
    extended COMM): ``sowt`` little-endian 16-bit PCM, ``fl32``
    big-endian float32, ``NONE`` big-endian 16-bit PCM, or
    ``ulaw``/``alaw`` G.711 bytes (``samples`` are the RAW coded
    bytes, r12 late)."""
    if compression in (b"ulaw", b"alaw"):
        data, bits = np.asarray(samples, np.uint8).tobytes(), 8
    elif compression == b"sowt":
        data, bits = samples.astype("<i2").tobytes(), 16
    elif compression == b"fl32":
        data, bits = samples.astype(">f4").tobytes(), 32
    elif compression == b"NONE":
        data, bits = samples.astype(">i2").tobytes(), 16
    else:
        raise ValueError(f"encode_aifc: unsupported {compression!r}")
    comm = (
        struct.pack(">HIH", 1, len(samples), bits)
        + _pack_extended80(sample_rate)
        + compression
        + b"\x00\x00"  # empty pstring compression name, even-padded
    )
    fver = struct.pack(">I", 0xA2805140)  # AIFC version 1 timestamp
    ssnd = struct.pack(">II", 0, 0) + data
    body = (
        b"AIFC"
        + b"FVER" + struct.pack(">I", len(fver)) + fver
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
        + (b"\x00" if len(ssnd) & 1 else b"")  # IFF 2-byte alignment
    )
    return b"FORM" + struct.pack(">I", len(body)) + body


# (fmt_code, bits) pairs the builtin WAV decoder accepts: PCM (fmt 1)
# at 8 (unsigned), 16, 24 bits; IEEE float (fmt 3) at 32/64 bits;
# G.711 a-law (fmt 6) and mu-law (fmt 7) telephony bytes. Everything
# else (ADPCM, GSM, ...) is the named register-a-codec boundary;
# WAVE_FORMAT_EXTENSIBLE (0xFFFE) resolves through its subformat GUID
# before this check.
_WAV_FORMATS = {(1, 8), (1, 16), (1, 24), (3, 32), (3, 64), (6, 8), (7, 8)}


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """256-entry byte -> linear-PCM decode tables for G.711 a-law and
    mu-law, from the public CCITT reference formulas (the classic
    g711.c piecewise segments: mu-law ((mant<<3)+132)<<exp - 132,
    a-law quantized segment doubling). Outputs land directly in the
    16-bit domain (mu-law spans ±32,124; a-law ±32,256), so decoded
    telephony clips gate identically to PCM16 in the feature ops."""
    ulaw = np.empty(256, np.int16)
    for b in range(256):
        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        ulaw[b] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    alaw = np.empty(256, np.int16)
    for b in range(256):
        a = b ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[b] = t if (a & 0x80) else -t
    return alaw, ulaw


_ALAW_TABLE, _ULAW_TABLE = _g711_tables()


def decode_audio(payload: bytes) -> dict:
    """Decode a WAV, AIFF, or AIFC payload to ``{format, sample_rate,
    channels, bits, samples}`` by walking the container's chunk list
    (other chunks skipped). WAV: PCM 8 (unsigned)/16/24-bit + IEEE
    float 32/64 + G.711 a-law/mu-law (``_WAV_FORMATS``); AIFF:
    big-endian PCM 8/16/24;
    AIFC: ``NONE`` (BE PCM), ``sowt`` (LE PCM 16), ``fl32`` (BE
    float32). Sample domains: 8-bit -> int16 in -128..127, 16-bit ->
    int16, 24-bit -> int32 in +/-2^23, float -> float32/float64 in
    [-1, 1] — ``audio_features`` normalizes all of them to the 16-bit
    domain so features are container-invariant. Anything else tries
    the registered audio codecs (``register_audio_codec``), then
    raises NotImplementedError."""
    if payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        # registry FIRST: the builtin is 16-bit-PCM-only and its
        # NotImplementedError tells users to register a codec for the
        # rest — which must then actually be reachable (the WebP
        # shadowing fix applied to audio; review finding)
        magic, decoder = _registry_lookup(AUDIO_CODECS, payload)
        if decoder is not None:
            return _check_audio_dict(decoder(payload), magic)
        return _decode_aiff(payload)
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        magic, decoder = _registry_lookup(AUDIO_CODECS, payload)
        if decoder is not None:
            return _check_audio_dict(decoder(payload), magic)
        raise NotImplementedError(
            f"no decoder for audio format (magic={payload[:4].hex()}); "
            "FLAC/MP3/... need a codec library registered via "
            "register_audio_codec"
        )
    pos, rate, channels, bits, fmt_code, data = 12, None, None, None, None, None
    while pos + 8 <= len(payload):
        tag, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            fmt_code, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt_code == 0xFFFE:
                # WAVE_FORMAT_EXTENSIBLE: the effective code lives in
                # the subformat GUID's first four LE bytes — how real
                # multichannel/24-bit WAVs ship
                if size < 40:
                    raise ValueError("WAV extensible fmt chunk too short")
                guid = body[24:40]
                if guid[4:] != _WAVE_GUID_SUFFIX:
                    raise NotImplementedError(
                        f"WAV extensible subformat GUID {guid.hex()} "
                        "(PCM/float only; register a codec for the rest)"
                    )
                fmt_code = struct.unpack_from("<I", guid, 0)[0]
            if (fmt_code, bits) not in _WAV_FORMATS:
                raise NotImplementedError(f"WAV fmt={fmt_code} bits={bits}")
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if fmt_code == 3:
        samples = np.frombuffer(data, "<f4" if bits == 32 else "<f8")
    elif fmt_code in (6, 7):
        # G.711 telephony bytes -> linear PCM via the CCITT tables;
        # outputs are already 16-bit-domain, so report bits=16
        table = _ALAW_TABLE if fmt_code == 6 else _ULAW_TABLE
        samples = table[np.frombuffer(data, np.uint8)]
        bits = 16
    elif bits == 16:
        samples = np.frombuffer(data, "<i2")
    elif bits == 8:
        # WAV 8-bit is UNSIGNED offset-128; decode to the signed domain
        samples = np.frombuffer(data, np.uint8).astype(np.int16) - 128
    else:  # 24-bit packed little-endian two's complement -> int32
        if len(data) % 3:
            raise ValueError("WAV 24-bit data chunk not a multiple of 3")
        raw = np.frombuffer(data, np.uint8).reshape(-1, 3).astype(np.int32)
        samples = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        samples = samples - ((samples & 0x800000) << 1)  # sign-extend
    return {
        "format": "wav",
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "samples": samples,
    }


def samples_i16_domain(decoded: dict) -> np.ndarray:
    """Normalize a ``decode_audio`` result to int64 samples in the
    16-bit domain — the ONE place the depth mapping lives so
    ``media_features`` and ``audio_features`` cannot drift: float
    [-1, 1] -> x32767 rounded, 8-bit -> <<8, 24-bit -> >>8 (arithmetic
    shift floors, and keeps sum-of-squares inside int64 for
    arbitrarily long clips), 16-bit verbatim. Registry codecs that
    don't set ``bits`` are taken as 16-bit."""
    s = decoded["samples"]
    if np.issubdtype(s.dtype, np.floating):
        return np.rint(np.asarray(s, np.float64) * 32767).astype(np.int64)
    s = s.astype(np.int64)
    bits = decoded.get("bits") or 16
    if bits == 8:
        return s * 256
    if bits == 24:
        return s >> 8
    return s


def downmix_mono(s: np.ndarray, channels) -> np.ndarray:
    """Integer floor-mean across interleaved channels -> one mono
    frame stream, the standard curation downmix (zero-crossings on an
    INTERLEAVED multichannel stream are meaningless — adjacent array
    elements belong to different channels). Mono passes through
    untouched; a trailing partial frame is dropped. Floor division,
    so the result stays closed-form for the q63 oracle."""
    ch = int(channels or 1)
    if ch <= 1:
        return s
    n = (s.size // ch) * ch
    return s[:n].reshape(-1, ch).sum(axis=1) // ch


def feature_samples(decoded: dict) -> np.ndarray:
    """The one decode->features adapter: 16-bit-domain normalization
    (``samples_i16_domain``) then multichannel downmix
    (``downmix_mono``) — both feature operators consume audio through
    this so their gates cannot drift."""
    return downmix_mono(
        samples_i16_domain(decoded), decoded.get("channels")
    )


def audio_stats(decoded: dict) -> dict:
    """Every per-clip audio feature, from ONE ``feature_samples`` call:
    ``n_samples``; ``feat_milli``, the mean square (1000·Σs²)//n (None
    for an empty clip, whose mean is undefined); ``peak_abs``;
    ``zero_crossings`` (sign changes, zeros skipped); ``rms_milli``,
    the integer-isqrt RMS in milli units. Integer math throughout, so
    values are order-independent and oracle-hashable; the 16-bit-domain
    normalization keeps float samples from truncating to 0/±1, and the
    mono downmix keeps interleaved channels from gating on meaningless
    adjacency."""
    import math

    s = feature_samples(decoded)
    n = int(s.size)
    sq = int((s * s).sum())
    sgn = np.sign(s)
    nz = sgn[sgn != 0]
    return {
        "n_samples": n,
        "feat_milli": (1000 * sq) // n if n else None,
        "peak_abs": int(np.abs(s).max()) if n else 0,
        "zero_crossings": (
            int((nz[1:] != nz[:-1]).sum()) if nz.size > 1 else 0
        ),
        "rms_milli": math.isqrt((1_000_000 * sq) // n) if n else 0,
    }


def image_pixels(decoded: dict) -> np.ndarray:
    """The pixel grid of a decoded image; a metadata-only decode (no
    pixel data) raises ValueError — features are never silently
    NULL."""
    if decoded["pixels"] is None:
        raise ValueError(
            f"{decoded['format']} payload decoded to metadata only "
            "(no pixel data) — cannot featurize"
        )
    return decoded["pixels"]


def pixel_milli(px: np.ndarray) -> int:
    """Floor-scaled milli mean of a pixel grid, 1000·Σpx // size —
    integer math, so exact and closed-form for planted rasters."""
    return (1000 * int(px.sum(dtype=np.int64))) // px.size


def decode_meta_stub(blobs: DataFrame) -> DataFrame:
    """'Decode' each payload to (width, height) metadata via mapInPandas.

    The stub derives dimensions deterministically from byte_len (so a
    SQL oracle can verify the full pipeline); a real decoder would read
    the codec header here, batch-wise, with identical plumbing.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "byte_len": n,
                    "width": n % 640,
                    "height": (n * 7) % 480,
                }
            )

    return blobs.mapInPandas(decode, META_SCHEMA)


def frames_with_meta(blobs: DataFrame, frame_size: int = 64) -> DataFrame:
    """Metadata decode + frame sampling in ONE Arrow pass: each output
    row is a sampled frame carrying the decoded (byte_len, width,
    height) header metadata — the composed form a video-ingest pipeline
    runs (decode the header once, then emit keyframes), demonstrating
    the 1→N fan-out ``mapInPandas`` schema with per-item metadata.
    Same deterministic stub decode as ``decode_meta_stub``; a real
    decoder swaps into the same loop."""

    def decode_and_sample(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, lens, ws, hs, idxs, offs = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                n_frames = max(1, n // frame_size)
                for i in range(n_frames):
                    ids.append(doc_id)
                    lens.append(n)
                    ws.append(n % 640)
                    hs.append((n * 7) % 480)
                    idxs.append(i)
                    offs.append(i * frame_size)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "byte_len": pd.Series(lens, dtype="int64"),
                    "width": pd.Series(ws, dtype="int64"),
                    "height": pd.Series(hs, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_byte_offset": pd.Series(offs, dtype="int64"),
                }
            )

    return blobs.mapInPandas(decode_and_sample, FRAME_META_SCHEMA)


MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("byte_len", LongType()),
    ]
)

MEDIA_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_samples", LongType()),
        StructField("feat_milli", LongType()),
        StructField("byte_len", LongType()),
    ]
)


def synth_media(documents: DataFrame) -> DataFrame:
    """Deterministic real-format media per document: doc_id % 4 == 0
    gets a 24-bit BMP, doc_id % 4 == 2 an 8-bit grayscale PNG (both on
    a width 4+id%5 × height 3+id%4 grid with pixel (id+x+y)%256 — the
    PNG's DEFLATE stream and rotating scanline filters make its decode
    a genuinely different code path), odd ids a PCM WAV (8 kHz,
    64+id%64 samples, s_i = (id*31+i*17)%2048 − 1024). The files are
    REAL — ``media_features`` decodes them by parsing headers and
    payload bytes (PNG: inflate + unfilter) — while the content
    formulas stay closed-form so DuckDB can reproduce the decoded
    values exactly."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "kind": [], "payload": []}
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                if doc_id % 2 == 0:
                    w, h = 4 + doc_id % 5, 3 + doc_id % 4
                    x = np.arange(w, dtype=np.int64)
                    y = np.arange(h, dtype=np.int64)[:, None]
                    px = ((doc_id + x + y) % 256).astype(np.uint8)
                    if doc_id % 4 == 0:
                        payload = encode_bmp(w, h, px)
                        kind = "bmp"
                    else:
                        payload = encode_png(w, h, px)
                        kind = "png"
                else:
                    n = 64 + doc_id % 64
                    i = np.arange(n, dtype=np.int64)
                    payload = encode_wav(
                        (doc_id * 31 + i * 17) % 2048 - 1024, sample_rate=8000
                    )
                    kind = "wav"
                out["doc_id"].append(doc_id)
                out["kind"].append(kind)
                out["payload"].append(payload)
            out["byte_len"] = [len(p) for p in out["payload"]]
            yield pd.DataFrame(out)

    return documents.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


def synth_audio_media(ids: DataFrame) -> DataFrame:
    """Deterministic real clips across the FULL decoded audio surface —
    the planted input for q63's audio-format branch. Container rotates
    by doc_id % 5 over the same closed-form waveform family so a SQL
    oracle reproduces every normalized feature:

    - 0: AIFC ``sowt`` (LE PCM 16), samples s_i = (id·31+i·17)%2048−1024
    - 1: WAV 24-bit, samples s_i<<8 (normalizes back to s_i exactly)
    - 2: WAV float32, f_i = s_i/32768 — exact in f4 (≤12 significant
         bits), and rint(f·32767) = s_i exactly since |s_i|/32768 < ½
    - 3: AIFF 8-bit signed, s8_i = (id·31+i·17)%256−128 (normalized
         s8·256)
    - 4: WAV 8-bit unsigned-on-disk, same s8 waveform

    n = 64 + id%64 samples at 8 kHz; every container size is
    closed-form (fixed headers + n·bytes/sample + the RIFF/IFF pad
    rule), so byte_len stays oracle-checked — unlike the
    entropy-coded image formats."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "kind": [], "payload": []}
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                n = 64 + doc_id % 64
                i = np.arange(n, dtype=np.int64)
                s = (doc_id * 31 + i * 17) % 2048 - 1024
                s8 = (doc_id * 31 + i * 17) % 256 - 128
                c = doc_id % 5
                if c == 0:
                    payload, kind = encode_aifc(s, compression=b"sowt"), "aifc"
                elif c == 1:
                    payload, kind = encode_wav(s << 8, bits=24), "wav"
                elif c == 2:
                    payload, kind = encode_wav(s / 32768.0, bits=32), "wav"
                elif c == 3:
                    payload, kind = encode_aiff(s8, bits=8), "aiff"
                else:
                    payload, kind = encode_wav(s8, bits=8), "wav"
                out["doc_id"].append(doc_id)
                out["kind"].append(kind)
                out["payload"].append(payload)
            out["byte_len"] = [len(p) for p in out["payload"]]
            yield pd.DataFrame(out)

    return ids.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


def synth_stereo_media(ids: DataFrame) -> DataFrame:
    """Deterministic real STEREO clips — the planted input for q63's
    stereo/extensible branch: interleaved 16-bit frames with
    L_i = (id·31+i·17)%2048−1024 and R_i = (id·13+i·7)%2048−1024,
    n = 64 + id%64 frames; even ids ship the plain fmt chunk, odd ids
    WAVE_FORMAT_EXTENSIBLE (0xFFFE, how real multichannel WAVs ship —
    +24 fmt-body bytes, closed-form byte_len either way). The feature
    ops downmix to floor((L+R)/2) mono frames, so every gate is
    SQL-recomputable."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "kind": [], "payload": []}
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                n = 64 + doc_id % 64
                i = np.arange(n, dtype=np.int64)
                left = (doc_id * 31 + i * 17) % 2048 - 1024
                right = (doc_id * 13 + i * 7) % 2048 - 1024
                inter = np.empty(2 * n, dtype=np.int64)
                inter[0::2], inter[1::2] = left, right
                payload = encode_wav(
                    inter, channels=2, extensible=bool(doc_id % 2)
                )
                out["doc_id"].append(doc_id)
                out["kind"].append("wav")
                out["payload"].append(payload)
            out["byte_len"] = [len(p) for p in out["payload"]]
            yield pd.DataFrame(out)

    return ids.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


def synth_jpeg_media(ids: DataFrame) -> DataFrame:
    """Solid-color baseline JPEGs derived from doc_id — the planted
    input for the declared JPEG-decode branch (q63): a constant block
    survives the all-ones-quant baseline codec (operators/jpeg.py)
    EXACTLY (the DCT of a constant block is a lone DC coefficient), so
    the decoded mean is the closed-form (37·doc_id + 23) % 256 the SQL
    oracle recomputes without touching a codec. 16×8 RGB: two MCUs
    wide, trivially cheap per row, real entropy-coded bytes."""
    from timeseries_data_provider_spark.operators import jpeg as _jpeg

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in MEDIA_SCHEMA.fields}
            for doc_id in pdf["doc_id"]:
                v = (37 * int(doc_id) + 23) % 256
                payload = _jpeg.encode_baseline_jpeg(
                    np.full((8, 16, 3), v, np.uint8)
                )
                out["doc_id"].append(int(doc_id))
                out["kind"].append("jpeg")
                out["payload"].append(payload)
                out["byte_len"].append(len(payload))
            yield pd.DataFrame(out)

    return ids.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


def synth_vp8_media(ids: DataFrame) -> DataFrame:
    """Lossy-VP8 WebP per doc_id (r13 — the dominant real-web .webp
    form, decoded by the RFC 6386 keyframe codec in operators/vp8).
    The plant keeps the q63 oracle CLOSED-FORM despite a lossy codec:
    one DC-mode macroblock whose only nonzero coefficient is the Y2
    DC at quantizer index 0, so the decoded luma is EXACTLY flat at

        y0 = 128 + (L + 4) // 8,   L = (23*id + 11) % 64

    (dequant 8L -> WHT (8L+3)>>3 = L -> DCT DC (L+4)>>3 on the 128
    prediction), chroma stays 128, and the BT.601 conversion lands
    every RGB channel on gray0 = (298*(y0-16) + 128) // 256 — pure
    integer SQL. Dims (8+id%9) x (6+id%7) exercise the crop path;
    the loop filter rotates off/normal/simple by id%3 and the token
    partition count by id%2 (all provably no-ops on a flat
    reconstruction, so the decode exercises those paths without
    breaking the closed form; the non-flat filter/B_PRED/segment
    paths are libwebp-cross-validated in tests/test_vp8.py)."""
    from timeseries_data_provider_spark.operators import vp8 as _vp8

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in MEDIA_SCHEMA.fields}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                lev = (23 * i + 11) % 64
                co = np.zeros((25, 16), np.int64)
                co[0, 0] = lev
                mb = {
                    "ymode": _vp8.DC_PRED,
                    "uvmode": _vp8.DC_PRED,
                    "skip": False,
                    "segment": 0,
                    "coeffs": co,
                }
                body = _vp8.encode_vp8_frame(
                    8 + i % 9,
                    6 + i % 7,
                    [mb],
                    q_index=0,
                    filter_level=0 if i % 3 == 0 else 1 + i % 63,
                    filter_simple=(i % 3 == 2),
                    sharpness=i % 8 if i % 3 == 2 else 0,
                    n_parts=2 if i % 2 else 1,
                )
                payload = _vp8.encode_webp(body)
                out["doc_id"].append(i)
                out["kind"].append("webp")
                out["payload"].append(payload)
                out["byte_len"].append(len(payload))
            yield pd.DataFrame(out)

    return ids.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


def synth_cmyk_media(ids: DataFrame) -> DataFrame:
    """Solid-color Adobe/APP14 4-component JPEGs per doc_id — the
    planted input for the q63 CMYK branch (r12). Even ids write
    transform-0 (inverted-CMYK storage) with channels
    ((37i+5)%256, (53i+11)%256, (29i+3)%256, (17i+7)%256); odd ids
    write YCCK with a PURE-K color (0, 0, 0, (61i+13)%256) — the one
    YCCK regime that is exactly closed-form: (0,0,0) maps to YCbCr
    (0, 128, 128), all planes integer constants, so the round trip
    is bit-exact like the solid-RGB jpeg plant and the decoded
    4-channel mean is floor-free 250·(c+m+y+k) for the oracle.
    16×8 like the jpeg plant; real entropy-coded Adobe streams."""
    from timeseries_data_provider_spark.operators import jpeg as _jpeg

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in MEDIA_SCHEMA.fields}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 2 == 0:
                    cmyk = (
                        (37 * i + 5) % 256,
                        (53 * i + 11) % 256,
                        (29 * i + 3) % 256,
                        (17 * i + 7) % 256,
                    )
                    t = 0
                else:
                    cmyk = (0, 0, 0, (61 * i + 13) % 256)
                    t = 2
                img = np.empty((8, 16, 4), np.uint8)
                img[:, :] = cmyk
                payload = _jpeg.encode_baseline_jpeg(
                    img, adobe_transform=t
                )
                out["doc_id"].append(i)
                out["kind"].append("jpeg")
                out["payload"].append(payload)
                out["byte_len"].append(len(payload))
            yield pd.DataFrame(out)

    return ids.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


def synth_webp_media(ids: DataFrame) -> DataFrame:
    """Solid-color lossless WebP (VP8L) per doc_id — color
    (41·id+7)%256, dims (8+(id%5)) × (6+(id%3)) — encoded with the
    color cache and LZ77 runs ON, so the worker-side decode exercises
    the cache and backward-reference paths, not just literals. VP8L
    is lossless, so the mean is exactly the planted color: closed
    form for the q63 oracle (same plant pattern as synth_jpeg_media)."""
    from timeseries_data_provider_spark.operators import vp8l as _vp8l

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in MEDIA_SCHEMA.fields}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                c = (41 * i + 7) % 256
                img = np.full(
                    (6 + (i % 3), 8 + (i % 5), 3), c, np.uint8
                )
                payload = _vp8l.encode_vp8l(
                    img, use_cache=True, use_lz77=True
                )
                out["doc_id"].append(i)
                out["kind"].append("webp")
                out["payload"].append(payload)
                out["byte_len"].append(len(payload))
            yield pd.DataFrame(out)

    return ids.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


def synth_gif_media(ids: DataFrame) -> DataFrame:
    """Gradient GIF per doc_id: dims (10+(id%7)) × (6+(id%5)),
    256-entry grayscale palette (entry i = (i,i,i)), index
    (id+x+y) % 256, INTERLACED for even ids — so the worker-side
    decode exercises the full LZW path, a non-trivial palette, and
    both interlace layouts. GIF is lossless and the palette is the
    identity on gray, so the q63 oracle recomputes the mean as
    (1000·Σ(id+x+y)%256)//(w·h) — the BMP branch's channel
    cancellation applies unchanged."""
    from timeseries_data_provider_spark.operators import gif as _gif

    pal = np.repeat(
        np.arange(256, dtype=np.uint8)[:, None], 3, axis=1
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in MEDIA_SCHEMA.fields}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 10 + (i % 7), 6 + (i % 5)
                ys, xs = np.mgrid[0:h, 0:w]
                idx = ((i + xs + ys) % 256).astype(np.uint8)
                payload = _gif.encode_gif(
                    w, h, idx, pal, interlace=(i % 2 == 0)
                )
                out["doc_id"].append(i)
                out["kind"].append("gif")
                out["payload"].append(payload)
                out["byte_len"].append(len(payload))
            yield pd.DataFrame(out)

    return ids.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


def synth_tiff_media(ids: DataFrame) -> DataFrame:
    """Gradient baseline TIFF per doc_id: 8-bit grayscale
    (9+(id%6)) × (5+(id%4)) with pixel (id+x+y) % 256, rotating the
    container by id%6 — {plain, PackBits, LZW+Predictor-2} × little/
    big endian, compressed rows stripped 2-at-a-time — so the
    worker-side decode exercises both byte orders, all three baseline
    compressions, horizontal-differencing inversion, and multi-strip
    assembly. Lossless, so the q63 oracle recomputes the mean with
    the GIF branch's closed form."""
    from timeseries_data_provider_spark.operators import tiff as _tiff

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in MEDIA_SCHEMA.fields}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 9 + (i % 6), 5 + (i % 4)
                ys, xs = np.mgrid[0:h, 0:w]
                px = ((i + xs + ys) % 256).astype(np.uint8)
                variant = (i % 6) // 2  # 0 plain, 1 PackBits, 2 LZW
                payload = _tiff.encode_tiff(
                    w,
                    h,
                    px,
                    big_endian=(i % 2 == 1),
                    packbits=(variant == 1),
                    lzw=(variant == 2),
                    predictor=2 if variant == 2 else 1,
                    rows_per_strip=2 if variant else None,
                )
                out["doc_id"].append(i)
                out["kind"].append("tiff")
                out["payload"].append(payload)
                out["byte_len"].append(len(payload))
            yield pd.DataFrame(out)

    return ids.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


def synth_fmp4_media(ids: DataFrame) -> DataFrame:
    """Fragmented (CMAF-style) skeletons per doc_id: 2+(id%3)
    fragments of 3+(id%4) samples — the closed-form layout of
    ``mp4.build_fragmented_skeleton`` (alternating per-sample /
    tfhd-default sizes, tfdt bases, trex default durations), so every
    per-sample field the q34 'fmp4' branch scores is doc_id math."""
    from timeseries_data_provider_spark.operators import mp4 as _mp4

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in MEDIA_SCHEMA.fields}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                payload = _mp4.build_fragmented_skeleton(
                    320, 240,
                    n_fragments=2 + (i % 3),
                    samples_per_fragment=3 + (i % 4),
                )
                out["doc_id"].append(i)
                out["kind"].append("fmp4")
                out["payload"].append(payload)
                out["byte_len"].append(len(payload))
            yield pd.DataFrame(out)

    return ids.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


def register_builtin_codecs() -> None:
    """Worker-side ``codec_setup`` hook installing EVERY in-repo
    optional codec (baseline+progressive JPEG, VP8L WebP, GIF,
    baseline TIFF, FLAC audio) — module-level and picklable, for
    media tables mixing formats."""
    from timeseries_data_provider_spark.operators import (
        flac,
        gif,
        jpeg,
        tiff,
        vp8l,
    )

    flac.register()
    gif.register()
    jpeg.register()
    tiff.register()
    vp8l.register()


def synth_flac_media(ids: DataFrame) -> DataFrame:
    """Deterministic FLAC clips per doc_id — q63's 'flac' branch
    input. The wav plant's closed-form waveform (s_i =
    (id*31+i*17)%2048−1024, n = 64+id%64, mono 16-bit 8 kHz) through
    the REAL encoder (operators/flac.py), rotating the subframe type
    by id%3 (verbatim / fixed2 / fixed1) so the workers decode every
    prediction path plus Rice residuals. FLAC is lossless, so every
    decoded feature keeps the wav branch's integer formulas; the
    rice-coded container size is not SQL-recomputable, so this frame
    carries the REAL payload length and q63's projection NULLs
    byte_len at query time (like its jpeg/png branches) — consumers
    of THIS function get the true length (ADVICE r9)."""
    from timeseries_data_provider_spark.operators import flac

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "kind": [], "payload": []}
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                n = 64 + doc_id % 64
                i = np.arange(n, dtype=np.int64)
                s = (doc_id * 31 + i * 17) % 2048 - 1024
                mode = ("verbatim", "fixed2", "fixed1")[doc_id % 3]
                payload = flac.encode_flac(
                    s, sample_rate=8000, subframe=mode
                )
                out["doc_id"].append(doc_id)
                out["kind"].append("flac")
                out["payload"].append(payload)
            out["byte_len"] = [len(p) for p in out["payload"]]
            yield pd.DataFrame(out)

    return ids.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


VIDEO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("major_brand", StringType()),
        StructField("container_ms", LongType()),
        StructField("n_tracks", LongType()),
        StructField("track_id", LongType()),
        StructField("track_kind", StringType()),
        StructField("codec", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("track_ms", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_chunks", LongType()),
        StructField("sample_bytes", LongType()),
        StructField("first_sample_off", LongType()),
        StructField("last_sample_off", LongType()),
    ]
)


def synth_mp4_media(ids: DataFrame) -> DataFrame:
    """Metadata-only MP4 skeletons derived from doc_id — the planted
    input for the declared video-metadata branch (q34): dims
    320+16·(id%5) × 240+16·(id%3), duration 1000+100·(id%10) ms, one
    video + one audio track with FULL sample tables (video: 5+(id%7)
    variable-size samples, stco; audio: 16+(id%9) const-size samples,
    co64) — all closed-form for the SQL oracle, while the bytes are a
    REAL ISO-BMFF box tree the parser walks."""
    from timeseries_data_provider_spark.operators import mp4 as _mp4

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in MEDIA_SCHEMA.fields}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                payload = _mp4.build_skeleton(
                    duration_ms=1000 + 100 * (i % 10),
                    width=320 + 16 * (i % 5),
                    height=240 + 16 * (i % 3),
                    video_samples=5 + (i % 7),
                    audio_samples=16 + (i % 9),
                )
                out["doc_id"].append(i)
                out["kind"].append("mp4")
                out["payload"].append(payload)
                out["byte_len"].append(len(payload))
            yield pd.DataFrame(out)

    return ids.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)


def video_meta_features(media: DataFrame) -> DataFrame:
    """Parse ISO-BMFF container metadata per payload and emit one row
    PER TRACK (1→N Arrow fan-out, same plumbing as frames_with_meta) —
    the routing/filtering tier of a video corpus build: codec/brand
    allowlists, dimension and duration gates, track-count sanity, all
    WITHOUT a codec library (operators/mp4.py — frame decode remains
    the documented plug-in). Non-BMFF payloads raise: a video table
    with a non-video row is a schema error, not a skip."""
    from timeseries_data_provider_spark.operators import mp4 as _mp4

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {f.name: [] for f in VIDEO_META_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = _mp4.decode_video_meta(bytes(payload))
                for t in meta["tracks"]:
                    rows["doc_id"].append(int(doc_id))
                    rows["major_brand"].append(meta["major_brand"])
                    rows["container_ms"].append(meta["duration_ms"])
                    rows["n_tracks"].append(meta["n_tracks"])
                    rows["track_id"].append(t["track_id"])
                    rows["track_kind"].append(t["kind"])
                    rows["codec"].append(t["codec"])
                    rows["width"].append(t["width"])
                    rows["height"].append(t["height"])
                    rows["track_ms"].append(t["duration_ms"])
                    rows["n_samples"].append(t["n_samples"])
                    rows["n_chunks"].append(t["n_chunks"])
                    rows["sample_bytes"].append(t["sample_bytes"])
                    rows["first_sample_off"].append(t["first_sample_off"])
                    rows["last_sample_off"].append(t["last_sample_off"])
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        feats, VIDEO_META_SCHEMA
    )


SAMPLE_RANGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("track_id", LongType()),
        StructField("sample_idx", LongType()),
        StructField("chunk", LongType()),
        StructField("sample_off", LongType()),
        StructField("sample_size", LongType()),
        StructField("dts", LongType()),
        # stss-derived keyframe flag; NULL on the fragmented tier
        # (trun sample-flags parsing is the walk tier's named gap)
        StructField("keyframe", BooleanType()),
    ]
)


def video_sample_ranges(media: DataFrame) -> DataFrame:
    """Expand every track's sample tables into one row PER SAMPLE —
    (doc_id, track_id, sample_idx, chunk, sample_off, sample_size,
    dts) — via ``mp4.iter_samples`` in an Arrow 1→N fan-out. THIS is
    the distributed form of the 100 TB video-ingestion primitive: the
    output is literally the (object, byte-range) fetch list a frame-
    extraction tier consumes, computed from metadata alone — no media
    bytes are ever read. Tracks without sample tables (metadata-only,
    fragmented) contribute zero rows; malformed tables raise (the
    corpus-triage contract)."""
    from timeseries_data_provider_spark.operators import mp4 as _mp4

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {f.name: [] for f in SAMPLE_RANGE_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                # track_listing parses moov tables only — the
                # fragment walk below is the ONE moof pass per track
                # (review finding: decode_video_meta's summary fill
                # walked every fragment a second time)
                fragmented, listing = _mp4.track_listing(payload)
                for track_id, moov_n in listing:
                    walks = []
                    if moov_n:
                        walks.append(
                            _mp4.iter_samples(payload, track_id)
                        )
                    if fragmented:
                        # hybrid progressive+fragmented files carry
                        # samples in BOTH tiers (review finding)
                        walks.append(
                            _mp4.iter_fragment_samples(
                                payload, track_id
                            )
                        )
                    for walk in walks:
                        for s in walk:
                            rows["doc_id"].append(int(doc_id))
                            rows["track_id"].append(track_id)
                            rows["sample_idx"].append(s["index"])
                            rows["chunk"].append(s["chunk"])
                            rows["sample_off"].append(s["offset"])
                            rows["sample_size"].append(s["size"])
                            rows["dts"].append(s["dts"])
                            rows["keyframe"].append(s.get("sync"))
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        expand, SAMPLE_RANGE_SCHEMA
    )


def media_features(
    media: DataFrame, codec_setup=None
) -> DataFrame:
    """Sniff + REALLY decode each payload (BMP pixels / WAV samples) and
    emit typed features: image mean pixel value or audio mean-square
    amplitude, both as exact floor-scaled milli integers
    ((1000·Σv)//n — integer math, so order-independent and
    oracle-hashable). Unknown formats propagate their
    NotImplementedError: a scale pipeline wants loud schema errors, not
    silently null features.

    ``codec_setup``: optional zero-arg callable run once per worker
    partition BEFORE decoding — the supported way to install
    third-party codecs (``register_image_codec`` /
    ``register_audio_codec``) where the decode actually executes; a
    driver-side registration never reaches the Python workers (see the
    codec-contract comment)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if codec_setup is not None:
            codec_setup()
        for pdf in batches:
            rows = {k.name: [] for k in MEDIA_FEATURES_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                if is_audio_payload(payload):
                    wav = decode_audio(payload)
                    st = audio_stats(wav)
                    feat = st["feat_milli"]
                    if feat is None:
                        raise ValueError(
                            f"{wav['format']} payload decoded to no "
                            "samples — cannot featurize"
                        )
                    meta = (None, None, st["n_samples"], wav["format"])
                else:
                    img = decode_image(payload)
                    feat = pixel_milli(image_pixels(img))
                    meta = (img["width"], img["height"], None, img["format"])
                rows["doc_id"].append(int(doc_id))
                rows["kind"].append(meta[3])
                rows["width"].append(meta[0])
                rows["height"].append(meta[1])
                rows["n_samples"].append(meta[2])
                rows["feat_milli"].append(feat)
                rows["byte_len"].append(len(payload))
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        feats, MEDIA_FEATURES_SCHEMA
    )


def resize_nearest(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample of a decoded pixel grid ((h, w) or
    (h, w, c)): output (y, x) takes source ((y*h)//out_h, (x*w)//out_w).
    Integer index math only — deterministic and closed-form, so resized
    features remain oracle-reproducible. Pure numpy fancy-indexing; no
    codec/image library needed once pixels are decoded."""
    h, w = pixels.shape[:2]
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return pixels[ys][:, xs]


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("out_w", LongType()),
        StructField("out_h", LongType()),
        StructField("resized_feat_milli", LongType()),
    ]
)


def resize_features(
    media: DataFrame, out_w: int = 4, out_h: int = 4, codec_setup=None
) -> DataFrame:
    """Decode → resize → feature in one Arrow pass: each image payload
    (BMP or PNG) is really decoded, nearest-neighbor-resampled to
    (out_w, out_h), and summarized as the floor-scaled milli mean of
    the RESIZED grid — the thumbnail/feature-extraction step of a
    multimodal ingest pipeline (the brief's decode/resize/
    feature-extract chain), with the same mapInPandas plumbing
    production code keeps when swapping in codec-lib decoders.
    Non-image payloads (anything ``is_audio_payload`` recognizes —
    WAV or a REGISTERED audio codec; review finding: a bare RIFF sniff
    here crashed on registered-codec audio) are skipped inside the
    batch — a media table mixes kinds and the image path selects its
    own."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if codec_setup is not None:
            codec_setup()  # registrations live in the WORKER module
        for pdf in batches:
            rows = {k.name: [] for k in RESIZED_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                if is_audio_payload(payload):
                    continue  # audio — no spatial resize
                img = decode_image(payload)
                feat = pixel_milli(
                    resize_nearest(image_pixels(img), out_w, out_h)
                )
                rows["doc_id"].append(int(doc_id))
                rows["kind"].append(img["format"])
                rows["width"].append(img["width"])
                rows["height"].append(img["height"])
                rows["out_w"].append(out_w)
                rows["out_h"].append(out_h)
                rows["resized_feat_milli"].append(feat)
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        feats, RESIZED_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("peak_abs", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("rms_milli", LongType()),
    ]
)


def audio_features(media: DataFrame, codec_setup=None) -> DataFrame:
    """Decode WAV/AIFF/AIFC payloads and emit the standard scalar
    audio features a corpus-curation pass computes per clip: peak
    absolute amplitude (clipping detector), zero-crossing count (crude
    spectral/voicing proxy), and integer-floored RMS in milli units
    (loudness gate). Samples are first normalized to the 16-bit domain
    (8-bit <<8, 24-bit >>8, float x32767 rounded) and multichannel
    streams floor-mean-downmixed to mono (``feature_samples``) so the
    gates are invariant to the container's sample format and channel
    layout — ``n_samples`` is therefore FRAMES for multichannel
    clips; then all integer/fixed-point math — deterministic,
    vectorized numpy inside one Arrow pass. Audio is
    recognized via ``is_audio_payload`` (WAV or any registered codec
    magic — review finding: a bare RIFF sniff silently skipped
    registered-codec clips); non-audio payloads are skipped (the image
    path has its own operators). ``codec_setup``: per-worker
    registration hook, same contract as media_features."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if codec_setup is not None:
            codec_setup()  # registrations live in the WORKER module
        for pdf in batches:
            rows = {k.name: [] for k in AUDIO_FEATURES_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                if not is_audio_payload(payload):
                    continue
                wav = decode_audio(payload)
                st = audio_stats(wav)
                rows["doc_id"].append(int(doc_id))
                rows["sample_rate"].append(int(wav["sample_rate"]))
                for c in (
                    "n_samples", "peak_abs", "zero_crossings", "rms_milli"
                ):
                    rows[c].append(st[c])
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        feats, AUDIO_FEATURES_SCHEMA
    )


MEDIA_ALL_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_samples", LongType()),
        StructField("feat_milli", LongType()),
        StructField("byte_len", LongType()),
        StructField("peak_abs", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("rms_milli", LongType()),
        StructField("resized_feat_milli", LongType()),
    ]
)


def media_all_features(
    media: DataFrame, out_w: int = 4, out_h: int = 4, codec_setup=None
) -> DataFrame:
    """media_features + audio_features + resize_features fused into
    ONE decode pass (guide §1.2: the three operators each re-decoded
    every payload — images twice, audio twice — and the decode IS the
    cost; one pass computes all three column groups from a single
    decode). Emits exactly the columns the three-way doc_id join of
    the separate operators produces: audio rows carry NULL
    width/height/resized_feat_milli, image rows NULL
    n_samples/peak_abs/zero_crossings/rms_milli — the LEFT-join
    shape. Every value comes from the helpers the individual
    operators call (``audio_stats``, ``image_pixels``,
    ``pixel_milli``, ``resize_nearest``), so results are identical by
    construction (and pinned against the three-pass composition in
    tests/test_multimodal.py)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if codec_setup is not None:
            codec_setup()  # registrations live in the WORKER module
        for pdf in batches:
            rows = {
                k.name: [] for k in MEDIA_ALL_FEATURES_SCHEMA.fields
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                if is_audio_payload(payload):
                    wav = decode_audio(payload)
                    st = audio_stats(wav)
                    if st["feat_milli"] is None:
                        raise ValueError(
                            f"{wav['format']} payload decoded to no "
                            "samples — cannot featurize"
                        )
                    st.update(
                        kind=wav["format"],
                        width=None,
                        height=None,
                        resized_feat_milli=None,
                    )
                else:
                    img = decode_image(payload)
                    px = image_pixels(img)
                    st = {
                        "kind": img["format"],
                        "width": img["width"],
                        "height": img["height"],
                        "n_samples": None,
                        "feat_milli": pixel_milli(px),
                        "peak_abs": None,
                        "zero_crossings": None,
                        "rms_milli": None,
                        "resized_feat_milli": pixel_milli(
                            resize_nearest(px, out_w, out_h)
                        ),
                    }
                for c, v in st.items():
                    rows[c].append(v)
                rows["doc_id"].append(int(doc_id))
                rows["byte_len"].append(len(payload))
            yield pd.DataFrame(rows)

    from timeseries_data_provider_spark.tables import widen_for_python

    # coalesce/widen to the session parallelism: a union of small
    # synth branches arrives as hundreds of 1-2 row partitions and
    # the decode would run as that many tiny tasks (r15; conversely
    # a single-split source would serialize it — the widen contract)
    src = media.select("doc_id", "payload")
    par = media.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() > par:
        src = src.coalesce(par)
    else:
        src = widen_for_python(src)
    return src.mapInPandas(feats, MEDIA_ALL_FEATURES_SCHEMA)
