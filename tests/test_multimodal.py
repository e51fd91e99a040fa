"""Real stdlib codecs (BMP/WAV/PNG) + Spark media-decode plumbing.

The reference treats all payloads as opaque JSON bodies (index.js:75-96);
our [EXT] multimodal layer adds typed binary columns with REAL decode for
the formats parseable without codec libraries. These tests pin the byte-
level roundtrips (including BMP row padding and WAV chunk alignment) and
the distributed mapInPandas decode path end-to-end.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from timeseries_data_provider_spark.operators import multimodal as mm


def test_bmp_roundtrip_with_row_padding():
    # width 5 -> row size 15 -> padded to 16: exercises the pad path
    w, h = 5, 3
    px = (np.arange(w * h, dtype=np.int64).reshape(h, w) % 256).astype(np.uint8)
    payload = mm.encode_bmp(w, h, px)
    dec = mm.decode_image(payload)
    assert dec["format"] == "bmp"
    assert (dec["width"], dec["height"]) == (w, h)
    # encoder replicates the scalar across B,G,R; all channels must match
    assert (dec["pixels"] == px[:, :, None]).all()
    # container size: 54-byte headers + padded rows
    assert len(payload) == 54 + ((3 * w + 3) // 4 * 4) * h


def test_bmp_rejects_unsupported_depth():
    # 8 bpp DECODES as of r12 (palette tier) — claiming it over a
    # paletteless 24-bit body is loud damage; 16 bpp decodes as of
    # r13 (implicit 555), so the remaining named depth is 2 bpp
    payload = bytearray(mm.encode_bmp(2, 2, np.zeros((2, 2), np.uint8)))
    struct.pack_into("<H", payload, 28, 8)
    with pytest.raises(ValueError):
        mm.decode_image(bytes(payload))
    struct.pack_into("<H", payload, 28, 2)
    with pytest.raises(NotImplementedError, match="bpp=2"):
        mm.decode_image(bytes(payload))
    # 16 bpp over the same 24-bit body decodes as X1R5G5B5 now
    struct.pack_into("<H", payload, 28, 16)
    assert mm.decode_image(bytes(payload))["pixels"].shape == (2, 2, 3)


def test_wav_roundtrip():
    samples = np.array([-1024, 0, 1, 1023, -1, 512], dtype=np.int64)
    payload = mm.encode_wav(samples, sample_rate=8000)
    dec = mm.decode_audio(payload)
    assert dec["format"] == "wav"
    assert dec["sample_rate"] == 8000
    assert dec["channels"] == 1
    assert (dec["samples"] == samples).all()
    assert len(payload) == 44 + 2 * len(samples)


def test_wav_skips_unknown_chunks():
    # RIFF allows extra chunks (LIST, fact, ...) before data; the walker
    # must skip them, including the odd-size 2-byte-alignment rule.
    samples = np.array([7, -7, 7], dtype=np.int64)
    base = mm.encode_wav(samples)
    fmt_chunk = base[12:36]
    data_chunk = base[36:]
    junk = struct.pack("<4sI", b"LIST", 3) + b"abc" + b"\x00"  # odd size + pad
    body = fmt_chunk + junk + data_chunk
    payload = struct.pack("<4sI4s", b"RIFF", len(body) + 4, b"WAVE") + body
    dec = mm.decode_audio(payload)
    assert (dec["samples"] == samples).all()


def test_aiff_roundtrip_and_rates():
    rng = np.random.RandomState(11)
    samples = rng.randint(-1024, 1024, 200).astype(np.int16)
    for rate in (8000, 44100, 48000, 96000):
        dec = mm.decode_audio(mm.encode_aiff(samples, rate))
        assert dec["format"] == "aiff"
        assert dec["sample_rate"] == rate  # 80-bit float parsed exact
        assert dec["channels"] == 1
        assert np.array_equal(dec["samples"], samples)
    # routed as audio through the shared sniffer (media_features path)
    assert mm.is_audio_payload(mm.encode_aiff(samples))


def test_aiff_registry_reachable_and_encode_guards():
    # a registered FORM codec must win over the 16-bit-only builtin —
    # the WebP shadowing fix applied to audio (review finding)
    payload = mm.encode_aiff(np.zeros(4, np.int16))
    try:
        mm.register_audio_codec(
            b"FORM",
            lambda p: {
                "format": "aiff24",
                "sample_rate": 1,
                "channels": 1,
                "samples": np.zeros(1, np.int32),
            },
        )
        assert mm.decode_audio(payload)["format"] == "aiff24"
    finally:
        mm.AUDIO_CODECS.pop(b"FORM", None)
    # rate 0 used to hang the mantissa loop; negative died in struct
    for rate in (0, -8000):
        with pytest.raises(ValueError, match="sample_rate"):
            mm.encode_aiff(np.zeros(4, np.int16), rate)
    # zero-channel COMM is malformed, not silently unvalidated
    chan_at = payload.index(b"COMM") + 8
    bad = bytearray(payload)
    bad[chan_at : chan_at + 2] = (0).to_bytes(2, "big")
    with pytest.raises(ValueError, match="zero channels"):
        mm.decode_audio(bytes(bad))


def test_aiff_errors_and_named_gaps():
    good = bytearray(mm.encode_aiff(np.zeros(4, np.int16)))
    # claim a 12-bit depth in COMM -> named plug-in error (8/16/24 are
    # real decoders now)
    bits_at = good.index(b"COMM") + 8 + 6
    bad_bits = bytearray(good)
    bad_bits[bits_at : bits_at + 2] = (12).to_bytes(2, "big")
    with pytest.raises(NotImplementedError, match="8/16/24"):
        mm.decode_audio(bytes(bad_bits))
    # frame-count / sample mismatch
    frames_at = good.index(b"COMM") + 8 + 2
    bad_frames = bytearray(good)
    bad_frames[frames_at : frames_at + 4] = (99).to_bytes(4, "big")
    with pytest.raises(ValueError, match="COMM claims"):
        mm.decode_audio(bytes(bad_frames))
    # truncated SSND body
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_audio(bytes(good[:-3]))


def test_wav_bit_depths_roundtrip():
    # 8-bit unsigned-on-disk / signed-domain, 24-bit packed (odd byte
    # count exercises the RIFF pad rule), IEEE float 32/64
    s8 = np.array([-128, -1, 0, 1, 127], dtype=np.int64)
    dec = mm.decode_audio(mm.encode_wav(s8, bits=8))
    assert dec["bits"] == 8 and (dec["samples"] == s8).all()
    s24 = np.array([-(2**23), -257, 0, 256, 2**23 - 1], dtype=np.int64)
    dec = mm.decode_audio(mm.encode_wav(s24, bits=24))
    assert dec["bits"] == 24 and dec["samples"].dtype == np.int32
    assert (dec["samples"] == s24).all()
    assert len(s24) * 3 % 2 == 1  # the odd-length pad path really ran
    f = np.array([-1.0, -0.5, 0.0, 0.25, 1.0], dtype=np.float64)
    for bits, dt in ((32, np.float32), (64, np.float64)):
        dec = mm.decode_audio(mm.encode_wav(f, bits=bits))
        assert dec["bits"] == bits and dec["samples"].dtype == dt
        assert np.array_equal(dec["samples"], f.astype(dt))
    with pytest.raises(ValueError, match="bits=12"):
        mm.encode_wav(s8, bits=12)


def test_wav_named_gaps_and_hostile():
    base = bytearray(mm.encode_wav(np.zeros(4, np.int64)))
    fmt_at = base.index(b"fmt ") + 8
    bad = bytearray(base)
    bad[fmt_at : fmt_at + 2] = (2).to_bytes(2, "little")  # ADPCM
    with pytest.raises(NotImplementedError, match="fmt=2"):
        mm.decode_audio(bytes(bad))
    # 24-bit data chunk whose byte count is not a multiple of 3
    p24 = bytearray(mm.encode_wav(np.zeros(4, np.int64), bits=24))
    data_at = p24.index(b"data") + 4
    size = int.from_bytes(p24[data_at : data_at + 4], "little")
    p24[data_at : data_at + 4] = (size - 1).to_bytes(4, "little")
    with pytest.raises(ValueError, match="multiple of 3"):
        mm.decode_audio(bytes(p24[:-1]))


def test_aiff_bit_depths_roundtrip():
    s8 = np.array([-128, -1, 0, 1, 127], dtype=np.int64)
    dec = mm.decode_audio(mm.encode_aiff(s8, bits=8))
    assert dec["format"] == "aiff" and dec["bits"] == 8
    assert (dec["samples"] == s8).all()  # AIFF 8-bit is SIGNED
    s24 = np.array([-(2**23), -65536, 0, 513, 2**23 - 1], dtype=np.int64)
    dec = mm.decode_audio(mm.encode_aiff(s24, bits=24))
    assert dec["bits"] == 24 and (dec["samples"] == s24).all()
    with pytest.raises(ValueError, match="bits=12"):
        mm.encode_aiff(s8, bits=12)


def test_aifc_roundtrips_and_gaps():
    s = np.array([-32768, -3, 0, 7, 32767], dtype=np.int64)
    for comp in (b"sowt", b"NONE"):
        dec = mm.decode_audio(mm.encode_aifc(s, 44100, compression=comp))
        assert dec["format"] == "aifc"
        assert dec["sample_rate"] == 44100
        assert dec["bits"] == 16
        assert (dec["samples"] == s).all()
    f = np.array([-1.0, 0.5, 0.0, 0.25], dtype=np.float32)
    dec = mm.decode_audio(mm.encode_aifc(f, compression=b"fl32"))
    assert dec["bits"] == 32 and dec["samples"].dtype == np.float32
    assert np.array_equal(dec["samples"], f)
    # AIFC is routed as audio by the shared sniffer
    assert mm.is_audio_payload(mm.encode_aifc(s))
    # compressed types stay the named register-a-codec boundary
    payload = bytearray(mm.encode_aifc(s))
    comp_at = payload.index(b"COMM") + 8 + 18
    payload[comp_at : comp_at + 4] = b"ima4"
    with pytest.raises(NotImplementedError, match="NONE/sowt/fl32"):
        mm.decode_audio(bytes(payload))
    with pytest.raises(ValueError, match="encode_aifc"):
        mm.encode_aifc(s, compression=b"alac")
    # an AIFC COMM without the compression field is malformed
    aiff16 = bytearray(mm.encode_aiff(s))
    aiff16[8:12] = b"AIFC"
    with pytest.raises(ValueError, match="compression type"):
        mm.decode_audio(bytes(aiff16))


def _g711_wav(fmt_code: int, payload_bytes: bytes) -> bytes:
    """Hand-built mono 8 kHz G.711 WAV (fmt 6 = a-law, 7 = mu-law)."""
    body = (
        struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, fmt_code, 1, 8000, 8000, 1, 8
        )
        + struct.pack("<4sI", b"data", len(payload_bytes))
        + payload_bytes
        + (b"\x00" if len(payload_bytes) & 1 else b"")
    )
    return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body


def test_g711_alaw_ulaw_decode_all_bytes():
    # independent reference: the CCITT g711.c formulas, re-derived
    # here (not imported from the module under test)
    def ulaw_ref(b):
        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 132) << ((u & 0x70) >> 4)
        return (132 - t) if (u & 0x80) else (t - 132)

    def alaw_ref(b):
        a = b ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        return t if (a & 0x80) else -t

    all_bytes = bytes(range(256))
    for fmt_code, ref in ((6, alaw_ref), (7, ulaw_ref)):
        dec = mm.decode_audio(_g711_wav(fmt_code, all_bytes))
        assert dec["format"] == "wav"
        assert dec["bits"] == 16  # decoded domain, not container width
        assert dec["sample_rate"] == 8000
        assert list(dec["samples"]) == [ref(b) for b in range(256)]
    # the canonical extremes land in the 16-bit domain
    assert int(np.abs(mm._ULAW_TABLE).max()) == 32124
    assert int(np.abs(mm._ALAW_TABLE).max()) == 32256
    # and the feature path gates them like PCM16 (no rescaling)
    dec = mm.decode_audio(_g711_wav(7, all_bytes))
    assert (mm.samples_i16_domain(dec) == dec["samples"]).all()


def test_wav_extensible_fmt_roundtrip_and_guid_gap():
    # WAVE_FORMAT_EXTENSIBLE (0xFFFE): the fmt chunk real-world
    # multichannel/24-bit WAVs ship with — the effective code lives in
    # the subformat GUID
    s = np.array([-32768, -1, 0, 1, 32767], dtype=np.int64)
    for bits in (16, 24):
        src = s if bits == 16 else s * 256
        dec = mm.decode_audio(mm.encode_wav(src, bits=bits, extensible=True))
        assert dec["bits"] == bits and (dec["samples"] == src).all()
    f = np.array([-1.0, 0.5, 0.25], dtype=np.float32)
    dec = mm.decode_audio(mm.encode_wav(f, bits=32, extensible=True))
    assert dec["samples"].dtype == np.float32
    assert np.array_equal(dec["samples"], f)
    # a non-PCM/float subformat GUID is the named plug-in boundary
    payload = bytearray(mm.encode_wav(s, extensible=True))
    guid_at = payload.index(b"fmt ") + 8 + 24
    payload[guid_at + 4] = 0xDE
    with pytest.raises(NotImplementedError, match="GUID"):
        mm.decode_audio(bytes(payload))
    # truncated extensible fmt chunk is malformed, not misparsed
    short = bytearray(mm.encode_wav(s, extensible=True))
    size_at = short.index(b"fmt ") + 4
    short[size_at : size_at + 4] = (20).to_bytes(4, "little")
    with pytest.raises(ValueError, match="extensible"):
        mm.decode_audio(bytes(short))


def test_wav_stereo_decode_and_downmix_features():
    # interleaved stereo: decode returns the interleaved stream +
    # channels=2; feature_samples downmixes to floor-mean mono frames
    left = np.array([100, -300, 500, -7], dtype=np.int64)
    right = np.array([200, -100, -500, 8], dtype=np.int64)
    inter = np.empty(8, dtype=np.int64)
    inter[0::2], inter[1::2] = left, right
    dec = mm.decode_audio(mm.encode_wav(inter, channels=2))
    assert dec["channels"] == 2
    assert (dec["samples"] == inter).all()
    mono = mm.feature_samples(dec)
    want = (left + right) // 2  # floor semantics, incl. negative sums
    assert (mono == want).all()
    assert list(want[:2]) == [150, -200]
    # mono passes through downmix untouched
    assert (mm.downmix_mono(inter, 1) == inter).all()
    # encode guard: samples must interleave evenly
    with pytest.raises(ValueError, match="interleave"):
        mm.encode_wav(np.zeros(5, np.int64), channels=2)


def test_audio_features_stereo_gates_on_frames(spark):
    import math

    left = np.array([1000, -1000] * 16, dtype=np.int64)
    right = np.array([500, -500] * 16, dtype=np.int64)
    inter = np.empty(64, dtype=np.int64)
    inter[0::2], inter[1::2] = left, right
    media = spark.createDataFrame(
        [
            (0, bytearray(mm.encode_wav(inter, channels=2))),
            (1, bytearray(mm.encode_wav((left + right) // 2))),
        ],
        "doc_id long, payload binary",
    )
    out = (
        mm.audio_features(media).toPandas().set_index("doc_id").sort_index()
    )
    # the stereo clip gates exactly like its mono downmix: n_samples
    # is FRAMES, and all three features match the mono row
    assert (out.loc[0] == out.loc[1]).all()
    assert out.loc[0]["n_samples"] == 32
    assert out.loc[0]["peak_abs"] == 750
    m = (left + right) // 2
    assert out.loc[0]["rms_milli"] == math.isqrt(
        (1_000_000 * int((m * m).sum())) // 32
    )


def test_empty_clip_zero_stats_but_no_mean(spark):
    # an empty WAV has no mean square: audio_features reports zeros,
    # media_features refuses to featurize it rather than emit NULL
    media = spark.createDataFrame(
        [(0, bytearray(mm.encode_wav(np.zeros(0, np.int16))))],
        "doc_id long, payload binary",
    )
    row = mm.audio_features(media).collect()[0]
    assert (
        row.n_samples, row.peak_abs, row.zero_crossings, row.rms_milli
    ) == (0, 0, 0, 0)
    with pytest.raises(Exception, match="decoded to no samples"):
        mm.media_features(media).collect()


def test_audio_features_container_invariant(spark):
    # the SAME waveform shipped at five sample formats must gate
    # identically: features are computed in the 16-bit domain
    rng = np.random.RandomState(3)
    s16 = rng.randint(-32768, 32768, 64).astype(np.int64)
    payloads = {
        0: mm.encode_wav(s16),
        1: mm.encode_wav(s16 >> 8, bits=8),
        2: mm.encode_wav(s16.astype(np.int64) << 8, bits=24),
        3: mm.encode_wav(s16 / 32767.0, bits=32),
        4: mm.encode_aifc(s16, compression=b"sowt"),
        5: mm.encode_aiff(s16 >> 8, bits=8),
    }
    media = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "doc_id long, payload binary",
    )
    out = (
        mm.audio_features(media)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(out) == 6
    base = out.loc[0]
    # exact-equal formats: 24-bit <<8 and sowt carry s16 verbatim
    for k in (2, 4):
        assert (out.loc[k] == base).all(), k
    # 8-bit variants lose the low byte identically in WAV and AIFF
    assert (out.loc[1] == out.loc[5]).all()
    assert abs(int(out.loc[1]["peak_abs"]) - int(base["peak_abs"])) < 256
    # float roundtrips within 1 LSB of the 16-bit original
    assert abs(int(out.loc[3]["peak_abs"]) - int(base["peak_abs"])) <= 1
    assert abs(int(out.loc[3]["rms_milli"]) - int(base["rms_milli"])) <= 1000


def test_png_roundtrip_all_filters():
    # h=7 cycles the scanline filter through 0..4 (and wraps): every
    # unfilter path (None/Sub/Up/Average/Paeth) is exercised, through
    # a real DEFLATE stream and real chunk CRCs
    w, h = 6, 7
    rng = np.arange(w * h, dtype=np.int64).reshape(h, w)
    px = ((rng * 37 + 11) % 256).astype(np.uint8)
    payload = mm.encode_png(w, h, px)
    dec = mm.decode_image(payload)
    assert dec["format"] == "png"
    assert (dec["width"], dec["height"]) == (w, h)
    assert dec["bit_depth"] == 8 and dec["color_type"] == 0
    assert (dec["pixels"] == px).all()


def _palette_png(w, h, bit_depth, pal, idx, plte=True):
    import zlib as _z

    stride = -(-w * bit_depth // 8)
    raw = bytearray()
    for y in range(h):
        raw.append(0)  # filter None
        row = bytearray(stride)
        for x in range(w):
            if bit_depth == 8:
                row[x] = idx[y][x]
            else:
                per = 8 // bit_depth
                row[x // per] |= idx[y][x] << (
                    8 - bit_depth * (x % per + 1)
                )
        raw += row
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, 3, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + mm._png_chunk(b"IHDR", ihdr)
    if plte:
        out += mm._png_chunk(
            b"PLTE", b"".join(bytes(c) for c in pal)
        )
    out += mm._png_chunk(b"IDAT", _z.compress(bytes(raw)))
    return out + mm._png_chunk(b"IEND", b"")


@pytest.mark.parametrize("bit_depth", [1, 2, 4, 8])
def test_png_palette_decode(bit_depth):
    rng = np.random.RandomState(bit_depth)
    n_colors = min(1 << bit_depth, 9)
    pal = [tuple(int(v) for v in rng.randint(0, 256, 3))
           for _ in range(n_colors)]
    w, h = 11, 5  # odd width exercises the sub-byte padding tail
    idx = rng.randint(0, n_colors, (h, w)).tolist()
    dec = mm.decode_image(_palette_png(w, h, bit_depth, pal, idx))
    assert dec["color_type"] == 3 and dec["bit_depth"] == bit_depth
    want = np.array(pal, np.uint8)[np.array(idx)]
    assert dec["pixels"].shape == (h, w, 3)
    assert np.array_equal(dec["pixels"], want), bit_depth


def test_png_palette_errors():
    pal = [(1, 2, 3)]
    idx = [[0, 0]]
    with pytest.raises(ValueError, match="PLTE"):
        mm.decode_image(_palette_png(2, 1, 8, pal, idx, plte=False))
    # index points past the declared palette
    with pytest.raises(ValueError, match="palette index"):
        mm.decode_image(_palette_png(2, 1, 8, pal, [[0, 1]]))


def test_png_invalid_depth_matrix_named():
    # 16-bit DECODES as of r12 (see test_png_interlace_16bit); an
    # IHDR claiming 16-bit over 8-bit data is now a loud SIZE error,
    # and a spec-invalid depth/type combination stays named
    payload = bytearray(mm.encode_png(2, 2, np.zeros((2, 2), np.uint8)))
    payload[24] = 16  # claim 16-bit depth over 8-bit data
    with pytest.raises(ValueError, match="IDAT size"):
        mm.decode_image(bytes(payload))
    payload[24] = 4
    payload[25] = 2  # 4-bit RGB: not a PNG-valid combination
    with pytest.raises(NotImplementedError, match="matrix"):
        mm.decode_image(bytes(payload))


def test_png_header_parse():
    ihdr_body = struct.pack(">IIBBBBB", 640, 480, 8, 6, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr_body
        + b"\x00\x00\x00\x00"  # (fake) CRC — header parse doesn't verify
    )
    dec = mm.decode_image(payload)
    assert dec["format"] == "png"
    assert (dec["width"], dec["height"]) == (640, 480)
    assert dec["bit_depth"] == 8 and dec["color_type"] == 6
    assert dec["pixels"] is None


def test_unknown_formats_raise():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\xff\xd8\xff\xe0JFIF....")  # JPEG magic
    # FLAC became an in-repo builtin in r9, so the unknown-audio
    # exemplar is now MIDI; fLaC must not raise "unknown" when the
    # builtin is registered, so drop any leaked registration first
    mm.AUDIO_CODECS.pop(b"fLaC", None)
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"MThd" + b"\x00" * 32)
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"fLaC" + b"\x00" * 32)


def test_media_features_decodes_real_bytes(spark):
    # End-to-end through Spark: synth real files, decode them back, and
    # check a BMP (id%4==0), a PNG (id%4==2), and a WAV (odd) doc
    # against hand math.
    docs = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    out = mm.media_features(mm.synth_media(docs)).toPandas()
    out = out.set_index("doc_id").sort_index()
    assert len(out) == 10

    row = out.loc[4]  # BMP: w=4+4%5=8, h=3+4%4=3
    w, h = 8, 3
    s = sum((4 + x + y) % 256 for x in range(w) for y in range(h))
    assert row["kind"] == "bmp"
    assert (row["width"], row["height"]) == (w, h)
    assert row["feat_milli"] == (1000 * 3 * s) // (3 * w * h)

    row = out.loc[2]  # PNG: w=4+2%5=6, h=3+2%4=5 (filters 0..4)
    w, h = 6, 5
    s = sum((2 + x + y) % 256 for x in range(w) for y in range(h))
    assert row["kind"] == "png"
    assert (row["width"], row["height"]) == (w, h)
    assert row["feat_milli"] == (1000 * s) // (w * h)

    row = out.loc[7]  # WAV: n=64+7%64=71
    n = 71
    sq = sum(((7 * 31 + i * 17) % 2048 - 1024) ** 2 for i in range(n))
    assert row["kind"] == "wav"
    assert row["n_samples"] == n
    assert row["feat_milli"] == (1000 * sq) // n
    assert row["byte_len"] == 44 + 2 * n


def test_resize_nearest_index_math():
    # 4x6 -> 2x3: output (y, x) = source ((y*4)//2, (x*6)//3)
    src = np.arange(24, dtype=np.int64).reshape(4, 6)
    out = mm.resize_nearest(src, out_w=3, out_h=2)
    want = np.array([[src[0, 0], src[0, 2], src[0, 4]],
                     [src[2, 0], src[2, 2], src[2, 4]]])
    assert (out == want).all()
    # upscale repeats neighbors; channel axis rides along
    src3 = np.stack([src, src + 1, src + 2], axis=-1)
    up = mm.resize_nearest(src3, out_w=12, out_h=4)
    assert up.shape == (4, 12, 3)
    assert (up[:, ::2][:, :6] == src3).all()


def test_resize_features_decode_resize_chain(spark):
    # Decode -> nearest resize -> feature through Spark, against hand
    # math replicating the closed-form index mapping for BMP and PNG.
    docs = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    out = (
        mm.resize_features(mm.synth_media(docs), out_w=4, out_h=4)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(out) == 5  # images only; WAVs skipped
    assert set(out["kind"]) == {"bmp", "png"}

    def hand(doc_id):
        w, h = 4 + doc_id % 5, 3 + doc_id % 4
        total = 0
        for y in range(4):
            for x in range(4):
                sy, sx = (y * h) // 4, (x * w) // 4
                total += (doc_id + sx + sy) % 256
        return (1000 * total * (3 if doc_id % 4 == 0 else 1)) // (
            16 * (3 if doc_id % 4 == 0 else 1)
        )

    for doc_id in (0, 2, 4, 6, 8):
        row = out.loc[doc_id]
        assert row["kind"] == ("bmp" if doc_id % 4 == 0 else "png")
        assert row["resized_feat_milli"] == hand(doc_id), doc_id


def test_png_roundtrip_property():
    """Property-based PNG codec roundtrip: random grid sizes and pixel
    contents must survive encode → decode bit-exactly. Catches filter/
    stride/edge bugs (1-pixel rows/cols, all-zero and near-256 values)
    that the fixed-size tests can't."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=24),
        h=st.integers(min_value=1, max_value=24),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def roundtrip(w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w), dtype=np.int64).astype(
            np.uint8
        )
        dec = mm.decode_image(mm.encode_png(w, h, px))
        assert dec["format"] == "png"
        assert (dec["width"], dec["height"]) == (w, h)
        assert (dec["pixels"] == px).all()

    roundtrip()


def test_wav_roundtrip_property():
    """Property-based WAV roundtrip: random sample counts and values
    (full int16 range, odd/even lengths) survive encode -> decode."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=200),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    def roundtrip(n, seed, rate):
        rng = np.random.default_rng(seed)
        s = rng.integers(-32768, 32768, size=n, dtype=np.int64)
        dec = mm.decode_audio(mm.encode_wav(s, sample_rate=rate))
        assert dec["sample_rate"] == rate
        assert (dec["samples"] == s).all()

    roundtrip()


def test_audio_features_hand_checked(spark):
    import math

    docs = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    out = (
        mm.audio_features(mm.synth_media(docs))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(out) == 5  # odd doc_ids only (WAVs)

    doc_id = 7
    n = 64 + doc_id % 64
    s = [(doc_id * 31 + i * 17) % 2048 - 1024 for i in range(n)]
    sgn = [x for x in (np.sign(s)) if x != 0]
    zc = sum(1 for a, b in zip(sgn, sgn[1:]) if a != b)
    row = out.loc[doc_id]
    assert row["sample_rate"] == 8000
    assert row["n_samples"] == n
    assert row["peak_abs"] == max(abs(x) for x in s)
    assert row["zero_crossings"] == zc
    assert row["rms_milli"] == math.isqrt(
        (1_000_000 * sum(x * x for x in s)) // n
    )


# --- codec plug-in contract (VERDICT r4 #7) --------------------------------

JPEG_MAGIC = b"\xff\xd8\xff"
FLAC_MAGIC = b"fLaC"


def _stub_jpeg_decode(payload: bytes) -> dict:
    """Deterministic fake 'JPEG' codec: 2x3 grid from the payload tail
    bytes — stands in for PIL/libjpeg with a verifiable output."""
    body = payload[len(JPEG_MAGIC):]
    px = np.frombuffer(body[:6], np.uint8).astype(np.int64).reshape(2, 3)
    return {"format": "jpeg", "width": 3, "height": 2, "pixels": px}


def _stub_flac_decode(payload: bytes) -> dict:
    body = payload[len(FLAC_MAGIC):]
    return {
        "format": "flac",
        "sample_rate": 8000,
        "channels": 1,
        "samples": np.frombuffer(body, np.int8).astype(np.int16),
    }


def _register_stub_codecs() -> None:
    """Worker-side setup hook (picklable module-level function)."""
    mm.register_image_codec(JPEG_MAGIC, _stub_jpeg_decode)
    mm.register_audio_codec(FLAC_MAGIC, _stub_flac_decode)


def _unregister_stub_codecs() -> None:
    mm.IMAGE_CODECS.pop(JPEG_MAGIC, None)
    mm.AUDIO_CODECS.pop(FLAC_MAGIC, None)


def test_codec_registry_dispatch_and_validation():
    payload = JPEG_MAGIC + bytes([10, 20, 30, 40, 50, 60])
    try:
        _register_stub_codecs()
        img = mm.decode_image(payload)
        assert img["format"] == "jpeg"
        assert img["pixels"].sum() == 210

        au = mm.decode_audio(FLAC_MAGIC + bytes([1, 2, 3]))
        assert au["format"] == "flac" and au["samples"].tolist() == [1, 2, 3]
        assert mm.is_audio_payload(FLAC_MAGIC + b"x")

        # contract violations fail loudly, naming the missing key
        mm.register_image_codec(b"\x01BAD", lambda p: {"format": "bad"})
        with pytest.raises(ValueError, match="missing keys.*height"):
            mm.decode_image(b"\x01BAD....")
        # shape mismatch is caught too
        mm.register_image_codec(
            b"\x02BAD",
            lambda p: {
                "format": "bad2",
                "width": 9,
                "height": 9,
                "pixels": np.zeros((2, 3), np.uint8),
            },
        )
        with pytest.raises(ValueError, match="shape"):
            mm.decode_image(b"\x02BAD....")
        with pytest.raises(ValueError, match="non-empty bytes"):
            mm.register_image_codec("jpeg", _stub_jpeg_decode)
    finally:
        _unregister_stub_codecs()
        mm.IMAGE_CODECS.pop(b"\x01BAD", None)
        mm.IMAGE_CODECS.pop(b"\x02BAD", None)
    # after unregistration the plug-in point raises again
    with pytest.raises(NotImplementedError, match="register_image_codec"):
        mm.decode_image(payload)


def test_codec_plugin_through_spark_workers(spark):
    """The real distribution test: decode happens in mapInPandas Python
    workers, where a driver-side registration is invisible — the
    codec_setup hook must install the codecs in the worker process."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    rows = [
        (1, JPEG_MAGIC + bytes([10, 20, 30, 40, 50, 61])),
        (2, FLAC_MAGIC + bytes([3, 4, 5])),
    ]
    df = spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        ),
    )
    # without the setup hook the worker has no codec -> job fails.
    # Spark REUSES Python workers across jobs, so a codec an earlier
    # test registered worker-side (e.g. test_jpeg's real decoder)
    # may still be installed — wipe it through the same hook
    # mechanism so this branch is deterministic in any test order.
    def wipe() -> None:
        mm.IMAGE_CODECS.pop(b"\xff\xd8\xff", None)
        mm.AUDIO_CODECS.pop(b"fLaC", None)

    with pytest.raises(Exception, match="register_image_codec|NotImplemented"):
        mm.media_features(df, codec_setup=wipe).collect()

    # nested defs: cloudpickle ships them BY VALUE with the closure —
    # a module-level function of this test file pickles by reference
    # and the worker cannot import it (that's the failure mode the
    # codec_setup contract exists to solve)
    def stub_jpeg(payload: bytes) -> dict:
        body = payload[3:]
        px = (
            np.frombuffer(body[:6], np.uint8).astype(np.int64).reshape(2, 3)
        )
        return {"format": "jpeg", "width": 3, "height": 2, "pixels": px}

    def stub_flac(payload: bytes) -> dict:
        return {
            "format": "flac",
            "sample_rate": 8000,
            "channels": 1,
            "samples": np.frombuffer(payload[4:], np.int8).astype(np.int16),
        }

    def setup() -> None:
        mm.register_image_codec(b"\xff\xd8\xff", stub_jpeg)
        mm.register_audio_codec(b"fLaC", stub_flac)

    out = (
        mm.media_features(df, codec_setup=setup)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    jpeg = out.loc[1]
    assert jpeg["kind"] == "jpeg"
    assert (jpeg["width"], jpeg["height"]) == (3, 2)
    assert jpeg["feat_milli"] == (1000 * (10 + 20 + 30 + 40 + 50 + 61)) // 6
    flac = out.loc[2]
    assert flac["kind"] == "flac"
    assert flac["n_samples"] == 3
    assert flac["feat_milli"] == (1000 * (9 + 16 + 25)) // 3


def test_registered_audio_codec_flows_through_feature_ops(spark):
    """A payload of a REGISTERED audio codec must be routed like WAV by
    every feature operator: audio_features decodes it, resize_features
    skips it (review finding: bare RIFF sniffs crashed/skipped
    registered-codec audio)."""
    import numpy as np

    from timeseries_data_provider_spark.operators import multimodal as mm

    magic = b"tstA"

    def fake_codec(payload: bytes) -> dict:
        return {
            "format": "tsta",
            "sample_rate": 8000,
            "channels": 1,
            "samples": np.array([100, -100, 50], dtype=np.int16),
        }

    def setup():
        # runs INSIDE each worker: registrations live in the worker's
        # module instance, not the driver's
        from timeseries_data_provider_spark.operators import (
            multimodal as wmm,
        )

        wmm.register_audio_codec(magic, fake_codec)

    mm.register_audio_codec(magic, fake_codec)  # driver-side sniffing
    try:
        media = spark.createDataFrame(
            [(1, bytearray(magic + b"xyz"))], ["doc_id", "payload"]
        )
        af = mm.audio_features(media, codec_setup=setup).collect()
        assert len(af) == 1 and af[0]["n_samples"] == 3
        assert af[0]["zero_crossings"] == 2
        rf = mm.resize_features(media, codec_setup=setup).collect()
        assert rf == []  # audio skipped, not crashed
    finally:
        mm.AUDIO_CODECS.pop(magic, None)


def test_webp_header_metadata_decode():
    """WebP container metadata (r6): dims from VP8/VP8L/VP8X chunks,
    header-only contract (pixels None) like truncated-PNG decode."""
    import struct as _struct

    def riff(chunks: bytes) -> bytes:
        return (
            b"RIFF" + _struct.pack("<I", 4 + len(chunks)) + b"WEBP"
            + chunks
        )

    # lossy VP8 keyframe: 3-byte frame tag, sync 9D 01 2A, w/h u16le
    vp8 = b"VP8 " + _struct.pack("<I", 10) + (
        b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + _struct.pack("<HH", 320, 240)
    )
    d = mm.decode_image(riff(vp8))
    assert (d["format"], d["variant"]) == ("webp", "vp8")
    assert (d["width"], d["height"]) == (320, 240)
    assert d["pixels"] is None

    # lossless VP8L: signature 0x2F, then 14-bit (w-1), 14-bit (h-1)
    bits = (99 - 1) | ((77 - 1) << 14)
    vp8l = b"VP8L" + _struct.pack("<I", 5) + bytes([0x2F]) + _struct.pack(
        "<I", bits
    )
    d = mm.decode_image(riff(vp8l))
    assert (d["width"], d["height"], d["variant"]) == (99, 77, "vp8l")

    # extended VP8X: 24-bit (w-1)/(h-1) canvas
    vp8x = b"VP8X" + _struct.pack("<I", 10) + (
        b"\x00" * 4
        + (512 - 1).to_bytes(3, "little")
        + (384 - 1).to_bytes(3, "little")
    )
    d = mm.decode_image(riff(vp8x))
    assert (d["width"], d["height"], d["variant"]) == (512, 384, "vp8x")

    # malformed: named errors
    badsync = b"VP8 " + _struct.pack("<I", 10) + b"\x00" * 10
    with pytest.raises(ValueError, match="sync"):
        mm.decode_image(riff(badsync))
    with pytest.raises(ValueError, match="no VP8"):
        mm.decode_image(riff(b""))
    # WebP is NOT routed to the audio path despite the RIFF magic
    assert not mm.is_audio_payload(riff(vp8))

    # ADVICE r6: a registered full-decode WebP plug-in keyed on the
    # RIFF magic WINS over the built-in header-only decode — the old
    # order silently shadowed registrants and media_features raised
    # ValueError ('decoded to metadata only') on their payloads.
    def full_webp(payload: bytes) -> dict:
        return {
            "format": "webp",
            "width": 2,
            "height": 1,
            "pixels": np.array([[[1, 2, 3], [4, 5, 6]]], np.uint8),
        }

    try:
        mm.register_image_codec(b"RIFF", full_webp)
        d = mm.decode_image(riff(vp8))
        assert d["pixels"] is not None and d["pixels"].shape == (1, 2, 3)
    finally:
        mm.IMAGE_CODECS.pop(b"RIFF", None)
    # with no registrant the built-in header decode still answers
    assert mm.decode_image(riff(vp8))["pixels"] is None


# ---------------------------------------------------------------------------
# PNG Adam7 interlace + 16-bit depth (r12 late) — fixtures below were
# written by the JDK's INDEPENDENT javax.imageio PNG encoder at build
# time (progressive mode = Adam7; TYPE_USHORT_GRAY = 16-bit), so the
# pass geometry and depth handling are cross-validated, not
# self-round-tripped.

_JDK_PNG = {
    "adam7_gray": (
    "iVBORw0KGgoAAAANSUhEUgAAACAAAAAYCAAAAAHJP5B+AAADNklEQVR4XmNg0AioYJDw"
    "rFrNYJC15B6DiE1KD4NB4qQjDL7tB/8w8ChZ+KVWT1zBoGIXWdK/6ugDBpvoqlk7b/6Q"
    "YOCSM3KLymuaxiCu6xxV0DZnM4OKTWhe2/ztFxgMfdKb5my/9JbBLrpi2uYLb7kYvLO7"
    "Vp18waHOwCYgrWpg5RoQlZpf1dI/awmDkKymqYNPREp+dfukeau2HWSQ0zJ3CYzLrmiZ"
    "OG/1jqOX7jFoWbiFJBXU9cxase3IpQfv/jCYuYYkFzVOWLB+39k7r39xSTI4BSUVNU9e"
    "vOXIlSdfWUXVzBhY+SWVdc0dvUPjM4tr2yfOZuAWVdA2dfAKjc8qre+aMn8lg6CMurGd"
    "ZwiQ39gzfdHaHQziyvrWbkFxmaWNvTOWbNh9HOgOM2f/6PSShp6ZSzfuPXWNQcXQzjs8"
    "pbCue8bSjftO33gKdJhrcEJudce0xUD+zWdfGAztfaMzy1snL1y/9/TN51+ZGcyBLi1s"
    "6Ju7etfJ68++MAsy2PpEZ1d1zli+7ejVJ5+ZBBUYnIOTi5smLdp48OLDDwwC8voMXlFZ"
    "1d2zV+85c+ftX15ZPTsGZg5eIXEZRXUdQzNrB1fvgNCo+JTM/JLKuuaO3skz5i5i4OQT"
    "lpRT0dQ3sbR38fIHSqdmFZRWN7R2T5g2e+Gy1RsZ+EWkFFS1Dc1tnDx8gyPjU0DSje09"
    "k2bMXbxy/ZZdBxhEpRXVdY0t7V29A8NjkzPzQdK9k2fOX7p64/a9h0+eZwDJm1g5uAO1"
    "J6TlFFfWtwJ1g6R37Dty+uL1uwyK6nom1o4e/qExSZn5ZbXNXROmz10Ckj56+tLN+8/e"
    "MAD1Wzt5BoTHpmQXVTa0906ZvWjlhu17jwClHzx/++U3A1Q+Pi23pLqpc+KM+cvWbtl9"
    "+NTFG/efvf36h5mLwdjK0TMgIj49r7S2pWcyUPvGHQeOn7929+mbL7+ZuQQlGSwdPID6"
    "0/PL6tp6p85dumbLnsOnL99+9OrTT0ZOQQkFDQZ7d3+QfHl9e//0+cvXb99//Pz1+8/f"
    "f//Pzi8ur65vzuDqGxqbllcGkl+wYsPOgycv3nr06vNvZm4RGRVdU1tXAHnLZ2ePtQUc"
    "AAAAAElFTkSuQmCC"
    ),
    "adam7_rgb": (
    "iVBORw0KGgoAAAANSUhEUgAAACAAAAAYCAIAAAFjNlj1AAAGOElEQVR4Xm2We1iPZxzG"
    "n4VYQhISkiQJaUlraUmS0NISEpKQU5IkCYmRhJC0hCRJyym0JEnIKTknSRJLukJacmrY"
    "Pr/rcf2u/tifvT193/v53Pf9fRNC/Gvk8sAl8Vhw3XqhbfpiVHRmSMO6QxPchKnXrXlF"
    "O5IdJ5fn9BRaRi+tgy/OvLprk/ZixW+mX0iINliQHzFE/BJ/Yn3b4PNrbD5/bCbUtd/q"
    "2z+29L/ivPv4rIL45e/XbtP3S3WZKAwcH9msOD/pREpg9cYtuv5pbuMvRVpV5PUQTJ2c"
    "mcwr481nnQ5weHjC8GNdS3QINa13utZPzWbecNh02iPjgF/ZtjXNV8b2nys6m1QP8Lg7"
    "PDyHp/4VW8LVl+22nHHSx0nxDqaNT0vjLE/32nid8nO8nThQ/OB90ynu5OybcUzgLE/v"
    "Jg94XaopkMTLuTlzmcBZnvJiMSY2Y35xTKTWEoRei7aovt25lcaHPs4lQlX9k4bem64W"
    "lb1Hl4LBKvDSiMhs6KGF+y4s38pN1rZazhW5D+yEpsHr7lbP+roWD55XYBt2Dh3u6Qfh"
    "yFHoQA6MCdbTeU+m7ygoCi5t7Hb/R7+r9hFnfk066pmzDyVIZCosOYo3Wf4jwcclFNZw"
    "GuBQcks95J2/ByShn1djEwIgz1Rc4iiwa8vaK0yy8L2GaE7PuLw7oHLzapXQrXoLE22n"
    "HfN0yV0x7Ea8WVlWr5fFWo0NLUDRxaxK2K0965p8hNmc/k11xXZD3/0OUzLmjGFwUWq/"
    "yqtd39WotVBr7GhcY+j0kOmCH9rp1vGnvRzK8IrLDFuTC1O8mZabOPdu7OKqTSsb13B7"
    "rrTLYqZo3amBv9azfdJvQpEENTrmT3maDC6piVz1NQw3Yozm4+ofrhNEe/3abpZ/4cgg"
    "n0JcJLXcR3maKwHgd5M5SfZTj3i4gkuRGsQM9Lw9JCgfVtwHsiiRpzfrBMSZzsavdK+x"
    "Z4Lsr0RZfvOB25C0sQnp5IQAkd4wsYrZO818Doz2OO7tfDbEriBmcPHhvor4ETTEcNGJ"
    "R1PxeNGzKKzY2CmQ2fI0fK/Hmpek93leoPPNOKwYl3LYK2/vgtJoEhGhsZQwwld5mkpU"
    "FXZpqG6tyPHQ0DwKhxikL62NWKcWghv77DzxDiXy9Iub2hjSTPWzALzSacQgParboj1W"
    "3kQoO3AEwX5w1EjO5jRIxc8hF0go48kcSd6gGYT0g87upIjA3U8zxuy3Veoqzb9wGrsE"
    "cFDPeBylXYQZ5EgnyXeSTJ5e0K2raMeKoTM9bCqgL/CVrmATd4UM5iMmJ3h4YdwgYkf9"
    "vjSqtNGppzMmU+4AU6CM7vGIJmEirve0K8f4/u734IE/GEpeuCfcaSKp4QVEAQOARM8w"
    "bVl9OE6QXfDiNcy4FyAQK77XfN+2298dDF+RV0zHRtqKVPM5138KuAxwiohqMqAcTdW5"
    "AU0jPdwDrhjBbegR5nEnHElxmsTNQCGoAutTx/w5wFgbRBzhWMOyolmOW0/hKBBZjlJ1"
    "09Fkk5YQOMhKyUSDAuA3BcTEvLChguqwkSQW6kYlpHDJhCVCHKdmJ+GSBNJ0tKRBnCkW"
    "GZWS2ZCk6WK4NRG5lWAqmk4HC1sP4iOjspTCia9P4U7fku3EANa0FSBK1U1H00VizeYg"
    "qySEAD7O1hdyOo4zHT/ZFmCRxKdk7WfzSOFBrzawNrCRXQBrCg4QWtt0NDllNAuPJjzJ"
    "1SPer0o6CKV2pgOdfUFUJBaIk3ZWG8JxUjJh02Aj8YA1O0ECkarlaNYpPSOvlOef983F"
    "/07HT7BQbCIIcQpCo1h5kgkJYTlhIxsH1qwRgLAbpGpG02L2NQVQfJJwFe6QkdP5ijCd"
    "lcTHDj/BwgcC4pipFC6ZkBD2GTaypGDN5gGIVC1HU2XFliczuAp3pXamS+h0hw8qWHYY"
    "z4M4Zh52H4dweotwmNxL6f8o0+BZfveaoo71lW0+1at+p/KVYjGabzm5538MQSLJDK42"
    "nc4SIy1A55OJn2Bh3ZBuiJ8LtZXCCQlMwP2mXONDbat/v4qWbT/SKtYBWwVraSt9EuSd"
    "RJIZXIU7ZNDedDofOT6J+Ml/Gmwo0g3x0ozeUjiLTTLha0Rh2TTsAnzlg8ReZPh/2olv"
    "65pSwG8AAAAASUVORK5CYII="
    ),
    "gray16": (
    "iVBORw0KGgoAAAANSUhEUgAAACAAAAAYEAAAAADuqHyrAAAGI0lEQVR4XgEYBuf5AAAA"
    "BQYKDA8SFBgZHh4kIyooMC02Mjw3QjxIQU5GVEtaUGBVZlpsX3JkeGl+boRziniQfZaC"
    "nIeijKiRrpa0m7oAAwMICQ0PEhUXGxwhIScnLiw0MTo2QDtGQExFUktZUF9VZVprX3Fk"
    "d2l9b4R0inmQfpaDnIiijaiTr5i1nbuiwQAGBgsMEBIVGBsfICUlKysyMDg1PjpEQEtF"
    "UUpXUF5VZFpqX3Bld2p9b4N1inqQf5aEnIqjj6mUr5q2n7ykwqnIAAkJDg8TFRkcHiIk"
    "KSkvLzY0PDlCP0lET0pWT1xVY1ppX29ldmp8cIN1iXuQgJaFnIujkKmWsJu2ob2mw6vJ"
    "sdAADAwREhcZHB8iJicsLTMzOjhAPkdDTUlUTlpUYVpoX25ldWp7cIJ1iHuPgZaGnIyj"
    "kamXsJy2or2oxK3Ks9G41wAPDxQVGhwgIyUpKzAxNzc+PERCS0hSTVhTX1lmX21kc2p6"
    "cIF1h3uOgZWHnIyikqmYsJ22o72pxK/LtNG62MDfABISFxgdHyMmKS0vNDU7O0JASEZP"
    "TFZSXVhkXmtkcml4b391hnuNgZSHm42ikqiYr562pL2qxLDLttK72MHfx+YAFRUbHCEj"
    "JyotMTM4OT8/RkVNS1RRW1diXWljcGl3b351hXuMgZOHmo2hk6iZr5+2pb2rxLHLt9K9"
    "2cPgyefP7gAYGB4fJCYqLTA0Njs8QkNKSVFPWFVfW2ZhbWd0bnx0g3qKgJGGmIyfkqaZ"
    "rp+1pbyrw7HKt9G92MTgyufQ7tb1ABsbISInKS0wNDg6P0BGR05NVVNcWWNga2ZybHlz"
    "gXmIf4+FloyekqWYrJ+0pburwrHJuNG+2MTfy+fR7tf13fwAHh4kJSosMTQ3Oz5DREpL"
    "UlFZV2BeaGRva3dxfniGfo2ElIuckaOYq56ypbqrwbHIuNC+18Xfy+bS7tj13vzmBAAh"
    "IScoLjA0Nzs/QUZITk9WVV1cZWJsaXRve3aDfYuDkoqakKGXqZ2wpLirwLHHuM++1sXe"
    "y+XS7dn13/znBO0LACQkKisxMzg7PkJFSkxSU1pZYWBpZ3FteHSAe4iCkIiXj5+Wp5yu"
    "o7aqvrHGt82+1cXdy+TS7Nn04PznA+4L9RMAJyctLjQ2Oz5CRklOUFZXXl1lZG1rdXJ9"
    "eYWAjYeVjZyUpJusorSpvLDEt8y908Tby+PS69nz4PvoA+4K9RL8GgAqKjEyODo/QkZK"
    "TVJUWltiYmppcnB6d4J+ioWSjJqTopqqobKouq/Ctsq90sTay+LS6tny4ProAu8K9hL9"
    "GgMiAC0tNDU7PUJFSU1QVVddX2Zmbm12dH57hoKOiZaRn5inn6+mt62/tMe7z8PYyuDR"
    "6Njw3/jnAO4I9hH9GQMhCikAMDA3OD5ARUhNUVRZW2FjampycXp4goCLh5OOm5aknayk"
    "tKu8s8W6zcHVyd7Q5tfu3vbm/+4H9Q/9GAMgCigRMAAzMzo7QUNJTFBUWF1fZWdubnZ1"
    "fn2HhI+MmJOgm6misam5scK4ysDTx9vP5Nbs3fTl/e0F9Q78FgMfCicRLxk4ADY2PT5F"
    "R0xPVFhbYGNpa3JyenqDgYuJlJCcmKWgrqe2r7+2x77QxdjN4dXq3PLk++wD9Az7FAId"
    "CiYRLhk3ID8AOTlAQUhKUFNXW19kZ21vdnZ+foeGkI2YlaGdqqWzrLu0xLzNw9XL3tPn"
    "2/Di+OsB8wr6EgEbCSQRLRg1ID4oRwA8PENES01TVltfY2hrcXN6eoKCi4qUkp2apqKv"
    "qrixwLnJwdLJ29Hk2e3h9uj+8Qf5EAAZCCIQKxg0HzwnRS9OAD8/R0hPUVdaX2NnbG91"
    "d35/h4eQj5mXop+rp7SvvbfGv8/H2M/h1+rf8+f88AX4DgAXByAPKRcyHzsnRC9NN1YA"
    "QkJKS1JUWl1iZmpvcnh7goOLi5STnZumo6+ruLTCvMvE1Mzd1Obc7+T47gL2C/4UBR0N"
    "JhUvHTgmQi5LNlQ+XQBFRU1OVVddYGZqbnN2fH+Gh4+PmJehoKuotLC9ucfB0MnZ0eLa"
    "7OL16v70CPwRAxoLIxQtHDYkPy1JNVI9W0Vk4vjUde6JWjQAAAAASUVORK5CYII="
    ),
    "adam7_gray16": (
    "iVBORw0KGgoAAAANSUhEUgAAACAAAAAYEAAAAAGZr0w9AAAGOElEQVR4XgEtBtL5AAAA"
    "KDBQYHiQABgYSVF6iqvDADAwanKktN72ABQYPEhkeIyoADA0YW2SpsTgAE1Rh5PB1f0Y"
    "AAwMIiY4QE5aZXV7j5GpqMQAJCQ+QllhdICPn6q+xd3g/AA8PFtfeoKaprnJ2e35EBg0"
    "AAoMHiQyPEZUWmxuhIKclrQAFxktM0NNWmhwgoacnLaz0QAkJjxCVV9ufIaYn7W30dDu"
    "ADEzTFJncYKQnK63zdLs7gsAPkBbYXiClqSzxdDm7gcKKABLTWtxipSquMnb6P4IIidF"
    "AAYGEBIbHyUrMDg6REVRUF5aamV3b4N6kIScj6matqTCABISHR8pLTU7QEhMVlhkZHJv"
    "f3uNh5uSqJ62qsS20sHfAB4eKiw3O0RKUVleaGt3eIaElJGjnrKrwbjQxd/S7t78ACoq"
    "ODpGSlRaYmpwen6KjJqaqqi6tsrE2tLq4PrvCv0aADY2RUdUWGNpcnqBi5CcoK6vv77Q"
    "zeHc8uwD+xQKJhk3AEJCUlRiZnJ4g4uTnaOvtMLE1NTm5Pj2CwUdFS8mQjZUAAUGDxIZ"
    "HiMqLTY3QkFOS1pVZl9yaX5zin2Wh6KRrpu6AAsMFRggJSsyNT5AS0pXVWRfcGp9dYp/"
    "loqjlK+fvKnIABESHB8nLDM6PkdJVFRhX25qe3WIgZaMo5ewor2tyrjXABcYIyYvNDtC"
    "Rk9SXV5raXh1hoGUjaKYr6S9sMu72MfmAB4fKi02O0NKT1hbZmd0dIOAkYyfma6lvLHK"
    "vdjK59b1ACQlMTQ+Q0tSV2Bkb3F+fo2LnJirpbqxyL7Xy+bY9eYEACorODtFSlNaYGlt"
    "eHuIiJeWp6O2sca+1cvk2fTnA/UTADEyP0JNUltiaXJ3goWSk6Khsq/CvdLL4tny6AL2"
    "EgMiADc4RUhUWWNqcXqAi46bnayrvLrNyd7X7ub/9Q8DIBEwAD0+TE9bYGtyeoOJlJil"
    "p7a2x8XY1erk+/QMAh0RLiA/AENEU1ZjaHN6gouSnaKvscDB0tHk4fbxBwAZECsfPC9O"
    "AEpLWl1qb3uCi5Sbpqu4vMvM3dzv7gL+FA0mHTguSz5dAAMDCAkNDxIVFxscISEnJy4s"
    "NDE6NkA7RkBMRVJLWVBfVWVaa19xZHdpfW+EdIp5kH6Wg5yIoo2ok6+YtZ27osEACQkO"
    "DxMVGRweIiQpKS8vNjQ8OUI/SURPSlZPXFVjWmlfb2V2anxwg3WJe5CAloWci6OQqZaw"
    "m7ahvabDq8mx0AAPDxQVGhwgIyUpKzAxNzc+PERCS0hSTVhTX1lmX21kc2p6cIF1h3uO"
    "gZWHnIyikqmYsJ22o72pxK/LtNG62MDfABUVGxwhIycqLTEzODk/P0ZFTUtUUVtXYl1p"
    "Y3Bpd29+dYV7jIGTh5qNoZOoma+ftqW9q8Sxy7fSvdnD4Mnnz+4AGxshIicpLTA0ODo/"
    "QEZHTk1VU1xZY2BrZnJseXOBeYh/j4WWjJ6SpZisn7Slu6vCscm40b7YxN/L59Hu1/Xd"
    "/AAhIScoLjA0Nzs/QUZITk9WVV1cZWJsaXRve3aDfYuDkoqakKGXqZ2wpLirwLHHuM++"
    "1sXey+XS7dn13/znBO0LACcnLS40Njs+QkZJTlBWV15dZWRta3VyfXmFgI2HlY2clKSb"
    "rKK0qbywxLfMvdPE28vj0uvZ8+D76APuCvUS/BoALS00NTs9QkVJTVBVV11fZmZubXZ0"
    "fnuGgo6JlpGfmKefr6a3rb+0x7vPw9jK4NHo2PDf+OcA7gj2Ef0ZAyEKKQAzMzo7QUNJ"
    "TFBUWF1fZWdubnZ1fn2HhI+MmJOgm6misam5scK4ysDTx9vP5Nbs3fTl/e0F9Q78FgMf"
    "CicRLxk4ADk5QEFISlBTV1tfZGdtb3Z2fn6HhpCNmJWhnaqls6y7tMS8zcPVy97T59vw"
    "4vjrAfMK+hIBGwkkES0YNSA+KEcAPz9HSE9RV1pfY2dsb3V3fn+Hh5CPmZein6untK+9"
    "t8a/z8fYz+HX6t/z5/zwBfgOABcHIA8pFzIfOydEL003VgBFRU1OVVddYGZqbnN2fH+G"
    "h4+PmJehoKuotLC9ucfB0MnZ0eLa7OL16v70CPwRAxoLIxQtHDYkPy1JNVI9W0Vkf8fU"
    "dVKew0MAAAAASUVORK5CYII="
    ),
}


def _png_pattern():
    ys, xs = np.mgrid[0:24, 0:32]
    return (xs * 5 + ys * 3 + (xs * ys) // 7) % 256


def test_png_interlace_16bit_jdk_goldens():
    import base64 as _b64

    v = _png_pattern()
    g16 = (((v * 257 + np.mgrid[0:24, 0:32][1]) % 65536) >> 8).astype(
        np.uint8
    )
    want = {
        "adam7_gray": v.astype(np.uint8),
        "adam7_rgb": np.dstack(
            [v, (v * 2) % 256, 255 - v]
        ).astype(np.uint8),
        "gray16": g16,
        "adam7_gray16": g16,
    }
    for name, blob64 in _JDK_PNG.items():
        d = mm._decode_png(_b64.b64decode(blob64))
        assert (d["pixels"] == want[name]).all(), name
    # interlace flag visible in metadata-only parses too
    assert mm._decode_png(_b64.b64decode(_JDK_PNG["adam7_gray"]))[
        "bit_depth"
    ] == 8


def test_png_interlace_16bit_roundtrip_matrix():
    rng = np.random.default_rng(8)
    for shape in ((24, 32), (24, 32, 3)):
        px = rng.integers(0, 256, shape).astype(np.uint8)
        for interlace in (False, True):
            for bits in (8, 16):
                d = mm._decode_png(
                    mm.encode_png(32, 24, px, interlace, bits)
                )
                assert (d["pixels"] == px).all(), (
                    shape, interlace, bits,
                )
    # odd geometries hit every empty/partial Adam7 pass shape
    for w, h in ((1, 1), (2, 3), (7, 5), (8, 8), (9, 10), (33, 17)):
        px = rng.integers(0, 256, (h, w)).astype(np.uint8)
        d = mm._decode_png(mm.encode_png(w, h, px, True, 8))
        assert (d["pixels"] == px).all(), (w, h)
    # truncated interlaced stream is loud
    full = mm.encode_png(
        9, 10, rng.integers(0, 256, (10, 9)).astype(np.uint8), True
    )
    import struct as _s
    import zlib as _z

    # re-deflate a truncated raw stream so the zlib layer succeeds
    # and the PASS accounting is what catches it
    at = full.find(b"IDAT") - 4
    (ln,) = _s.unpack_from(">I", full, at)
    raw = _z.decompress(full[at + 8 : at + 8 + ln])
    short = _z.compress(raw[:-3])
    rebuilt = (
        full[:at]
        + _s.pack(">I", len(short))
        + b"IDAT"
        + short
        + _s.pack(">I", 0)
        + full[at + 12 + ln :]
    )
    with pytest.raises(ValueError, match="IDAT size"):
        mm._decode_png(rebuilt)


# ---------------------------------------------------------------------------
# BMP palette/RLE/32-bit matrix + the RGB-order fix (r12 late).
# Indexed/RLE8/1-bpp fixtures below were written by the JDK's
# INDEPENDENT javax.imageio BMP encoder at build time; the color one
# pins the channel-order contract (a red pixel must decode RED — the
# old decoder returned BGR, putting the same image on a DIFFERENT
# dedup key than its PNG/JPEG siblings).

_JDK_BMP = {
    "idx8": (
    "Qk3WBQAAAAAAADYEAAAoAAAAHwAAAA0AAAABAAgAAAAAAKABAAAAAAAAAAAAAAAAAAAA"
    "AQAAAP8A/wP+Af8G/QL/CfwD/wz7BP8P+gX/EvkG/xX4B/8Y9wj/G/YJ/x71Cv8h9Av/"
    "JPMM/yfyDf8q8Q7/LfAP/zDvEP8z7hH/Nu0S/znsE/886xT/P+oV/0LpFv9F6Bf/SOcY"
    "/0vmGf9O5Rr/UeQb/1TjHP9X4h3/WuEe/13gH/9g3yD/Y94h/2bdIv9p3CP/bNsk/2/a"
    "Jf9y2Sb/ddgn/3jXKP971in/ftUq/4HUK/+E0yz/h9It/4rRLv+N0C//kM8w/5POMf+W"
    "zTL/mcwz/5zLNP+fyjX/osk2/6XIN/+oxzj/q8Y5/67FOv+xxDv/tMM8/7fCPf+6wT7/"
    "vcA//8C/QP/DvkH/xr1C/8m8Q//Mu0T/z7pF/9K5Rv/VuEf/2LdI/9u2Sf/etUr/4bRL"
    "/+SzTP/nsk3/6rFO/+2wT//wr1D/865R//atUv/5rFP//KtU//+qVf8CqVb/BahX/win"
    "WP8Lpln/DqVa/xGkW/8Uo1z/F6Jd/xqhXv8doF//IJ9g/yOeYf8mnWL/KZxj/yybZP8v"
    "mmX/Mplm/zWYZ/84l2j/O5Zp/z6Vav9BlGv/RJNs/0eSbf9KkW7/TZBv/1CPcP9TjnH/"
    "Vo1y/1mMc/9ci3T/X4p1/2KJdv9liHf/aId4/2uGef9uhXr/cYR7/3SDfP93gn3/eoF+"
    "/32Af/+Af4D/g36B/4Z9gv+JfIP/jHuE/496hf+SeYb/lXiH/5h3iP+bdon/nnWK/6F0"
    "i/+kc4z/p3KN/6pxjv+tcI//sG+Q/7Nukf+2bZL/uWyT/7xrlP+/apX/wmmW/8Vol//I"
    "Z5j/y2aZ/85lmv/RZJv/1GOc/9dinf/aYZ7/3WCf/+BfoP/jXqH/5l2i/+lco//sW6T/"
    "71ql//JZpv/1WKf/+Feo//tWqf/+Var/AVSr/wRTrP8HUq3/ClGu/w1Qr/8QT7D/E06x"
    "/xZNsv8ZTLP/HEu0/x9Ktf8iSbb/JUi3/yhHuP8rRrn/LkW6/zFEu/80Q7z/N0K9/zpB"
    "vv89QL//QD/A/0M+wf9GPcL/STzD/0w7xP9POsX/UjnG/1U4x/9YN8j/WzbJ/141yv9h"
    "NMv/ZDPM/2cyzf9qMc7/bTDP/3Av0P9zLtH/di3S/3ks0/98K9T/fyrV/4Ip1v+FKNf/"
    "iCfY/4sm2f+OJdr/kSTb/5Qj3P+XIt3/miHe/50g3/+gH+D/ox7h/6Yd4v+pHOP/rBvk"
    "/68a5f+yGeb/tRjn/7gX6P+7Fun/vhXq/8EU6//EE+z/xxLt/8oR7v/NEO//0A/w/9MO"
    "8f/WDfL/2Qzz/9wL9P/fCvX/4gn2/+UI9//oB/j/6wb5/+4F+v/xBPv/9AP8//cC/f/6"
    "Af7//QD//4SLkpmgp661vMPK0djf5u30+wIJEBceJSwzOkFIT1YAeYCHjpWco6qxuL/G"
    "zdTb4unw9/4FDBMaISgvNj1ESwBudXyDipGYn6attLvCydDX3uXs8/oBCA8WHSQrMjlA"
    "AGNqcXh/ho2Um6KpsLe+xczT2uHo7/b9BAsSGSAnLjUAWF9mbXR7gomQl56lrLO6wcjP"
    "1t3k6/L5AAcOFRwjKgBNVFtiaXB3foWMk5qhqK+2vcTL0tng5+71/AMKERgfAEJJUFde"
    "ZWxzeoGIj5adpKuyucDHztXc4+rx+P8GDRQANz5FTFNaYWhvdn2Ei5KZoKeutbzDytHY"
    "3+bt9PsCCQAsMzpBSE9WXWRrcnmAh46VnKOqsbi/xs3U2+Lp8Pf+ACEoLzY9REtSWWBn"
    "bnV8g4qRmJ+mrbS7wsnQ197l7PMAFh0kKzI5QEdOVVxjanF4f4aNlJuiqbC3vsXM09rh"
    "6AALEhkgJy41PENKUVhfZm10e4KJkJeepayzusHIz9bdAAAHDhUcIyoxOD9GTVRbYmlw"
    "d36FjJOaoaivtr3Ey9IA"
    ),
    "rle8": (
    "Qk0MBgAAAAAAADYEAAAoAAAAHwAAAA0AAAABAAgAAQAAANYBAAAAAAAAAAAAAAAAAAAA"
    "AQAAAP8A/wP+Af8G/QL/CfwD/wz7BP8P+gX/EvkG/xX4B/8Y9wj/G/YJ/x71Cv8h9Av/"
    "JPMM/yfyDf8q8Q7/LfAP/zDvEP8z7hH/Nu0S/znsE/886xT/P+oV/0LpFv9F6Bf/SOcY"
    "/0vmGf9O5Rr/UeQb/1TjHP9X4h3/WuEe/13gH/9g3yD/Y94h/2bdIv9p3CP/bNsk/2/a"
    "Jf9y2Sb/ddgn/3jXKP971in/ftUq/4HUK/+E0yz/h9It/4rRLv+N0C//kM8w/5POMf+W"
    "zTL/mcwz/5zLNP+fyjX/osk2/6XIN/+oxzj/q8Y5/67FOv+xxDv/tMM8/7fCPf+6wT7/"
    "vcA//8C/QP/DvkH/xr1C/8m8Q//Mu0T/z7pF/9K5Rv/VuEf/2LdI/9u2Sf/etUr/4bRL"
    "/+SzTP/nsk3/6rFO/+2wT//wr1D/865R//atUv/5rFP//KtU//+qVf8CqVb/BahX/win"
    "WP8Lpln/DqVa/xGkW/8Uo1z/F6Jd/xqhXv8doF//IJ9g/yOeYf8mnWL/KZxj/yybZP8v"
    "mmX/Mplm/zWYZ/84l2j/O5Zp/z6Vav9BlGv/RJNs/0eSbf9KkW7/TZBv/1CPcP9TjnH/"
    "Vo1y/1mMc/9ci3T/X4p1/2KJdv9liHf/aId4/2uGef9uhXr/cYR7/3SDfP93gn3/eoF+"
    "/32Af/+Af4D/g36B/4Z9gv+JfIP/jHuE/496hf+SeYb/lXiH/5h3iP+bdon/nnWK/6F0"
    "i/+kc4z/p3KN/6pxjv+tcI//sG+Q/7Nukf+2bZL/uWyT/7xrlP+/apX/wmmW/8Vol//I"
    "Z5j/y2aZ/85lmv/RZJv/1GOc/9dinf/aYZ7/3WCf/+BfoP/jXqH/5l2i/+lco//sW6T/"
    "71ql//JZpv/1WKf/+Feo//tWqf/+Var/AVSr/wRTrP8HUq3/ClGu/w1Qr/8QT7D/E06x"
    "/xZNsv8ZTLP/HEu0/x9Ktf8iSbb/JUi3/yhHuP8rRrn/LkW6/zFEu/80Q7z/N0K9/zpB"
    "vv89QL//QD/A/0M+wf9GPcL/STzD/0w7xP9POsX/UjnG/1U4x/9YN8j/WzbJ/141yv9h"
    "NMv/ZDPM/2cyzf9qMc7/bTDP/3Av0P9zLtH/di3S/3ks0/98K9T/fyrV/4Ip1v+FKNf/"
    "iCfY/4sm2f+OJdr/kSTb/5Qj3P+XIt3/miHe/50g3/+gH+D/ox7h/6Yd4v+pHOP/rBvk"
    "/68a5f+yGeb/tRjn/7gX6P+7Fun/vhXq/8EU6//EE+z/xxLt/8oR7v/NEO//0A/w/9MO"
    "8f/WDfL/2Qzz/9wL9P/fCvX/4gn2/+UI9//oB/j/6wb5/+4F+v/xBPv/9AP8//cC/f/6"
    "Af7//QD//wAfhIuSmaCnrrW8w8rR2N/m7fT7AgkQFx4lLDM6QUhPVgAAAAAfeYCHjpWc"
    "o6qxuL/GzdTb4unw9/4FDBMaISgvNj1ESwAAAAAfbnV8g4qRmJ+mrbS7wsnQ197l7PP6"
    "AQgPFh0kKzI5QAAAAAAfY2pxeH+GjZSboqmwt77FzNPa4ejv9v0ECxIZICcuNQAAAAAf"
    "WF9mbXR7gomQl56lrLO6wcjP1t3k6/L5AAcOFRwjKgAAAAAfTVRbYmlwd36FjJOaoaiv"
    "tr3Ey9LZ4Ofu9fwDChEYHwAAAAAfQklQV15lbHN6gYiPlp2kq7K5wMfO1dzj6vH4/wYN"
    "FAAAAAAfNz5FTFNaYWhvdn2Ei5KZoKeutbzDytHY3+bt9PsCCQAAAAAfLDM6QUhPVl1k"
    "a3J5gIeOlZyjqrG4v8bN1Nvi6fD3/gAAAAAfISgvNj1ES1JZYGdudXyDipGYn6attLvC"
    "ydDX3uXs8wAAAAAfFh0kKzI5QEdOVVxjanF4f4aNlJuiqbC3vsXM09rh6AAAAAAfCxIZ"
    "ICcuNTxDSlFYX2ZtdHuCiZCXnqWss7rByM/W3QAAAAAfAAcOFRwjKjE4P0ZNVFtiaXB3"
    "foWMk5qhqK+2vcTL0gAAAAAB"
    ),
    "bin1": (
    "Qk1yAAAAAAAAAD4AAAAoAAAAHwAAAA0AAAABAAEAAAAAADQAAAAAAAAAAAAAAAAAAAAC"
    "AAAAAAAA//////+SSSSSSSSSSCSSSSSSSSSSSSSSSCSSSSSSSSSSSSSSSCSSSSSSSSSS"
    "SSSSSCSSSSSSSSSS"
    ),
    "color": (
    "Qk1OAAAAAAAAADYAAAAoAAAABAAAAAIAAAABABgAAAAAABgAAAAAAAAAAAAAAAAAAAAA"
    "AAAAAAAAAAAAAAAAAAAAAAD/AP8A/wAAAAAA"
    ),
}


# 16-bit BMPs (r13, VERDICT r12 item 7): files below were written by
# the JDK's INDEPENDENT javax.imageio BMP writer at build time from
# the same (x*7+y*11)%256 pattern as the palette goldens —
# TYPE_USHORT_555_RGB lands as bpp=16 BI_RGB (implicit X1R5G5B5,
# masks absent), TYPE_USHORT_565_RGB as BI_BITFIELDS with
# 0xF800/0x7E0/0x1F masks at offset 54. The JDK quantizes 8->n bits
# with ROUNDING (round(v*max/255)); this decoder scales back
# round(stored*255/max).
_JDK_BMP16 = {
    "b555": (
    "Qk12AwAAAAAAADYAAAAoAAAAHwAAAA0AAAABABAAAAAAAEADAAAAAAAAAAAAAAAAAAAA"
    "AAAA8UHURbZJmU2bTX5RQVUkWQZd6WDLZM5ksWiTbHZwWHQ7eB184QPDB6YLiA9rE20T"
    "UBczGxUf+CLaJr0qoCoAAA0+8EHyQdVFt0maTXxRX1UiWSVZB13qYM1kr2iSbJRsd3BZ"
    "dDx4HnzCB8QHpwuJD2wTTxcxGxQfFh/5ItsmAABJNiw6Dj7xQdNFtkm4SZtNfVFBVSNZ"
    "Bl3pYOtgzmSwaJNsdXBYdDp4PXjgA8MHpQuID2sTbRNQFzIbFR/3IgAAZTJINio6DT4P"
    "PvJB1EW3SZlNfFFfVUJVJFkHXepgzGSvaJFslGx2cFl0O3gefOEDxAenC4kPbBNOFzEb"
    "MxsAAIEuZDJmMkk2KzoOPvBB00W1SbhJm019UUBVI1kGXQhd62DNZLBokmx1cFd0WnQ9"
    "eOADwwelC4gPig9tE08XAADcJr8qgi5lMkc2KjosOg8+8UHURbZJmU18UX5RQlUkWQdd"
    "6WDMZK5osWiTbHZwWXQ7eB584QPEB6YLiQ9rEwAA+CLbJr0qgS6DLmYySDYrOg0+8EHS"
    "RdVFuEmaTX1RQFUjWSVZCF3qYM1kr2iSbHVwd3BadDx4H3zCB6ULpwsAABQf9yL5Itwm"
    "viqCLmQyRzZJNiw6Dj7xQdRFtkmZTZtNflFBVSRZBl3pYMtkzmSxaJNsdnBYdDt4HXzh"
    "A8MHAABQFzMbFR/4ItomvSqgKoMuZTJINio6DT7wQfJB1UW3SZpNfFFfVSJZJVkHXepg"
    "zWSvaJJslGx3cFl0PHgefAAAbBNPFzEbFB8WH/ki2ya+KoEuZDJGNkk2LDoOPvFB00W2"
    "SbhJm019UUFVI1kGXelg62DOZLBok2x1cFh0OngAAIgPaxNtE1AXMhsVH/ci2ibcJr8q"
    "gi5lMkg2KjoNPg8+8kHURbdJmU18UV9VQlUkWQdd6mDMZK9okWyUbHZwAADEB6cLiQ9s"
    "E04XMRszGxYf+CLbJr4qgS5kMmYySTYrOg4+8EHTRbVJuEmbTX1RQFUjWQZdCF3rYM1k"
    "sGiSbAAA4APDB6ULiA+KD20TTxcyGxQf9yLaJtwmvyqCLmUyRzYqOiw6Dz7xQdRFtkmZ"
    "TXxRflFCVSRZB13pYMxkrmgAAA=="
    ),
    "b565": (
    "Qk2CAwAAAAAAAEIAAAAoAAAAHwAAAA0AAAABABAAAwAAAEADAAAAAAAAAAAAAAAAAAAD"
    "AAAAAPgAAOAHAAAfAAAA0YO0i3aTOZv7mt6igapEsia66cGryW7JUdET2dbgmOh78D34"
    "4QejD2YXKB8LJ80mkC5TNjU++EW6TX1VQFUAAC188IPSg5WLV5Mam/yiv6piskWyB7rK"
    "wY3Jb9Ey2fTYt+CZ6FzwHvjCD4QPRxcpH+wmry5xNlQ+Fj7ZRZtNAACJbEx0Dnzxg7OL"
    "dpM4kxub3aKBqmOyJrrpwavBjslQ0RPZ1eC46HrwPfDgB6MPZRdIHwsnzSaQLnI2NT73"
    "RQAA5WSobGp0LXwPfNKDlItXkzmb/KK/qoKqRLIHusrBrMlv0THZ9NjW4JnoW/Ae+MEH"
    "hA9nFykf7CauLpE2UzYAACFdBGXGZIlsS3QufPCDs4t1k1iTG5vdoqCqY7Imuui5y8GN"
    "yVDREtn14Lfoeug98OAHow+FF0gfCh/NJq8uAACcTV9VIl3lZKdsanRMdA980YOUi3aT"
    "OZv8or6igqpEsge66cGsyW7RMdET2dbgmehb8D74wQekD2YXKR/rJgAA+EW7TX1VQV0D"
    "XcZkiGxrdC188IOyi5WLWJMam92ioKpjsiWyCLrKwY3JT9Ey2fXgt+B66FzwH/jCD4UX"
    "RxcAADQ+F0bZRZxNXlUiXeRkp2yJbEx0DnzRg7SLdpM5m/ua3qKBqkSyJrrpwavJbslR"
    "0RPZ1uCY6HvwPfjhB6MPAACQLlM2NT74RbpNfVVAVQNdxWSobGp0LXzwg9KDlYtXkxqb"
    "/KK/qmKyRbIHusrBjclv0TLZ9Ni34JnoXPAe+AAA7CavLnE2VD4WPtlFm01+VSFd5GTG"
    "bIlsTHQOfPGDs4t2kziTG5vdooGqY7ImuunBq8GOyVDRE9nV4LjoevAAAEgfCyfNJpAu"
    "cjY1PvdFuk2cTV9VAl3lZKhsanQtfA980oOUi1eTOZv8or+qgqpEsge6ysGsyW/RMdn0"
    "2NbgAACED2cXKR/sJq4ukTZTNhY+2EW7TX5VIV0EZcZkiWxLdC588IOzi3WTWJMbm92i"
    "oKpjsia66LnLwY3JUNES2QAA4AejD4UXSB8KH80mry5yNjQ+90XaTZxNX1UiXeVkp2xq"
    "dEx0D3zRg5SLdpM5m/yivqKCqkSyB7rpwazJbtEAAA=="
    ),
}


def test_bmp_16bit_555_and_565_jdk_goldens():
    import base64 as _b64

    w, h = 31, 13
    ys, xs = np.mgrid[0:h, 0:w]
    v = (xs * 7 + ys * 11) % 256
    r, g, b = v, 255 - v, (v * 3) % 256

    def q(ch, nbit):
        mx = (1 << nbit) - 1
        stored = (2 * ch.astype(np.int64) * mx + 255) // 510
        return ((stored * 255 + mx // 2) // mx).astype(np.uint8)

    for name, bits in (("b555", (5, 5, 5)), ("b565", (5, 6, 5))):
        d = mm.decode_image(_b64.b64decode(_JDK_BMP16[name]))
        assert (d["width"], d["height"]) == (w, h)
        want = np.stack(
            [q(r, bits[0]), q(g, bits[1]), q(b, bits[2])], axis=2
        )
        assert (d["pixels"] == want).all(), name


def test_bmp_32bit_bitfields_and_hostile_masks():
    import base64 as _b64

    base = bytearray(_b64.b64decode(_JDK_BMP16["b565"]))
    # hostile: zero mask, oversize mask, non-contiguous mask
    for masks, msg in (
        ((0, 0x7E0, 0x1F), "invalid"),
        ((0x1F0000, 0x7E0, 0x1F), "invalid"),
        ((0xF800, 0x5A0, 0x1F), "non-contiguous"),
    ):
        bad = bytearray(base)
        struct.pack_into("<III", bad, 54, *masks)
        with pytest.raises(ValueError, match=msg):
            mm.decode_image(bytes(bad))
    # 32-bpp BI_BITFIELDS, hand-built: 8-8-8 masks in a non-BGR
    # layout prove the masks (not byte position) drive the channels
    w, h = 3, 2
    px = np.array(
        [[[10, 200, 30], [0, 255, 128], [77, 1, 250]],
         [[255, 0, 0], [0, 0, 255], [9, 8, 7]]], np.uint8
    )
    words = (
        (px[:, :, 0].astype(np.uint32) << 24)
        | (px[:, :, 1].astype(np.uint32) << 8)
        | px[:, :, 2].astype(np.uint32)
    )
    body = b"".join(
        struct.pack("<I", int(words[y, x]))
        for y in range(h - 1, -1, -1)
        for x in range(w)
    )
    hdr = struct.pack("<2sIHHI", b"BM", 0, 0, 0, 66) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 32, 3, len(body), 0, 0, 0, 0
    ) + struct.pack("<III", 0xFF000000, 0xFF00, 0xFF)
    d = mm.decode_image(hdr + body)
    assert (d["pixels"] == px).all()


def test_bmp_rgb_channel_order():
    import base64 as _b64

    d = mm.decode_image(_b64.b64decode(_JDK_BMP["color"]))
    assert (d["pixels"][0, 0] == [255, 0, 0]).all()  # RED
    assert (d["pixels"][0, 1] == [0, 255, 0]).all()  # GREEN
    assert (d["pixels"][0, 2] == [0, 0, 255]).all()  # BLUE


def test_bmp_palette_and_rle_jdk_goldens():
    import base64 as _b64

    w, h = 31, 13
    ys, xs = np.mgrid[0:h, 0:w]
    v = (xs * 7 + ys * 11) % 256
    pal_want = np.stack(
        [v, 255 - v, (v * 3) % 256], axis=2
    ).astype(np.uint8)
    for name in ("idx8", "rle8"):
        d = mm.decode_image(_b64.b64decode(_JDK_BMP[name]))
        assert (d["width"], d["height"]) == (w, h)
        assert (d["pixels"] == pal_want).all(), name
    d = mm.decode_image(_b64.b64decode(_JDK_BMP["bin1"]))
    assert (d["pixels"][:, :, 0] == np.where(
        (xs + ys) % 3 == 0, 255, 0
    )).all()


def _bmp_fixture(w, h, bpp, compression, palette, body):
    hdr = struct.pack(
        "<2sIHHI", b"BM", 0, 0, 0, 14 + 40 + len(palette)
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, compression, len(body),
        0, 0, len(palette) // 4, 0,
    )
    return hdr + palette + body


def test_bmp_4bpp_rle4_and_32bpp_handbuilt():
    # 4-bpp uncompressed: 5 px wide -> 3 data bytes, padded to 4
    pal = bytes(
        b for i in range(16) for b in (i * 16, i * 8, i * 4, 0)
    )  # BGRA quads
    rows = bytes([0x01, 0x23, 0x40, 0x00]) + bytes([0x55, 0x55, 0x50, 0x00])
    d = mm.decode_image(_bmp_fixture(5, 2, 4, 0, pal, rows))
    # bottom-up: stored row 0 is IMAGE row 1; palette quad i is
    # BGRA (16i, 8i, 4i, 0) -> RGB (4i, 8i, 16i)
    idx_row1 = np.array([0, 1, 2, 3, 4])
    assert (d["pixels"][1] == np.stack(
        [4 * idx_row1, 8 * idx_row1, 16 * idx_row1], axis=1
    )).all()
    assert (d["pixels"][0] == [[20, 40, 80]] * 5).all()  # index 5
    # RLE4: run of 5 alternating (3,7), EOL, absolute 4 px, EOB
    body = bytes([5, 0x37, 0, 0, 0, 4, 0x12, 0x34, 0, 0, 0, 1])
    d = mm.decode_image(_bmp_fixture(5, 2, 4, 2, pal, body))
    assert (d["pixels"][1, :, 2] == [16 * 3, 16 * 7, 16 * 3,
                                     16 * 7, 16 * 3]).all()
    assert (d["pixels"][0, :4, 2] == [16, 32, 48, 64]).all()
    # 32bpp BI_RGB: BGRx quads, alpha dropped, RGB order
    body = bytes([10, 20, 30, 99, 40, 50, 60, 99])
    d = mm.decode_image(_bmp_fixture(2, 1, 32, 0, b"", body))
    assert (d["pixels"][0, 0] == [30, 20, 10]).all()
    assert (d["pixels"][0, 1] == [60, 50, 40]).all()


def test_bmp_hostile_and_named():
    pal16 = bytes(16 * 4)
    with pytest.raises(ValueError, match="overruns"):
        mm.decode_image(_bmp_fixture(50, 50, 4, 0, pal16, b"xx"))
    with pytest.raises(ValueError, match="without end-of-bitmap"):
        mm.decode_image(
            _bmp_fixture(4, 2, 8, 1, bytes(256 * 4), bytes([3, 1]))
        )
    with pytest.raises(ValueError, match="index out of range"):
        mm.decode_image(
            _bmp_fixture(
                4, 1, 8, 0, bytes(2 * 4), bytes([5, 0, 0, 0])
            )
        )
    # 16 bpp decodes since r13; BI_BITFIELDS without the three mask
    # DWORDs is loud truncation, and a still-unsupported compression
    # id stays a named gap
    d = mm.decode_image(_bmp_fixture(2, 1, 16, 0, b"", bytes(4)))
    assert (d["pixels"] == 0).all()
    with pytest.raises(ValueError, match="masks truncated"):
        mm.decode_image(_bmp_fixture(2, 1, 32, 3, b"", bytes(8)))
    with pytest.raises(NotImplementedError, match="compression=4"):
        mm.decode_image(_bmp_fixture(2, 1, 24, 4, b"", bytes(8)))


def test_g711_tables_match_stdlib_audioop():
    # the CCITT formula-derived tables cross-validated against the
    # stdlib's INDEPENDENT G.711 implementation (r12 late) — all 256
    # entries of both laws
    audioop = pytest.importorskip("audioop")
    every = bytes(range(256))
    want_u = np.frombuffer(audioop.ulaw2lin(every, 2), "<i2")
    want_a = np.frombuffer(audioop.alaw2lin(every, 2), "<i2")
    assert (mm._ULAW_TABLE == want_u).all()
    assert (mm._ALAW_TABLE == want_a).all()


def test_aifc_g711_roundtrip_and_gaps():
    raw = np.arange(256, dtype=np.uint8)
    for comp, table in (
        (b"ulaw", mm._ULAW_TABLE),
        (b"alaw", mm._ALAW_TABLE),
    ):
        d = mm.decode_audio(mm.encode_aifc(raw, 8000, compression=comp))
        assert d["format"] == "aifc"
        assert d["bits"] == 16  # decoded domain
        assert (d["samples"] == table[raw]).all()
    # WAV fmt 6/7 decode through the SAME tables — format parity
    wav_u = mm.decode_audio(
        mm.encode_wav(mm._ULAW_TABLE[raw].astype(np.int64), bits=16)
    )
    aifc_u = mm.decode_audio(mm.encode_aifc(raw, 8000, b"ulaw"))
    assert (wav_u["samples"] == aifc_u["samples"]).all()
    # ima4 stays the named plug-in boundary
    blob = bytearray(mm.encode_aifc(raw, 8000, b"ulaw"))
    at = bytes(blob).index(b"ulaw")
    blob[at : at + 4] = b"ima4"
    with pytest.raises(NotImplementedError, match="ima4"):
        mm.decode_audio(bytes(blob))


def test_media_all_features_matches_three_pass_composition(spark):
    """The fused single-decode operator must emit exactly the rows
    the three-way doc_id join of media_features + audio_features +
    resize_features produces (the r15 q63 optimization swaps the
    join for the fused pass on this equality)."""
    from pyspark.sql import functions as F

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    media = (
        mm.synth_media(docs)
        .unionByName(
            mm.synth_jpeg_media(
                spark.range(10_000, 10_004).withColumnRenamed(
                    "id", "doc_id"
                )
            )
        )
        .unionByName(
            mm.synth_audio_media(
                spark.range(13_000, 13_004).withColumnRenamed(
                    "id", "doc_id"
                )
            )
        )
        .localCheckpoint(eager=True)
    )
    setup = mm.register_builtin_codecs
    fused = (
        mm.media_all_features(media, out_w=4, out_h=4, codec_setup=setup)
        .orderBy("doc_id")
        .toPandas()
    )
    feats = mm.media_features(media, codec_setup=setup)
    audio = mm.audio_features(media, codec_setup=setup).select(
        "doc_id", "peak_abs", "zero_crossings", "rms_milli"
    )
    resz = mm.resize_features(
        media, out_w=4, out_h=4, codec_setup=setup
    ).select("doc_id", "resized_feat_milli")
    joined = (
        feats.join(audio, "doc_id", "left")
        .join(resz, "doc_id", "left")
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(fused.columns) == list(joined.columns)
    assert len(fused) == len(joined)
    for col in fused.columns:
        a, b = fused[col], joined[col]
        assert ((a == b) | (a.isna() & b.isna())).all(), col
