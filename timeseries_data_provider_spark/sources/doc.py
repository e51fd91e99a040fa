"""Legacy Word .doc text extraction — [MS-DOC] piece tables over the
CFB container walk (sources/cfb).

Word 97-2003 binary documents still circulate in crawl corpora
(government archives, old mailing-list attachments). The text layer
is recoverable from public structures ([MS-DOC], an open
specification): the FIB in the ``WordDocument`` stream points at the
CLX in the ``0Table``/``1Table`` stream; the CLX's PlcPcd maps
character positions to file offsets, each piece either 8-bit cp1252
(``fCompressed``) or UTF-16LE.

Extraction contract (deterministic, stated):

- pieces concatenate in CP order over the MAIN document range
  (``ccpText`` characters); footnotes/headers/annotations past that
  range are excluded (their CPs follow the main range per spec);
- Word's control characters normalize: CR (0x0D) and cell/row mark
  (0x07) -> newline; the rest of C0 (field separators 0x13/0x14/0x15,
  etc.) drop; text is NFC-untouched otherwise;
- every structural mismatch — wrong FIB magic, encrypted flag, CLX
  markers out of spec, offsets out of stream bounds — raises a named
  ValueError (wrong offsets can never produce silent garbage: the
  CLX is typed);
- ``fEncrypted`` documents decrypt through sources/offcrypto (r12:
  RC4 v1.1 with 512-byte block rekeying and RC4 CryptoAPI, under
  the empty/VelvetSweatshop default passwords); XOR obfuscation
  (``fObfuscated``) and real passwords raise named errors.

Verification posture (stated): no independent .doc implementation
exists in this container, so correctness rests on spec-transcribed
offsets + a self-written fixture writer + the loud-failure design,
plus (r13) HAND-ASSEMBLED containers laid out byte-by-byte from the
[MS-CFB]/[MS-DOC] structure tables inside the tests
(tests/test_cfb_handbuilt.py) — a second writer sharing no code
with the fixture path. Still weaker than the CCITT/JDK or WebP/
libwebp cross-checks, and said so.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseries_data_provider_spark.sources import cfb

__all__ = ["doc_text", "encode_doc", "doc_features"]

_FIB_MAGIC = 0xA5EC
# fibRgFcLcb97 starts at FIB offset 32 (base) + 2 (csw) + 28 (fibRgW)
# + 2 (cslw) + 88 (fibRgLw) + 2 (cbRgFcLcb) = 154; fcClx/lcbClx is
# Fc/Lcb pair index 33 -> byte offset 154 + 33*8 = 418 (0x1A2).
_FC_CLX = 418
_LCB_CLX = 422
# fibRgLw starts at 32+2+28+2 = 64; ccpText is its 4th long (cbMac,
# reserved1, reserved2, ccpText) -> offset 64 + 12 = 76.
_CCP_TEXT = 76


def _u16(b: bytes, o: int) -> int:
    return int.from_bytes(b[o : o + 2], "little")


def _u32(b: bytes, o: int) -> int:
    return int.from_bytes(b[o : o + 4], "little")


def doc_text(
    blob: bytes, passwords: tuple[str, ...] | None = None
) -> dict:
    """Extract a .doc's main-document text: {n_pieces, n_chars,
    text}. ``blob`` is the whole CFB container. An fEncrypted
    document decrypts through sources/offcrypto first (r12) — the
    RC4 v1.1 and CryptoAPI schemes under the empty/VelvetSweatshop
    defaults plus ``passwords``; XOR obfuscation and real passwords
    raise named errors."""
    streams = dict(cfb.cfb_streams(blob))
    wd = streams.get("WordDocument")
    if wd is None or len(wd) < 1024:
        raise ValueError("doc: no WordDocument stream")
    if _u16(wd, 0) != _FIB_MAGIC:
        raise ValueError(
            f"doc: FIB magic {_u16(wd, 0):#06x} (want 0xa5ec)"
        )
    flags = _u16(wd, 10)
    which = 1 if flags & 0x0200 else 0  # fWhichTblStm
    table = streams.get(f"{which}Table")
    if table is None:
        # real-world damage: fall back to whichever table exists
        table = streams.get(f"{1 - which}Table")
    if table is None:
        raise ValueError("doc: no 0Table/1Table stream")
    if flags & 0x0100:  # fEncrypted -> offcrypto (r12)
        from timeseries_data_provider_spark.sources import offcrypto

        cands = offcrypto.DEFAULT_PASSWORDS + tuple(passwords or ())
        wd, table, _ = offcrypto.decrypt_doc_streams(
            wd, table, None, cands
        )
        flags = _u16(wd, 10)
    fc_clx = _u32(wd, _FC_CLX)
    lcb_clx = _u32(wd, _LCB_CLX)
    if lcb_clx == 0 or fc_clx + lcb_clx > len(table):
        raise ValueError("doc: CLX out of table-stream bounds")
    clx = table[fc_clx : fc_clx + lcb_clx]
    ccp_text = _u32(wd, _CCP_TEXT)
    # CLX = Prc* then one Pcdt. Prc: 0x01, cbGrpprl(2), bytes.
    p = 0
    while p < len(clx) and clx[p] == 0x01:
        cb = _u16(clx, p + 1)
        p += 3 + cb
    if p >= len(clx) or clx[p] != 0x02:
        raise ValueError("doc: CLX carries no Pcdt (typed marker)")
    lcb = _u32(clx, p + 1)
    plc = clx[p + 5 : p + 5 + lcb]
    if len(plc) != lcb or (lcb - 4) % 12 != 0:
        raise ValueError("doc: malformed PlcPcd")
    n = (lcb - 4) // 12
    if n <= 0:
        raise ValueError("doc: empty piece table")
    cps = [_u32(plc, 4 * i) for i in range(n + 1)]
    parts: list[str] = []
    remaining = ccp_text
    for i in range(n):
        if remaining <= 0:
            break
        pcd_off = 4 * (n + 1) + 8 * i
        fc_field = _u32(plc, pcd_off + 2)
        n_chars = cps[i + 1] - cps[i]
        if n_chars < 0:
            raise ValueError("doc: piece CPs not monotone")
        n_chars = min(n_chars, remaining)
        remaining -= n_chars
        compressed = bool(fc_field & 0x40000000)
        fc = fc_field & 0x3FFFFFFF
        if compressed:
            off = fc // 2
            raw = wd[off : off + n_chars]
            if len(raw) != n_chars:
                raise ValueError("doc: piece beyond WordDocument end")
            parts.append(raw.decode("cp1252", "replace"))
        else:
            raw = wd[fc : fc + 2 * n_chars]
            if len(raw) != 2 * n_chars:
                raise ValueError("doc: piece beyond WordDocument end")
            parts.append(raw.decode("utf-16-le", "replace"))
    text = "".join(parts)
    # Word control characters: CR and cell/row marks are line breaks;
    # the remaining C0 control set is structure, not text
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    text = text.replace("\x07", "\n").replace("\x0b", "\n")
    text = "".join(
        ch for ch in text if ch >= " " or ch in "\n\t"
    ).strip("\n")
    return {"n_pieces": n, "n_chars": len(text), "text": text}


def encode_doc(
    text: str, pieces: int = 1, mixed: bool = False
) -> bytes:
    """Fixture writer: a minimal structurally-valid .doc — FIB with
    magic/flags/ccpText/fcClx, text split into ``pieces`` pieces
    (alternating cp1252-compressed and UTF-16 when ``mixed``), a
    1Table stream carrying the CLX/PlcPcd. Exercises the exact
    structures the reader walks."""
    # split text into pieces (character counts)
    text = text + "\r"  # Word always terminates the main range
    npc = max(1, pieces)
    chunk = -(-len(text) // npc)
    spans = [
        text[i * chunk : (i + 1) * chunk] for i in range(npc)
    ]
    spans = [s for s in spans if s]
    wd = bytearray(2048)
    import struct as _s

    _s.pack_into("<H", wd, 0, _FIB_MAGIC)
    _s.pack_into("<H", wd, 2, 0x00C1)  # nFib (Word 97)
    _s.pack_into("<H", wd, 10, 0x0200)  # fWhichTblStm = 1 (1Table)
    # lay the piece text after the 2048-byte FIB area
    pcds = []
    cps = [0]
    for k, s in enumerate(spans):
        comp = not mixed or k % 2 == 0
        try:
            enc = s.encode("cp1252") if comp else None
        except UnicodeEncodeError:
            comp = False
            enc = None
        if comp:
            fc_field = 0x40000000 | (len(wd) * 2)
            wd += enc
            n_cp = len(enc)  # 1 byte = 1 CP
        else:
            fc_field = len(wd)
            u = s.encode("utf-16-le")
            wd += u
            # CPs are UTF-16 code UNITS: astral chars count twice
            n_cp = len(u) // 2
        pcds.append(fc_field)
        cps.append(cps[-1] + n_cp)
    # ccpText is the main-range CP count (UTF-16 units, not chars)
    _s.pack_into("<I", wd, _CCP_TEXT, cps[-1])
    plc = b"".join(_s.pack("<I", c) for c in cps) + b"".join(
        _s.pack("<HIH", 0, f, 0) for f in pcds
    )
    clx = b"\x02" + _s.pack("<I", len(plc)) + plc
    table = b"\x00" * 64 + clx  # CLX at offset 64
    _s.pack_into("<I", wd, _FC_CLX, 64)
    _s.pack_into("<I", wd, _LCB_CLX, len(clx))
    return cfb.encode_cfb(
        [("WordDocument", bytes(wd)), ("1Table", table)]
    )


def doc_blob(doc_id: int, text: str) -> bytes:
    """The deterministic legacy .doc planted for one document (q64's
    doc columns, r12 late — the synth_msg_corpus pattern): the
    piece-table text IS the source text, and the CONTAINER rotates by
    doc_id — id%16==13 encrypts under RC4 CryptoAPI with
    VelvetSweatshop, id%8==5 under RC4 v1.1 with the empty password —
    so the [MS-DOC] FIB/CLX/PlcPcd walk AND the Word 97 decrypt chain
    hash-check against the source text every round."""
    from timeseries_data_provider_spark.sources import offcrypto

    blob = encode_doc(text)
    if doc_id % 8 != 5:
        return blob
    s = dict(cfb.cfb_streams(blob))
    capi = doc_id % 16 == 13
    ewd, etbl, _ = offcrypto.encrypt_doc_streams(
        s["WordDocument"],
        s["1Table"],
        None,
        "VelvetSweatshop" if capi else "",
        "capi" if capi else "rc4",
    )
    return cfb.encode_cfb([("WordDocument", ewd), ("1Table", etbl)])


def synth_doc_corpus(documents: DataFrame) -> DataFrame:
    """Deterministic legacy .doc per document (``doc_blob``: the
    source text, RC4 v1.1/CryptoAPI container rotation by doc_id)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_ in batches:
            ids = [int(doc_id) for doc_id in pdf_["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [
                        doc_blob(i, t) for i, t in zip(ids, pdf_["text"])
                    ],
                }
            )

    from timeseries_data_provider_spark.tables import widen_for_python

    return widen_for_python(
        documents.select("doc_id", "text")
    ).mapInPandas(synth, "doc_id long, payload binary")


def doc_features(
    df: DataFrame,
    blob_col: str = "payload",
    id_col: str = "doc_id",
    errors: str = "raise",
) -> DataFrame:
    """Arrow-batched .doc extraction: (id, n_pieces, text, n_chars). ``errors="quarantine"`` adds
    (err_class, err_msg) side rows for damaged inputs instead of
    killing the task (sources/envelope.py)."""
    from timeseries_data_provider_spark.sources.envelope import (
        single_row_features,
    )

    return single_row_features(
        df,
        doc_text,
        [
            ("n_pieces", "long"),
            ("text", "string"),
            ("n_chars", "long"),
        ],
        id_col=id_col,
        blob_col=blob_col,
        errors=errors,
    )


