"""PDF text extraction — stdlib-only (zlib + a tokenizer).

PDFs are a first-class crawl corpus component (papers, reports,
books); an LLM-data pipeline needs their TEXT, page counts, and
metadata, not their rendering. The format's text layer is
stdlib-feasible: objects + xref (PDF 1.4 classic and the 1.5+
cross-reference STREAM form), compressed OBJECT streams (/ObjStm,
§7.5.7 — the layout every modern writer emits), FlateDecode via
zlib and LZWDecode (the TIFF dialect incl. EarlyChange, §7.4.4.2)
with TIFF/PNG predictor inversion (§7.4.4.4), and the content-
stream text operators (BT/ET, Tj/TJ/'/", Td/TD/T*/Tm, Tf).
Encrypted documents with an EMPTY user password (owner-locked
but world-readable — the common crawl case) decrypt through the
standard security handler (§7.6, r11): RC4 V1/V2 R2/R3, AES-128
crypt filters (V4/R4 /AESV2, incl. /Identity slots and
/EncryptMetadata false), and AES-256 (V5 R5/R6 — ISO 32000-2
Algorithm 2.B, /Perms integrity check) over the from-scratch
FIPS 197 cipher in operators/aes (numpy-vectorized CBC decrypt,
~5-6.5 MB/s/core — the honest pure-Python envelope beside RC4's
~6.7). COMPOSITE (Type0/CID) fonts extract through their
/ToUnicode CMaps (§9.10.3, r11 — bfchar/bfrange, multi-byte codes
per the codespace ranges), and simple fonts honor /Encoding
/Differences via the Adobe glyph list's common subset (incl.
``uniXXXX``). Type0 fonts WITHOUT a ToUnicode
map recover their text through the embedded TrueType's own cmap
table (Identity-H + FontFile2 via operators/sfnt, r12 — the
pdftotext fallback), including subset fonts whose CIDToGIDMap is a
renumbering STREAM (r12 late), and through CFF (FontFile3)
programs as of r13 (operators/cff): bare Type1C via the charset's
glyph names, OpenType-CFF via CID->GID charset inversion composed
with the sfnt cmap, bare CID-KEYED CFF via the predefined ROS
ordering's transcribed ranges (r14 — Adobe-Japan1 Latin + kana;
kanji and the other registries still need the full external CMap
files and stay named). Password-protected files (a REAL user
password), public-key (PKCS#7) handlers, and font RENDERING are
named gaps (a real pipeline routes those to a PDF library); simple
fonts with standard encodings — the overwhelming majority of
text-bearing PDFs — extract exactly.

Public-knowledge basis: the PDF 1.7 specification (ISO 32000-1,
public). Reference parity note: index.js has no document surface;
[EXT] LLM-pipeline scope per SURVEY §2.

Extraction contract (deterministic, stated):

- one output line per BT..ET text object that produced glyphs;
  within a text object, TJ number offsets < -100 (thousandths) and
  Td/TD/T* line moves insert a single space — the standard
  word-boundary heuristic at this tier;
- strings decode through the font selected by ``Tf`` when the page's
  /Resources /Font carries a /ToUnicode CMap or an /Encoding
  /Differences array; otherwise as PDFDocEncoding≈Latin-1 with the
  escape rules of §7.3.4.2 (\\n \\t \\( \\) \\\\ \\ddd, line
  continuations); hex strings per §7.3.4.3;
- pages traverse the page tree in order; /Resources inherit down the
  page tree per §7.7.3.4 (the one inherited attribute text needs).

Scale shape: per-row independent, linear in bytes, Arrow fan-out
(``pdf_features``) — the codec tier. The tokenizer is Python-rate
(honest §C row), but PDFs are small relative to media, and the
alternative at this tier is shipping none of the corpus's documents.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "extract_pdf",
    "encode_pdf",
    "pdf_features",
]

MAX_OBJECTS = 1 << 20
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    """Minimal PDF object lexer (dicts, arrays, names, numbers,
    strings, refs) — enough to read trailers, page trees, and
    stream dicts."""

    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.p = pos

    def _skip_ws(self) -> None:
        d, n = self.d, len(self.d)
        while self.p < n:
            c = self.d[self.p]
            if c in _WS:
                self.p += 1
            elif c == 0x25:  # % comment
                e = d.find(b"\n", self.p)
                self.p = n if e < 0 else e + 1
            else:
                return

    def _token(self) -> bytes:
        self._skip_ws()
        if self.p >= len(self.d):
            raise ValueError("pdf: unexpected EOF")
        c = self.d[self.p : self.p + 1]
        if c in b"[]":
            self.p += 1
            return c
        if self.d[self.p : self.p + 2] in (b"<<", b">>"):
            self.p += 2
            return self.d[self.p - 2 : self.p]
        if c in b"</(":
            return c  # handled by value()
        s = self.p
        while self.p < len(self.d) and self.d[self.p] not in _WS and self.d[self.p] not in _DELIM:
            self.p += 1
        if self.p == s:
            raise ValueError(f"pdf: bad token at {self.p}")
        return self.d[s : self.p]

    def value(self):
        self._skip_ws()
        if self.p >= len(self.d):
            raise ValueError("pdf: unexpected EOF in value")
        c = self.d[self.p]
        if self.d[self.p : self.p + 2] == b"<<":
            self.p += 2
            out = {}
            while True:
                self._skip_ws()
                if self.d[self.p : self.p + 2] == b">>":
                    self.p += 2
                    return out
                key = self.value()
                if not isinstance(key, _Name):
                    raise ValueError("pdf: dict key is not a name")
                out[str(key)] = self.value()
        if c == 0x3C:  # hex string
            e = self.d.find(b">", self.p)
            if e < 0:
                raise ValueError("pdf: unterminated hex string")
            hexs = re.sub(rb"\s", b"", self.d[self.p + 1 : e])
            if len(hexs) % 2:
                hexs += b"0"
            self.p = e + 1
            return bytes.fromhex(hexs.decode("ascii"))
        if c == 0x28:  # ( literal string
            s, self.p = _read_literal_string(self.d, self.p)
            return s
        if c == 0x5B:  # [
            self.p += 1
            out = []
            while True:
                self._skip_ws()
                if self.d[self.p : self.p + 1] == b"]":
                    self.p += 1
                    return out
                out.append(self.value())
        if c == 0x2F:  # /name
            self.p += 1
            s = self.p
            while (
                self.p < len(self.d)
                and self.d[self.p] not in _WS
                and self.d[self.p] not in _DELIM
            ):
                self.p += 1
            return _Name(self.d[s : self.p].decode("latin-1"))
        tok = self._token()
        if tok in (b"true", b"false"):
            return tok == b"true"
        if tok == b"null":
            return None
        # number — maybe an indirect reference "a b R"
        try:
            num = int(tok)
        except ValueError:
            try:
                return float(tok)
            except ValueError as e:
                raise ValueError(f"pdf: bad token {tok!r}") from e
        save = self.p
        try:
            self._skip_ws()
            p2 = self.p
            tok2 = self._token()
            gen = int(tok2)
            tok3 = self._token()
            if tok3 == b"R":
                return _Ref(num, gen)
        except (ValueError, IndexError):
            pass
        self.p = save
        return num


class _Name(str):
    pass


class _Ref:
    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __repr__(self):
        return f"<ref {self.num} {self.gen}>"


def _read_literal_string(d: bytes, p: int) -> tuple[bytes, int]:
    assert d[p] == 0x28
    p += 1
    out = bytearray()
    depth = 1
    while p < len(d):
        c = d[p]
        if c == 0x5C:  # backslash
            p += 1
            if p >= len(d):
                break
            e = d[p]
            if e in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                p += 1
            elif e in b"()\\":
                out.append(e)
                p += 1
            elif 0x30 <= e <= 0x37:  # \ddd octal, 1-3 digits
                oct_ = 0
                k = 0
                while k < 3 and p < len(d) and 0x30 <= d[p] <= 0x37:
                    oct_ = oct_ * 8 + (d[p] - 0x30)
                    p += 1
                    k += 1
                out.append(oct_ & 0xFF)
            elif e in b"\r\n":  # line continuation
                p += 1
                if e == 0x0D and p < len(d) and d[p] == 0x0A:
                    p += 1
            else:
                out.append(e)
                p += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            p += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), p + 1
            out.append(c)
            p += 1
        else:
            out.append(c)
            p += 1
    raise ValueError("pdf: unterminated string")


def _parse_objects(data: bytes) -> dict[int, tuple]:
    """Scan for ``N G obj`` definitions (robust to broken xref tables
    — the crawl reality; the xref is advisory when the objects are
    scannable). Returns {num: (value, stream_bytes|None)}."""
    objs: dict[int, tuple] = {}
    last_stream_end = 0
    for m in re.finditer(rb"(\d+)\s+(\d+)\s+obj\b", data):
        if m.start() < last_stream_end:
            # the match fell INSIDE a previously-consumed stream body:
            # compressed bytes can contain "N G obj" by chance, and a
            # phantom object must never clobber a real one (review
            # finding)
            continue
        num = int(m.group(1))
        if len(objs) > MAX_OBJECTS:
            raise ValueError("pdf: unreasonable object count")
        lex = _Lexer(data, m.end())
        try:
            val = lex.value()
        except ValueError:
            continue
        stream = None
        lex._skip_ws()
        if data[lex.p : lex.p + 6] == b"stream":
            p = lex.p + 6
            if data[p : p + 2] == b"\r\n":
                p += 2
            elif data[p : p + 1] == b"\n":
                p += 1
            length = val.get("Length") if isinstance(val, dict) else None
            if isinstance(length, _Ref):
                length = None  # resolved below if needed via endstream
            if isinstance(length, int) and p + length <= len(data):
                stream = data[p : p + length]
                last_stream_end = p + length
            else:
                e = data.find(b"endstream", p)
                if e < 0:
                    continue
                stream = data[p:e].rstrip(b"\r\n")
                last_stream_end = e
        objs[num] = (val, stream)
    return objs


def _resolve(objs, v):
    seen = 0
    while isinstance(v, _Ref):
        if v.num not in objs:
            return None
        v = objs[v.num][0]
        seen += 1
        if seen > 64:
            raise ValueError("pdf: reference cycle")
    return v


# -- standard security handler (ISO 32000-1 §7.6.2-7.6.4) -------------
# RC4 and AES with the EMPTY user password — the common crawl case
# (owner-locked but world-readable documents, which every PDF viewer
# opens without prompting). Password-protected documents (a real user
# password) stay the named NotImplementedError. Rate envelope: the
# pure-Python RC4 measures ~6.7 MB/s/core, the numpy-vectorized AES
# CBC decrypt ~5-6.5 MB/s/core — the same honest Python-rate class as
# the other codec tiers (per-row independent, Arrow fan-out; a real
# deployment swaps a native cipher via the usual registry posture).

_PDF_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(c ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _std_file_key(
    o: bytes,
    p: int,
    id0: bytes,
    r: int,
    n: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2 with the empty user password: MD5(pad + O + P-le +
    ID0 [+ ffffffff when R4 leaves metadata plaintext]), then
    (R >= 3) 50 iterations over the first n bytes."""
    import hashlib

    h = hashlib.md5()
    h.update(_PDF_PAD)
    h.update(o[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _std_compute_o(owner_pw: bytes, r: int, n: int) -> bytes:
    """Algorithm 3 (empty user password): O = RC4-chain over the
    padded user password with the MD5(padded owner) key."""
    import hashlib

    d = hashlib.md5((owner_pw + _PDF_PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            d = hashlib.md5(d).digest()
    okey = d[:n]
    out = _rc4(okey, _PDF_PAD)
    if r >= 3:
        for i in range(1, 20):
            out = _rc4(bytes(b ^ i for b in okey), out)
    return out


def _std_compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3): the /U verifier for the empty user
    password."""
    import hashlib

    if r == 2:
        return _rc4(key, _PDF_PAD)
    t = _rc4(key, hashlib.md5(_PDF_PAD + id0).digest())
    for i in range(1, 20):
        t = _rc4(bytes(b ^ i for b in key), t)
    return t + b"\x00" * 16


def _object_key(key: bytes, num: int, aes: bool = False) -> bytes:
    """Per-object key (Algorithm 1): MD5(filekey + objnum-le3 +
    gen-le2 [+ "sAlT" for AES])[:min(n+5, 16)]. Generation assumed 0
    — the object scan keys by number (a stated limitation; gen > 0 is
    vanishingly rare in crawled files)."""
    import hashlib

    d = hashlib.md5(
        key
        + num.to_bytes(3, "little")
        + b"\x00\x00"
        + (b"sAlT" if aes else b"")
    ).digest()
    return d[: min(len(key) + 5, 16)]


def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B (the R6 password hash): SHA-256
    seed, then the AES-128-CBC + SHA-256/384/512 hardening loop —
    at least 64 rounds, stopping once the last byte of E is <= round
    - 32."""
    import hashlib

    from timeseries_data_provider_spark.operators import aes as _aes

    k = hashlib.sha256(password + salt + udata).digest()
    hashes = (hashlib.sha256, hashlib.sha384, hashlib.sha512)
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes.cbc_encrypt(k[:16], k[16:32], k1)
        k = hashes[int.from_bytes(e[:16], "big") % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _aes_apply(key: bytes, data: bytes) -> bytes:
    """AES-CBC string/stream layout (§7.6.3.3): first 16 bytes are
    the IV, PKCS#7 padding stripped. Blobs too short or misaligned
    to be a legal AES payload pass through unchanged — real crawled
    files carry empty strings and writer damage, and a tolerant
    pass-through beats killing the whole extraction (the tolerant-
    tail posture of the other codecs)."""
    if len(data) < 32 or len(data) % 16:
        return data
    from timeseries_data_provider_spark.operators import aes as _aes

    return _aes.cbc_decrypt(key, data)


def _cf_method_by_name(objs, ed, name: str) -> str:
    """Resolve a crypt-filter NAME to a method: 'identity' | 'rc4'
    | 'aes128' | 'aes256'. Per §7.6.5 /Identity passes through;
    other names resolve through /CF to their /CFM."""
    if name == "Identity":
        return "identity"
    cf = _resolve(objs, ed.get("CF")) or {}
    slot = _resolve(objs, cf.get(name))
    if not isinstance(slot, dict):
        raise NotImplementedError(
            f"pdf: encrypted document (undefined crypt filter {name})"
        )
    cfm = str(_resolve(objs, slot.get("CFM", "None")))
    if cfm == "V2":
        return "rc4"
    if cfm == "AESV2":
        return "aes128"
    if cfm == "AESV3":
        return "aes256"
    if cfm == "None":
        # §7.6.5: CFM /None means the filter applies no decryption
        # (the consumer handles the data as-is) — the /Identity
        # pass-through, not an unsupported scheme
        return "identity"
    raise NotImplementedError(
        f"pdf: encrypted document (crypt filter method {cfm})"
    )


def _cf_method(objs, ed, which: str) -> str:
    """Resolve a V4 crypt-filter slot (/StmF or /StrF) through
    _cf_method_by_name; the default is /Identity (§7.6.5)."""
    name = str(_resolve(objs, ed.get(which, "Identity")) or "Identity")
    return _cf_method_by_name(objs, ed, name)


def _decrypt_standard(objs: dict, encrypt, doc_id) -> None:
    """Decrypt every top-level object's strings and stream IN PLACE
    using the standard security handler with the EMPTY user password:
    RC4 (V1/V2, R2/R3), AES-128 crypt filters (V4/R4, /AESV2 or /V2
    per-slot incl. /Identity and /EncryptMetadata false), and AES-256
    (V5, R5/R6 — Algorithm 2.B for R6, the /Perms integrity check
    when present). Custom handlers and real passwords raise the named
    error. Objects inside ObjStm streams come out plaintext once the
    containing stream is decrypted (§7.6.2), so this runs BEFORE
    _unpack_objstm."""
    import hashlib

    enc_num = encrypt.num if isinstance(encrypt, _Ref) else None
    ed = _resolve(objs, encrypt)
    if not isinstance(ed, dict) or str(ed.get("Filter")) != "Standard":
        raise NotImplementedError(
            "pdf: encrypted document (non-Standard security handler)"
        )
    v = int(_resolve(objs, ed.get("V", 0)) or 0)
    r = int(_resolve(objs, ed.get("R", 2)) or 2)
    o = ed.get("O")
    u = ed.get("U")
    if not isinstance(o, bytes) or not isinstance(u, bytes):
        raise NotImplementedError(
            "pdf: encrypted document (malformed O/U entries)"
        )
    p = int(_resolve(objs, ed.get("P", -1)) or -1)
    id0 = b""
    if isinstance(doc_id, list) and doc_id and isinstance(
        doc_id[0], bytes
    ):
        id0 = doc_id[0]
    encrypt_metadata = bool(
        _resolve(objs, ed.get("EncryptMetadata", True))
    )

    if v in (1, 2) and r in (2, 3):
        stm_m = str_m = "rc4"
        length = int(_resolve(objs, ed.get("Length", 40)) or 40)
        n = max(5, min(16, length // 8))
        key = _std_file_key(o, p, id0, r, n)
        if r == 2:
            ok = _rc4(key, _PDF_PAD) == u[:32]
        else:
            ok = _std_compute_u(key, id0, r)[:16] == u[:16]
        if not ok:
            raise NotImplementedError(
                "pdf: encrypted document (user password required)"
            )
    elif v == 4 and r == 4:
        stm_m = _cf_method(objs, ed, "StmF")
        str_m = _cf_method(objs, ed, "StrF")
        meta = encrypt_metadata
        # file-key width: AESV2 is 128-bit by definition; an RC4
        # (/V2) crypt filter follows the dict's /Length (a /Length 40
        # V2 file must derive a 5-byte key or the /U check fails)
        if "aes128" in (stm_m, str_m):
            n = 16
        else:
            length = int(_resolve(objs, ed.get("Length", 128)) or 128)
            n = max(5, min(16, length // 8))
        key = _std_file_key(
            o, p, id0, 4, n, encrypt_metadata=bool(meta)
        )
        if _std_compute_u(key, id0, 3)[:16] != u[:16]:
            raise NotImplementedError(
                "pdf: encrypted document (user password required)"
            )
    elif v == 5 and r in (5, 6):
        stm_m = str_m = "aes256"
        if len(u) < 48:
            raise NotImplementedError(
                "pdf: encrypted document (short V5 /U entry)"
            )
        vsalt, ksalt = u[32:40], u[40:48]
        if r == 6:
            if _hash_2b(b"", vsalt, b"") != u[:32]:
                raise NotImplementedError(
                    "pdf: encrypted document (user password required)"
                )
            ikey = _hash_2b(b"", ksalt, b"")
        else:  # R5 (the deprecated Adobe ExtensionLevel 3 form)
            if hashlib.sha256(vsalt).digest() != u[:32]:
                raise NotImplementedError(
                    "pdf: encrypted document (user password required)"
                )
            ikey = hashlib.sha256(ksalt).digest()
        ue = ed.get("UE")
        if not isinstance(ue, bytes) or len(ue) != 32:
            raise NotImplementedError(
                "pdf: encrypted document (malformed V5 /UE entry)"
            )
        from timeseries_data_provider_spark.operators import aes as _aes

        key = _aes.cbc_decrypt(ikey, b"\x00" * 16 + ue, unpad=False)
        perms = ed.get("Perms")
        if isinstance(perms, bytes) and len(perms) == 16:
            blk = _aes.ecb_decrypt(key, perms)
            if blk[9:12] != b"adb":
                raise NotImplementedError(
                    "pdf: encrypted document (/Perms integrity check "
                    "failed — wrong key or tampered permissions)"
                )
    else:
        raise NotImplementedError(
            f"pdf: encrypted document (unsupported V={v} revision "
            f"R={r} handler)"
        )

    def obj_key(num: int, method: str) -> bytes:
        if method == "aes256":
            return key  # V5: the file key, no per-object derivation
        return _object_key(key, num, aes=(method == "aes128"))

    def apply(method: str, k: bytes, data: bytes) -> bytes:
        if method == "identity":
            return data
        if method == "rc4":
            return _rc4(k, data)
        return _aes_apply(k, data)

    def dec(vv, k):
        if isinstance(vv, bytes):
            return apply(str_m, k, vv)
        if isinstance(vv, list):
            return [dec(x, k) for x in vv]
        if isinstance(vv, dict):
            return {kk: dec(x, k) for kk, x in vv.items()}
        return vv

    def crypt_override(d: dict):
        """The per-stream crypt method when the filter chain carries
        an explicit /Crypt entry (§7.4.10): its /Name selects a
        SPECIFIC filter from /CF (default /Identity — plaintext),
        overriding the document's /StmF method (r12 review finding:
        a named non-Identity CF used to fall through to the default
        method and decrypt with the wrong cipher). None = no /Crypt
        entry, use the default."""
        filts = _resolve(objs, d.get("Filter"))
        if filts is None:
            return None
        if not isinstance(filts, list):
            filts = [filts]
        parms = _resolve(objs, d.get("DecodeParms", d.get("DP")))
        if not isinstance(parms, list):
            parms = [parms] * len(filts)
        for f, pm in zip(filts, parms):
            if str(_resolve(objs, f)) == "Crypt":
                pm = _resolve(objs, pm)
                name = "Identity"
                if isinstance(pm, dict):
                    name = str(
                        _resolve(objs, pm.get("Name", "Identity"))
                    )
                return _cf_method_by_name(objs, ed, name)
        return None

    for num in list(objs):
        if num == enc_num:
            continue
        val, stream = objs[num]
        if isinstance(val, dict) and str(val.get("Type")) == "XRef":
            # §7.5.8.2: cross-reference streams are never encrypted
            continue
        if str_m != "identity":
            val = dec(val, obj_key(num, str_m))
        if stream is not None and stm_m != "identity":
            d = val if isinstance(val, dict) else {}
            if not encrypt_metadata and str(d.get("Type")) == "Metadata":
                # §7.6.5: with /EncryptMetadata false the XMP stream
                # is stored plaintext — "decrypting" it would corrupt
                # it in place (the r11 ADVICE catch)
                pass
            else:
                ov = crypt_override(d)
                m = stm_m if ov is None else ov
                if m != "identity":
                    stream = apply(m, obj_key(num, m), stream)
        objs[num] = (val, stream)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode (§7.4.4.2): the TIFF LZW dialect — MSB-first
    variable-width codes 9→12 bits, 256 = clear, 257 = EOD, and the
    ``EarlyChange`` quirk. Pre-Flate PDFs (Acrobat ≤ 4 era) use this
    everywhere; it was a named gap until r11. Delegates to the ONE
    shared implementation in operators/tiff (identical bitstream —
    the r11 review caught this module growing its own copy); PDF
    passes expected=None (decode to EOD, tolerate a missing
    terminator — stream /Length bounds the input instead)."""
    from timeseries_data_provider_spark.operators.tiff import (
        _lzw_decode as _impl,
    )

    return _impl(data, expected=None, early_change=early_change)


def _png_unpredict(
    data: bytes, colors: int, bpc: int, columns: int
) -> bytes:
    """Invert the PNG row filters (§7.4.4.4 / RFC 2083): each row is
    a filter-type byte then ``columns*colors*bpc/8`` bytes filtered
    against the row above. Row-sequential by construction (Up/Paeth
    read the DECODED previous row), so plain Python loops — predicted
    streams are xref tables and small images, not the corpus body."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    n = len(data)
    while pos < n:
        ft = data[pos]
        pos += 1
        row = bytearray(data[pos : pos + rowlen])
        pos += rowlen
        if len(row) < rowlen:
            row += bytes(rowlen - len(row))
        if ft == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                row[i] = (row[i] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"pdf: bad PNG filter type {ft}")
        out += row
        prev = row
    return bytes(out)


def _a85_decode(data: bytes) -> bytes:
    """ASCII85Decode (§7.4.3, r12 late): base-85 groups of 5 chars
    -> 4 bytes, 'z' shorthand for four zero bytes (group-start
    only), whitespace ignored, '~>' terminates; a partial final
    group of n chars yields n-1 bytes (pad with 'u', truncate)."""
    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    out = bytearray()
    group: list[int] = []
    for b in data:
        if b in b" \t\r\n\x0c\x00":
            continue
        if b == 0x7A:  # 'z'
            if group:
                raise ValueError("pdf: 'z' inside an ASCII85 group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= b <= 0x75:  # '!' .. 'u'
            raise ValueError(f"pdf: ASCII85 byte {b:#04x}")
        group.append(b - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise ValueError("pdf: ASCII85 group overflows")
            out += v.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise ValueError("pdf: 1-char final ASCII85 group")
        n = len(group)
        v = 0
        for g in group + [84] * (5 - n):  # pad with 'u'
            v = v * 85 + g
        out += v.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def _a85_encode(data: bytes) -> bytes:
    """Fixture-side inverse of _a85_decode (no 'z' shorthand)."""
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i : i + 4]
        n = len(chunk)
        v = int.from_bytes(chunk.ljust(4, b"\x00"), "big")
        digits = []
        for _ in range(5):
            digits.append(v % 85)
            v //= 85
        out += bytes(0x21 + d for d in reversed(digits))[: n + 1]
    return bytes(out) + b"~>"


def _rle_decode(data: bytes) -> bytes:
    """RunLengthDecode (§7.4.5, r12 late): the PackBits scheme —
    length byte 0-127 copies the next L+1 literals, 129-255 repeats
    the next byte 257-L times, 128 is EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ln = data[i]
        i += 1
        if ln == 128:
            return bytes(out)
        if ln < 128:
            if i + ln + 1 > n:
                raise ValueError("pdf: RunLength literal overruns")
            out += data[i : i + ln + 1]
            i += ln + 1
        else:
            if i >= n:
                raise ValueError("pdf: RunLength repeat overruns")
            out += bytes([data[i]]) * (257 - ln)
            i += 1
    raise ValueError("pdf: RunLength stream ended without EOD")


def _rle_encode(data: bytes) -> bytes:
    """Fixture-side inverse of _rle_decode (naive: repeat runs >= 3
    become repeats, the rest literals)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i
            lit = bytearray()
            while j < n and len(lit) < 128:
                run = 1
                while (
                    j + run < n
                    and run < 3
                    and data[j + run] == data[j]
                ):
                    run += 1
                if run >= 3:
                    break
                lit += data[j : j + run]
                j += run
            lit = lit[:128]
            out += bytes([len(lit) - 1]) + lit
            i += len(lit)
    return bytes(out) + b"\x80"


def _decode_stream(objs, val: dict, raw: bytes) -> bytes:
    filt = _resolve(objs, val.get("Filter"))
    if filt is None:
        return raw
    filts = filt if isinstance(filt, list) else [filt]
    raw_parms = _resolve(objs, val.get("DecodeParms"))
    if isinstance(raw_parms, list):
        parms_list = [_resolve(objs, p) for p in raw_parms]
    else:
        parms_list = [raw_parms] * len(filts)
    data = raw
    for i, f in enumerate(filts):
        f = str(_resolve(objs, f))
        fp = parms_list[i] if i < len(parms_list) else None
        if f == "FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error as e:
                raise ValueError(f"pdf: bad Flate stream: {e}") from e
        elif f == "LZWDecode":
            early = 1
            if isinstance(fp, dict):
                early = int(_resolve(objs, fp.get("EarlyChange", 1)) or 0)
            data = _lzw_decode(data, early_change=early)
        elif f == "ASCIIHexDecode":
            h = re.sub(rb"[\s>]", b"", data)
            if len(h) % 2:
                h += b"0"
            data = bytes.fromhex(h.decode("ascii", "replace"))
        elif f == "ASCII85Decode":
            data = _a85_decode(data)
        elif f == "RunLengthDecode":
            data = _rle_decode(data)
        elif f == "Crypt":
            # §7.4.10: decryption is a document-level concern —
            # _decrypt_standard already applied the right filter (and
            # honors a per-stream /Identity entry), so by the time
            # decode filters run the bytes are plaintext
            pass
        else:
            raise NotImplementedError(
                f"pdf: stream filter {f} (Flate/LZW/ASCIIHex/"
                "ASCII85/RunLength only; DCT/JBIG2/CCITT are image "
                "filters)"
            )
    # predictor lookup reuses the SAME per-filter parms_list the loop
    # used (review finding: a second independent resolution of
    # DecodeParms could disagree with the first on malformed inputs):
    # the first entry that declares a Predictor owns it
    params = next(
        (
            p
            for p in parms_list
            if isinstance(p, dict) and p.get("Predictor")
        ),
        None,
    )
    if isinstance(params, dict):
        pred = _resolve(objs, params.get("Predictor", 1)) or 1
        if pred != 1:
            colors = int(_resolve(objs, params.get("Colors", 1)) or 1)
            bpc = int(
                _resolve(objs, params.get("BitsPerComponent", 8)) or 8
            )
            columns = int(_resolve(objs, params.get("Columns", 1)) or 1)
            if pred == 2:
                # TIFF Predictor 2: horizontal differencing (the
                # tiff.py Predictor-2 semantics, 8-bit components)
                if bpc != 8:
                    raise NotImplementedError(
                        "pdf: TIFF predictor with BitsPerComponent != 8"
                    )
                rowlen = columns * colors
                b = bytearray(data)
                for r0 in range(0, len(b), rowlen):
                    for i in range(
                        r0 + colors, min(r0 + rowlen, len(b))
                    ):
                        b[i] = (b[i] + b[i - colors]) & 0xFF
                data = bytes(b)
            elif pred >= 10:
                data = _png_unpredict(data, colors, bpc, columns)
            else:
                raise NotImplementedError(f"pdf: predictor {pred}")
    return data


def _unpack_objstm(objs: dict[int, tuple]) -> None:
    """Unpack ``/Type /ObjStm`` compressed object streams (§7.5.7 —
    the layout every modern PDF writer emits; review finding: this
    was the repo's #1 unnamed real-corpus gap) into the object map,
    in place. Stream layout: ``N`` pairs of ``objnum offset`` then
    the objects back-to-back starting at byte ``First``. A directly
    scanned top-level object keeps precedence over a compressed one
    of the same number (incremental-update safety); a stream that
    fails to decode is skipped, never fatal."""
    for num in list(objs):
        val, raw = objs[num]
        if not (
            isinstance(val, dict)
            and str(val.get("Type")) == "ObjStm"
            and raw is not None
        ):
            continue
        try:
            data = _decode_stream(objs, val, raw)
            n = int(_resolve(objs, val.get("N")) or 0)
            first = int(_resolve(objs, val.get("First")) or 0)
        except (ValueError, NotImplementedError, TypeError):
            continue
        if n <= 0 or first <= 0 or first > len(data):
            continue
        lex = _Lexer(data)
        pairs: list[tuple[int, int]] = []
        for _ in range(min(n, MAX_OBJECTS)):
            try:
                onum = lex.value()
                ooff = lex.value()
            except ValueError:
                break
            if not isinstance(onum, int) or not isinstance(ooff, int):
                break
            pairs.append((onum, ooff))
        for onum, ooff in pairs:
            if onum in objs or ooff < 0 or first + ooff >= len(data):
                continue
            try:
                v = _Lexer(data, first + ooff).value()
            except ValueError:
                continue
            objs[onum] = (v, None)


# -- fonts: ToUnicode CMaps + simple-font encodings (§9.10.3, §9.6.6) --

# Adobe glyph list, common subset: ASCII punctuation/digits (letters
# map to themselves); ``uniXXXX``/``uXXXX..`` parse by pattern.
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&",
    "quotesingle": "'", "parenleft": "(", "parenright": ")",
    "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "zero": "0", "one": "1", "two": "2",
    "three": "3", "four": "4", "five": "5", "six": "6", "seven": "7",
    "eight": "8", "nine": "9", "colon": ":", "semicolon": ";",
    "less": "<", "equal": "=", "greater": ">", "question": "?",
    "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
    "asciitilde": "~", "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "fi": "ﬁ", "fl": "ﬂ", "degree": "°",
    "eacute": "é", "egrave": "è", "agrave": "à",
    "ccedilla": "ç", "adieresis": "ä", "odieresis": "ö",
    "udieresis": "ü", "ntilde": "ñ",
}


def _glyph_to_char(name: str) -> str | None:
    if len(name) == 1:
        return name
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    if re.fullmatch(r"uni[0-9A-Fa-f]{4}", name):
        return chr(int(name[3:], 16))
    if re.fullmatch(r"u[0-9A-Fa-f]{4,6}", name):
        cp = int(name[1:], 16)
        return chr(cp) if cp <= 0x10FFFF else None
    return None


def _parse_tounicode(data: bytes) -> tuple[dict[bytes, str], list[int]]:
    """Parse a /ToUnicode CMap stream (§9.10.3): returns (code->text
    map, sorted distinct code byte-lengths from the codespace ranges,
    falling back to the lengths seen on bf entries, codespace
    (lo, hi) byte-ranges keyed by length). Values are UTF-16BE
    (surrogate pairs and multi-char ligature targets both decode).
    Hostile shapes stay inert (r15 review): zero-length codespace
    entries are dropped (they would stall the walk) and ranges whose
    hi bound overflows the lo bound's width are skipped (they would
    raise OverflowError mid-extraction)."""
    toks = re.findall(
        rb"<[0-9A-Fa-f\s]*>|\[|\]|[A-Za-z]+|[-+]?\d+", data
    )

    def hexb(t: bytes) -> bytes:
        h = re.sub(rb"\s", b"", t[1:-1])
        if len(h) % 2:
            h += b"0"
        return bytes.fromhex(h.decode("ascii"))

    def u16(b: bytes) -> str:
        return b.decode("utf-16-be", "ignore")

    cmap: dict[bytes, str] = {}
    lengths: set[int] = set()
    ranges: dict[int, list] = {}
    i, n = 0, len(toks)
    while i < n:
        t = toks[i]
        if t == b"begincodespacerange":
            i += 1
            while i + 1 < n and toks[i].startswith(b"<"):
                lo = hexb(toks[i])
                hi = (
                    hexb(toks[i + 1])
                    if toks[i + 1].startswith(b"<")
                    else lo
                )
                if lo and len(hi) == len(lo) and lo <= hi:
                    lengths.add(len(lo))
                    ranges.setdefault(len(lo), []).append((lo, hi))
                i += 2
        elif t == b"beginbfchar":
            i += 1
            while i + 1 < n and toks[i].startswith(b"<"):
                src = hexb(toks[i])
                if toks[i + 1].startswith(b"<"):
                    cmap[src] = u16(hexb(toks[i + 1]))
                i += 2
        elif t == b"beginbfrange":
            i += 1
            while i + 2 < n and toks[i].startswith(b"<"):
                lo = hexb(toks[i])
                hi = hexb(toks[i + 1])
                dst = toks[i + 2]
                lo_i = int.from_bytes(lo, "big")
                hi_i = int.from_bytes(hi, "big")
                span = hi_i - lo_i
                if (
                    span < 0 or span > 0xFFFF or not lo
                    or hi_i >= 256 ** len(lo)
                ):
                    i += 3
                    continue
                if dst == b"[":
                    i += 3
                    k = 0
                    while i < n and toks[i] != b"]":
                        if toks[i].startswith(b"<") and k <= span:
                            code = (lo_i + k).to_bytes(len(lo), "big")
                            cmap[code] = u16(hexb(toks[i]))
                        k += 1
                        i += 1
                    i += 1  # skip ]
                    continue
                if dst.startswith(b"<"):
                    base = hexb(dst)
                    base_i = int.from_bytes(base, "big")
                    if base and base_i + span < 256 ** len(base):
                        for k in range(span + 1):
                            code = (lo_i + k).to_bytes(
                                len(lo), "big"
                            )
                            cmap[code] = u16(
                                (base_i + k).to_bytes(
                                    len(base), "big"
                                )
                            )
                i += 3
        else:
            i += 1
    if not lengths:
        lengths = {len(k) for k in cmap if k} or {1}
        ranges = {}
    return cmap, sorted(lengths), ranges


def _cmap_decoder(cmap: dict, lengths: list[int],
                  ranges: dict | None = None, conv=None):
    """String-bytes -> text through a code map: at each position the
    code is framed by CODESPACE membership (§9.7.6.2/.3, r15 —
    shortest length first; ranges are prefix-free so the greedy
    walk is exact), so an in-space but unmapped code consumes its
    OWN length without emitting (a glyph with no Unicode) instead
    of desyncing every later code; out-of-space bytes advance by
    the shortest length. Without codespace ranges (bf-entry-only
    CMaps) membership falls back to map hits. ``conv`` turns
    stored values into text (the embedded-CMap CID path)."""
    step = max(lengths[0], 1)

    def dec(bs: bytes) -> str:
        out: list[str] = []
        p, n = 0, len(bs)
        while p < n:
            for ln in lengths:
                piece = bs[p : p + ln]
                if len(piece) < ln:
                    continue
                hit = cmap.get(piece)
                if hit is None:
                    if ranges is not None and any(
                        lo <= piece <= hi
                        for lo, hi in ranges.get(ln, ())
                    ):
                        p += ln  # in-space notdef: no text
                        break
                    continue
                out.append(conv(hit) if conv is not None else hit)
                p += ln
                break
            else:
                p += step
        return "".join(out)

    return dec


def _latin1_decoder(bs: bytes) -> str:
    return bs.decode("latin-1")


def _predefined_cmap_decoder(name: str):
    """Predefined /Encoding CMap names whose CODE SPACE is itself a
    published character encoding (r15, VERDICT r14 item 1b): for
    these, text recovery needs no font at all — the string bytes ARE
    the named charset. ISO 32000-1 Table 118 defines each name's
    code space: the Uni*-UCS2/UTF16 families are coded directly in
    Unicode (UCS-2 / UTF-16BE), and the RKSJ/GBK/UHC/B5/EUC families
    are coded in the Microsoft code pages / EUC encodings the table
    names, for which Python's codecs are the authoritative public
    implementations. Vendor-platform variants (83pv/90pv/GBpc/B5pc/
    KSCpc/Add/Ext/CNS-EUC) differ in corner regions without a
    bundled stdlib codec and stay the named no-text gap."""
    if name in ("H", "V"):
        # JIS X 0208 coded in the ISO-2022 2-byte region (0x2121-
        # 0x7E7E): wrap in the JIS escape and let the stdlib
        # iso2022_jp codec decode it
        return lambda bs: (
            b"\x1b$B" + bs + b"\x1b(B"
        ).decode("iso2022_jp", "ignore")
    codec = _PREDEFINED_CMAP_CODECS.get(name)
    if codec is None:
        return None
    return lambda bs, c=codec: bs.decode(c, "ignore")


UTF16 = "utf-16-be"
_PREDEFINED_CMAP_CODECS = {
        # Unicode-coded (the code IS the UTF-16BE value)
        "UniJIS-UCS2-H": UTF16, "UniJIS-UCS2-V": UTF16,
        "UniJIS-UCS2-HW-H": UTF16, "UniJIS-UCS2-HW-V": UTF16,
        "UniJIS-UTF16-H": UTF16, "UniJIS-UTF16-V": UTF16,
        "UniGB-UCS2-H": UTF16, "UniGB-UCS2-V": UTF16,
        "UniGB-UTF16-H": UTF16, "UniGB-UTF16-V": UTF16,
        "UniCNS-UCS2-H": UTF16, "UniCNS-UCS2-V": UTF16,
        "UniCNS-UTF16-H": UTF16, "UniCNS-UTF16-V": UTF16,
        "UniKS-UCS2-H": UTF16, "UniKS-UCS2-V": UTF16,
        "UniKS-UTF16-H": UTF16, "UniKS-UTF16-V": UTF16,
        # Microsoft code-page code spaces (Table 118 names the page)
        "90ms-RKSJ-H": "cp932", "90ms-RKSJ-V": "cp932",
        "90msp-RKSJ-H": "cp932", "90msp-RKSJ-V": "cp932",
        "GBK-EUC-H": "gbk", "GBK-EUC-V": "gbk",
        "GBKp-EUC-H": "gbk", "GBKp-EUC-V": "gbk",
        "GBK2K-H": "gb18030", "GBK2K-V": "gb18030",
        "KSCms-UHC-H": "cp949", "KSCms-UHC-V": "cp949",
        "KSCms-UHC-HW-H": "cp949", "KSCms-UHC-HW-V": "cp949",
        "ETen-B5-H": "cp950", "ETen-B5-V": "cp950",
        "ETenms-B5-H": "cp950", "ETenms-B5-V": "cp950",
        "HKscs-B5-H": "big5hkscs", "HKscs-B5-V": "big5hkscs",
        # EUC code spaces
        "EUC-H": "euc_jp", "EUC-V": "euc_jp",
        "GB-EUC-H": "gb2312", "GB-EUC-V": "gb2312",
        "KSC-EUC-H": "euc_kr", "KSC-EUC-V": "euc_kr",
}
del UTF16


def _parse_cid_cmap(data: bytes):
    """Embedded /Encoding CMap stream (§9.7.5.3, r15 — VERDICT r14
    item 1a): code bytes -> integer CID through codespacerange /
    cidrange / cidchar, the same tokenizer discipline as
    _parse_tounicode (and the same r15 hostile-shape guards:
    zero-length codespace entries dropped, width-overflowing range
    bounds skipped). Returns (code -> CID map, sorted lengths,
    codespace ranges by length). Streams composing another CMap via
    ``usecmap`` are not modeled: None -> no text, never garbage."""
    if re.search(rb"usecmap\b", data):
        return None
    toks = re.findall(
        rb"<[0-9A-Fa-f\s]*>|\[|\]|[A-Za-z]+|[-+]?\d+", data
    )

    def hexb(t: bytes) -> bytes:
        h = re.sub(rb"\s", b"", t[1:-1])
        if len(h) % 2:
            h += b"0"
        return bytes.fromhex(h.decode("ascii"))

    cmap: dict[bytes, int] = {}
    lengths: set[int] = set()
    ranges: dict[int, list] = {}
    i, n = 0, len(toks)
    while i < n:
        t = toks[i]
        if t == b"begincodespacerange":
            i += 1
            while i + 1 < n and toks[i].startswith(b"<"):
                lo = hexb(toks[i])
                hi = (
                    hexb(toks[i + 1])
                    if toks[i + 1].startswith(b"<")
                    else lo
                )
                if lo and len(hi) == len(lo) and lo <= hi:
                    lengths.add(len(lo))
                    ranges.setdefault(len(lo), []).append((lo, hi))
                i += 2
        elif t == b"begincidchar":
            i += 1
            while i + 1 < n and toks[i].startswith(b"<"):
                src2 = hexb(toks[i])
                if src2 and re.fullmatch(rb"[-+]?\d+", toks[i + 1]):
                    cmap[src2] = int(toks[i + 1])
                i += 2
        elif t == b"begincidrange":
            i += 1
            while i + 2 < n and toks[i].startswith(b"<"):
                lo = hexb(toks[i])
                hi = hexb(toks[i + 1])
                dst = toks[i + 2]
                lo_i = int.from_bytes(lo, "big")
                hi_i = int.from_bytes(hi, "big")
                span = hi_i - lo_i
                if (
                    lo
                    and hi_i < 256 ** len(lo)
                    and 0 <= span <= 0xFFFF
                    and re.fullmatch(rb"[-+]?\d+", dst)
                ):
                    base = int(dst)
                    for k in range(span + 1):
                        cmap[
                            (lo_i + k).to_bytes(len(lo), "big")
                        ] = base + k
                i += 3
        else:
            i += 1
    if not lengths:
        lengths = {len(k) for k in cmap if k} or {2}
        ranges = {}
    return cmap, sorted(lengths), ranges


def _cid_text_fn(objs: dict, fd: dict):
    """CID -> text lookup built from the descendant font's embedded
    program (r15 — factored out of the formerly Identity-H-only
    decoders so an embedded-CMap /Encoding composes with every
    fontfile ladder): FontFile2 goes through the TrueType's own
    ``cmap`` inversion (operators/sfnt) with CIDs first mapped
    through a /CIDToGIDMap STREAM when subset-renumbered (r12);
    FontFile3 dispatches to the CFF ladders. Returns a callable
    cid -> str ('' for no glyph/no Unicode) or None when no chain is
    usable (no text, never garbage)."""
    desc = _resolve(objs, fd.get("DescendantFonts"))
    if not (isinstance(desc, list) and desc):
        return None
    d0 = _resolve(objs, desc[0])
    if not isinstance(d0, dict):
        return None
    c2g = d0.get("CIDToGIDMap")
    gid_map = None
    if isinstance(c2g, _Ref):
        # stream form (§9.7.4.3, r12 late): 2 bytes per CID, the
        # big-endian glyph id — subset fonts commonly renumber
        tgt = objs.get(c2g.num)
        if not tgt or tgt[1] is None:
            return None
        try:
            gid_map = _decode_stream(objs, tgt[0], tgt[1])
        except (ValueError, NotImplementedError):
            return None
    elif c2g is not None and str(_resolve(objs, c2g)) != "Identity":
        return None
    fdesc = _resolve(objs, d0.get("FontDescriptor"))
    if not isinstance(fdesc, dict):
        return None
    ff = fdesc.get("FontFile2")
    if not isinstance(ff, _Ref):
        return _cff_cid_text_fn(objs, fdesc)
    tgt = objs.get(ff.num)
    if not tgt or tgt[1] is None:
        return None
    from timeseries_data_provider_spark.operators import sfnt as _sfnt

    try:
        table = _sfnt.gid_to_unicode(
            _decode_stream(objs, tgt[0], tgt[1])
        )
    except (ValueError, NotImplementedError):
        return None  # damaged font: no text, extraction survives

    def cid_text(cid: int, t=table, gm=gid_map) -> str:
        if gm is not None:
            if 2 * cid + 1 >= len(gm):
                return ""  # CID past the map: no glyph, no text
            cid = (gm[2 * cid] << 8) | gm[2 * cid + 1]
        return t.get(cid, "")

    return cid_text


def _cff_cid_text_fn(objs: dict, fdesc: dict):
    """CID -> text for FontFile3 programs (r13, CID-level r15). Two
    recoverable forms, per operators/cff:

    - /Subtype /OpenType (the stream is a full OTTO sfnt): Unicode
      comes from the sfnt ``cmap`` inversion, and when the embedded
      CFF is CID-keyed its charset inverts CID -> GID first;
    - bare Type1C (non-CID): CIDs are glyph indices and the CFF
      charset's glyph NAMES (standard block + ``uniXXXX`` customs)
      map to text.

    A bare CID-KEYED CFF recovers through the predefined ROS
    ordering's transcribed ranges (r14, cff.ros_cid_to_unicode —
    Adobe-Japan1 Latin + kana); orderings outside the transcribed
    set still yield no text (named gap — their Unicode lives in the
    full external CMap files). /CIDToGIDMap is CIDFontType2-only
    (§9.7.4.3) and is ignored unconditionally for FontFile3 fonts —
    for the OTTO form the CFF charset itself carries the CID -> GID
    renumbering."""
    ff3 = fdesc.get("FontFile3")
    if not isinstance(ff3, _Ref):
        return None
    tgt = objs.get(ff3.num)
    if not tgt or tgt[1] is None:
        return None
    try:
        prog = _decode_stream(objs, tgt[0], tgt[1])
    except (ValueError, NotImplementedError):
        return None
    from timeseries_data_provider_spark.operators import cff as _cff
    from timeseries_data_provider_spark.operators import sfnt as _sfnt

    if prog[:4] == b"OTTO":
        try:
            uni = _sfnt.gid_to_unicode(prog)
            cff_table = _cff.otto_cff(prog)
            c2g = _cff.cid_to_gid(cff_table)
        except (ValueError, NotImplementedError):
            return None

        def cid_text(cid: int, uni=uni, c2g=c2g) -> str:
            gid = c2g.get(cid)
            return uni.get(gid, "") if gid is not None else ""

        return cid_text
    try:
        table = _cff.cid_to_unicode_table(prog)
    except (ValueError, NotImplementedError):
        return None
    if table is None:
        return None  # untranscribed ROS ordering: the named gap
    return lambda cid, t=table: t.get(cid, "")


def _type0_decoder(objs: dict, fd: dict):
    """Type0 with NO usable /ToUnicode (r11 gap, widened r12/r13/r14,
    /Encoding gate opened r15 — VERDICT r14 item 1). Three code
    stages compose with the CID -> text ladders of _cid_text_fn:

    - Identity-H/V: each 2-byte big-endian code IS the CID;
    - an EMBEDDED CMap stream /Encoding (§9.7.5.3): codes walk the
      stream's codespace ranges greedily (prefix-free per §9.7.6.2)
      into CIDs through its cidrange/cidchar entries;
    - predefined CMap names whose code space is a published charset
      (_predefined_cmap_decoder): the bytes decode directly — no
      font needed.

    Anything else (untranscribed predefined registries, usecmap
    composition, damaged chains) returns None: no text, never
    garbage."""
    enc_raw = fd.get("Encoding")
    if isinstance(enc_raw, _Ref) and enc_raw.num in objs and (
        objs[enc_raw.num][1] is not None
    ):
        tgt = objs[enc_raw.num]
        try:
            data = _decode_stream(objs, tgt[0], tgt[1])
        except (ValueError, NotImplementedError):
            return None
        parsed = _parse_cid_cmap(data)
        if parsed is None or not parsed[0]:
            return None
        cidmap, lengths, cranges = parsed
        cid_text = _cid_text_fn(objs, fd)
        if cid_text is None:
            return None
        return _cmap_decoder(cidmap, lengths, cranges, conv=cid_text)
    enc = str(_resolve(objs, enc_raw) or "")
    if enc not in ("Identity-H", "Identity-V"):
        return _predefined_cmap_decoder(enc)
    cid_text = _cid_text_fn(objs, fd)
    if cid_text is None:
        return None

    def dec(bs: bytes, ct=cid_text) -> str:
        return "".join(
            ct((bs[i] << 8) | bs[i + 1])
            for i in range(0, len(bs) - 1, 2)
        )

    return dec


def _font_decoders(objs: dict, resources) -> dict[str, object]:
    """Resource name -> string decoder for one page's /Resources
    /Font. Precedence per font: /ToUnicode CMap (composite and simple
    fonts both); else Type0 recovers through the embedded TrueType's
    cmap table (Identity-H + FontFile2, r12) and decodes to NO text
    when that chain is absent too (CFF/FontFile3 stays the named
    gap); else /Encoding /Differences over a Latin-1 base; else
    Latin-1. Malformed font objects fall back to Latin-1 —
    extraction never dies on a bad font."""
    out: dict[str, object] = {}
    res = _resolve(objs, resources)
    if not isinstance(res, dict):
        return out
    fonts = _resolve(objs, res.get("Font"))
    if not isinstance(fonts, dict):
        return out
    for name, fref in fonts.items():
        try:
            fd = _resolve(objs, fref)
            if not isinstance(fd, dict):
                continue
            tu = fd.get("ToUnicode")
            if tu is not None:
                target = (
                    objs.get(tu.num) if isinstance(tu, _Ref) else None
                )
                if target and target[1] is not None:
                    data = _decode_stream(objs, target[0], target[1])
                    cmap, lengths, cranges = _parse_tounicode(data)
                    if cmap:
                        out[str(name)] = _cmap_decoder(
                            cmap, lengths, cranges
                        )
                        continue
            if str(fd.get("Subtype")) == "Type0":
                # no usable ToUnicode: recover through the embedded
                # TrueType's cmap when present (r12); otherwise the
                # codes are unrecoverable glyph indices and Latin-1
                # would emit garbage — emit nothing
                dec = _type0_decoder(objs, fd)
                out[str(name)] = dec if dec is not None else (
                    lambda bs: ""
                )
                continue
            encd = _resolve(objs, fd.get("Encoding"))
            if isinstance(encd, dict) and "Differences" in encd:
                table = {b: chr(b) for b in range(256)}
                code = 0
                for item in _resolve(objs, encd["Differences"]) or []:
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, _Name) and 0 <= code <= 255:
                        # a name OUTSIDE the common glyph subset maps
                        # to NO text — the byte's Latin-1 identity is
                        # wrong once Differences re-bound it (e.g.
                        # /alpha on code 65 is not 'A')
                        table[code] = _glyph_to_char(str(item)) or ""
                        code += 1
                out[str(name)] = lambda bs, t=table: "".join(
                    t.get(b, "") for b in bs
                )
        except (ValueError, NotImplementedError, AttributeError):
            continue
    return out


_TEXT_SHOW = (b"Tj", b"'", b'"', b"TJ")


def _extract_text_from_content(
    content: bytes, fonts: dict[str, object] | None = None
) -> list[str]:
    """Walk a content stream's operators; emit one string per BT..ET
    object that produced glyphs (see the module contract). ``fonts``:
    resource-name -> string decoder (from ``_font_decoders``); ``Tf``
    switches the active decoder — fonts absent from the map (and the
    no-fonts case) decode Latin-1, the pre-r11 behavior."""
    lex = _Lexer(content)
    lines: list[str] = []
    cur: list[str] = []
    in_text = False
    stack: list = []
    dec = _latin1_decoder
    n = len(content)
    while True:
        lex._skip_ws()
        if lex.p >= n:
            break
        c = content[lex.p]
        if c in b"([</" or (0x30 <= c <= 0x39) or c in b"+-.":
            try:
                stack.append(lex.value())
            except ValueError:
                lex.p += 1
            continue
        try:
            op = lex._token()
        except ValueError:
            break
        if op == b"BT":
            in_text = True
            cur = []
            stack = []
        elif op == b"ET":
            if cur:
                text = "".join(cur)
                text = " ".join(text.split())
                if text:
                    lines.append(text)
            in_text = False
            stack = []
        elif op == b"Tf":
            # font select persists across BT blocks (graphics state)
            if (
                fonts
                and len(stack) >= 2
                and isinstance(stack[-2], _Name)
            ):
                dec = fonts.get(str(stack[-2]), _latin1_decoder)
            stack = []
        elif in_text and op in (b"Td", b"TD", b"T*"):
            if cur and not cur[-1].endswith(" "):
                cur.append(" ")
            stack = []
        elif in_text and op == b"Tj":
            if stack and isinstance(stack[-1], bytes):
                cur.append(dec(stack[-1]))
            stack = []
        elif in_text and op in (b"'", b'"'):
            if cur and not cur[-1].endswith(" "):
                cur.append(" ")
            if stack and isinstance(stack[-1], bytes):
                cur.append(dec(stack[-1]))
            stack = []
        elif in_text and op == b"TJ":
            if stack and isinstance(stack[-1], list):
                for item in stack[-1]:
                    if isinstance(item, bytes):
                        cur.append(dec(item))
                    elif (
                        isinstance(item, (int, float)) and item < -100
                    ):
                        if cur and not cur[-1].endswith(" "):
                            cur.append(" ")
            stack = []
        else:
            stack = []
    return lines


def _open_pdf(payload: bytes):
    """Shared document prologue: parse objects, read the trailer(s)
    (classic and xref-stream forms), decrypt, unpack ObjStms, walk
    the page tree. Returns (version, objs, page_objs, info) where
    ``page_objs`` is [(page dict, inherited /Resources)] in document
    order."""
    if payload[:5] != b"%PDF-":
        raise ValueError("pdf: bad magic")
    version = payload[5:8].decode("latin-1", "replace")
    objs = _parse_objects(payload)
    if not objs:
        raise ValueError("pdf: no objects found")
    # trailer(s): Root/Info/Encrypt/ID; RC4 + empty user password
    # decrypts (r11), everything else encrypted is a named stop
    root = info = encrypt = doc_id = None
    for m in re.finditer(rb"trailer\b", payload):
        lex = _Lexer(payload, m.end())
        try:
            tr = lex.value()
        except ValueError:
            continue
        if isinstance(tr, dict):
            encrypt = tr.get("Encrypt", encrypt)
            doc_id = tr.get("ID", doc_id)
            root = tr.get("Root", root)
            info = tr.get("Info", info)
    # 1.5+ xref-STREAM form: the trailer dict lives on the /Type /XRef
    # object itself (§7.5.8) — read Root/Info/Encrypt/ID from it
    for num, (val, _) in objs.items():
        if isinstance(val, dict) and str(val.get("Type")) == "XRef":
            encrypt = val.get("Encrypt", encrypt)
            doc_id = val.get("ID", doc_id)
            if root is None:
                root = val.get("Root")
            if info is None:
                info = val.get("Info")
    if encrypt is not None:
        _decrypt_standard(objs, encrypt, doc_id)
    _unpack_objstm(objs)
    if root is None:
        # 1.5+ xref-stream form: the catalog is an object with /Type
        # /Catalog — find it directly (object scan already has it)
        for num, (val, _) in objs.items():
            if isinstance(val, dict) and str(val.get("Type")) == "Catalog":
                root = _Ref(num, 0)
                break
    if root is None:
        raise ValueError("pdf: no document catalog")
    catalog = _resolve(objs, root)
    if catalog is not None and not isinstance(catalog, dict):
        # r14 fuzz finding (same family as the page-tree guard)
        raise ValueError("pdf: catalog is not a dict")
    pages_root = _resolve(objs, catalog.get("Pages")) if catalog else None
    page_objs: list[tuple[dict, object]] = []

    def walk(node, depth=0, inherited_res=None):
        if node is None or depth > 64:
            return
        if not isinstance(node, dict):
            # r14 fuzz finding: a /Kids entry resolving to a
            # non-dict crashed the walk with a raw AttributeError,
            # which would ESCAPE the quarantine envelope's
            # (ValueError, NotImplementedError) net and kill the
            # task — malformed trees must be the named error
            raise ValueError("pdf: page tree node is not a dict")
        t = str(node.get("Type", ""))
        res = node.get("Resources", inherited_res)
        if t == "Pages":
            for kid in _resolve(objs, node.get("Kids")) or []:
                walk(_resolve(objs, kid), depth + 1, res)
        elif t == "Page":
            page_objs.append((node, res))

    if pages_root:
        walk(pages_root)
    return version, objs, page_objs, info


def _content_bytes(objs, raw) -> bytes:
    """Resolve a page's /Contents (one stream, a ref to an array, or
    an array of stream refs) into one decoded byte string. §7.8.2:
    multiple streams concatenate WITH intervening whitespace (ET+BT
    must not fuse into one token across the boundary)."""
    if isinstance(raw, _Ref):
        tgt = objs.get(raw.num)
        streams = tgt[0] if tgt and isinstance(tgt[0], list) else [raw]
    elif isinstance(raw, list):
        streams = raw
    else:
        streams = []
    body = b""
    for s in streams:
        if isinstance(s, _Ref):
            target = objs.get(s.num)
            if target and target[1] is not None:
                body += _decode_stream(objs, target[0], target[1]) + b"\n"
    return body


def extract_pdf(payload: bytes) -> dict:
    """Extract text + structure from a PDF: {n_pages, text (one line
    per text object, pages separated by form-feed), title, producer,
    pdf_version}. Encrypted documents raise the named error."""
    version, objs, page_objs, info = _open_pdf(payload)
    pages_text: list[str] = []
    for pg, res in page_objs:
        fonts = _font_decoders(objs, res) if res is not None else {}
        body = _content_bytes(objs, pg.get("Contents"))
        pages_text.append(
            "\n".join(_extract_text_from_content(body, fonts))
        )
    meta = _resolve(objs, info) if info is not None else None
    title = producer = None
    if isinstance(meta, dict):
        t = _resolve(objs, meta.get("Title"))
        p = _resolve(objs, meta.get("Producer"))
        title = t.decode("latin-1") if isinstance(t, bytes) else t
        producer = p.decode("latin-1") if isinstance(p, bytes) else p
    return {
        "pdf_version": version,
        "n_pages": len(page_objs),
        "text": "\x0c".join(pages_text),
        "title": title,
        "producer": producer,
    }


# -- image XObject extraction (r11 late) --------------------------------
# Scanned documents — the highest-volume PDF class in a crawl corpus —
# are PDFs wrapping one page-sized image per page (CCITT fax for
# bilevel scans, DCT/JPEG for photographic ones). Extracting those
# rasters feeds the image-dedup ladder (pixel-hash/dHash/pHash) and
# any OCR tier. Decode support: DCTDecode through the in-repo baseline
# JPEG codec (incl. 4-component Adobe/APP14 CMYK and YCCK with the
# inverted-storage quirk, r12), CCITTFaxDecode through operators/ccitt
# (K<0 G4, K=0 unaligned/aligned 1D, K>0 mixed 2D), and raw rasters
# (DeviceGray/DeviceRGB/CalGray/CalRGB at 1/2/4/8 bits, DeviceCMYK at
# 8, Indexed palettes, ICCBased mapped by /N to the device space — a
# stated colorimetric approximation, fine for a dedup/feature tier).
# Inline BI..ID..EI images and images nested inside Form XObject
# resource trees also extract (r11 late). JBIG2Decode generic
# regions (MQ templates 0-3 nominal-AT, TPGDON, MMR, page
# composition, JBIG2Globals plumbing) decode through operators/jbig2
# (r12). /Decode arrays apply as identity/inversion per component,
# incl. BlackIs1 interplay on fax and index reversal on Indexed
# (r12); JPXDecode decodes JPEG 2000 through operators/jpx (r13/r14
# — the archive book-scan class: 5/3 + 9/7, quality layers, all five
# progressions, tiles, multiple tile-parts, the common coder
# options; the residual cells stay named inside that module).
# Fractional /Decode endpoints remap linearly as of r13
# (_apply_decode — floor(x+0.5), a stated colorimetric
# approximation; bilevel filters keep the binary identity/inversion
# contract). Separation and multi-colorant DeviceN decode through
# their tint transforms — exponential (2), sampled (0), stitching
# (3), and the vectorized type 4 PostScript calculator — into the
# alternate device space, and Lab through the D50 inverse-f +
# XYZ->sRGB chain (r14 — stated colorimetric approximations, the
# ICCBased precedent); multi-input sampled functions stay named.

_MAX_IMAGE_PIXELS = 64 * 1024 * 1024

_IMAGE_FILTERS = (
    "DCTDecode",
    "CCITTFaxDecode",
    "JPXDecode",
    "JBIG2Decode",
)


def _unpack_samples(
    data: bytes, w: int, h: int, ncomp: int, bpc: int
) -> "np.ndarray":
    """Raster rows pad to byte boundaries (§8.9.5.2); unpack to an
    (h, w, ncomp) uint8 array of UNSCALED sample values."""
    import numpy as np

    row_bytes = (w * ncomp * bpc + 7) // 8
    if len(data) < row_bytes * h:
        raise ValueError(
            f"pdf: image raster carries {len(data)} bytes, needs "
            f"{row_bytes * h}"
        )
    arr = np.frombuffer(data[: row_bytes * h], np.uint8).reshape(
        h, row_bytes
    )
    if bpc == 8:
        out = arr[:, : w * ncomp]
    else:
        bits = np.unpackbits(arr, axis=1)[:, : w * ncomp * bpc]
        weights = 1 << np.arange(bpc - 1, -1, -1, dtype=np.uint8)
        out = (
            (bits.reshape(h, w * ncomp, bpc) * weights)
            .sum(axis=2)
            .astype(np.uint8)
        )
    return out.reshape(h, w, ncomp)


def _decode_inversion(objs, decode, ncomp: int) -> list:
    """Normalize a /Decode array (§8.9.5.2 Table 89) into per-
    component inversion flags. Each component's default range is
    [0 1] (the Indexed case is handled at its call site); the only
    mappings expressible in this engine's integer-exact pixel
    contract are the identity [0 1] and the full inversion [1 0] —
    fractional endpoints raise the named error (a tone-curve remap
    belongs to a rendering library, not a dedup/feature tier)."""
    if decode is None:
        return [False] * ncomp
    if not isinstance(decode, list) or len(decode) != 2 * ncomp:
        raise ValueError(
            f"pdf: /Decode array needs {2 * ncomp} numbers"
        )
    flags = []
    for i in range(ncomp):
        lo = _resolve(objs, decode[2 * i])
        hi = _resolve(objs, decode[2 * i + 1])
        if (lo, hi) == (0, 1):
            flags.append(False)
        elif (lo, hi) == (1, 0):
            flags.append(True)
        else:
            raise NotImplementedError(
                f"pdf: unsupported /Decode endpoints [{lo} {hi}] "
                "(identity and inversion only)"
            )
    return flags


def _decode_remap(objs, decode, ncomp: int):
    """General /Decode endpoints for 8-bit component rasters (r13 —
    the fractional tone-curve remap was a named gap): returns None
    for identity, else per-component (lo, hi) float pairs. The exact
    integer identity/inversion behavior is preserved in
    _apply_decode; fractional pairs remap linearly with
    floor(x + 0.5) rounding (deterministic, stated — a colorimetric
    approximation in the ICCBased spirit, fine for a dedup/feature
    tier)."""
    if decode is None:
        return None
    if not isinstance(decode, list) or len(decode) != 2 * ncomp:
        raise ValueError(
            f"pdf: /Decode array needs {2 * ncomp} numbers"
        )
    pairs = []
    for i in range(ncomp):
        lo = _resolve(objs, decode[2 * i])
        hi = _resolve(objs, decode[2 * i + 1])
        if not isinstance(lo, (int, float)) or not isinstance(
            hi, (int, float)
        ):
            raise ValueError("pdf: non-numeric /Decode endpoint")
        pairs.append((float(lo), float(hi)))
    if all(p == (0.0, 1.0) for p in pairs):
        return None
    return pairs


def _ps_tokenize(src: bytes) -> list:
    """PostScript-calculator source -> nested procedure lists
    (numbers, operator-name strings, sub-procs)."""
    toks = re.findall(
        rb"\{|\}|[^\s{}]+", src
    )
    pos = 0

    def build():
        nonlocal pos
        out = []
        while pos < len(toks):
            t = toks[pos]
            pos += 1
            if t == b"{":
                out.append(build())
            elif t == b"}":
                return out
            elif re.fullmatch(
                rb"[-+]?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?", t
            ):
                out.append(float(t))
            else:
                # strict numeric syntax: 'nan'/'inf' would otherwise
                # slip past the unknown-operator error (r14 review)
                out.append(t.decode("latin-1"))
        raise ValueError("pdf: unbalanced calculator braces")

    if not toks or toks[0] != b"{":
        raise ValueError("pdf: calculator stream must open a proc")
    pos = 1
    proc = build()
    return proc


def _ps_exec(proc, stack, depth=0):
    """Execute a type 4 calculator procedure over a stack of numpy
    arrays / scalars (§7.10.5 — vectorized: every operator maps
    element-wise, and an array-valued if/ifelse runs BOTH branches
    and blends with where, requiring equal stack growth)."""
    import numpy as np

    if depth > 32:
        raise ValueError("pdf: calculator recursion too deep")

    def pop():
        if not stack:
            raise ValueError("pdf: calculator stack underflow")
        return stack.pop()

    def as_int(v):
        return np.trunc(v) if isinstance(v, np.ndarray) else float(
            int(v)
        )

    i = 0
    while i < len(proc):
        op = proc[i]
        i += 1
        if isinstance(op, (float, list)):
            stack.append(op)
            continue
        if op in ("true", "false"):
            stack.append(1.0 if op == "true" else 0.0)
        elif op == "if" or op == "ifelse":
            p2 = pop() if op == "ifelse" else None
            p1 = pop()
            cond = pop()
            if not isinstance(p1, list) or (
                op == "ifelse" and not isinstance(p2, list)
            ):
                raise ValueError("pdf: calculator if needs procs")
            if isinstance(cond, np.ndarray):
                s1 = list(stack)
                _ps_exec(p1, s1, depth + 1)
                s2 = list(stack)
                if p2 is not None:
                    _ps_exec(p2, s2, depth + 1)
                if len(s1) != len(s2):
                    raise NotImplementedError(
                        "pdf: calculator branches with unequal "
                        "stack growth over array inputs"
                    )
                stack[:] = [
                    np.where(cond != 0, a, b)
                    for a, b in zip(s1, s2)
                ]
            elif cond:
                _ps_exec(p1, stack, depth + 1)
            elif p2 is not None:
                _ps_exec(p2, stack, depth + 1)
        elif op in ("add", "sub", "mul", "div", "atan", "exp",
                    "mod", "idiv", "bitshift"):
            b = pop()
            a = pop()
            if op == "add":
                stack.append(a + b)
            elif op == "sub":
                stack.append(a - b)
            elif op == "mul":
                stack.append(a * b)
            elif op == "div":
                stack.append(a / b)
            elif op == "exp":
                stack.append(np.power(a, b))
            elif op == "atan":
                v = np.degrees(np.arctan2(a, b))
                stack.append(np.where(v < 0, v + 360.0, v))
            elif op == "mod":
                stack.append(
                    np.fmod(as_int(a), as_int(b))
                )
            elif op == "idiv":
                stack.append(np.trunc(as_int(a) / as_int(b)))
            else:  # bitshift
                av = as_int(a)
                bv = as_int(b)
                stack.append(
                    np.where(
                        bv >= 0,
                        av * np.power(2.0, np.abs(bv)),
                        np.floor(av / np.power(2.0, np.abs(bv))),
                    )
                    if isinstance(av, np.ndarray)
                    or isinstance(bv, np.ndarray)
                    else float(
                        int(av) << int(bv)
                        if bv >= 0
                        else int(av) >> -int(bv)
                    )
                )
        elif op in ("neg", "abs", "sqrt", "sin", "cos", "ln",
                    "log", "cvi", "cvr", "floor", "ceiling",
                    "round", "truncate", "not"):
            a = pop()
            if op == "neg":
                stack.append(-a)
            elif op == "abs":
                stack.append(np.abs(a))
            elif op == "sqrt":
                stack.append(np.sqrt(a))
            elif op == "sin":
                stack.append(np.sin(np.radians(a)))
            elif op == "cos":
                stack.append(np.cos(np.radians(a)))
            elif op == "ln":
                stack.append(np.log(a))
            elif op == "log":
                stack.append(np.log10(a))
            elif op in ("cvi", "truncate"):
                stack.append(as_int(a))
            elif op == "cvr":
                stack.append(a)
            elif op == "floor":
                stack.append(np.floor(a))
            elif op == "ceiling":
                stack.append(np.ceil(a))
            elif op == "round":
                stack.append(np.round(a))
            else:  # not: logical on the 0/1 boolean encoding,
                # one's-complement on other integers (the two
                # PostScript operand types; a literal 0/1 integer
                # is indistinguishable from a boolean here — stated)
                if isinstance(a, np.ndarray):
                    ai = np.trunc(a).astype(np.int64)
                    stack.append(
                        np.where(
                            (a == 0) | (a == 1), 1.0 - a,
                            (~ai).astype(np.float64),
                        )
                    )
                else:
                    stack.append(
                        1.0 - a if a in (0.0, 1.0)
                        else float(~int(a))
                    )
        elif op in ("eq", "ne", "gt", "ge", "lt", "le"):
            b = pop()
            a = pop()
            table = {
                "eq": a == b, "ne": a != b, "gt": a > b,
                "ge": a >= b, "lt": a < b, "le": a <= b,
            }
            v = table[op]
            stack.append(
                v.astype(np.float64)
                if isinstance(v, np.ndarray)
                else float(bool(v))
            )
        elif op in ("and", "or", "xor"):
            # BITWISE on truncated integers (§7.10.5.2 — for the
            # 0/1 values comparisons produce here, bitwise and
            # logical coincide, so both PostScript operand types
            # behave correctly; r14 review)
            b = pop()
            a = pop()
            ai = (
                np.trunc(a).astype(np.int64)
                if isinstance(a, np.ndarray) else int(a)
            )
            bi = (
                np.trunc(b).astype(np.int64)
                if isinstance(b, np.ndarray) else int(b)
            )
            v = (
                ai & bi if op == "and"
                else ai | bi if op == "or" else ai ^ bi
            )
            stack.append(
                v.astype(np.float64)
                if isinstance(v, np.ndarray) else float(v)
            )
        elif op == "dup":
            a = pop()
            stack.append(a)
            stack.append(a)
        elif op == "pop":
            pop()
        elif op == "exch":
            b = pop()
            a = pop()
            stack.append(b)
            stack.append(a)
        elif op == "copy":
            n2 = int(pop())
            if n2 < 0 or n2 > len(stack):
                raise ValueError("pdf: calculator copy range")
            stack.extend(stack[len(stack) - n2 :])
        elif op == "index":
            n2 = int(pop())
            if n2 < 0 or n2 >= len(stack):
                raise ValueError("pdf: calculator index range")
            stack.append(stack[len(stack) - 1 - n2])
        elif op == "roll":
            j = int(pop())
            n2 = int(pop())
            if n2 < 0 or n2 > len(stack):
                raise ValueError("pdf: calculator roll range")
            if n2:
                j %= n2
                seg = stack[len(stack) - n2 :]
                stack[len(stack) - n2 :] = seg[-j:] + seg[:-j]
        else:
            raise NotImplementedError(
                f"pdf: calculator operator {op!r}"
            )


def _eval_function(objs, fn, x):
    """Evaluate a PDF function (§7.10) on float input(s) in [0, 1]
    — the tint-transform forms Separation/DeviceN spaces use (r14):

    - FunctionType 2 (exponential): y_j = C0_j + x^N (C1_j - C0_j);
    - FunctionType 0 (sampled): single input dimension, 8/16-bit
      samples, linear interpolation between the Size[0] samples,
      outputs scaled into Range;
    - FunctionType 3 (stitching): single input dispatched across
      Bounds into subfunctions through the per-segment Encode map;
    - FunctionType 4 (PostScript calculator): the vectorized RPN
      interpreter above — any input arity (DeviceN's form).

    ``x`` is one array or a list of arrays (multi-input calculator).
    Returns (shape + (n_outputs,)) float64. Multi-input sampled
    functions stay named."""
    import numpy as np

    xs = x if isinstance(x, list) else [x]
    x = xs[0]
    target = None
    if isinstance(fn, _Ref):
        target = objs.get(fn.num)
        if not target:
            raise ValueError("pdf: tint transform object missing")
        fd = target[0]
    else:
        fd = _resolve(objs, fn)
    if not isinstance(fd, dict):
        raise ValueError("pdf: tint transform is not a function")
    ftype = int(_resolve(objs, fd.get("FunctionType", -1)) or 0)
    dom = _resolve(objs, fd.get("Domain"))
    if (
        not isinstance(dom, list) or len(dom) < 2
        or any(
            (float(_resolve(objs, dom[2 * k])),
             float(_resolve(objs, dom[2 * k + 1]))) != (0.0, 1.0)
            for k in range(len(dom) // 2)
        )
    ):
        raise NotImplementedError(
            "pdf: tint transform domain other than [0 1] per input"
        )
    if len(dom) != 2 * len(xs):
        raise ValueError(
            "pdf: tint transform arity != colorant count"
        )
    if ftype == 4:
        if target is None or target[1] is None:
            raise ValueError(
                "pdf: calculator function without a stream"
            )
        proc = _ps_tokenize(_decode_stream(objs, fd, target[1]))
        rng = _resolve(objs, fd.get("Range"))
        if not isinstance(rng, list) or len(rng) < 2 or len(rng) % 2:
            raise ValueError("pdf: calculator function Range")
        n_out = len(rng) // 2
        stack = [np.asarray(v, np.float64) for v in xs]
        try:
            with np.errstate(all="ignore"):
                _ps_exec(proc, stack)
        except (ValueError, NotImplementedError):
            raise
        except (ZeroDivisionError, OverflowError, TypeError,
                IndexError, FloatingPointError) as e:
            # hostile programs must stay inside the quarantine
            # envelope's named-error net (r14 review finding)
            raise ValueError(
                f"pdf: calculator execution failed ({e})"
            )
        if len(stack) < n_out:
            raise ValueError(
                "pdf: calculator returned too few values"
            )
        outs = stack[len(stack) - n_out :]
        cols = []
        for j, v in enumerate(outs):
            lo = float(_resolve(objs, rng[2 * j]))
            hi = float(_resolve(objs, rng[2 * j + 1]))
            arr = np.broadcast_to(
                np.asarray(v, np.float64), xs[0].shape
            )
            # a hostile 0/0 inside the calculator yields NaN, whose
            # uint8 cast is platform garbage — pin it to lo
            cols.append(np.clip(np.nan_to_num(arr, nan=lo), lo, hi))
        return np.stack(cols, axis=-1)
    if len(xs) != 1:
        raise NotImplementedError(
            f"pdf: multi-input FunctionType {ftype}"
        )
    if ftype == 3:
        funcs = _resolve(objs, fd.get("Functions"))
        bounds = [
            float(_resolve(objs, b))
            for b in _resolve(objs, fd.get("Bounds")) or []
        ]
        enc = _resolve(objs, fd.get("Encode"))
        if not isinstance(funcs, list) or len(funcs) != len(
            bounds
        ) + 1:
            raise ValueError("pdf: stitching function shape")
        if not isinstance(enc, list) or len(enc) != 2 * len(funcs):
            raise ValueError("pdf: stitching Encode shape")
        edges = [0.0] + bounds + [1.0]
        out = None
        xv = np.clip(np.asarray(x, np.float64), 0.0, 1.0)
        covered = np.zeros(xv.shape, bool)
        for k in range(len(funcs)):
            lo, hi = edges[k], edges[k + 1]
            # membership: [lo, hi) except the last segment closes;
            # each sample evaluates through exactly ONE subfunction
            # (masked-only — r14 review: evaluating every segment
            # over the full raster did k-fold redundant work)
            mask = (xv >= lo) & (
                (xv < hi) if k < len(funcs) - 1 else (xv <= hi)
            )
            mask &= ~covered
            if not mask.any():
                continue
            e0 = float(_resolve(objs, enc[2 * k]))
            e1 = float(_resolve(objs, enc[2 * k + 1]))
            span = (hi - lo) or 1.0
            sub_x = e0 + (xv[mask] - lo) * ((e1 - e0) / span)
            sub = _eval_function(objs, funcs[k], np.clip(
                sub_x, 0.0, 1.0
            ))
            if out is None:
                out = np.zeros(xv.shape + sub.shape[-1:], np.float64)
            if sub.shape[-1] != out.shape[-1]:
                raise ValueError(
                    "pdf: stitching subfunction arity mismatch"
                )
            out[mask] = sub
            covered |= mask
        if out is None or not covered.all():
            # malformed Bounds can leave samples in no segment —
            # loud, never a silent 0 (r14 review finding)
            raise ValueError(
                "pdf: stitching segments do not cover the domain"
            )
        return out
    if ftype == 2:
        c0 = [float(_resolve(objs, v)) for v in
              _resolve(objs, fd.get("C0", [0.0]))]
        c1 = [float(_resolve(objs, v)) for v in
              _resolve(objs, fd.get("C1", [1.0]))]
        n = float(_resolve(objs, fd.get("N", 1)))
        if len(c0) != len(c1) or not c0:
            raise ValueError("pdf: exponential function C0/C1 shape")
        xs = np.power(np.clip(x, 0.0, 1.0), n)
        return np.stack(
            [a + xs * (b - a) for a, b in zip(c0, c1)], axis=-1
        )
    if ftype == 0:
        if target is None or target[1] is None:
            raise ValueError("pdf: sampled function without a stream")
        samples = _decode_stream(objs, fd, target[1])
        size = _resolve(objs, fd.get("Size"))
        bps = int(_resolve(objs, fd.get("BitsPerSample", 0)) or 0)
        rng = _resolve(objs, fd.get("Range"))
        order = int(_resolve(objs, fd.get("Order", 1)) or 1)
        if order == 3:
            raise NotImplementedError(
                "pdf: sampled function cubic-spline /Order 3"
            )
        if order != 1:
            raise ValueError(f"pdf: sampled function Order {order}")
        if not isinstance(size, list) or len(size) != 1:
            raise NotImplementedError(
                "pdf: multi-input sampled tint transform"
            )
        m = int(_resolve(objs, size[0]))
        if bps not in (8, 16):
            raise NotImplementedError(
                f"pdf: {bps}-bit sampled function"
            )
        if not isinstance(rng, list) or len(rng) < 2 or len(rng) % 2:
            raise ValueError("pdf: sampled function Range")
        n_out = len(rng) // 2
        arr = np.frombuffer(
            samples[: m * n_out * (bps // 8)],
            np.dtype(">u2") if bps == 16 else np.uint8,
        ).astype(np.float64)
        if arr.size < m * n_out or m < 1:
            raise ValueError("pdf: sampled function data short")
        arr = arr.reshape(m, n_out) / ((1 << bps) - 1)
        # /Encode input remap (ISO 32000 §7.10.2; default
        # [0, Size-1]), clipped back into the sample index range
        enc = _resolve(objs, fd.get("Encode"))
        if enc is None:
            e0, e1 = 0.0, float(m - 1)
        elif isinstance(enc, list) and len(enc) == 2:
            e0 = float(_resolve(objs, enc[0]))
            e1 = float(_resolve(objs, enc[1]))
        else:
            raise ValueError("pdf: sampled function Encode shape")
        pos = np.clip(
            e0 + np.clip(x, 0.0, 1.0) * (e1 - e0),
            0.0, float(max(m - 1, 0)),
        )
        if m == 1:
            # /Size [1]: a legal constant table — no interpolation
            interp = np.broadcast_to(
                arr[0], np.shape(pos) + (n_out,)
            ).astype(np.float64)
        else:
            i0 = np.floor(pos).astype(np.int64)
            i1 = np.minimum(i0 + 1, m - 1)
            frac = (pos - i0)[..., None]
            interp = arr[i0] * (1.0 - frac) + arr[i1] * frac
        # /Decode output remap (default = Range), clipped to Range
        dec = _resolve(objs, fd.get("Decode"))
        if dec is not None and (
            not isinstance(dec, list) or len(dec) != 2 * n_out
        ):
            raise ValueError("pdf: sampled function Decode shape")
        out = np.empty(np.shape(pos) + (n_out,), np.float64)
        for j in range(n_out):
            lo = float(_resolve(objs, rng[2 * j]))
            hi = float(_resolve(objs, rng[2 * j + 1]))
            if dec is None:
                d0, d1 = lo, hi
            else:
                d0 = float(_resolve(objs, dec[2 * j]))
                d1 = float(_resolve(objs, dec[2 * j + 1]))
            out[..., j] = np.clip(
                d0 + interp[..., j] * (d1 - d0),
                min(lo, hi), max(lo, hi),
            )
        return out
    raise NotImplementedError(f"pdf: FunctionType {ftype}")


def _apply_decode(px, pairs):
    """Apply /Decode endpoint pairs to a 0..255 uint8 array —
    bit-exact for the identity and [1 0] inversion (the oracle-scored
    paths), linear remap with floor(x+0.5) otherwise."""
    import numpy as np

    if pairs is None:
        return px
    chans = [px] if px.ndim == 2 else [
        px[:, :, c] for c in range(px.shape[2])
    ]
    out = []
    for ch, (lo, hi) in zip(chans, pairs):
        if (lo, hi) == (0.0, 1.0):
            out.append(ch)
        elif (lo, hi) == (1.0, 0.0):
            out.append(255 - ch)
        else:
            x = lo * 255.0 + ch.astype(np.float64) * (hi - lo)
            out.append(
                np.clip(np.floor(x + 0.5), 0, 255).astype(np.uint8)
            )
    return out[0] if px.ndim == 2 else np.stack(out, axis=2)


def _invert_channels(px, flags):
    """Apply per-component /Decode inversion to a 0..255 pixel
    array — exact, because each branch's sample scale maps the
    component's full range onto 0..255 linearly."""
    if not any(flags):
        return px
    if px.ndim == 2:
        return 255 - px
    px = px.copy()
    for c, inv in enumerate(flags):
        if inv:
            px[:, :, c] = 255 - px[:, :, c]
    return px


def _decode_image_xobject(objs, val: dict, raw: bytes) -> dict:
    """One /Subtype /Image XObject -> {width, height, channels,
    filter, pixels}; pixels is (h, w) gray or (h, w, 3) RGB uint8."""
    import numpy as np

    w = int(_resolve(objs, val.get("Width")) or 0)
    h = int(_resolve(objs, val.get("Height")) or 0)
    if w <= 0 or h <= 0 or w * h > _MAX_IMAGE_PIXELS:
        raise ValueError(f"pdf: unreasonable image canvas {w}x{h}")
    mask = bool(_resolve(objs, val.get("ImageMask", False)))
    bpc = (
        1
        if mask
        else int(_resolve(objs, val.get("BitsPerComponent", 8)) or 8)
    )
    filt = _resolve(objs, val.get("Filter"))
    filts = (
        [f for f in (filt if isinstance(filt, list) else [filt])]
        if filt is not None
        else []
    )
    names = [str(_resolve(objs, f)) for f in filts]
    raw_parms = _resolve(objs, val.get("DecodeParms"))
    if isinstance(raw_parms, list):
        parms_list = [_resolve(objs, p) for p in raw_parms]
    else:
        parms_list = [raw_parms] * len(filts)
    img_filter = None
    if names and names[-1] in _IMAGE_FILTERS:
        img_filter = names[-1]
        pre, pre_parms = filts[:-1], parms_list[: len(filts) - 1]
    else:
        pre, pre_parms = filts, parms_list
    bad = [n for n in names[:-1] if n in _IMAGE_FILTERS]
    if bad:
        raise ValueError(f"pdf: image filter {bad[0]} not last in chain")
    data = raw
    if pre:
        data = _decode_stream(
            objs, {"Filter": pre, "DecodeParms": pre_parms}, raw
        )
    if img_filter == "JPXDecode":
        # r13 (VERDICT r12 item 6): the lossless 5/3 codestream
        # subset decodes in-repo (operators/jpx — book-scan class);
        # out-of-subset shapes (9/7, tiling, layers, precincts)
        # raise their own named errors from the module
        from timeseries_data_provider_spark.operators import (
            jpx as _jpx,
        )

        d = _jpx.decode_jpx(data)
        px = d["pixels"]
        if (d["width"], d["height"]) != (w, h):
            raise ValueError(
                f"pdf: JPX image is {d['width']}x{d['height']}, "
                f"dict says {w}x{h}"
            )
        nch = 1 if px.ndim == 2 else px.shape[2]
        px = _apply_decode(
            px,
            _decode_remap(
                objs, _resolve(objs, val.get("Decode")), nch
            ),
        )
        return {
            "width": w,
            "height": h,
            "channels": nch,
            "filter": "JPXDecode",
            "pixels": px,
        }
    if img_filter == "JBIG2Decode":
        from timeseries_data_provider_spark.operators import (
            jbig2 as _jbig2,
        )

        fp = parms_list[-1] if parms_list else None
        fp = fp if isinstance(fp, dict) else {}
        gref = fp.get("JBIG2Globals")
        gdata = None
        if gref is not None:
            if not isinstance(gref, _Ref):
                raise ValueError("pdf: JBIG2Globals is not a stream")
            gt = objs.get(gref.num)
            if not gt or gt[1] is None:
                raise ValueError("pdf: JBIG2Globals stream missing")
            gdata = _decode_stream(objs, gt[0], gt[1])
        bm = _jbig2.decode_jbig2_embedded(data, gdata)
        if bm.shape != (h, w):
            raise ValueError(
                f"pdf: JBIG2 page is {bm.shape[1]}x{bm.shape[0]}, "
                f"dict says {w}x{h}"
            )
        # JBIG2 bits are semantic (1 = black); the stored sample is
        # the inverse (0 = black under DeviceGray), then /Decode
        # applies (r12 — [1 0] inversion, common on stencil scans)
        inv = _decode_inversion(
            objs, _resolve(objs, val.get("Decode")), 1
        )[0]
        stored = bm if inv else 1 - bm
        return {
            "width": w,
            "height": h,
            "channels": 1,
            "filter": "JBIG2Decode",
            "pixels": (stored * 255).astype(np.uint8),
        }
    if img_filter == "DCTDecode":
        from timeseries_data_provider_spark.operators import jpeg as _jpeg

        d = _jpeg.decode_baseline_jpeg(data)
        px = d["pixels"]
        if (d["width"], d["height"]) != (w, h):
            raise ValueError(
                f"pdf: DCT image is {d['width']}x{d['height']}, "
                f"dict says {w}x{h}"
            )
        nch = 1 if px.ndim == 2 else px.shape[2]
        px = _apply_decode(
            px,
            _decode_remap(
                objs, _resolve(objs, val.get("Decode")), nch
            ),
        )
        return {
            "width": w,
            "height": h,
            "channels": nch,
            "filter": "DCTDecode",
            "pixels": px,
        }
    if img_filter == "CCITTFaxDecode":
        from timeseries_data_provider_spark.operators import ccitt as _ccitt

        fp = parms_list[-1] if parms_list else None
        fp = fp if isinstance(fp, dict) else {}
        k = int(_resolve(objs, fp.get("K", 0)) or 0)
        cols = int(_resolve(objs, fp.get("Columns", 1728)) or 1728)
        rows = int(_resolve(objs, fp.get("Rows", h)) or h)
        ba = bool(_resolve(objs, fp.get("EncodedByteAlign", False)))
        if cols != w or rows != h:
            raise ValueError(
                f"pdf: CCITT geometry {cols}x{rows} disagrees with "
                f"the image dict's {w}x{h}"
            )
        if k < 0:
            fax = _ccitt.decode_g4(data, cols, rows, align=ba)
        elif k == 0:
            fax = _ccitt.decode_mh(data, cols, rows, align=ba)
        else:
            fax = _ccitt.decode_g3(data, cols, rows, two_d=True)
        # fax bits are semantic (1 = black). The STORED sample is
        # their inverse under the default /BlackIs1 false (0 bits
        # are black, §7.4.6 Table 11) and the bits themselves when
        # BlackIs1 is true; /Decode then maps stored -> gray (r12)
        blackis1 = bool(_resolve(objs, fp.get("BlackIs1", False)))
        stored = fax if blackis1 else 1 - fax
        if _decode_inversion(
            objs, _resolve(objs, val.get("Decode")), 1
        )[0]:
            stored = 1 - stored
        return {
            "width": w,
            "height": h,
            "channels": 1,
            "filter": "CCITTFaxDecode",
            "pixels": (stored * 255).astype(np.uint8),
        }
    # raw raster: interpret by colour space
    if mask:
        samples = _unpack_samples(data, w, h, 1, 1)[:, :, 0]
        # stencil: sample 0 paints (ink) under the default Decode;
        # /Decode [1 0] flips which sample paints (§8.9.6.2, r12)
        if _decode_inversion(
            objs, _resolve(objs, val.get("Decode")), 1
        )[0]:
            samples = 1 - samples
        return {
            "width": w,
            "height": h,
            "channels": 1,
            "filter": None,
            "pixels": (samples * 255).astype(np.uint8),
        }
    cs = _resolve(objs, val.get("ColorSpace"))
    if isinstance(cs, list) and cs and str(_resolve(objs, cs[0])) == "ICCBased":
        nd = _resolve(objs, cs[1]) if len(cs) > 1 else None
        n = int(_resolve(objs, nd.get("N", 0)) or 0) if isinstance(nd, dict) else 0
        cs = {1: "DeviceGray", 3: "DeviceRGB", 4: "DeviceCMYK"}.get(n)
        if cs is None:
            raise NotImplementedError(
                "pdf: ICCBased colour space with N not in (1, 3, 4)"
            )
    if isinstance(cs, list) and cs and str(_resolve(objs, cs[0])) == "Indexed":
        if len(cs) < 4:
            raise ValueError("pdf: malformed Indexed colour space")
        base = _resolve(objs, cs[1])
        hival = int(_resolve(objs, cs[2]) or 0)
        lookup = cs[3]
        if isinstance(lookup, _Ref):
            tgt = objs.get(lookup.num)
            if not tgt or tgt[1] is None:
                raise ValueError("pdf: Indexed lookup stream missing")
            lookup = _decode_stream(objs, tgt[0], tgt[1])
        else:
            lookup = _resolve(objs, lookup)
        if not isinstance(lookup, bytes):
            raise ValueError("pdf: Indexed lookup is not a string")
        nb = {"DeviceRGB": 3, "CalRGB": 3, "DeviceGray": 1, "CalGray": 1}.get(
            str(base)
        )
        if nb is None:
            raise NotImplementedError(
                f"pdf: Indexed base colour space {base}"
            )
        if len(lookup) < (hival + 1) * nb:
            raise ValueError("pdf: Indexed lookup table too short")
        samples = _unpack_samples(data, w, h, 1, bpc)[:, :, 0]
        # Indexed /Decode default is [0 2^bpc-1] (Table 89) — the
        # identity on index values; the inversion reverses them (r12)
        dec = _resolve(objs, val.get("Decode"))
        if dec is not None:
            m = (1 << bpc) - 1
            if not isinstance(dec, list) or len(dec) != 2:
                raise ValueError("pdf: /Decode array needs 2 numbers")
            lo, hi = (_resolve(objs, v) for v in dec)
            if (lo, hi) == (m, 0):
                samples = m - samples
            elif (lo, hi) != (0, m):
                raise NotImplementedError(
                    f"pdf: Indexed /Decode [{lo} {hi}] (identity "
                    "and inversion only)"
                )
        if int(samples.max(initial=0)) > hival:
            raise ValueError("pdf: Indexed sample above hival")
        table = np.frombuffer(lookup[: (hival + 1) * nb], np.uint8)
        px = table.reshape(-1, nb)[samples]
        px = px[:, :, 0] if nb == 1 else px
        return {
            "width": w,
            "height": h,
            "channels": nb,
            "filter": None,
            "pixels": px,
        }
    if isinstance(cs, list) and cs and str(
        _resolve(objs, cs[0])
    ) in ("Separation", "DeviceN"):
        # §8.6.6.4/.5 (r14, VERDICT item 5 — print-originated
        # scans): tint component(s) through the tint-transform
        # function into the alternate space. Separation is the
        # one-colorant case; DeviceN (r14 late) carries N colorant
        # channels into the same machinery (its tint transform is
        # usually a type 4 calculator).
        if len(cs) < 4:
            raise ValueError("pdf: malformed Separation colour space")
        sep_names = _resolve(objs, cs[1])
        n_ink = (
            1
            if str(_resolve(objs, cs[0])) == "Separation"
            else len(sep_names)
            if isinstance(sep_names, list)
            else 0
        )
        if not 1 <= n_ink <= 8:
            raise ValueError(
                f"pdf: DeviceN with {n_ink} colorants"
            )
        alt = _resolve(objs, cs[2])
        if isinstance(alt, list) and alt and str(
            _resolve(objs, alt[0])
        ) == "ICCBased":
            nd2 = _resolve(objs, alt[1]) if len(alt) > 1 else None
            n2 = (
                int(_resolve(objs, nd2.get("N", 0)) or 0)
                if isinstance(nd2, dict) else 0
            )
            alt = {1: "DeviceGray", 3: "DeviceRGB",
                   4: "DeviceCMYK"}.get(n2)
        alt = str(alt)
        n_alt = {"DeviceGray": 1, "CalGray": 1, "DeviceRGB": 3,
                 "CalRGB": 3, "DeviceCMYK": 4}.get(alt)
        if n_alt is None:
            raise NotImplementedError(
                f"pdf: Separation alternate space {alt}"
            )
        if bpc not in (1, 2, 4, 8) or (n_ink > 1 and bpc != 8):
            raise NotImplementedError(
                f"pdf: {bpc}-bit Separation/DeviceN components"
            )
        samples = _unpack_samples(data, w, h, n_ink, bpc)
        scale = 255 // ((1 << bpc) - 1)
        px8 = (samples.astype(np.uint16) * scale).astype(np.uint8)
        px8 = _apply_decode(
            px8 if n_ink > 1 else px8[:, :, 0],
            _decode_remap(
                objs, _resolve(objs, val.get("Decode")), n_ink
            ),
        )
        if n_ink == 1:
            vals = _eval_function(objs, cs[3], px8 / 255.0)
        else:
            vals = _eval_function(
                objs,
                cs[3],
                [px8[:, :, k] / 255.0 for k in range(n_ink)],
            )
        if vals.shape[-1] != n_alt:
            raise ValueError(
                "pdf: tint transform output arity != alternate space"
            )
        # deterministic floor(x*255 + .5) into 8-bit device samples
        px = np.clip(
            np.floor(np.clip(vals, 0.0, 1.0) * 255.0 + 0.5), 0, 255
        ).astype(np.uint8)
        px = px[:, :, 0] if n_alt == 1 else px
        return {
            "width": w,
            "height": h,
            "channels": n_alt,
            "filter": None,
            "pixels": px,
        }
    if isinstance(cs, list) and cs and str(
        _resolve(objs, cs[0])
    ) == "Lab":
        # §8.6.5.4 (r14): CIE L*a*b* raster -> RGB through the
        # D50-referenced inverse-f transform and the XYZ->sRGB
        # matrix + gamma (STATED colorimetric approximation — the
        # ICCBased-by-/N precedent; fine for a dedup/feature tier,
        # not a color-managed renderer). 8-bit components: L* maps
        # [0 255] -> [0 100], a*/b* -> the /Range (default
        # [-100 100]) per the Lab /Decode defaults (Table 89).
        lab_d = _resolve(objs, cs[1]) if len(cs) > 1 else {}
        if not isinstance(lab_d, dict):
            lab_d = {}
        rng = _resolve(objs, lab_d.get("Range", [-100, 100, -100,
                                                 100]))
        if not isinstance(rng, list) or len(rng) != 4:
            raise ValueError("pdf: Lab /Range")
        amin, amax, bmin, bmax = (
            float(_resolve(objs, v)) for v in rng
        )
        wp = _resolve(objs, lab_d.get("WhitePoint", [0.9505, 1.0,
                                                     1.089]))
        if not isinstance(wp, list) or len(wp) != 3:
            raise ValueError("pdf: Lab /WhitePoint")
        xn, yn, zn = (float(_resolve(objs, v)) for v in wp)
        if bpc != 8:
            raise NotImplementedError(f"pdf: {bpc}-bit Lab")
        dec = _resolve(objs, val.get("Decode"))
        if dec is not None:
            # the Lab /Decode DEFAULT is [0 100 amin amax bmin bmax]
            # (Table 89); anything else is a remap this branch does
            # not model — named, never silently ignored (r14 review
            # finding)
            want = [0.0, 100.0, amin, amax, bmin, bmax]
            got = (
                [float(_resolve(objs, v)) for v in dec]
                if isinstance(dec, list) else None
            )
            if got != want:
                raise NotImplementedError(
                    f"pdf: non-default Lab /Decode {dec}"
                )
        s = _unpack_samples(data, w, h, 3, 8).astype(np.float64)
        lstar = s[:, :, 0] * (100.0 / 255.0)
        astar = amin + s[:, :, 1] * ((amax - amin) / 255.0)
        bstar = bmin + s[:, :, 2] * ((bmax - bmin) / 255.0)
        fy = (lstar + 16.0) / 116.0
        fx = fy + astar / 500.0
        fz = fy - bstar / 200.0

        def g(t):
            d = 6.0 / 29.0
            return np.where(
                t > d, t ** 3, 3.0 * d * d * (t - 4.0 / 29.0)
            )

        x_ = xn * g(fx)
        y_ = yn * g(fy)
        z_ = zn * g(fz)
        r_lin = 3.2406 * x_ - 1.5372 * y_ - 0.4986 * z_
        g_lin = -0.9689 * x_ + 1.8758 * y_ + 0.0415 * z_
        b_lin = 0.0557 * x_ - 0.2040 * y_ + 1.0570 * z_

        def srgb(c):
            c = np.clip(c, 0.0, 1.0)
            return np.where(
                c <= 0.0031308,
                12.92 * c,
                1.055 * np.power(c, 1.0 / 2.4) - 0.055,
            )

        px = np.clip(
            np.floor(
                np.stack(
                    [srgb(r_lin), srgb(g_lin), srgb(b_lin)], axis=2
                ) * 255.0 + 0.5
            ), 0, 255,
        ).astype(np.uint8)
        return {
            "width": w,
            "height": h,
            "channels": 3,
            "filter": None,
            "pixels": px,
        }
    name = str(cs) if cs is not None else "DeviceGray"
    if name in ("DeviceGray", "CalGray"):
        if bpc not in (1, 2, 4, 8):
            raise NotImplementedError(
                f"pdf: {bpc}-bit gray components"
            )
        samples = _unpack_samples(data, w, h, 1, bpc)[:, :, 0]
        scale = 255 // ((1 << bpc) - 1)
        px = (samples.astype(np.uint16) * scale).astype(np.uint8)
        px = _apply_decode(
            px, _decode_remap(objs, _resolve(objs, val.get("Decode")), 1)
        )
        return {
            "width": w,
            "height": h,
            "channels": 1,
            "filter": None,
            "pixels": px,
        }
    if name in ("DeviceRGB", "CalRGB"):
        if bpc != 8:
            raise NotImplementedError(f"pdf: {bpc}-bit RGB components")
        px = _unpack_samples(data, w, h, 3, 8)
        px = _apply_decode(
            px, _decode_remap(objs, _resolve(objs, val.get("Decode")), 3)
        )
        return {
            "width": w,
            "height": h,
            "channels": 3,
            "filter": None,
            "pixels": px,
        }
    if name == "DeviceCMYK":
        # raw CMYK raster (§8.6.4.4): samples ARE ink values, no
        # Adobe inversion here (that quirk is DCT-marker-specific)
        if bpc != 8:
            raise NotImplementedError(
                f"pdf: {bpc}-bit CMYK components"
            )
        px = _unpack_samples(data, w, h, 4, 8)
        px = _apply_decode(
            px, _decode_remap(objs, _resolve(objs, val.get("Decode")), 4)
        )
        return {
            "width": w,
            "height": h,
            "channels": 4,
            "filter": None,
            "pixels": px,
        }
    raise NotImplementedError(f"pdf: colour space {name}")


# inline-image (§8.9.7) abbreviated keys / filters / colour spaces
_INLINE_KEYS = {
    "W": "Width",
    "H": "Height",
    "BPC": "BitsPerComponent",
    "CS": "ColorSpace",
    "F": "Filter",
    "DP": "DecodeParms",
    "IM": "ImageMask",
    "D": "Decode",
}
_INLINE_FILTERS = {
    "AHx": "ASCIIHexDecode",
    "A85": "ASCII85Decode",
    "Fl": "FlateDecode",
    "LZW": "LZWDecode",
    "CCF": "CCITTFaxDecode",
    "DCT": "DCTDecode",
    "RL": "RunLengthDecode",
}
_INLINE_CS = {"G": "DeviceGray", "RGB": "DeviceRGB", "I": "Indexed",
              "CMYK": "DeviceCMYK"}
_DELIMS = b" \t\r\n\x0c\x00[]{}()<>/"


def _iter_inline_images(objs, content: bytes):
    """Yield decoded inline images (``BI <params> ID <data> EI``,
    §8.9.7) from a content stream. A ``BI`` that does not parse as an
    inline-image header (e.g. the letters inside a text string) is
    skipped. The data end: exact for unfiltered rasters (the byte
    count is computable), otherwise the first whitespace-delimited
    ``EI`` whose preceding bytes DECODE cleanly — filtered data may
    legally contain the letters 'EI', so candidates are tried in
    order (bounded), never trusted blindly."""
    pos = 0
    n = len(content)
    while True:
        at = content.find(b"BI", pos)
        if at < 0:
            return
        pos = at + 2
        before = content[at - 1 : at]
        after = content[at + 2 : at + 3]
        if (before and before not in _DELIMS) or (
            after and after not in b" \t\r\n\x0c\x00/"
        ):
            continue
        lex = _Lexer(content, at + 2)
        params: dict = {}
        try:
            while True:
                lex._skip_ws()
                if content[lex.p : lex.p + 2] == b"ID":
                    lex.p += 2
                    break
                key = lex.value()
                val = lex.value()
                if not isinstance(key, str):
                    raise ValueError("pdf: inline key not a name")
                params[_INLINE_KEYS.get(key, key)] = val
            if "Width" not in params or "Height" not in params:
                raise ValueError("pdf: inline image without W/H")
        except (ValueError, IndexError):
            continue  # not an inline image (BI inside a string)
        # normalize abbreviations to the full-name vocabulary the
        # XObject decoder speaks
        f = params.get("Filter")
        if f is not None:
            fl = f if isinstance(f, list) else [f]
            params["Filter"] = [
                _INLINE_FILTERS.get(str(x), str(x)) for x in fl
            ]
        cs = params.get("ColorSpace")
        if isinstance(cs, str):
            params["ColorSpace"] = _INLINE_CS.get(cs, cs)
        elif isinstance(cs, list) and cs:
            head = _INLINE_CS.get(str(cs[0]), str(cs[0]))
            base = (
                _INLINE_CS.get(str(cs[1]), cs[1])
                if len(cs) > 1 and isinstance(cs[1], str)
                else (cs[1] if len(cs) > 1 else None)
            )
            params["ColorSpace"] = [head, base] + list(cs[2:])
        data_start = lex.p
        if data_start < n and content[data_start] in b" \t\r\n":
            data_start += 1  # the single whitespace after ID
        if params.get("Filter") is None:
            mask = bool(params.get("ImageMask", False))
            bpc = 1 if mask else int(params.get("BitsPerComponent", 8))
            csname = params.get("ColorSpace", "DeviceGray")
            ncomp = 3 if csname in ("DeviceRGB", "CalRGB") else 1
            w = int(params["Width"])
            h = int(params["Height"])
            nbytes = ((w * ncomp * bpc + 7) // 8) * h
            data = content[data_start : data_start + nbytes]
            img = _decode_image_xobject(objs, params, data)
            yield img
            pos = data_start + nbytes
            continue
        img = None
        tried = 0
        for m in re.finditer(
            rb"[ \t\r\n\x0c\x00]EI(?=[ \t\r\n\x0c\x00]|$)",
            content[data_start:],
        ):
            tried += 1
            if tried > 64:
                break
            data = content[data_start : data_start + m.start()]
            try:
                img = _decode_image_xobject(objs, params, data)
            except ValueError:
                continue
            pos = data_start + m.end()
            break
        if img is None:
            raise ValueError(
                "pdf: inline image data end not found (no EI "
                "candidate decodes)"
            )
        yield img


def extract_pdf_images(payload: bytes) -> list[dict]:
    """Extract every image on every page, in page order: [{page
    (1-based), name, obj, width, height, channels, filter, pixels}].
    Covers direct /Resources /XObject images, images nested inside
    FORM XObjects (recursive /Resources walk + the form's own content
    stream, depth-capped), and inline ``BI..ID..EI`` images in page
    content (named ``inline:<k>``, obj 0). Shares the document
    prologue with ``extract_pdf`` (decryption, ObjStm unpack, page
    walk), so encrypted scan PDFs extract the same way text does."""
    _, objs, page_objs, _ = _open_pdf(payload)
    out: list[dict] = []
    for pageno, (pg, res) in enumerate(page_objs, start=1):

        def walk_res(resref, prefix: str, depth: int) -> None:
            if depth > 8:
                raise ValueError("pdf: form XObject nesting too deep")
            rd = _resolve(objs, resref)
            if not isinstance(rd, dict):
                return
            xo = _resolve(objs, rd.get("XObject"))
            if not isinstance(xo, dict):
                return
            for name, ref in xo.items():
                if not isinstance(ref, _Ref):
                    continue
                tgt = objs.get(ref.num)
                if not tgt or tgt[1] is None:
                    continue
                val = tgt[0]
                if not isinstance(val, dict):
                    continue
                sub = str(_resolve(objs, val.get("Subtype")))
                if sub == "Image":
                    img = _decode_image_xobject(objs, val, tgt[1])
                    out.append(
                        {
                            "page": pageno,
                            "name": prefix + str(name),
                            "obj": ref.num,
                            **img,
                        }
                    )
                elif sub == "Form":
                    walk_res(
                        val.get("Resources"),
                        prefix + str(name) + "/",
                        depth + 1,
                    )
                    body = _decode_stream(objs, val, tgt[1])
                    for k, img in enumerate(
                        _iter_inline_images(objs, body)
                    ):
                        out.append(
                            {
                                "page": pageno,
                                "name": f"{prefix}{name}/inline:{k}",
                                "obj": 0,
                                **img,
                            }
                        )

        walk_res(res, "", 0)
        body = _content_bytes(objs, pg.get("Contents"))
        for k, img in enumerate(_iter_inline_images(objs, body)):
            out.append(
                {
                    "page": pageno,
                    "name": f"inline:{k}",
                    "obj": 0,
                    **img,
                }
            )
    return out


def pdf_image_features(
    df: "DataFrame",
    blob_col: str = "payload",
    id_col: str = "doc_id",
    errors: str = "raise",
) -> "DataFrame":
    """Arrow-batched scan-image extraction: one row per image XObject
    — (id, page, name, width, height, channels, filter,
    pixel_milli, pixel_sha256, dhash, q0..q3). ``pixel_milli`` is
    the codec-tier convention (floor-scaled mean, 1000·Σpx // size —
    closed-form for planted rasters — the q64 scan-column oracle hook);
    ``pixel_sha256`` keys exact raster dedup; ``dhash`` + quarters
    ride ``imagehash.hamming_pairs`` directly, putting scanned-PDF
    pages on the same near-dup ladder as standalone images. NULL
    ids/payloads drop JVM-side (the cdc_chunks guard);
    ``errors="quarantine"`` adds (err_class, err_msg) side rows for
    damaged documents instead of killing the task
    (sources/envelope.py)."""
    import hashlib as _hashlib

    from timeseries_data_provider_spark.operators import (
        imagehash as _imagehash,
    )
    from timeseries_data_provider_spark.operators.multimodal import (
        pixel_milli,
    )
    from timeseries_data_provider_spark.sources.envelope import (
        extraction_envelope,
    )

    def per_row(rid: int, blob: bytes) -> list[dict]:
        rows = []
        for img in extract_pdf_images(blob):
            px = img["pixels"]
            hh = _imagehash.dhash_bits(px)
            r = {
                "page": img["page"],
                "name": img["name"],
                "width": img["width"],
                "height": img["height"],
                "channels": img["channels"],
                "filter": img["filter"],
                "pixel_milli": pixel_milli(px),
                "pixel_sha256": _hashlib.sha256(
                    px.tobytes()
                ).hexdigest(),
                "dhash": hh - (1 << 64) if hh >> 63 else hh,
            }
            for q in range(4):
                r[f"q{q}"] = (hh >> (16 * q)) & 0xFFFF
            rows.append(r)
        return rows

    return extraction_envelope(
        df,
        per_row,
        [
            ("page", "long"),
            ("name", "string"),
            ("width", "long"),
            ("height", "long"),
            ("channels", "long"),
            ("filter", "string"),
            ("pixel_milli", "long"),
            ("pixel_sha256", "string"),
            ("dhash", "long"),
            ("q0", "long"),
            ("q1", "long"),
            ("q2", "long"),
            ("q3", "long"),
        ],
        id_col=id_col,
        blob_col=blob_col,
        errors=errors,
    )


def scan_stripe_page(doc_id: int, w: int, h: int):
    """Scan page 1's raster: vertical stripes of period
    p = (doc_id%4)+1, black where (x//p)%2 == 0, at w x h."""
    import numpy as np

    p = (doc_id % 4) + 1
    row = np.where((np.arange(w) // p) % 2 == 0, 0, 255).astype(np.uint8)
    return np.tile(row, (h, 1))


def scan_pdf_blob(doc_id: int) -> bytes:
    """The deterministic 3-page scan PDF planted for ``doc_id``, every
    page's pixel content a closed form the DuckDB oracle can
    recompute with generate_series math (the q63 plant discipline):

    - page 1: vertical stripes of period p = (id%4)+1 (black where
      (x//p)%2 == 0) at (64+id%5) x (32+id%3), the CODEC rotating by
      id%6 (r14, widened r15) — 1: JBIG2 MQ generic region,
      2: JBIG2 symbol-dictionary + text region (the glyph-clustered
      form real scanners emit), 3: JBIG2 MMR, 4: the HUFFMAN
      symbol-dict + text region (SDHUFF/SBHUFF with custom table
      segments), 5: a coarse generic region REFINED to the true
      raster by an immediate refinement region with TPGRON (r15),
      else CCITT-G4 (same pixels, so the oracle's scan_px1 formula
      is codec-independent while all SIX decode ladders run);
    - page 2: gray8 gradient (id+x+y)%256 (the GIF/TIFF closed
      form) at (40+id%4) x (20+id%2), the CONTAINER rotating by
      id%8 (r14, widened r15) — 1: lossless 5/3 JPEG 2000
      codestream (/JPXDecode via operators/jpx, r13), 2: the JP2
      box form, 3: the arithmetic-coder-BYPASS form, 4: all four
      coder options + 2 quality layers, 5: two tile-parts +
      SOP/EPH + 3 layers, 6: non-zero grid offsets (r15, the
      cropped-codestream form), 7: explicit precincts + 2 layers
      (r15, the Kakadu Cprecincts archival form), else Flate raw —
      same pixels, so the oracle's scan_px2 formula is
      codec-independent while the EBCOT/DWT ladder runs on seven
      eighths of the corpus;
    - page 3: the 216-entry web-safe RGB cube at index
      (7·id+x+3·y)%216, 24 x 12 — stored as an Indexed raster
      (even ids) or a /Separation over DeviceRGB through a SAMPLED
      tint transform whose table IS the cube LUT (odd ids, r15 —
      the §7.10 evaluator decodes half the corpus) — the cube
      makes the channel sum 51·(r6+g6+b6) with r6/g6/b6 the base-6
      digits, identical in both forms."""
    import numpy as np

    i = doc_id
    page1 = scan_stripe_page(i, 64 + i % 5, 32 + i % 3)
    ys2, xs2 = np.mgrid[0 : 20 + i % 2, 0 : 40 + i % 4]
    page2 = ((i + xs2 + ys2) % 256).astype(np.uint8)
    ys3, xs3 = np.mgrid[0:12, 0:24]
    page3 = ((7 * i + xs3 + 3 * ys3) % 216).astype(np.uint8)
    p1_kind = {
        1: "jbig2",
        2: "jbig2-text",
        3: "jbig2-mmr",
        4: "jbig2-text-huff",
        5: "jbig2-ref",
    }.get(i % 6, "ccitt-g4")
    p2_kind = {
        1: "jpx",
        2: "jpx-jp2",
        3: "jpx-bypass",
        4: "jpx-opt",
        5: "jpx-parts",
        6: "jpx-offs",
        7: "jpx-prec",
    }.get(i % 8, "gray8")
    p3_kind = "sep-cube" if i % 2 else "indexed"
    return encode_scan_pdf(
        [(p1_kind, page1), (p2_kind, page2), (p3_kind, page3)]
    )


def synth_scan_pdf_media(
    docs: "DataFrame", id_col: str = "doc_id"
) -> "DataFrame":
    """Plant one deterministic 3-page scan PDF per doc id
    (``scan_pdf_blob``: closed-form pages, codec rotations by id)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_ in batches:
            ids = [int(rid) for rid in pdf_[id_col]]
            yield pd.DataFrame(
                {id_col: ids, "payload": [scan_pdf_blob(i) for i in ids]}
            )

    from timeseries_data_provider_spark.tables import widen_for_python

    return widen_for_python(docs.select(id_col)).mapInPandas(
        run, f"{id_col} long, payload binary"
    )


# -- fixture writer ----------------------------------------------------


def _encrypt_fixture(encrypt: str) -> dict:
    """Standard-security fixture material for ``encode_pdf``: owner
    password "owner", EMPTY user password. Returns ``apply(num,
    data)`` (the string/stream cipher), the /Encrypt dict ``body``,
    and the file ``id``. Forms: ``rc4-40`` (V1/R2), ``rc4-128``
    (V2/R3), ``aesv2`` (V4/R4 AES-128 crypt filters), ``aesv3``
    (V5/R6, Algorithm 2.B + /Perms), ``aesv3-r5`` (the deprecated
    Adobe ExtensionLevel 3 revision). IVs are derived from the
    object number so fixtures are byte-deterministic."""
    import hashlib

    from timeseries_data_provider_spark.operators import aes as _aes

    id0 = bytes(range(16))
    if encrypt in ("rc4-40", "rc4-128"):
        r, length = {"rc4-40": (2, 40), "rc4-128": (3, 128)}[encrypt]
        n = length // 8
        o_entry = _std_compute_o(b"owner", r, n)
        filekey = _std_file_key(o_entry, -1, id0, r, n)
        u_entry = _std_compute_u(filekey, id0, r)
        return {
            "apply": lambda num, data: _rc4(
                _object_key(filekey, num), data
            ),
            "body": (
                f"<< /Filter /Standard /V {1 if r == 2 else 2} "
                f"/R {r} /Length {length} /O <{o_entry.hex()}> "
                f"/U <{u_entry.hex()}> /P -1 >>"
            ),
            "id": id0,
        }
    if encrypt == "rc4-v4-40":
        # V4 crypt filters carrying RC4 (/V2) at 40 bits — the shape
        # that exposed the fixed-16-byte-key review bug
        o_entry = _std_compute_o(b"owner", 4, 5)
        filekey = _std_file_key(o_entry, -1, id0, 4, 5)
        u_entry = _std_compute_u(filekey, id0, 3)
        return {
            "apply": lambda num, data: _rc4(
                _object_key(filekey, num), data
            ),
            "body": (
                "<< /Filter /Standard /V 4 /R 4 /Length 40 "
                "/CF << /StdCF << /CFM /V2 /Length 5 >> >> "
                "/StmF /StdCF /StrF /StdCF "
                f"/O <{o_entry.hex()}> /U <{u_entry.hex()}> "
                "/P -1 >>"
            ),
            "id": id0,
        }
    if encrypt in ("aesv2", "aesv2-nometa"):
        nometa = encrypt == "aesv2-nometa"
        o_entry = _std_compute_o(b"owner", 4, 16)
        filekey = _std_file_key(
            o_entry, -1, id0, 4, 16, encrypt_metadata=not nometa
        )
        u_entry = _std_compute_u(filekey, id0, 3)

        def apply_v4(num: int, data: bytes) -> bytes:
            iv = hashlib.md5(
                b"fixture-iv" + num.to_bytes(4, "big")
            ).digest()
            return iv + _aes.cbc_encrypt(
                _object_key(filekey, num, aes=True),
                iv,
                data,
                pad=True,
            )

        return {
            "apply": apply_v4,
            "body": (
                "<< /Filter /Standard /V 4 /R 4 /Length 128 "
                "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
                "/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
                f"/O <{o_entry.hex()}> /U <{u_entry.hex()}> "
                + ("/EncryptMetadata false " if nometa else "")
                + "/P -1 >>"
            ),
            "id": id0,
        }
    if encrypt in ("aesv3", "aesv3-r5"):
        r = 6 if encrypt == "aesv3" else 5
        filekey = bytes(range(32))
        vsalt, ksalt = b"VALSALT!", b"KEYSALT!"
        ovsalt, oksalt = b"OVALSLT!", b"OKEYSLT!"
        if r == 6:
            u_hash = _hash_2b(b"", vsalt, b"")
            ikey = _hash_2b(b"", ksalt, b"")
        else:
            u_hash = hashlib.sha256(vsalt).digest()
            ikey = hashlib.sha256(ksalt).digest()
        u_entry = u_hash + vsalt + ksalt
        ue = _aes.cbc_encrypt(ikey, b"\x00" * 16, filekey)
        if r == 6:
            o_hash = _hash_2b(b"owner", ovsalt, u_entry)
            oikey = _hash_2b(b"owner", oksalt, u_entry)
        else:
            o_hash = hashlib.sha256(b"owner" + ovsalt).digest()
            oikey = hashlib.sha256(b"owner" + oksalt).digest()
        o_entry = o_hash + ovsalt + oksalt
        oe = _aes.cbc_encrypt(oikey, b"\x00" * 16, filekey)
        # Algorithm 10: P-le4, ffffffff, 'T' (metadata encrypted),
        # 'adb', 4 writer bytes
        perms = _aes.ecb_encrypt(
            filekey,
            (0xFFFFFFFF).to_bytes(4, "little")
            + b"\xff\xff\xff\xff"
            + b"T"
            + b"adb"
            + b"fixt",
        )

        def apply_v5(num: int, data: bytes) -> bytes:
            iv = hashlib.md5(
                b"fixture-iv" + num.to_bytes(4, "big")
            ).digest()
            return iv + _aes.cbc_encrypt(filekey, iv, data, pad=True)

        return {
            "apply": apply_v5,
            "body": (
                f"<< /Filter /Standard /V 5 /R {r} /Length 256 "
                "/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
                "/StmF /StdCF /StrF /StdCF "
                f"/O <{o_entry.hex()}> /U <{u_entry.hex()}> "
                f"/OE <{oe.hex()}> /UE <{ue.hex()}> "
                f"/Perms <{perms.hex()}> /P -1 >>"
            ),
            "id": id0,
        }
    raise ValueError(f"encode_pdf: encrypt {encrypt!r}")


def encode_pdf(
    pages: list[list[str]],
    title: str | None = None,
    compress: bool = True,
    objstm: bool = False,
    encrypt: str | None = None,
    cid: bool = False,
    cid_tounicode: bool = True,
    cid_gidmap_stream: bool = False,
    cid_fontfile3: str | None = None,
    cid_encoding: str | None = None,
    xmp: str | None = None,
) -> bytes:
    """Minimal valid PDF writer (fixture): each page is a list of
    text lines (one BT..ET per line, Helvetica). Classic mode
    produces an xref table + trailer; ``objstm=True`` produces the
    modern 1.5+ layout — catalog/page-tree/info packed into one
    compressed /ObjStm, content streams top-level, and a /Type /XRef
    cross-reference STREAM (W [1 4 2], FlateDecode, PNG Predictor 12)
    carrying /Root — the shape every modern writer emits."""

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    if objstm:
        if cid:
            raise ValueError("encode_pdf: cid with objstm not wired")
        return _encode_pdf_objstm(pages, title, esc)
    cid_codes: dict[str, int] = {}
    if cid:
        # Type0/Identity-H fixture: every distinct character across
        # the document gets a 2-byte code (1-based — code 0 is
        # .notdef by convention); the ToUnicode CMap maps codes back.
        # The r14 cff_ros form instead codes each char by its
        # Adobe-Japan1 CID (the predefined-ordering route: the PDF
        # carries NO in-file Unicode source and text recovers only
        # through the registry ordering's published mapping)
        aj1_inv = None
        if cid_fontfile3 == "cff_ros":
            from timeseries_data_provider_spark.operators import (
                cff as _cff_m,
            )

            aj1_inv = {
                ch: cid
                for cid, ch in _cff_m.ros_cid_to_unicode(
                    "Adobe", "Japan1"
                ).items()
            }
        for ch in sorted({c for pg in pages for ln in pg for c in ln}):
            if aj1_inv is not None:
                if ch not in aj1_inv:
                    raise ValueError(
                        f"encode_pdf: {ch!r} outside the transcribed "
                        "Adobe-Japan1 ranges"
                    )
                cid_codes[ch] = aj1_inv[ch]
            else:
                cid_codes[ch] = len(cid_codes) + 1
    # r15 (VERDICT item 1): the CODE a char is written with in the
    # content stream is mode-dependent — Identity fixtures write the
    # CID itself; the embedded-CMap fixture scrambles codes (first
    # half a contiguous run for ONE real cidrange, second half
    # stride-3 cidchar singles, so an Identity misreading cannot
    # round-trip); predefined Uni*-UCS2 fixtures write the UTF-16BE
    # value itself (the code space IS Unicode)
    emb_cut = (len(cid_codes) + 1) // 2

    def _code_of(ch: str) -> int:
        k = cid_codes[ch] - 1
        if cid_encoding == "embedded":
            code = (
                0x2800 + k
                if k < emb_cut
                else 0x9000 + 3 * (k - emb_cut)
            )
            if code > 0xFFFF or (k < emb_cut and code >= 0x9000):
                raise ValueError(
                    "encode_pdf: embedded-CMap fixture code overflow"
                )
            return code
        return cid_codes[ch]

    def _line_hex(line: str) -> str:
        if cid_encoding is not None and cid_encoding != "embedded":
            codec = _PREDEFINED_CMAP_CODECS.get(cid_encoding)
            if codec is None:
                raise ValueError(
                    f"encode_pdf: no fixture codec for "
                    f"{cid_encoding!r}"
                )
            return line.encode(codec).hex()
        return "".join(f"{_code_of(c):04x}" for c in line)
    enc = None
    if encrypt is not None:
        # standard-security fixture: owner password "owner", EMPTY
        # user password (the owner-locked-but-readable crawl case)
        enc = _encrypt_fixture(encrypt)
    objs: list[bytes] = []  # 1-indexed
    n_pages = len(pages)
    # 1: catalog, 2: pages, 3..: page+content pairs, then info
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    font_num = 3 + 2 * n_pages  # Type0, +1 descendant, +2 ToUnicode
    for i, lines in enumerate(pages):
        parts = []
        for line in lines:
            if cid:
                hexs = _line_hex(line)
                parts.append(f"BT /F1 12 Tf 72 720 Td <{hexs}> Tj ET")
            else:
                parts.append(
                    f"BT /F1 12 Tf 72 720 Td ({esc(line)}) Tj ET"
                )
        content = "\n".join(parts).encode("latin-1")
        if compress:
            stream = zlib.compress(content)
            flt = " /Filter /FlateDecode"
        else:
            stream = content
            flt = ""
        if enc is not None:
            stream = enc["apply"](4 + 2 * i, stream)
        sdict = f"<< /Length {len(stream)}{flt} >>"
        resources = (
            f" /Resources << /Font << /F1 {font_num} 0 R >> >>"
            if cid
            else ""
        )
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /Contents {4 + 2 * i} 0 R "
            f"/MediaBox [0 0 612 792]{resources} >>".encode()
        )
        objs.append(
            sdict.encode() + b"\nstream\n" + stream + b"\nendstream"
        )
    if cid and not cid_tounicode and cid_fontfile3 is not None:
        # FontFile3 shapes (r13, VERDICT r12 item 4): "cff" embeds a
        # bare NON-CID Type1C whose charset names every glyph
        # uniXXXX (text recovers through the glyph names); "otto"
        # embeds an OpenType-CFF whose CID-keyed charset RENUMBERS
        # glyphs (gid = n+1-cid, so an identity misreading cannot
        # round-trip) and whose cmap carries codepoint -> gid;
        # "cff_cid" embeds a bare CID-KEYED Type1C under
        # Adobe-Identity-0 — the named no-text gap, planted to pin
        # the no-garbage contract; "cff_ros" (r14) embeds a bare
        # CID-keyed Type1C under Adobe-Japan1 whose text recovers
        # through the predefined ordering's transcribed ranges
        from timeseries_data_provider_spark.operators import (
            cff as _cff,
        )

        assert len(objs) + 1 == font_num
        ordering = (
            "Japan1" if cid_fontfile3 == "cff_ros" else "Identity"
        )
        objs.append(
            f"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture "
            f"/Encoding /Identity-H "
            f"/DescendantFonts [{font_num + 1} 0 R] >>".encode()
        )
        objs.append(
            f"<< /Type /Font /Subtype /CIDFontType0 /BaseFont "
            f"/Fixture /CIDSystemInfo << /Registry (Adobe) "
            f"/Ordering ({ordering}) /Supplement 0 >> "
            f"/FontDescriptor {font_num + 2} 0 R >>".encode()
        )
        subtype = (
            "OpenType" if cid_fontfile3 == "otto" else "Type1C"
        )
        objs.append(
            f"<< /Type /FontDescriptor /FontName /Fixture "
            f"/Flags 4 /FontFile3 {font_num + 3} 0 R >>".encode()
        )
        chars = sorted(cid_codes, key=cid_codes.get)
        if cid_fontfile3 == "cff":
            font_blob = _cff.encode_cff(
                glyph_names=[f"uni{ord(c):04X}" for c in chars]
            )
        elif cid_fontfile3 == "otto":
            n = len(chars)
            font_blob = _cff.encode_otto_cff(
                {ord(c): n + 1 - cid_codes[c] for c in chars},
                cids=[n + 1 - g for g in range(1, n + 1)],
            )
        elif cid_fontfile3 == "cff_cid":
            font_blob = _cff.encode_cff(
                cids=list(range(1, len(chars) + 1))
            )
        elif cid_fontfile3 == "cff_ros":
            font_blob = _cff.encode_cff(
                cids=sorted(cid_codes.values()),
                ros=("Adobe", "Japan1", 6),
            )
        else:
            raise ValueError(
                f"encode_pdf: cid_fontfile3 {cid_fontfile3!r}"
            )
        if enc is not None:
            font_blob = enc["apply"](font_num + 3, font_blob)
        objs.append(
            f"<< /Length {len(font_blob)} /Subtype /{subtype} "
            ">>".encode()
            + b"\nstream\n"
            + font_blob
            + b"\nendstream"
        )
    elif cid and not cid_tounicode and cid_encoding not in (
        None, "embedded"
    ):
        # r15 (VERDICT item 1b): a predefined-CMap /Encoding NAME
        # whose code space is a published charset (UniJIS-UCS2-H
        # etc.) — no ToUnicode, no font program; text recovers from
        # the code bytes alone through _predefined_cmap_decoder
        assert len(objs) + 1 == font_num
        objs.append(
            f"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture "
            f"/Encoding /{cid_encoding} "
            f"/DescendantFonts [{font_num + 1} 0 R] >>".encode()
        )
        objs.append(
            b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont "
            b"/Fixture /CIDSystemInfo << /Registry (Adobe) "
            b"/Ordering (Japan1) /Supplement 6 >> >>"
        )
    elif cid and not cid_tounicode:
        # the no-ToUnicode shape (r12): text is recoverable ONLY
        # through the embedded TrueType's cmap table — Identity-H
        # codes are glyph ids (or map through a CIDToGIDMap STREAM
        # when cid_gidmap_stream, the subset-renumbered shape), and
        # the FontFile2 sfnt maps each character's codepoint to its
        # glyph id
        from timeseries_data_provider_spark.operators import (
            sfnt as _sfnt,
        )

        assert len(objs) + 1 == font_num
        # stream-mapped fixtures renumber glyphs: gid = cid + 7, so
        # an Identity misreading CANNOT round-trip
        gid_of = (
            (lambda code: code + 7)
            if cid_gidmap_stream
            else (lambda code: code)
        )
        c2g = (
            f"{font_num + 4} 0 R"
            if cid_gidmap_stream
            else "/Identity"
        )
        if cid_encoding == "embedded" and cid_gidmap_stream:
            raise ValueError(
                "encode_pdf: embedded CMap + gidmap stream not wired"
            )
        enc_entry = (
            f"{font_num + 4} 0 R"
            if cid_encoding == "embedded"
            else "/Identity-H"
        )
        objs.append(
            f"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture "
            f"/Encoding {enc_entry} "
            f"/DescendantFonts [{font_num + 1} 0 R] >>".encode()
        )
        objs.append(
            f"<< /Type /Font /Subtype /CIDFontType2 /BaseFont "
            f"/Fixture /CIDSystemInfo << /Registry (Adobe) "
            f"/Ordering (Identity) /Supplement 0 >> "
            f"/CIDToGIDMap {c2g} "
            f"/FontDescriptor {font_num + 2} 0 R >>".encode()
        )
        objs.append(
            f"<< /Type /FontDescriptor /FontName /Fixture "
            f"/Flags 4 /FontFile2 {font_num + 3} 0 R >>".encode()
        )
        font_blob = _sfnt.encode_cmap_font(
            {ord(ch): gid_of(code) for ch, code in cid_codes.items()},
            fmt=(
                12
                if any(ord(ch) > 0xFFFE for ch in cid_codes)
                else 4
            ),
        )
        if enc is not None:
            font_blob = enc["apply"](font_num + 3, font_blob)
        objs.append(
            f"<< /Length {len(font_blob)} /Length1 {len(font_blob)} "
            ">>".encode()
            + b"\nstream\n"
            + font_blob
            + b"\nendstream"
        )
        if cid_gidmap_stream:
            n_cids = len(cid_codes) + 1
            gm = bytearray(2 * n_cids)
            for code in range(1, n_cids):
                gm[2 * code] = (code + 7) >> 8
                gm[2 * code + 1] = (code + 7) & 0xFF
            gm = bytes(gm)
            if enc is not None:
                gm = enc["apply"](font_num + 4, gm)
            objs.append(
                f"<< /Length {len(gm)} >>".encode()
                + b"\nstream\n"
                + gm
                + b"\nendstream"
            )
        if cid_encoding == "embedded":
            # r15 (VERDICT item 1a): the /Encoding CMap STREAM —
            # one real cidrange over the contiguous first half, the
            # stride-3 second half as cidchar singles (<=100/block,
            # the §9.10.3 discipline)
            by_cid = sorted(cid_codes.items(), key=lambda kv: kv[1])
            entries: list[str] = []
            if emb_cut:
                entries += [
                    "1 begincidrange",
                    f"<{0x2800:04x}> <{0x2800 + emb_cut - 1:04x}> 1",
                    "endcidrange",
                ]
            singles = [
                (ch, cidv) for ch, cidv in by_cid
                if cidv - 1 >= emb_cut
            ]
            for s0 in range(0, len(singles), 100):
                blk = singles[s0 : s0 + 100]
                entries.append(f"{len(blk)} begincidchar")
                entries += [
                    f"<{_code_of(ch):04x}> {cidv}"
                    for ch, cidv in blk
                ]
                entries.append("endcidchar")
            cmap_src = "\n".join(
                [
                    "/CIDInit /ProcSet findresource begin",
                    "12 dict begin",
                    "begincmap",
                    "/CIDSystemInfo << /Registry (Adobe) "
                    "/Ordering (Identity) /Supplement 0 >> def",
                    "/CMapName /Fixture-Embed def",
                    "/CMapType 1 def",
                    "1 begincodespacerange",
                    "<0000> <ffff>",
                    "endcodespacerange",
                    *entries,
                    "endcmap",
                    "CMapName currentdict /CMap defineresource pop",
                    "end end",
                ]
            ).encode("latin-1")
            if enc is not None:
                cmap_src = enc["apply"](font_num + 4, cmap_src)
            objs.append(
                f"<< /Type /CMap /CMapName /Fixture-Embed "
                f"/Length {len(cmap_src)} >>".encode()
                + b"\nstream\n"
                + cmap_src
                + b"\nendstream"
            )
    elif cid:
        assert len(objs) + 1 == font_num
        objs.append(
            f"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture "
            f"/Encoding /Identity-H "
            f"/DescendantFonts [{font_num + 1} 0 R] "
            f"/ToUnicode {font_num + 2} 0 R >>".encode()
        )
        objs.append(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont "
            b"/Fixture /CIDSystemInfo << /Registry (Adobe) "
            b"/Ordering (Identity) /Supplement 0 >> >>"
        )
        bf = []
        items = sorted(cid_codes.items(), key=lambda kv: kv[1])
        for start in range(0, len(items), 100):  # §9.10.3: <=100/block
            block = items[start : start + 100]
            bf.append(f"{len(block)} beginbfchar")
            for ch, code in block:
                dst = ch.encode("utf-16-be").hex()
                bf.append(f"<{code:04x}> <{dst}>")
            bf.append("endbfchar")
        cmap_src = "\n".join(
            [
                "/CIDInit /ProcSet findresource begin",
                "12 dict begin",
                "begincmap",
                "/CMapName /Adobe-Identity-UCS def",
                "/CMapType 2 def",
                "1 begincodespacerange",
                "<0000> <ffff>",
                "endcodespacerange",
                *bf,
                "endcmap",
                "CMapName currentdict /CMap defineresource pop",
                "end",
                "end",
            ]
        ).encode("latin-1")
        if enc is not None:
            cmap_src = enc["apply"](font_num + 2, cmap_src)
        objs.append(
            f"<< /Length {len(cmap_src)} >>".encode()
            + b"\nstream\n"
            + cmap_src
            + b"\nendstream"
        )
    info_num = len(objs) + 1
    if title is not None:
        if enc is not None:
            tb = enc["apply"](info_num, title.encode("latin-1"))
            objs.append(f"<< /Title <{tb.hex()}> >>".encode())
        else:
            objs.append(f"<< /Title ({esc(title)}) >>".encode())
    if xmp is not None:
        if objstm:
            raise ValueError("encode_pdf: xmp with objstm not wired")
        # /Type /Metadata XMP stream hung off the catalog. §7.6.5:
        # with /EncryptMetadata false the stream is stored PLAINTEXT
        # inside an otherwise-encrypted file
        xb = xmp.encode("utf-8")
        if enc is not None and not encrypt.endswith("-nometa"):
            xb = enc["apply"](len(objs) + 1, xb)
        objs[0] = (
            f"<< /Type /Catalog /Pages 2 0 R "
            f"/Metadata {len(objs) + 1} 0 R >>".encode()
        )
        objs.append(
            f"<< /Type /Metadata /Subtype /XML /Length {len(xb)} "
            ">>".encode() + b"\nstream\n" + xb + b"\nendstream"
        )
    enc_num = None
    if enc is not None:
        enc_num = len(objs) + 1
        objs.append(enc["body"].encode())
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    trailer = f"<< /Size {len(objs) + 1} /Root 1 0 R"
    if title is not None:
        trailer += f" /Info {info_num} 0 R"
    if enc is not None:
        h0 = enc["id"].hex()
        trailer += f" /Encrypt {enc_num} 0 R /ID [<{h0}> <{h0}>]"
    trailer += " >>"
    out += (
        b"trailer\n"
        + trailer.encode()
        + f"\nstartxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return bytes(out)


def encode_scan_pdf(images: list) -> bytes:
    """Scan-shaped PDF fixture: one image XObject per page, drawn by
    a one-op content stream (the layout scanners and book digitizers
    emit). ``images`` is a list of (kind, pixels) with kinds:
    ``dct`` (gray or RGB through the in-repo JPEG encoder),
    ``ccitt-g4`` / ``ccitt-k0`` / ``ccitt-k0-aligned`` (bilevel,
    white=255 display gray in), ``gray8``/``gray1``/``rgb8`` (Flate
    raw rasters), ``indexed`` (pixels are (h, w) indices; a 216-entry
    RGB cube palette), ``mask`` (ImageMask stencil), ``inline`` (a
    gray8 Flate ``BI..ID..EI`` image in the page content stream —
    §8.9.7), ``form`` (a gray8 image nested inside a Form XObject's
    own resource tree — the office-generator layout)."""
    import numpy as np

    from timeseries_data_provider_spark.operators import ccitt as _ccitt

    objs: list[bytes] = []
    n_pages = len(images)
    # four object slots per page: page, A (image or form), B (nested
    # image, else a null placeholder), content
    kids = " ".join(f"{3 + 4 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for i, (kind, px) in enumerate(images):
        # "+dinv" suffix: write a full-inversion /Decode array on
        # the image dict (r12) — stored data unchanged, so a test
        # asserts the decoder output is the channel inverse
        dinv = kind.endswith("+dinv")
        if dinv:
            kind = kind[: -len("+dinv")]
        px = np.asarray(px, np.uint8)
        h, w = px.shape[:2]
        page_num = 3 + 4 * i
        img_num = page_num + 1
        b_num = page_num + 2
        content_num = page_num + 3
        b_obj = b"null"  # unused B slot unless a kind claims it
        if kind == "inline":
            bi = (
                f"q BI /W {w} /H {h} /BPC 8 /CS /G /F /Fl ID ".encode()
                + zlib.compress(px.tobytes())
                + b" EI Q"
            )
            objs.append(
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} "
                f"{h}] /Contents {content_num} 0 R >>".encode()
            )
            objs.append(b"null")
            objs.append(b"null")
            objs.append(
                f"<< /Length {len(bi)} >>".encode()
                + b"\nstream\n"
                + bi
                + b"\nendstream"
            )
            continue
        if kind == "form":
            data = zlib.compress(px.tobytes())
            objs.append(
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} "
                f"{h}] /Contents {content_num} 0 R /Resources "
                f"<< /XObject << /Fx0 {img_num} 0 R >> >> >>".encode()
            )
            fbody = b"/Im0 Do"
            objs.append(
                f"<< /Type /XObject /Subtype /Form /BBox [0 0 {w} "
                f"{h}] /Resources << /XObject << /Im0 {b_num} 0 R "
                f">> >> /Length {len(fbody)} >>".encode()
                + b"\nstream\n"
                + fbody
                + b"\nendstream"
            )
            objs.append(
                f"<< /Type /XObject /Subtype /Image /Width {w} "
                f"/Height {h} /ColorSpace /DeviceGray "
                f"/BitsPerComponent 8 /Length {len(data)} "
                f"/Filter /FlateDecode >>".encode()
                + b"\nstream\n"
                + data
                + b"\nendstream"
            )
            draw = f"q {w} 0 0 {h} 0 0 cm /Fx0 Do Q".encode()
            objs.append(
                f"<< /Length {len(draw)} >>".encode()
                + b"\nstream\n"
                + draw
                + b"\nendstream"
            )
            continue
        if kind == "dct":
            from timeseries_data_provider_spark.operators import (
                jpeg as _jpeg,
            )

            data = _jpeg.encode_baseline_jpeg(px)
            extra = " /Filter /DCTDecode"
            cs, bpc = (
                ("/DeviceRGB", 8) if px.ndim == 3 else ("/DeviceGray", 8)
            )
        elif kind in ("dct-cmyk", "dct-ycck"):
            # Adobe APP14 4-component DCT — the print/scan CMYK
            # shape (r11 VERDICT item 4); pixels in are TRUE CMYK
            from timeseries_data_provider_spark.operators import (
                jpeg as _jpeg,
            )

            data = _jpeg.encode_baseline_jpeg(
                px, adobe_transform=0 if kind == "dct-cmyk" else 2
            )
            extra = " /Filter /DCTDecode"
            cs, bpc = "/DeviceCMYK", 8
        elif kind == "cmyk8":
            data = zlib.compress(px.tobytes())
            extra = " /Filter /FlateDecode"
            cs, bpc = "/DeviceCMYK", 8
        elif kind in (
            "jpx", "jpx-jp2", "jpx-bypass", "jpx-opt", "jpx-parts",
            "jpx-offs", "jpx-prec",
        ):
            # lossless 5/3 JPEG 2000 (r13) — bare codestream or the
            # JP2 box container, both legal under /JPXDecode. r14
            # widens the form matrix to the shapes real encoders
            # emit: -bypass = the arithmetic-coder BYPASS flag alone
            # (the common Kakadu speed flag), -opt = all four
            # implemented coder options + 2 quality layers,
            # -parts = two tile-parts with SOP/EPH framing + 3
            # layers (same pixels in every form)
            from timeseries_data_provider_spark.operators import (
                jpx as _jpx,
            )

            kw = {}
            if kind == "jpx-bypass":
                kw = {"cb_style": 0x01}
            elif kind == "jpx-opt":
                kw = {"cb_style": 0x27, "layers": 2}
            elif kind == "jpx-parts":
                kw = {"tile_parts": 2, "layers": 3, "sop": True,
                      "eph": True}
            elif kind == "jpx-offs":
                # r15: non-zero image/tile grid offsets (T.800 B.1
                # — the cropped-codestream form)
                kw = {"offsets": (4, 8, 0, 0)}
            elif kind == "jpx-prec":
                # r15: explicit precinct subdivision (the Kakadu
                # Cprecincts archival form) — small precincts force
                # multiple packets per resolution
                kw = {"precincts": (4, 4), "layers": 2}
            data = _jpx.encode_jpx(
                px, levels=2, jp2=kind == "jpx-jp2", **kw
            )
            extra = " /Filter /JPXDecode"
            cs, bpc = (
                "/DeviceRGB" if px.ndim == 3 else "/DeviceGray"
            ), 8
        elif kind.startswith("ccitt"):
            fax = (px < 128).astype(np.uint8)
            if kind == "ccitt-g4":
                data = _ccitt.encode_g4(fax)
                parms = f"<< /K -1 /Columns {w} /Rows {h} >>"
            elif kind == "ccitt-g4-b1":
                # BlackIs1 true: the fax bits ARE the stored
                # samples, so this displays inverted vs ccitt-g4
                # unless paired with +dinv (r12)
                data = _ccitt.encode_g4(fax)
                parms = (
                    f"<< /K -1 /Columns {w} /Rows {h} "
                    "/BlackIs1 true >>"
                )
            elif kind == "ccitt-k0":
                data = _ccitt.encode_mh(fax, align=False)
                parms = f"<< /K 0 /Columns {w} /Rows {h} >>"
            else:  # ccitt-k0-aligned
                data = _ccitt.encode_mh(fax, align=True)
                parms = (
                    f"<< /K 0 /Columns {w} /Rows {h} "
                    "/EncodedByteAlign true >>"
                )
            extra = f" /Filter /CCITTFaxDecode /DecodeParms {parms}"
            cs, bpc = "/DeviceGray", 1
        elif kind == "jbig2-ref":
            # r15 (VERDICT item 4 stretch): the page is painted as
            # a COARSE base (the exact raster with its centre box
            # cleared) by a generic region, then an immediate
            # refinement region (type 42, REPLACE) restores the
            # true pixels — the progressive-quality shape T.88 6.3
            # exists for; final raster identical to the other kinds
            from timeseries_data_provider_spark.operators import (
                jbig2 as _jbig2,
            )

            bits = (px < 128).astype("uint8")
            hh, ww = bits.shape
            base = bits.copy()
            base[hh // 4 : hh - hh // 4, ww // 4 : ww - ww // 4] = 0
            data = _jbig2.encode_jbig2_refined_page(
                base, bits, template=0, tpgron=True
            )
            extra = " /Filter /JBIG2Decode"
            cs, bpc = "/DeviceGray", 1
        elif kind in ("jbig2", "jbig2-mmr", "jbig2-tpgdon"):
            # bilevel scan via the T.88 generic region (r12):
            # white=255 display gray in, like the ccitt kinds
            from timeseries_data_provider_spark.operators import (
                jbig2 as _jbig2,
            )

            bits = (px < 128).astype("uint8")
            data = _jbig2.encode_jbig2_generic(
                bits,
                tpgdon=kind == "jbig2-tpgdon",
                mmr=kind == "jbig2-mmr",
            )
            extra = " /Filter /JBIG2Decode"
            cs, bpc = "/DeviceGray", 1
        elif kind in ("jbig2-text", "jbig2-text-huff"):
            # the glyph-clustered form real scanners emit (r12):
            # exact row-run decomposition — every maximal black run
            # becomes an instance of a 1xN glyph, so ANY raster
            # round-trips through the symbol-dictionary + text-
            # region path without approximation. -huff (r14) rides
            # the HUFFMAN coding path (SDHUFF/SBHUFF, standard
            # tables B.1-B.5 + custom FS/DS/DT table segments, MMR
            # collective bitmaps) — the second scanner-encoder
            # family
            from timeseries_data_provider_spark.operators import (
                jbig2 as _jbig2,
            )

            bits = (px < 128).astype("uint8")
            hh, ww = bits.shape
            padded = np.zeros((hh, ww + 2), np.uint8)
            padded[:, 1:-1] = bits
            d = np.diff(padded.astype(np.int8), axis=1)
            widths: dict[int, int] = {}
            placements = []
            for r in range(hh):
                starts = np.flatnonzero(d[r] == 1)
                ends = np.flatnonzero(d[r] == -1)
                for c0, c1 in zip(starts, ends):
                    wlen = int(c1 - c0)
                    widths.setdefault(wlen, len(widths))
                    placements.append((widths[wlen], r, int(c0)))
            if not placements:
                raise ValueError(
                    "encode_scan_pdf: jbig2-text needs >= 1 black "
                    "pixel"
                )
            symbols = [None] * len(widths)
            for wlen, idx in widths.items():
                symbols[idx] = np.ones((1, wlen), np.uint8)
            data = _jbig2.encode_jbig2_text_page(
                ww, hh, symbols, placements,
                huffman=kind == "jbig2-text-huff",
            )
            extra = " /Filter /JBIG2Decode"
            cs, bpc = "/DeviceGray", 1
        elif kind == "gray8":
            data = zlib.compress(px.tobytes())
            extra = " /Filter /FlateDecode"
            cs, bpc = "/DeviceGray", 8
        elif kind == "gray1":
            bits = np.packbits((px >= 128).astype(np.uint8), axis=1)
            data = zlib.compress(bits.tobytes())
            extra = " /Filter /FlateDecode"
            cs, bpc = "/DeviceGray", 1
        elif kind == "rgb8":
            data = zlib.compress(px.tobytes())
            extra = " /Filter /FlateDecode"
            cs, bpc = "/DeviceRGB", 8
        elif kind == "indexed":
            # 216-entry web-safe RGB cube palette
            lut = bytes(
                c
                for r in range(0, 256, 51)
                for g in range(0, 256, 51)
                for b in range(0, 256, 51)
                for c in (r, g, b)
            )
            data = zlib.compress(px.tobytes())
            extra = " /Filter /FlateDecode"
            cs = f"[/Indexed /DeviceRGB 215 <{lut.hex()}>]"
            bpc = 8
        elif kind == "sep-cube":
            # r15 (VERDICT item 6): the SAME web-safe-cube pixels
            # as "indexed", but through /Separation over DeviceRGB
            # with a SAMPLED (Type 0) tint transform whose 256-
            # entry table IS the cube LUT — 8-bit inputs land
            # exactly on the samples, so decoded RGB == lut[v]
            # bit-exact and the §7.10 evaluator is oracle-load-
            # bearing on every corpus run
            lut = [
                (r, g, b)
                for r in range(0, 256, 51)
                for g in range(0, 256, 51)
                for b in range(0, 256, 51)
            ]
            table = bytes(
                c
                for j in range(256)
                for c in lut[min(j, 215)]
            )
            fstream = zlib.compress(table)
            b_obj = (
                f"<< /FunctionType 0 /Domain [0 1] "
                f"/Range [0 1 0 1 0 1] /Size [256] "
                f"/BitsPerSample 8 /Filter /FlateDecode "
                f"/Length {len(fstream)} >>".encode()
                + b"\nstream\n" + fstream + b"\nendstream"
            )
            data = zlib.compress(px.tobytes())
            extra = " /Filter /FlateDecode"
            cs = f"[/Separation /Ink0 /DeviceRGB {img_num + 1} 0 R]"
            bpc = 8
        elif kind == "mask":
            bits = np.packbits((px >= 128).astype(np.uint8), axis=1)
            data = zlib.compress(bits.tobytes())
            extra = " /Filter /FlateDecode /ImageMask true"
            cs, bpc = None, None
        elif kind == "sep-gray-exp":
            # r14 (VERDICT item 5): /Separation spot ink over a
            # DeviceGray alternate with the exponential tint
            # transform 1 - t (more ink = darker) — inline Type 2
            # function, no stream needed
            data = zlib.compress(px.tobytes())
            extra = " /Filter /FlateDecode"
            cs = (
                "[/Separation /Ink0 /DeviceGray "
                "<< /FunctionType 2 /Domain [0 1] /C0 [1] /C1 [0] "
                "/N 1 >>]"
            )
            bpc = 8
        elif kind == "sep-sampled":
            # r14: /Separation through a SAMPLED (Type 0) tint
            # transform — a 256-entry square-law table in the B
            # slot; at 8-bit inputs every lookup lands exactly on a
            # sample, so the expected gray is table[v] bit-exact
            table = bytes(
                int(round((j / 255.0) ** 2 * 255)) for j in range(256)
            )
            fstream = zlib.compress(table)
            b_obj = (
                f"<< /FunctionType 0 /Domain [0 1] /Range [0 1] "
                f"/Size [256] /BitsPerSample 8 /Filter /FlateDecode "
                f"/Length {len(fstream)} >>".encode()
                + b"\nstream\n" + fstream + b"\nendstream"
            )
            data = zlib.compress(px.tobytes())
            extra = " /Filter /FlateDecode"
            cs = (
                f"[/Separation /Ink0 /DeviceGray {img_num + 1} 0 R]"
            )
            bpc = 8
        elif kind == "sep-stitch":
            # r14 late: /Separation through a type 3 STITCHING
            # function — two exponential segments composing the
            # exact identity (f0 = t'/2 on [0, .5), f1 = .5 + t'/2
            # on [.5, 1]), so expected gray == stored sample
            data = zlib.compress(px.tobytes())
            extra = " /Filter /FlateDecode"
            cs = (
                "[/Separation /Ink0 /DeviceGray "
                "<< /FunctionType 3 /Domain [0 1] /Bounds [0.5] "
                "/Encode [0 1 0 1] /Functions ["
                "<< /FunctionType 2 /Domain [0 1] /C0 [0] "
                "/C1 [0.5] /N 1 >> "
                "<< /FunctionType 2 /Domain [0 1] /C0 [0.5] "
                "/C1 [1] /N 1 >>] >>]"
            )
            bpc = 8
        elif kind == "sep-ps":
            # r14 late: /Separation through a type 4 PostScript
            # calculator ({ 1 exch sub } -> gray inverse, exact)
            fsrc = b"{ 1 exch sub }"
            b_obj = (
                f"<< /FunctionType 4 /Domain [0 1] /Range [0 1] "
                f"/Length {len(fsrc)} >>".encode()
                + b"\nstream\n" + fsrc + b"\nendstream"
            )
            data = zlib.compress(px.tobytes())
            extra = " /Filter /FlateDecode"
            cs = f"[/Separation /Ink0 /DeviceGray {b_num} 0 R]"
            bpc = 8
        elif kind == "devicen":
            # r14 late: two-colorant /DeviceN through a calculator
            # tint transform (1 - (a+b)/2 over DeviceGray) — pixels
            # in are (h, w, 2) ink samples
            fsrc = b"{ add 2 div 1 exch sub }"
            b_obj = (
                f"<< /FunctionType 4 /Domain [0 1 0 1] "
                f"/Range [0 1] /Length {len(fsrc)} >>".encode()
                + b"\nstream\n" + fsrc + b"\nendstream"
            )
            data = zlib.compress(px.tobytes())
            extra = " /Filter /FlateDecode"
            cs = (
                f"[/DeviceN [/InkA /InkB] /DeviceGray {b_num} 0 R]"
            )
            bpc = 8
        elif kind == "lab":
            # r14: CIE L*a*b* raster (D50 white point, the PDF
            # default Range) — pixels in are the stored Lab samples
            data = zlib.compress(px.tobytes())
            extra = " /Filter /FlateDecode"
            cs = (
                "[/Lab << /WhitePoint [0.9643 1.0 0.8251] "
                "/Range [-100 100 -100 100] >>]"
            )
            bpc = 8
        else:
            raise ValueError(f"encode_scan_pdf: kind {kind!r}")
        if dinv:
            if kind == "indexed":
                extra += f" /Decode [{(1 << bpc) - 1} 0]"
            else:
                ncomp = (
                    1
                    if cs is None or cs == "/DeviceGray"
                    else {"/DeviceRGB": 3, "/DeviceCMYK": 4}[cs]
                )
                extra += " /Decode [" + " ".join(["1 0"] * ncomp) + "]"
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
            f"/Contents {content_num} 0 R /Resources << /XObject "
            f"<< /Im0 {img_num} 0 R >> >> >>".encode()
        )
        head = (
            f"<< /Type /XObject /Subtype /Image /Width {w} "
            f"/Height {h}"
        )
        if cs is not None:
            head += f" /ColorSpace {cs} /BitsPerComponent {bpc}"
        head += f" /Length {len(data)}{extra} >>"
        objs.append(
            head.encode() + b"\nstream\n" + data + b"\nendstream"
        )
        objs.append(b_obj)  # B slot (null unless a kind claims it)
        draw = f"q {w} 0 0 {h} 0 0 cm /Im0 Do Q".encode()
        objs.append(
            f"<< /Length {len(draw)} >>".encode()
            + b"\nstream\n"
            + draw
            + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer\n"
        + f"<< /Size {len(objs) + 1} /Root 1 0 R >>".encode()
        + f"\nstartxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return bytes(out)


def _encode_pdf_objstm(pages, title, esc) -> bytes:
    """Modern-layout branch of ``encode_pdf`` (1.5+): non-stream
    objects in one /ObjStm, a PNG-predicted /XRef stream as the
    trailer. Object numbers match the classic layout (1 catalog,
    2 pages, 3+2i page, 4+2i content, then info) so tests can compare
    extractions across layouts."""
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    # compressed (ObjStm-resident) objects: num -> serialized body
    packed: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (
            2,
            f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode(),
        ),
    ]
    streams: list[tuple[int, bytes]] = []  # top-level content objects
    for i, lines in enumerate(pages):
        content = "\n".join(
            f"BT /F1 12 Tf 72 720 Td ({esc(line)}) Tj ET" for line in lines
        ).encode("latin-1")
        z = zlib.compress(content)
        packed.append(
            (
                3 + 2 * i,
                f"<< /Type /Page /Parent 2 0 R /Contents {4 + 2 * i} 0 R "
                f"/MediaBox [0 0 612 792] >>".encode(),
            )
        )
        streams.append(
            (
                4 + 2 * i,
                f"<< /Length {len(z)} /Filter /FlateDecode >>".encode()
                + b"\nstream\n"
                + z
                + b"\nendstream",
            )
        )
    next_num = 3 + 2 * n_pages
    if title is not None:
        packed.append((next_num, f"<< /Title ({esc(title)}) >>".encode()))
        info_num = next_num
        next_num += 1
    else:
        info_num = None
    objstm_num = next_num
    xref_num = next_num + 1
    # ObjStm body: "num offset" pairs, then the objects at /First
    bodies = [b for _, b in packed]
    offs = []
    pos = 0
    for b in bodies:
        offs.append(pos)
        pos += len(b) + 1
    header = " ".join(
        f"{num} {off}" for (num, _), off in zip(packed, offs)
    ).encode() + b"\n"
    stm_data = header + b"\n".join(bodies) + b"\n"
    first = len(header)
    z = zlib.compress(stm_data)
    objstm_body = (
        f"<< /Type /ObjStm /N {len(packed)} /First {first} "
        f"/Length {len(z)} /Filter /FlateDecode >>".encode()
        + b"\nstream\n"
        + z
        + b"\nendstream"
    )
    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for num, body in streams + [(objstm_num, objstm_body)]:
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    # xref STREAM: W [1 4 2]; type 0 = free, 1 = offset, 2 = (objstm,
    # index). Rows for objects 0..xref_num. 4-byte offsets: a 2-byte
    # field overflowed on any fixture past 64 KB (review finding)
    size = xref_num + 1
    rows = bytearray()
    in_stm = {num: idx for idx, (num, _) in enumerate(packed)}
    for num in range(size):
        if num == 0:
            t, a, b = 0, 0, 65535
        elif num in in_stm:
            t, a, b = 2, objstm_num, in_stm[num]
        elif num in offsets:
            t, a, b = 1, offsets[num], 0
        elif num == xref_num:
            t, a, b = 1, xref_pos, 0
        else:
            t, a, b = 0, 0, 0
        rows += bytes([t]) + a.to_bytes(4, "big") + b.to_bytes(2, "big")
    # PNG Predictor 12 (Up), Columns = row width in bytes = 7
    rowlen = 7
    pred = bytearray()
    prev = bytes(rowlen)
    for r0 in range(0, len(rows), rowlen):
        row = rows[r0 : r0 + rowlen]
        pred += b"\x02" + bytes(
            (row[i] - prev[i]) & 0xFF for i in range(rowlen)
        )
        prev = row
    zx = zlib.compress(bytes(pred))
    xref_dict = (
        f"<< /Type /XRef /Size {size} /W [1 4 2] /Root 1 0 R"
        + (f" /Info {info_num} 0 R" if info_num else "")
        + f" /Filter /FlateDecode /DecodeParms << /Predictor 12 "
        f"/Columns {rowlen} >> /Length {len(zx)} >>"
    ).encode()
    out += (
        f"{xref_num} 0 obj\n".encode()
        + xref_dict
        + b"\nstream\n"
        + zx
        + b"\nendstream\nendobj\n"
    )
    out += f"startxref\n{xref_pos}\n%%EOF\n".encode()
    return bytes(out)


def text_pdf_blob(doc_id: int, text: str) -> bytes:
    """The deterministic two-page PDF planted for one document (q64's
    pdf columns — the synth_warc_corpus pattern): page 1 carries the
    REAL doc text in one Tj, page 2 a closed-form archive line; title
    'Doc {doc_id}'. Flate-compressed, so the extractor's zlib +
    content-tokenizer paths run on every row; every extracted field
    is doc_id/text math for the oracle. The FONT rotates by doc_id
    (r12, widened r13/r14/r15) — id%9==0 a Type0/Identity-H font
    with a ToUnicode CMap, id%9==1 a Type0 WITHOUT ToUnicode whose
    text is recoverable only through the embedded TrueType's cmap
    (the operators/sfnt path), id%9==4 a no-ToUnicode Type0 over a
    BARE Type1C CFF (glyph-name recovery, operators/cff), id%9==5
    the OpenType-CFF form (CID-keyed charset inversion composed with
    the sfnt cmap), id%9==6 a bare CID-KEYED Type1C under
    Adobe-Japan1 (r14 — text recovers only through the predefined
    registry ordering's transcribed ranges; falls back to the
    glyph-name arm when the text leaves them), id%9==7 a
    no-ToUnicode Type0 whose /Encoding is an EMBEDDED CMap STREAM
    with scrambled codes (r15 — text recovers only by composing the
    cidrange/cidchar walk with the TrueType cmap), id%9==8 a
    no-ToUnicode Type0 under the predefined /UniJIS-UCS2-H name
    (r15 — the code bytes ARE UTF-16BE; no font consulted),
    otherwise a simple font — so the oracle hash-checks all EIGHT
    text-recovery ladders on every run; extracted text is identical
    across modes by construction. A text outside Latin-1 cannot sit
    in a simple font's Tj string, so it takes the ToUnicode arm."""
    mode = doc_id % 9
    if mode in (2, 3) and any(ord(c) > 0xFF for c in text):
        mode = 0
    ff3 = {4: "cff", 5: "otto", 6: "cff_ros"}.get(mode)
    if ff3 == "cff_ros" and not all(
        0x20 <= ord(c) <= 0x7E for c in text + f"Archive copy {doc_id}."
    ):
        ff3 = "cff"
    return encode_pdf(
        [[text], [f"Archive copy {doc_id}."]],
        title=f"Doc {doc_id}",
        cid=mode in (0, 1, 7, 8) or ff3 is not None,
        cid_tounicode=mode == 0,
        cid_fontfile3=ff3,
        cid_encoding={7: "embedded", 8: "UniJIS-UCS2-H"}.get(mode),
    )


def synth_pdf_corpus(documents: DataFrame) -> DataFrame:
    """Deterministic two-page PDF per document (``text_pdf_blob``:
    the real doc text plus the nine-arm font rotation by doc_id)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_ in batches:
            ids = [int(doc_id) for doc_id in pdf_["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [
                        text_pdf_blob(i, t)
                        for i, t in zip(ids, pdf_["text"])
                    ],
                }
            )

    from timeseries_data_provider_spark.tables import widen_for_python

    documents = widen_for_python(documents)

    return documents.select("doc_id", "text").mapInPandas(
        synth, "doc_id long, payload binary"
    )


def pdf_features(
    df: DataFrame,
    blob_col: str = "payload",
    id_col: str = "doc_id",
    errors: str = "raise",
) -> DataFrame:
    """Arrow-batched extraction: (id, pdf_version, n_pages, text,
    n_text_chars, title, producer) per document.
    ``errors="quarantine"`` adds (err_class, err_msg) side rows for
    damaged documents instead of killing the task
    (sources/envelope.py)."""
    from timeseries_data_provider_spark.sources.envelope import (
        extraction_envelope,
    )

    def per_row(rid: int, blob: bytes) -> list[dict]:
        m = extract_pdf(blob)
        return [
            {
                "pdf_version": m["pdf_version"],
                "n_pages": m["n_pages"],
                "text": m["text"],
                "n_text_chars": len(m["text"]),
                "title": m["title"],
                "producer": m["producer"],
            }
        ]

    return extraction_envelope(
        df,
        per_row,
        [
            ("pdf_version", "string"),
            ("n_pages", "long"),
            ("text", "string"),
            ("n_text_chars", "long"),
            ("title", "string"),
            ("producer", "string"),
        ],
        id_col=id_col,
        blob_col=blob_col,
        errors=errors,
    )


def synth_pdf_chain_features(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """q64's two PDF chains fused into ONE Arrow pass (r15, guide
    §2.4/§4): per document, build the text PDF (``text_pdf_blob``)
    and the 3-page scan PDF (``scan_pdf_blob``) and extract both back
    immediately with ``extract_pdf`` / ``extract_pdf_images`` — the
    builders and extractors the separate synth_pdf_corpus +
    pdf_features and synth_scan_pdf_media + pdf_image_features +
    groupBy pipelines call (equality pinned in
    tests/test_pdf_images.py). The scan columns are the per-doc
    aggregate the groupBy computed: scan_pages = image count,
    scan_pxN_milli = Σ pixel_milli of page-N images (NULL when a page
    has none). Collapses four mapInPandas passes, two repartitions,
    one hash aggregate and one join into one shuffle-free pass."""
    from timeseries_data_provider_spark.operators.multimodal import (
        pixel_milli,
    )
    from timeseries_data_provider_spark.tables import widen_for_python

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "pdf_pages", "pdf_title", "pdf_text", "pdf_text_chars",
            "scan_pages", "scan_px1_milli", "scan_px2_milli",
            "scan_px3_milli",
        ]
        for pdf_ in batches:
            out: dict = {id_col: []}
            for c in cols:
                out[c] = []
            for doc_id, text in zip(pdf_[id_col], pdf_[text_col]):
                i = int(doc_id)
                m = extract_pdf(text_pdf_blob(i, text))
                out["pdf_pages"].append(m["n_pages"])
                out["pdf_title"].append(m["title"])
                out["pdf_text"].append(m["text"])
                out["pdf_text_chars"].append(len(m["text"]))
                n_imgs = 0
                px = {1: None, 2: None, 3: None}
                for img in extract_pdf_images(scan_pdf_blob(i)):
                    n_imgs += 1
                    pg = img["page"]
                    if pg in px:
                        px[pg] = (px[pg] or 0) + pixel_milli(img["pixels"])
                out["scan_pages"].append(n_imgs)
                out["scan_px1_milli"].append(px[1])
                out["scan_px2_milli"].append(px[2])
                out["scan_px3_milli"].append(px[3])
                out[id_col].append(i)
            yield pd.DataFrame(out)

    schema = (
        f"{id_col} long, pdf_pages long, pdf_title string,"
        " pdf_text string, pdf_text_chars long, scan_pages long,"
        " scan_px1_milli long, scan_px2_milli long,"
        " scan_px3_milli long"
    )
    return widen_for_python(
        documents.select(id_col, text_col)
    ).mapInPandas(run, schema)
