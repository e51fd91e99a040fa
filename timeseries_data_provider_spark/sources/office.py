"""Office Open XML text extraction (DOCX / XLSX / PPTX) — stdlib.

Office documents are a major crawl-corpus class (reports, papers,
spreadsheets, slide decks); OOXML (ECMA-376, ISO/IEC 29500 — the
default Word/Excel/PowerPoint format since 2007) is stdlib-feasible:
a ZIP container of XML parts. This module extracts the TEXT layer —
paragraphs, table cells, slide runs, sheet cells — plus the Dublin
Core metadata (title/creator), not layout or styling.

Public-knowledge basis: ECMA-376 part 1 (public): WordprocessingML
(``word/document.xml`` — w:p paragraphs, w:r runs, w:t text, w:tab /
w:br, w:tbl tables), SpreadsheetML (``xl/worksheets/sheetN.xml``
cells + ``xl/sharedStrings.xml``), PresentationML
(``ppt/slides/slideN.xml`` a:t runs), and the OPC core-properties
part (``docProps/core.xml``). Reference parity note: index.js has no
document surface; [EXT] per SURVEY §2.

Hostile-input posture (crawl reality):

- element matching is by LOCAL NAME, not namespace prefix — real
  generators vary prefixes and occasionally drop declarations;
- any part carrying a DOCTYPE is rejected loudly BEFORE parsing
  (OOXML never uses DTDs; this closes entity-expansion bombs on the
  pre-3.13 expat in this container);
- member size guards ride the archives.MAX_MEMBER contract; truncated
  containers and malformed XML raise named ValueErrors, never emit
  wrong text silently.

DOCX sub-parts — headers, footers, footnotes, comments — extract
behind the opt-in ``extra_parts`` flag (r12; default output
unchanged). Encrypted OOXML (Standard/Agile, the CFB wrapper)
decrypts through sources/offcrypto with the empty/VelvetSweatshop
default passwords (r12); a REAL password raises the named error.
Remaining named gaps: legacy binary formats route to the sibling
doc/ppt/xls modules; embedded OLE objects and charts. Numbers in
XLSX are emitted as their stored lexical form (the cell's ``v``
text), not re-formatted.

Scale shape: per-document independent (Arrow fan-out under
mapInPandas — the codec-tier posture); zero shuffle.
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import Iterator
from xml.etree import ElementTree as ET

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseries_data_provider_spark.sources.archives import (
    MAX_MEMBER,
    zip_members,
)

__all__ = [
    "docx_text",
    "xlsx_text",
    "pptx_text",
    "office_text",
    "encode_docx",
    "encode_xlsx",
    "encode_pptx",
    "office_features",
]

_DOCTYPE_RE = re.compile(rb"<!DOCTYPE", re.IGNORECASE)


def _localname(tag) -> str:
    return tag.rsplit("}", 1)[-1] if isinstance(tag, str) else ""


def _parse_part(zf: zipfile.ZipFile, name: str) -> ET.Element:
    try:
        inf = zf.getinfo(name)
    except KeyError:
        raise ValueError(f"office: container missing part {name}")
    if inf.file_size > MAX_MEMBER:
        raise ValueError(f"office: part {name} exceeds size guard")
    data = zf.read(name)
    # scan the WHOLE part, not a prefix: an XML prolog may carry
    # arbitrarily long comments before a DOCTYPE, and the regex is
    # cheap relative to the parse that follows
    if _DOCTYPE_RE.search(data):
        raise ValueError(
            f"office: part {name} carries a DOCTYPE (OOXML never "
            "does — refusing to expand entities)"
        )
    try:
        return ET.fromstring(data)
    except ET.ParseError as e:
        raise ValueError(f"office: malformed XML in {name}: {e}") from e


def _open_container(blob: bytes) -> zipfile.ZipFile:
    if blob[:2] != b"PK":
        raise ValueError("office: not a ZIP container")
    try:
        return zipfile.ZipFile(io.BytesIO(blob))
    except zipfile.BadZipFile as e:
        raise ValueError(f"office: bad zip: {e}") from e


def _core_props(zf: zipfile.ZipFile) -> tuple[str | None, str | None]:
    """(title, creator) from docProps/core.xml, absent -> (None,
    None) — metadata is optional in real files."""
    if "docProps/core.xml" not in zf.namelist():
        return None, None
    try:
        root = _parse_part(zf, "docProps/core.xml")
    except ValueError:
        return None, None  # damaged metadata never blocks the text
    title = creator = None
    for el in root.iter():
        ln = _localname(el.tag)
        if ln == "title" and el.text:
            title = el.text
        elif ln == "creator" and el.text:
            creator = el.text
    return title, creator


def _docx_paragraph_text(p: ET.Element) -> str:
    """One w:p -> its visible text: w:t runs verbatim (xml:space
    respected by ET), w:tab -> TAB, w:br / w:cr -> newline."""
    out: list[str] = []
    for el in p.iter():
        ln = _localname(el.tag)
        if ln == "t":
            out.append(el.text or "")
        elif ln == "tab":
            out.append("\t")
        elif ln in ("br", "cr"):
            out.append("\n")
    return "".join(out)


def _docx_block_text(node) -> tuple[list[str], int, int]:
    """Shared WordprocessingML block walk: paragraphs in document
    order, tables one line per row with cells joined by TAB. Used by
    the body and (r12) every sub-part root (w:hdr / w:ftr /
    w:footnote / w:comment)."""
    lines: list[str] = []
    n_par = n_tbl = 0

    def walk(inner, depth: int = 0) -> None:
        nonlocal n_par, n_tbl
        if depth > 64:
            raise ValueError("office: body nesting too deep")
        for el in inner:
            ln = _localname(el.tag)
            if ln == "p":
                n_par += 1
                lines.append(_docx_paragraph_text(el))
            elif ln == "tbl":
                n_tbl += 1
                for tr in el.iter():
                    if _localname(tr.tag) != "tr":
                        continue
                    cells = []
                    for tc in tr:
                        if _localname(tc.tag) != "tc":
                            continue
                        cells.append(
                            "\n".join(
                                _docx_paragraph_text(p)
                                for p in tc.iter()
                                if _localname(p.tag) == "p"
                            )
                        )
                    lines.append("\t".join(cells))
            elif ln == "sectPr":
                continue
            else:
                walk(el, depth + 1)

    walk(node)
    return lines, n_par, n_tbl


def docx_text(blob: bytes, extra_parts: bool = False) -> dict:
    """WordprocessingML text: body paragraphs in document order;
    tables emit one line per row with cells joined by TAB (the
    plain-text table convention). Returns {title, creator,
    n_paragraphs, n_tables, text}.

    ``extra_parts=True`` (r12, OPT-IN — default output unchanged)
    additionally walks the sub-parts readers see but the body does
    not carry: headers (``word/headerN.xml``), footers
    (``word/footerN.xml``), footnotes (``word/footnotes.xml``,
    separator stubs skipped), and comments (``word/comments.xml``).
    Their text appends AFTER the body in that fixed order (numeric
    part order within each family), and their paragraphs/tables
    count into n_units/n_tables."""
    zf = _open_container(blob)
    root = _parse_part(zf, "word/document.xml")
    body = None
    for el in root:
        if _localname(el.tag) == "body":
            body = el
            break
    if body is None:
        raise ValueError("office: document.xml has no body")
    lines, n_par, n_tbl = _docx_block_text(body)
    if extra_parts:
        names = zf.namelist()

        def numbered(pat: str) -> list[str]:
            hits = [
                (int(m.group(1)), n)
                for n in names
                for m in [re.fullmatch(pat, n)]
                if m
            ]
            return [n for _, n in sorted(hits)]

        part_roots = []
        for name in numbered(r"word/header(\d+)\.xml"):
            part_roots.append(_parse_part(zf, name))
        for name in numbered(r"word/footer(\d+)\.xml"):
            part_roots.append(_parse_part(zf, name))
        if "word/footnotes.xml" in names:
            fn_root = _parse_part(zf, "word/footnotes.xml")
            for fn in fn_root:
                if _localname(fn.tag) != "footnote":
                    continue
                # separator/continuationSeparator stubs carry rule
                # marks, not document text
                typ = next(
                    (
                        v
                        for k, v in fn.attrib.items()
                        if _localname(k) == "type"
                    ),
                    None,
                )
                if typ in ("separator", "continuationSeparator"):
                    continue
                part_roots.append(fn)
        if "word/comments.xml" in names:
            cm_root = _parse_part(zf, "word/comments.xml")
            for cm in cm_root:
                if _localname(cm.tag) == "comment":
                    part_roots.append(cm)
        for pr in part_roots:
            xl, xp, xt = _docx_block_text(pr)
            lines.extend(xl)
            n_par += xp
            n_tbl += xt
    title, creator = _core_props(zf)
    return {
        "kind": "docx",
        "title": title,
        "creator": creator,
        "n_units": n_par,
        "n_tables": n_tbl,
        "text": "\n".join(lines),
    }


def xlsx_text(blob: bytes) -> dict:
    """SpreadsheetML text: every worksheet in part order, one line
    per row, cells joined by TAB. Shared strings (t="s") resolve
    through xl/sharedStrings.xml; inline strings (t="inlineStr" /
    t="str") and numeric/lexical values emit as stored. Returns
    {title, creator, n_units (rows), text}."""
    zf = _open_container(blob)
    shared: list[str] = []
    if "xl/sharedStrings.xml" in zf.namelist():
        for si in _parse_part(zf, "xl/sharedStrings.xml"):
            if _localname(si.tag) != "si":
                continue
            shared.append(
                "".join(
                    el.text or ""
                    for el in si.iter()
                    if _localname(el.tag) == "t"
                )
            )
    sheets = sorted(
        (
            n
            for n in zf.namelist()
            if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)
        ),
        # numeric part order: lexical zip order mis-sorts sheet10
        # before sheet2 (the same hazard as pptx slides)
        key=lambda n: int(re.search(r"\d+", n.rsplit("/", 1)[1]).group()),
    )
    if not sheets:
        raise ValueError("office: workbook has no worksheets")
    lines: list[str] = []
    n_rows = 0
    for name in sheets:
        root = _parse_part(zf, name)
        for row in root.iter():
            if _localname(row.tag) != "row":
                continue
            n_rows += 1
            cells = []
            for c in row:
                if _localname(c.tag) != "c":
                    continue
                t = c.attrib.get("t", "n")
                if t == "inlineStr":
                    # rich-text runs: join every t (first-hit logic
                    # dropped all but the first run — review finding)
                    cells.append(
                        "".join(
                            el.text or ""
                            for el in c.iter()
                            if _localname(el.tag) == "t"
                        )
                    )
                    continue
                v = None
                for el in c.iter():
                    if _localname(el.tag) in ("v", "t"):
                        v = el.text or ""
                        break
                if v is None:
                    cells.append("")
                elif t == "s":
                    try:
                        cells.append(shared[int(v)])
                    except (ValueError, IndexError):
                        raise ValueError(
                            f"office: shared-string index {v!r} out "
                            "of range"
                        )
                else:
                    cells.append(v)
            lines.append("\t".join(cells))
    title, creator = _core_props(zf)
    return {
        "kind": "xlsx",
        "title": title,
        "creator": creator,
        "n_units": n_rows,
        "n_tables": len(sheets),
        "text": "\n".join(lines),
    }


def pptx_text(blob: bytes) -> dict:
    """PresentationML text: slides in numeric order (slide1, slide2,
    ... — the zip's lexical order mis-sorts slide10 before slide2),
    a:p paragraphs joined by newline within a slide, slides separated
    by form-feed (the PDF page convention). Returns {title, creator,
    n_units (slides), text}."""
    zf = _open_container(blob)
    slides = sorted(
        (
            n
            for n in zf.namelist()
            if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)
        ),
        key=lambda n: int(re.search(r"\d+", n.rsplit("/", 1)[1]).group()),
    )
    if not slides:
        raise ValueError("office: presentation has no slides")
    pages: list[str] = []
    for name in slides:
        root = _parse_part(zf, name)
        paras: list[str] = []
        for p in root.iter():
            if _localname(p.tag) != "p":
                continue
            # a:p (drawingml paragraphs — the only p in slide parts)
            txt = "".join(
                el.text or ""
                for el in p.iter()
                if _localname(el.tag) == "t"
            )
            if txt:
                paras.append(txt)
        pages.append("\n".join(paras))
    title, creator = _core_props(zf)
    return {
        "kind": "pptx",
        "title": title,
        "creator": creator,
        "n_units": len(slides),
        "n_tables": 0,
        "text": "\x0c".join(pages),
    }


def office_text(
    blob: bytes,
    extra_parts: bool = False,
    passwords: tuple[str, ...] | None = None,
) -> dict:
    """Sniff-and-route: the container's parts decide the format (the
    content-type of crawl payloads lies too often to trust).
    ``extra_parts`` reaches the DOCX walker (headers/footers/
    footnotes/comments, r12 — opt-in, default output unchanged).
    An ENCRYPTED OOXML payload (a CFB container carrying
    EncryptionInfo/EncryptedPackage) decrypts through
    sources/offcrypto first (r12): the empty password and Excel's
    VelvetSweatshop default are tried (plus ``passwords``); a real
    user password raises the named error."""
    if blob[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        from timeseries_data_provider_spark.sources import offcrypto

        cands = offcrypto.DEFAULT_PASSWORDS + tuple(passwords or ())
        blob = offcrypto.decrypt_ooxml(blob, cands)
    zf = _open_container(blob)
    names = set(zf.namelist())
    if "word/document.xml" in names:
        return docx_text(blob, extra_parts=extra_parts)
    if any(re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n) for n in names):
        return xlsx_text(blob)
    if any(re.fullmatch(r"ppt/slides/slide\d+\.xml", n) for n in names):
        return pptx_text(blob)
    raise ValueError(
        "office: ZIP is not a DOCX/XLSX/PPTX container "
        "(no recognizable OOXML part)"
    )


# -- fixture writers ----------------------------------------------------

_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_CP = (
    "http://schemas.openxmlformats.org/package/2006/metadata/"
    "core-properties"
)
_DC = "http://purl.org/dc/elements/1.1/"


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _core_xml(title: str | None, creator: str | None) -> str:
    t = f"<dc:title>{_xml_escape(title)}</dc:title>" if title else ""
    c = (
        f"<dc:creator>{_xml_escape(creator)}</dc:creator>"
        if creator
        else ""
    )
    return (
        f'<cp:coreProperties xmlns:cp="{_CP}" xmlns:dc="{_DC}">'
        f"{t}{c}</cp:coreProperties>"
    )


def encode_docx(
    paragraphs: list[str],
    title: str | None = None,
    creator: str | None = None,
    table: list[list[str]] | None = None,
    headers: list[str] | None = None,
    footers: list[str] | None = None,
    footnotes: list[str] | None = None,
    comments: list[str] | None = None,
) -> bytes:
    """Minimal valid DOCX: body paragraphs (TAB/newline characters
    round-trip as w:tab / w:br) and an optional one-grid table.
    ``headers``/``footers`` write one part per entry
    (word/headerN.xml / word/footerN.xml); ``footnotes`` writes
    word/footnotes.xml with the real-writer separator stubs plus one
    w:footnote per entry; ``comments`` writes word/comments.xml."""
    runs = []
    for p in paragraphs:
        body = ""
        for ch in p:
            if ch == "\t":
                body += "<w:tab/>"
            elif ch == "\n":
                body += "<w:br/>"
            else:
                body += (
                    f'<w:t xml:space="preserve">{_xml_escape(ch)}</w:t>'
                )
        runs.append(f"<w:p><w:r>{body}</w:r></w:p>")
    if table is not None:
        rows = "".join(
            "<w:tr>"
            + "".join(
                f"<w:tc><w:p><w:r><w:t xml:space=\"preserve\">"
                f"{_xml_escape(c)}</w:t></w:r></w:p></w:tc>"
                for c in row
            )
            + "</w:tr>"
            for row in table
        )
        runs.append(f"<w:tbl>{rows}</w:tbl>")
    doc = (
        f'<w:document xmlns:w="{_W}"><w:body>'
        + "".join(runs)
        + "<w:sectPr/></w:body></w:document>"
    )
    parts = {
        "[Content_Types].xml": "<Types/>",
        "word/document.xml": doc,
        "docProps/core.xml": _core_xml(title, creator),
    }

    def para(p: str) -> str:
        return (
            f'<w:p><w:r><w:t xml:space="preserve">'
            f"{_xml_escape(p)}</w:t></w:r></w:p>"
        )

    for i, h in enumerate(headers or [], start=1):
        parts[f"word/header{i}.xml"] = (
            f'<w:hdr xmlns:w="{_W}">{para(h)}</w:hdr>'
        )
    for i, f in enumerate(footers or [], start=1):
        parts[f"word/footer{i}.xml"] = (
            f'<w:ftr xmlns:w="{_W}">{para(f)}</w:ftr>'
        )
    if footnotes:
        fns = [
            '<w:footnote w:type="separator" w:id="-1"><w:p/>'
            "</w:footnote>",
            '<w:footnote w:type="continuationSeparator" w:id="0">'
            "<w:p/></w:footnote>",
        ]
        fns += [
            f'<w:footnote w:id="{i}">{para(t)}</w:footnote>'
            for i, t in enumerate(footnotes, start=1)
        ]
        parts["word/footnotes.xml"] = (
            f'<w:footnotes xmlns:w="{_W}">{"".join(fns)}'
            "</w:footnotes>"
        )
    if comments:
        parts["word/comments.xml"] = (
            f'<w:comments xmlns:w="{_W}">'
            + "".join(
                f'<w:comment w:id="{i}">{para(t)}</w:comment>'
                for i, t in enumerate(comments, start=1)
            )
            + "</w:comments>"
        )
    return zip_members(parts)


def encode_xlsx(
    sheets: list[list[list[str]]],
    title: str | None = None,
    shared: bool = True,
) -> bytes:
    """Minimal valid XLSX: each sheet a row-major grid of strings.
    ``shared=True`` routes every cell through sharedStrings (the
    writer default in real files); False writes inline strings."""
    strings: list[str] = []
    index: dict[str, int] = {}
    parts: dict[str, str] = {"[Content_Types].xml": "<Types/>"}
    for si, grid in enumerate(sheets, start=1):
        rows_xml = []
        for r, row in enumerate(grid, start=1):
            cells = []
            for j, val in enumerate(row):
                col = chr(ord("A") + j)
                if shared:
                    if val not in index:
                        index[val] = len(strings)
                        strings.append(val)
                    cells.append(
                        f'<c r="{col}{r}" t="s">'
                        f"<v>{index[val]}</v></c>"
                    )
                else:
                    cells.append(
                        f'<c r="{col}{r}" t="inlineStr"><is>'
                        f'<t xml:space="preserve">{_xml_escape(val)}'
                        "</t></is></c>"
                    )
            rows_xml.append(f'<row r="{r}">{"".join(cells)}</row>')
        parts[f"xl/worksheets/sheet{si}.xml"] = (
            f'<worksheet xmlns="{_S}"><sheetData>'
            + "".join(rows_xml)
            + "</sheetData></worksheet>"
        )
    if shared and strings:
        parts["xl/sharedStrings.xml"] = (
            f'<sst xmlns="{_S}">'
            + "".join(
                f'<si><t xml:space="preserve">{_xml_escape(s)}</t></si>'
                for s in strings
            )
            + "</sst>"
        )
    parts["docProps/core.xml"] = _core_xml(title, None)
    return zip_members(parts)


def encode_pptx(
    slides: list[list[str]], title: str | None = None
) -> bytes:
    """Minimal valid PPTX: each slide a list of paragraph strings."""
    parts: dict[str, str] = {"[Content_Types].xml": "<Types/>"}
    for i, paras in enumerate(slides, start=1):
        body = "".join(
            f'<a:p><a:r><a:t>{_xml_escape(p)}</a:t></a:r></a:p>'
            for p in paras
        )
        parts[f"ppt/slides/slide{i}.xml"] = (
            f'<p:sld xmlns:p="http://schemas.openxmlformats.org/'
            f'presentationml/2006/main" xmlns:a="{_A}">'
            f"<p:txBody>{body}</p:txBody></p:sld>"
        )
    parts["docProps/core.xml"] = _core_xml(title, None)
    return zip_members(parts)


def docx_blob(doc_id: int, text: str) -> bytes:
    """The deterministic DOCX planted for one document (q64's docx
    columns — the synth_pdf_corpus pattern): two paragraphs (the REAL
    doc text, then a closed-form row marker) and a one-row two-cell
    table, so extraction exercises runs, paragraphs AND the table
    walk; title and creator are doc_id math for the oracle. The CONTAINER
    rotates by doc_id (r12): id%8==3 wraps the ZIP in an Agile-
    encrypted CFB under the empty password, id%16==11 in a
    Standard-encrypted one under VelvetSweatshop (the second default
    candidate, so the failed-first-candidate KDF path runs too) —
    extraction output is identical by construction, so the oracle
    hash-checks the ENTIRE decrypt chain every round without any
    SQL change."""
    from timeseries_data_provider_spark.sources import offcrypto

    blob = encode_docx(
        [text, f"Row {doc_id}"],
        title=f"Doc {doc_id}",
        creator=f"author-{doc_id % 7}",
        table=[["k", str(doc_id)]],
        # closed-form sub-parts (r12 late): scored when the consumer
        # opts into extra_parts, invisible otherwise — q64 runs
        # extra_parts=True so the header/footer/footnote/comment walk
        # is on the oracle surface
        headers=[f"Hdr {doc_id}"],
        footers=[f"Ftr {doc_id}"],
        footnotes=[f"Note {doc_id}"],
        comments=[f"Cmt {doc_id}"],
    )
    if doc_id % 16 == 11:
        return offcrypto.encrypt_ooxml(blob, "VelvetSweatshop", "standard")
    if doc_id % 8 == 3:
        return offcrypto.encrypt_ooxml(blob, "", "agile")
    return blob


def synth_docx_corpus(documents: DataFrame) -> DataFrame:
    """Deterministic DOCX per document (``docx_blob``: the real doc
    text, closed-form sub-parts, Agile/Standard encryption rotation
    by doc_id)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_ in batches:
            ids = [int(doc_id) for doc_id in pdf_["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [
                        docx_blob(i, t) for i, t in zip(ids, pdf_["text"])
                    ],
                }
            )

    from timeseries_data_provider_spark.tables import widen_for_python

    return widen_for_python(
        documents.select("doc_id", "text")
    ).mapInPandas(synth, "doc_id long, payload binary")


# -- Spark operator ------------------------------------------------------


def office_features(
    df: DataFrame,
    blob_col: str = "payload",
    id_col: str = "doc_id",
    errors: str = "raise",
    extra_parts: bool = False,
    passwords: tuple[str, ...] | None = None,
) -> DataFrame:
    """Arrow-batched OOXML extraction: (id, kind, title, creator,
    n_units, n_tables, text, n_chars) per document, format sniffed
    from the container parts. NULL ids/payloads drop JVM-side (the
    cdc_chunks guard); ``errors="quarantine"`` adds (err_class,
    err_msg) side rows for damaged containers instead of killing
    the task (sources/envelope.py)."""
    from timeseries_data_provider_spark.sources.envelope import (
        extraction_envelope,
    )

    def per_row(rid: int, blob: bytes) -> list[dict]:
        m = office_text(
            blob, extra_parts=extra_parts, passwords=passwords
        )
        return [
            {
                "kind": m["kind"],
                "title": m["title"],
                "creator": m["creator"],
                "n_units": m["n_units"],
                "n_tables": m["n_tables"],
                "text": m["text"],
                "n_chars": len(m["text"]),
            }
        ]

    return extraction_envelope(
        df,
        per_row,
        [
            ("kind", "string"),
            ("title", "string"),
            ("creator", "string"),
            ("n_units", "long"),
            ("n_tables", "long"),
            ("text", "string"),
            ("n_chars", "long"),
        ],
        id_col=id_col,
        blob_col=blob_col,
        errors=errors,
    )


def synth_office_chain_features(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """q64's three office-family container chains fused into ONE
    Arrow pass (r15, guide §2.4/§4): per document, build the DOCX
    (``docx_blob``), the Outlook .msg (``encode_msg`` with a
    PR_RTF_COMPRESSED body) and the legacy .doc (``doc.doc_blob``)
    and extract each back immediately with ``office_text`` /
    ``msg_text`` / ``doc_text`` — the builders and extractors the
    separate synth_docx_corpus + office_features / synth_msg_corpus +
    msg_features / synth_doc_corpus + doc_features pipelines call
    (equality pinned in tests/test_office.py), emitting their joined
    column set in join order. Collapses six mapInPandas passes, three
    repartitions and two joins into one shuffle-free pass; each of the
    three small chains otherwise pays Spark's fixed per-pass cost for
    ~0.1 s of real work."""
    from timeseries_data_provider_spark.sources.doc import (
        doc_blob,
        doc_text,
    )
    from timeseries_data_provider_spark.sources.msg import (
        encode_msg,
        msg_text,
    )
    from timeseries_data_provider_spark.tables import widen_for_python

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "docx_title", "docx_creator", "docx_paras", "docx_tables",
            "docx_text", "docx_chars", "msg_subject", "msg_text",
            "msg_chars", "doc97_text", "doc97_chars",
        ]
        for pdf_ in batches:
            out: dict = {id_col: []}
            for c in cols:
                out[c] = []
            for doc_id, text in zip(pdf_[id_col], pdf_[text_col]):
                doc_id = int(doc_id)
                m = office_text(docx_blob(doc_id, text), extra_parts=True)
                out["docx_title"].append(m["title"])
                out["docx_creator"].append(m["creator"])
                out["docx_paras"].append(m["n_units"])
                out["docx_tables"].append(m["n_tables"])
                out["docx_text"].append(m["text"])
                out["docx_chars"].append(len(m["text"]))
                mm = msg_text(
                    encode_msg(f"Msg {doc_id}", text, rtf_body=True)
                )
                out["msg_subject"].append(mm["subject"])
                out["msg_text"].append(mm["text"])
                out["msg_chars"].append(len(mm["text"]))
                dm = doc_text(doc_blob(doc_id, text))
                out["doc97_text"].append(dm["text"])
                out["doc97_chars"].append(len(dm["text"]))
                out[id_col].append(doc_id)
            yield pd.DataFrame(out)

    schema = (
        f"{id_col} long, docx_title string, docx_creator string,"
        " docx_paras long, docx_tables long, docx_text string,"
        " docx_chars long, msg_subject string, msg_text string,"
        " msg_chars long, doc97_text string, doc97_chars long"
    )
    return widen_for_python(
        documents.select(id_col, text_col)
    ).mapInPandas(run, schema)
