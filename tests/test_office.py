"""Office Open XML extraction (sources/office): DOCX/XLSX/PPTX text
+ Dublin Core metadata out of the ZIP-of-XML container, with the
crawl-grade hostile-input posture (DOCTYPE rejection, named errors,
namespace-prefix tolerance)."""

import zipfile
import io

import pytest

from timeseries_data_provider_spark.sources import office


def test_docx_roundtrip_paragraphs_tabs_breaks_table():
    b = office.encode_docx(
        ["Hello world.", "Tab\there and\nbreak.", "Último — naïve"],
        title="T1",
        creator="C1",
        table=[["a1", "b1"], ["a2", "b2"]],
    )
    m = office.docx_text(b)
    assert m["text"] == (
        "Hello world.\nTab\there and\nbreak.\nÚltimo — naïve"
        "\na1\tb1\na2\tb2"
    )
    assert (m["title"], m["creator"]) == ("T1", "C1")
    assert (m["n_units"], m["n_tables"]) == (3, 1)


def test_xlsx_shared_and_inline_strings():
    x = office.encode_xlsx(
        [[["n", "v"], ["alpha", "1.5"]], [["solo"]]], title="wb"
    )
    m = office.xlsx_text(x)
    assert m["text"] == "n\tv\nalpha\t1.5\nsolo"
    assert (m["n_units"], m["n_tables"], m["title"]) == (3, 2, "wb")
    x2 = office.encode_xlsx([[["a", "b"]]], shared=False)
    assert office.xlsx_text(x2)["text"] == "a\tb"


def test_pptx_slide_numeric_order():
    # slide10 must sort after slide2 (lexical zip order mis-sorts)
    p = office.encode_pptx(
        [["Slide one", "line two"], ["Slide two"]]
        + [[f"s{i}"] for i in range(3, 12)]
    )
    m = office.pptx_text(p)
    pages = m["text"].split("\x0c")
    assert pages[0] == "Slide one\nline two"
    assert pages[1] == "Slide two" and pages[-1] == "s11"
    assert m["n_units"] == 11


def test_routing_by_container_parts():
    for blob, kind in (
        (office.encode_docx(["x"]), "docx"),
        (office.encode_xlsx([[["x"]]]), "xlsx"),
        (office.encode_pptx([["x"]]), "pptx"),
    ):
        assert office.office_text(blob)["kind"] == kind


def test_namespace_prefix_tolerance():
    # real generators vary prefixes: rewrite word/document.xml with a
    # 'w2' prefix bound to the SAME namespace — extraction must agree
    b = office.encode_docx(["prefix test"])
    zf = zipfile.ZipFile(io.BytesIO(b))
    doc = zf.read("word/document.xml").decode().replace("w:", "w2:")
    doc = doc.replace("xmlns:w=", "xmlns:w2=")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n in zf.namelist():
            out.writestr(
                n, doc if n == "word/document.xml" else zf.read(n)
            )
    assert office.docx_text(buf.getvalue())["text"] == "prefix test"


def test_hostile_inputs_loud():
    with pytest.raises(ValueError, match="ZIP"):
        office.office_text(b"\x89PNG not a zip")
    # a zip with no OOXML part
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("readme.txt", "hi")
    with pytest.raises(ValueError, match="OOXML"):
        office.office_text(buf.getvalue())
    # malformed XML
    b = office.encode_docx(["x"])
    zf = zipfile.ZipFile(io.BytesIO(b))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n in zf.namelist():
            out.writestr(
                n,
                b"<w:document" if n == "word/document.xml" else zf.read(n),
            )
    with pytest.raises(ValueError, match="malformed XML"):
        office.docx_text(buf.getvalue())
    # shared-string index out of range
    x = office.encode_xlsx([[["a"]]])
    zf = zipfile.ZipFile(io.BytesIO(x))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n in zf.namelist():
            body = zf.read(n)
            if n.startswith("xl/worksheets"):
                body = body.replace(b"<v>0</v>", b"<v>9</v>")
            out.writestr(n, body)
    with pytest.raises(ValueError, match="shared-string"):
        office.xlsx_text(buf.getvalue())


def test_doctype_is_refused():
    # entity-expansion bombs arrive as DOCTYPE declarations; OOXML
    # never carries one, so any DOCTYPE is refused before parsing
    b = office.encode_docx(["x"])
    zf = zipfile.ZipFile(io.BytesIO(b))
    bomb = (
        b'<?xml version="1.0"?><!DOCTYPE r [<!ENTITY a "aaaa">]>'
        + zf.read("word/document.xml")
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n in zf.namelist():
            out.writestr(
                n, bomb if n == "word/document.xml" else zf.read(n)
            )
    with pytest.raises(ValueError, match="DOCTYPE"):
        office.docx_text(buf.getvalue())


def test_damaged_core_props_never_block_text():
    b = office.encode_docx(["x"], title="t")
    zf = zipfile.ZipFile(io.BytesIO(b))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n in zf.namelist():
            out.writestr(
                n,
                b"<broken" if n == "docProps/core.xml" else zf.read(n),
            )
    m = office.docx_text(buf.getvalue())
    assert m["text"] == "x" and m["title"] is None


def test_office_features_spark(spark):
    import pandas as pd

    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, None],
            "payload": [
                office.encode_docx(["doc one"], title="d"),
                office.encode_xlsx([[["a", "b"]]]),
                office.encode_pptx([["s1"], ["s2"]]),
                None,
            ],
        }
    )
    out = (
        office.office_features(spark.createDataFrame(rows))
        .orderBy("doc_id")
        .collect()
    )
    assert [r["kind"] for r in out] == ["docx", "xlsx", "pptx"]
    assert out[0]["text"] == "doc one" and out[0]["title"] == "d"
    assert out[1]["text"] == "a\tb"
    assert out[2]["n_units"] == 2 and out[2]["n_chars"] == 5


def test_xlsx_sheet_numeric_order():
    # sheet10 must come after sheet2 (review finding: lexical zip
    # order mis-sorted multi-sheet workbooks, the pptx hazard)
    grids = [[[f"sheet{i}"]] for i in range(1, 12)]
    m = office.xlsx_text(office.encode_xlsx(grids))
    assert m["text"].splitlines() == [f"sheet{i}" for i in range(1, 12)]


def test_hostile_deep_nesting_loud():
    # 200-deep element nesting in the body must raise the named
    # error, not a RecursionError that kills the Spark task
    deep = "<w:x>" * 200 + "<w:p/>" + "</w:x>" * 200
    doc = (
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        + deep
        + "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", doc)
    with pytest.raises(ValueError, match="nesting too deep"):
        office.docx_text(buf.getvalue())


def test_xlsx_rich_inline_string_runs():
    # an inlineStr cell carrying rich-text RUNS (<is><r><t>..</t></r>
    # <r><t>..</t></r>) must join every run (review finding: the
    # first-hit scan dropped all but the first)
    sheet = (
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData><row r="1">'
        '<c r="A1" t="inlineStr"><is>'
        "<r><t>rich </t></r><r><t>runs</t></r>"
        "</is></c></row></sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    assert office.xlsx_text(buf.getvalue())["text"] == "rich runs"


def test_doctype_beyond_4kb_of_comment_padding_still_refused():
    # r12 ADVICE: the prolog may legally carry arbitrarily long
    # comments before the DOCTYPE — the guard must scan the whole
    # part, not a 4096-byte prefix
    b = office.encode_docx(["x"])
    zf = zipfile.ZipFile(io.BytesIO(b))
    pad = b"<!-- " + b"z" * 8192 + b" -->"
    bomb = (
        b'<?xml version="1.0"?>' + pad
        + b'<!DOCTYPE r [<!ENTITY a "aaaa">]>'
        + zf.read("word/document.xml")
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n in zf.namelist():
            out.writestr(
                n, bomb if n == "word/document.xml" else zf.read(n)
            )
    with pytest.raises(ValueError, match="DOCTYPE"):
        office.docx_text(buf.getvalue())


def test_docx_extra_parts_opt_in():
    # r12 (VERDICT item 7): headers/footers/footnotes/comments walk
    # behind extra_parts=True; the default output is byte-identical
    # to a body-only read
    b = office.encode_docx(
        ["Body paragraph one.", "Body two."],
        title="T",
        headers=["Chapter Header", "Second Header"],
        footers=["Page footer — naïve"],
        footnotes=["A footnote remark.", "Second note."],
        comments=["Reviewer comment."],
    )
    plain = office.docx_text(b)
    assert plain["text"] == "Body paragraph one.\nBody two."
    assert plain["n_units"] == 2
    rich = office.docx_text(b, extra_parts=True)
    assert rich["text"] == (
        "Body paragraph one.\nBody two."
        "\nChapter Header\nSecond Header"
        "\nPage footer — naïve"
        "\nA footnote remark.\nSecond note."
        "\nReviewer comment."
    )
    # 2 body + 2 headers + 1 footer + 2 footnotes + 1 comment; the
    # separator/continuationSeparator stubs are NOT counted
    assert rich["n_units"] == 8
    # routing + feature operator pass the flag through
    assert (
        office.office_text(b, extra_parts=True)["text"]
        == rich["text"]
    )
    # a document without any sub-parts is unchanged under the flag
    b2 = office.encode_docx(["solo"])
    assert office.docx_text(b2, extra_parts=True)["text"] == "solo"


def test_docx_extra_parts_spark(spark):
    b = office.encode_docx(
        ["body"], headers=["HDR"], footnotes=["FN"]
    )
    df = spark.createDataFrame(
        [(1, b)], "doc_id long, payload binary"
    )
    out = office.office_features(df).collect()
    assert out[0]["text"] == "body" and out[0]["n_units"] == 1
    out2 = office.office_features(df, extra_parts=True).collect()
    assert out2[0]["text"] == "body\nHDR\nFN"
    assert out2[0]["n_units"] == 3


def test_docx_extra_parts_doctype_still_refused():
    # the DOCTYPE guard applies to sub-parts too — a bomb hidden in
    # a header part is refused before parsing
    b = office.encode_docx(["x"], headers=["h"])
    zf = zipfile.ZipFile(io.BytesIO(b))
    bomb = (
        b'<?xml version="1.0"?><!DOCTYPE r [<!ENTITY a "aa">]>'
        + zf.read("word/header1.xml")
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for n in zf.namelist():
            out.writestr(
                n, bomb if n == "word/header1.xml" else zf.read(n)
            )
    # default read never touches the part; extra_parts does and is loud
    assert office.docx_text(buf.getvalue())["text"] == "x"
    with pytest.raises(ValueError, match="DOCTYPE"):
        office.docx_text(buf.getvalue(), extra_parts=True)


def test_office_chain_fused_matches_three_pipelines(spark):
    """The r15 fused office-family pass must emit exactly the rows
    the separate synth+extract pipelines joined on doc_id produce —
    including the encryption rotations (Agile at id%8==3, Standard
    at id%16==11, RC4 v1.1 at id%8==5, CryptoAPI at id%16==13)."""
    from pyspark.sql import functions as F

    from timeseries_data_provider_spark.sources import (
        doc as docsrc,
        msg as msgsrc,
        office as officesrc,
    )

    rows = [(i, f"text body {i} lorem") for i in range(0, 32)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    fused = (
        officesrc.synth_office_chain_features(d)
        .orderBy("doc_id")
        .toPandas()
    )
    doccols = officesrc.office_features(
        officesrc.synth_docx_corpus(d), extra_parts=True
    ).select(
        "doc_id",
        F.col("title").alias("docx_title"),
        F.col("creator").alias("docx_creator"),
        F.col("n_units").alias("docx_paras"),
        F.col("n_tables").alias("docx_tables"),
        F.col("text").alias("docx_text"),
        F.col("n_chars").alias("docx_chars"),
    )
    msgcols = msgsrc.msg_features(msgsrc.synth_msg_corpus(d)).select(
        "doc_id",
        F.col("subject").alias("msg_subject"),
        F.col("text").alias("msg_text"),
        F.col("n_chars").alias("msg_chars"),
    )
    legacycols = docsrc.doc_features(docsrc.synth_doc_corpus(d)).select(
        "doc_id",
        F.col("text").alias("doc97_text"),
        F.col("n_chars").alias("doc97_chars"),
    )
    want = (
        doccols.join(msgcols, "doc_id")
        .join(legacycols, "doc_id")
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(fused.columns) == list(want.columns)
    for col in fused.columns:
        assert (fused[col] == want[col]).all(), col


def test_synthesized_zips_ignore_wall_clock(monkeypatch):
    # two clocks 400 days apart give the same bytes: no member carries
    # the time it was written
    import time

    from timeseries_data_provider_spark.sources import archives

    def build():
        return office.docx_blob(7, "hello"), archives.encode_epub([["p"]])

    monkeypatch.setattr(time, "time", lambda: 1_700_000_000.0)
    first = build()
    monkeypatch.setattr(time, "time", lambda: 1_734_560_000.0)
    assert build() == first
