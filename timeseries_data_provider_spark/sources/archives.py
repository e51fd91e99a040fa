"""Archive sources: ZIP / TAR member fan-out + EPUB text extraction.

Training corpora ship as archives — tarballs of documents, ZIPs of
pages, and EPUB books (which ARE ZIP + XHTML, so the book tier is the
in-repo HTML extractor applied through this source). All stdlib
(zipfile/tarfile over BytesIO). Reference parity note: index.js has no
file surface; [EXT] SURVEY §2.

Scale shape: archive-granular parallelism (the WARC posture —
``binaryFile`` scan, one Arrow fan-out per archive, members become
rows); per-archive independence means zero shuffle. Compressed tars
(.tar.gz) inflate in-stream via tarfile's transparent mode. A
member-offset index for sub-archive splitting is the same named
growth path as WARC's gzip-member index.
"""

from __future__ import annotations

import io
import re
import tarfile
import zipfile
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "iter_archive_members",
    "archive_members",
    "read_archive_files",
    "epub_text",
    "zip_members",
    "encode_epub",
    "epub_features",
]

MAX_MEMBER = 1 << 30  # hostile-size guard per member
_ZIP_MAGIC = b"PK\x03\x04"


def iter_archive_members(blob: bytes) -> Iterator[tuple[str, bytes]]:
    """Yield (path, bytes) for each regular member of a ZIP or TAR
    (optionally gzip/bzip2/xz-compressed) archive. Format is sniffed;
    hostile inputs raise named ValueErrors; oversized members raise
    rather than OOM an executor."""
    if blob[:4] == _ZIP_MAGIC or blob[:4] in (b"PK\x05\x06", b"PK\x07\x08"):
        try:
            zf = zipfile.ZipFile(io.BytesIO(blob))
        except zipfile.BadZipFile as e:
            raise ValueError(f"archive: bad zip: {e}") from e
        for inf in zf.infolist():
            if inf.is_dir():
                continue
            if inf.file_size > MAX_MEMBER:
                raise ValueError(
                    f"archive: member {inf.filename} exceeds size guard"
                )
            yield inf.filename, zf.read(inf)
        return
    try:
        tf = tarfile.open(fileobj=io.BytesIO(blob), mode="r:*")
    except tarfile.TarError as e:
        raise ValueError(f"archive: not a zip or tar: {e}") from e
    with tf:
        for m in tf:
            if not m.isreg():
                continue
            if m.size > MAX_MEMBER:
                raise ValueError(
                    f"archive: member {m.name} exceeds size guard"
                )
            f = tf.extractfile(m)
            if f is not None:
                yield m.name, f.read()


def archive_members(
    df: DataFrame, blob_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow 1->N fan-out: one row per archive member
    (id, member_path, member_bytes, member_size)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                id_col: [],
                "member_path": [],
                "member_bytes": [],
                "member_size": [],
            }
            for rid, blob in zip(pdf[id_col], pdf[blob_col]):
                rid = int(rid)
                try:
                    for path, data in iter_archive_members(bytes(blob)):
                        out[id_col].append(rid)
                        out["member_path"].append(path)
                        out["member_bytes"].append(data)
                        out["member_size"].append(len(data))
                except ValueError as e:
                    raise ValueError(f"archive {rid}: {e}") from e
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(
        run,
        f"{id_col} long, member_path string, member_bytes binary, "
        "member_size long",
    )


def read_archive_files(spark: SparkSession, path: str) -> DataFrame:
    """Directory of .zip/.tar(.gz) files -> member rows (file-granular
    parallelism via binaryFile, the WARC reader's contract)."""
    files = (
        spark.read.format("binaryFile")
        .load(path)
        .select(
            F.xxhash64("path").alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    return archive_members(files)


# -- EPUB --------------------------------------------------------------

_TITLE_RE = re.compile(
    rb"<dc:title[^>]*>(.*?)</dc:title>", re.DOTALL | re.IGNORECASE
)


def epub_text(blob: bytes) -> dict:
    """Extract an EPUB's text: every .xhtml/.html member in archive
    order through the in-repo HTML extractor (operators/htmltext,
    boilerplate drop on), chapters separated by form-feed; title from
    the OPF's <dc:title>. Spine-order resolution via the full OPF
    graph is a documented simplification — archive order matches
    spine order in practice for packaged books."""
    from timeseries_data_provider_spark.operators import htmltext

    if blob[:4] != _ZIP_MAGIC:
        raise ValueError("epub: not a zip container")
    title = None
    chapters: list[str] = []
    n_members = 0
    for path, data in iter_archive_members(blob):
        n_members += 1
        low = path.lower()
        if low.endswith(".opf") and title is None:
            m = _TITLE_RE.search(data)
            if m:
                title = " ".join(
                    m.group(1).decode("utf-8", "replace").split()
                )
        elif low.endswith((".xhtml", ".html", ".htm")):
            text = htmltext.html_to_text(data.decode("utf-8", "replace"))
            if text:
                chapters.append(text)
    return {
        "title": title,
        "n_members": n_members,
        "n_chapters": len(chapters),
        "text": "\x0c".join(chapters),
    }


def zip_members(members: dict[str, str]) -> bytes:
    """Fixture writer: a deflated ZIP of ``{name: body}``. Every member
    carries the ZIP epoch as its timestamp, so the bytes depend on the
    contents only, never on the wall clock."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, body in members.items():
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o600 << 16  # what a bare name gets
            zf.writestr(info, body)
    return buf.getvalue()


def encode_epub(chapters: list[list[str]], title: str = "Book") -> bytes:
    """Fixture writer: a minimal EPUB (mimetype + OPF + one XHTML per
    chapter, each chapter a list of paragraph strings)."""
    manifest = "".join(
        f'<item id="c{i}" href="ch{i}.xhtml"/>' for i in range(len(chapters))
    )
    members = {
        "mimetype": "application/epub+zip",
        "content.opf": f"<package><metadata><dc:title>{title}</dc:title>"
        f"</metadata><manifest>{manifest}</manifest></package>",
    }
    for i, paras in enumerate(chapters):
        body = "".join(f"<p>{p}</p>" for p in paras)
        members[f"ch{i}.xhtml"] = f"<html><body>{body}</body></html>"
    return zip_members(members)


def epub_features(
    df: DataFrame,
    blob_col: str = "payload",
    id_col: str = "doc_id",
    errors: str = "raise",
) -> DataFrame:
    """Arrow-batched EPUB extraction: (id, title, n_members,
    n_chapters, text, n_text_chars). ``errors="quarantine"`` adds
    (err_class, err_msg) side rows for damaged inputs instead of
    killing the task (sources/envelope.py)."""
    from timeseries_data_provider_spark.sources.envelope import (
        single_row_features,
    )

    return single_row_features(
        df,
        epub_text,
        [
            ("title", "string"),
            ("n_members", "long"),
            ("n_chapters", "long"),
            ("text", "string"),
            ("n_text_chars", "long"),
        ],
        id_col=id_col,
        blob_col=blob_col,
        errors=errors,
        derive={"n_text_chars": lambda m: len(m["text"])},
    )


