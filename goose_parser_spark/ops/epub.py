"""EPUB ingestion — books into the text pipeline.

EPUB is the web's book container: a ZIP holding an OCF container
pointer (META-INF/container.xml), an OPF package (manifest of
resources + the SPINE, the reading order), and XHTML chapter
documents. Book corpora ship this way, so the engine reads it
natively:

- the ZIP layer is stdlib ``zipfile`` hardened against archive
  bombs: entry-count cap, per-entry and total inflate budgets
  checked against the declared sizes BEFORE extraction, and
  path-traversal names never touch a filesystem (everything stays
  in memory)
- container.xml → rootfile, OPF manifest (id→href) + spine
  (idref order) via anchored single-pass patterns — dump-grade
  machine XML, same posture as the feed/wiki parsers
- each spine chapter parses through the HOUSE DOM engine
  (dom/parser: the same parser the extraction core uses — entity
  decoding, void elements, implied ends all come for free) and
  contributes its body text

Output: one row per chapter in SPINE ORDER — the reading order, not
the zip order — ``(id, chapter_no, href, text)``.
"""
from __future__ import annotations

import io
import posixpath
import re
import zipfile
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

__all__ = ["parse_epub", "epub_chapters"]

_MAX_ENTRIES = 4096
_MAX_ENTRY_BYTES = 64 << 20
_MAX_TOTAL_BYTES = 256 << 20

_ROOTFILE = re.compile(rb'<rootfile[^>]*full-path="([^"]+)"')
_ITEM = re.compile(rb"<item\b[^>]*>")
_IDREF = re.compile(rb'<itemref[^>]*idref="([^"]+)"')
_ATTR_ID = re.compile(rb'\bid="([^"]*)"')
_ATTR_HREF = re.compile(rb'\bhref="([^"]*)"')
_ATTR_TYPE = re.compile(rb'\bmedia-type="([^"]*)"')


def _read_entry(zf: zipfile.ZipFile, name: str) -> bytes | None:
    try:
        info = zf.getinfo(name)
    except KeyError:
        return None
    if info.file_size > _MAX_ENTRY_BYTES:
        raise ValueError("EPUB entry exceeds the inflate budget")
    try:
        return zf.read(info)
    except Exception as exc:  # noqa: BLE001 — CRC/zlib corruption
        raise ValueError(f"unreadable ZIP entry: {exc}") from exc


def parse_epub(data: bytes) -> list[dict]:
    """EPUB bytes → chapters in spine order:
    ``[{chapter_no, href, text}]``. Raises ValueError on non-EPUB
    zips, bomb-shaped archives and missing package structure; a
    single unparseable chapter yields a None-text entry (per-chapter
    isolation) rather than failing the book."""
    if data[:2] != b"PK":
        raise ValueError("not a ZIP archive")
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except Exception as exc:  # noqa: BLE001 — normalize zip errors
        raise ValueError(f"unreadable ZIP: {exc}") from exc
    infos = zf.infolist()
    if len(infos) > _MAX_ENTRIES:
        raise ValueError("too many ZIP entries")
    if sum(i.file_size for i in infos) > _MAX_TOTAL_BYTES:
        raise ValueError("EPUB exceeds the total inflate budget")
    container = _read_entry(zf, "META-INF/container.xml")
    if container is None:
        raise ValueError("not an EPUB (no OCF container)")
    rm = _ROOTFILE.search(container)
    if rm is None:
        raise ValueError("container.xml without rootfile")
    opf_path = rm.group(1).decode("utf-8", "replace")
    opf = _read_entry(zf, opf_path)
    if opf is None:
        raise ValueError("missing OPF package document")
    base = posixpath.dirname(opf_path)
    manifest: dict[bytes, tuple[str, bytes]] = {}
    for im in _ITEM.finditer(opf):
        tag = im.group(0)
        idm = _ATTR_ID.search(tag)
        hm = _ATTR_HREF.search(tag)
        if idm is None or hm is None:
            continue
        tm = _ATTR_TYPE.search(tag)
        href = hm.group(1).decode("utf-8", "replace")
        manifest[idm.group(1)] = (
            posixpath.normpath(posixpath.join(base, href)),
            tm.group(1) if tm else b"")
    chapters: list[dict] = []
    from goose_parser_spark.dom.parser import parse_html
    for no, sm in enumerate(_IDREF.finditer(opf)):
        entry = manifest.get(sm.group(1))
        if entry is None:
            continue
        href, mtype = entry
        if mtype and b"html" not in mtype and b"xml" not in mtype:
            continue
        text: str | None = None
        try:
            body = _read_entry(zf, href)
        except ValueError:  # corrupt/over-budget entry: isolate it
            body = None
        if body is not None:
            try:
                root = parse_html(body)
                text = root.text().strip()
            except Exception:  # noqa: BLE001 — per-chapter isolation
                text = None
        chapters.append({"chapter_no": no, "href": href,
                         "text": text})
    if not chapters:
        raise ValueError("EPUB without spine chapters")
    return chapters


def epub_chapters(df: "DataFrame", payload_col: str = "payload",
                  id_col: str = "doc_id") -> "DataFrame":
    """Books at corpus scale: one row per spine chapter —
    ``id_col, chapter_no, href, text``. A document that is not an
    EPUB at all yields the single ``chapter_no = -1`` poison row
    (same I4 convention as extract_pdf_pages); an individual broken
    chapter yields its NULL-text row while the rest of the book
    extracts. Map-only (kernel.map_docs) — the zip walk + DOM parse
    is the sanctioned per-document Python point; book bytes never
    shuffle; NULL payloads yield no rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StringType, StructField

    from goose_parser_spark.kernel import map_docs

    fields = [StructField("chapter_no", IntegerType(), True),
              StructField("href", StringType(), True),
              StructField("text", StringType(), True)]

    def fn(payload):
        return [(ch["chapter_no"], ch["href"], ch["text"])
                for ch in parse_epub(payload)]

    out = map_docs(df, fn, fields, id_col, payload_col).where(
        F.col("bytes_in").isNotNull())
    return out.select(id_col,
                      F.coalesce("chapter_no", F.lit(-1)).alias("chapter_no"),
                      "href", "text")
