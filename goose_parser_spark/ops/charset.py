"""Charset sniffing + decoding for raw crawl bodies (round 6).

``read_warc`` yields response payloads as raw bytes (HTTP headers —
and with them any ``Content-Type; charset=`` hint — are stripped by
the WET-style body isolation), so turning a crawl into text needs the
browser sniffing ladder (WHATWG encoding standard, public spec):

1. BOM wins: UTF-8 / UTF-16LE / UTF-16BE.
2. Strict UTF-8 attempt (the overwhelming majority of the modern web;
   a strict pass is also the safest signal since random bytes are
   vanishingly unlikely to be valid multi-byte UTF-8).
3. ``<meta charset=…>`` / ``http-equiv Content-Type`` declaration in
   the first 2 KiB (scanned on a Latin-1 view), mapped through a
   WHITELIST of real web charsets — never a raw ``codecs.lookup`` of
   attacker-controlled names (Python would happily resolve
   ``unicode_escape``…).
4. Fallback windows-1252 (the browser default that never fails).

Decoding runs on the per-document map kernel (kernel.map_docs) —
per-document Python by nature (same sanctioned profile as the
extraction/codec paths), map-only, no shuffle. Undecodable sequences
are replaced, and the replacement count is surfaced so quality
filters can gate on it.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField

from goose_parser_spark.kernel import map_docs

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

# WHATWG-relevant subset; label → Python codec. Labels are matched
# after lower+strip and alias folding.
_WEB_CHARSETS = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "iso-8859-1": "windows-1252", "latin-1": "windows-1252",
    "latin1": "windows-1252", "ascii": "windows-1252",
    "us-ascii": "windows-1252",  # WHATWG folds all three into 1252
    "iso-8859-2": "iso-8859-2", "iso-8859-15": "iso-8859-15",
    "windows-1250": "cp1250", "windows-1251": "cp1251",
    "windows-1252": "cp1252", "windows-1253": "cp1253",
    "windows-1254": "cp1254", "windows-1255": "cp1255",
    "windows-1256": "cp1256", "windows-1257": "cp1257",
    "windows-1258": "cp1258", "cp1251": "cp1251", "cp1252": "cp1252",
    "koi8-r": "koi8-r", "koi8-u": "koi8-u",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis", "euc-jp": "euc-jp", "euc-kr": "euc-kr",
    "gb2312": "gb18030", "gbk": "gb18030", "gb18030": "gb18030",
    "big5": "big5", "utf-16": "utf-16", "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be", "tis-620": "cp874", "windows-874": "cp874",
}

_META_CHARSET = re.compile(
    r"""(?is)<meta[^>]+?(?:charset\s*=\s*["']?\s*([a-z0-9._-]+)|"""
    r"""content\s*=\s*["'][^"']*charset=([a-z0-9._-]+))""")


def sniff_decode(data: bytes) -> tuple[str, str, int]:
    """``(text, charset_label, n_replacements)`` via the sniffing
    ladder above. Never raises on content (only on None upstream)."""
    if data[:3] == b"\xef\xbb\xbf":
        text = data[3:].decode("utf-8", "replace")
        return text, "utf-8-bom", text.count("�")
    if data[:2] == b"\xff\xfe":
        text = data[2:].decode("utf-16-le", "replace")
        return text, "utf-16-le", text.count("�")
    if data[:2] == b"\xfe\xff":
        text = data[2:].decode("utf-16-be", "replace")
        return text, "utf-16-be", text.count("�")
    try:
        return data.decode("utf-8"), "utf-8", 0
    except UnicodeDecodeError:
        pass
    head = data[:2048].decode("latin-1")
    m = _META_CHARSET.search(head)
    if m is not None:
        label = (m.group(1) or m.group(2)).lower().strip()
        codec = _WEB_CHARSETS.get(label)
        if codec is not None and not codec.startswith("utf-16"):
            text = data.decode(codec, "replace")
            return text, label, text.count("�")
    text = data.decode("cp1252", "replace")
    return text, "windows-1252", text.count("�")


def decode_html_bytes(
    df: "DataFrame",
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Raw crawl bodies → ``(id, text, charset, n_replaced)``.
    Map-only (kernel.map_docs); NULL or undecodable payloads yield
    NULL text with charset ``'null'`` (countable, never fatal — I4)."""
    fields = [StructField("text", StringType(), True),
              StructField("charset", StringType(), True),
              StructField("n_replaced", IntegerType(), True)]
    out = map_docs(df, lambda p: (sniff_decode(p),), fields, id_col,
                   payload_col)
    return out.select(id_col, "text",
                      F.coalesce("charset", F.lit("null")).alias("charset"),
                      F.coalesce("n_replaced", F.lit(0)).alias("n_replaced"))
