"""PDF / layout parsing (north rule: "PDF/layout parse").

Two tiers:

- :func:`parse_pdf_text` — a REAL pure-stdlib PDF text extractor
  (page-tree walk, BT/ET text operators) with the standard stream
  filter chain: FlateDecode (+ PNG/TIFF predictors), LZWDecode,
  ASCIIHexDecode, ASCII85Decode, RunLengthDecode, applied in spec
  order incl. array chains. Scope is the classic generated-PDF shape
  that dominates web corpora exports: uncompressed object tables,
  direct /Length, simple (single-byte) fonts decoded latin-1. Out of
  scope and raising ValueError (per-doc isolation upstream):
  encrypted documents, cross-reference/object streams (/Type
  /ObjStm), CID/ToUnicode text mapping. A full-fidelity parser
  (pdfminer/pypdf) remains a drop-in swap on a real cluster.
- :func:`parse_pdf_images` — embedded image XObjects: DCTDecode
  payloads ride the round-6 pure-stdlib JPEG decoder, raw
  DeviceGray/DeviceRGB bitmaps (after any filter chain) convert via
  the shared BT.601 gray; per-image failure isolation. Feeds figure
  mining and the cross-modal pHash space (:func:`pdf_images`).
- :func:`parse_pdf_stub` — the deterministic fake splitter kept for
  exercising the Spark plumbing with non-PDF payloads.

:func:`extract_pdf_pages` routes by the ``%PDF-`` magic: real parser
for real PDFs (failures isolated per document), fake splitter
otherwise.
"""

from __future__ import annotations

import re
import zlib
from typing import TYPE_CHECKING

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField

from goose_parser_spark.kernel import map_docs

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame


# ---- real PDF text extraction (pure stdlib) -----------------------------

_OBJ_HEAD = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_REF = re.compile(rb"(\d+)\s+(\d+)\s+R\b")
_LENGTH = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")
_NUM = re.compile(rb"[-+]?\d*\.?\d+")

_ESCAPES = {ord("n"): "\n", ord("r"): "\r", ord("t"): "\t",
            ord("b"): "\b", ord("f"): "\f", ord("("): "(",
            ord(")"): ")", ord("\\"): "\\"}


def _scan_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """obj number → (dict/body bytes, stream bytes or None). Scans
    ``N G obj`` headers directly (no xref) — robust to linearized and
    appended-update files; the LAST definition of a number wins, which
    matches incremental-update semantics."""
    objects: dict[int, tuple[bytes, bytes | None]] = {}
    for m in _OBJ_HEAD.finditer(data):
        num = int(m.group(1))
        body_start = m.end()
        sm = re.compile(rb"stream\r?\n|endobj").search(data, body_start)
        if sm is None:
            continue
        if sm.group().startswith(b"endobj"):
            objects[num] = (data[body_start:sm.start()], None)
            continue
        head = data[body_start:sm.start()]
        sdata_start = sm.end()
        lm = _LENGTH.search(head)
        exact = False
        if lm is not None:
            send = sdata_start + int(lm.group(1))
            # trust /Length only if endstream actually follows
            exact = data[send:send + 20].lstrip()[:9] == b"endstream"
            if not exact:
                send = data.find(b"endstream", sdata_start)
        else:
            send = data.find(b"endstream", sdata_start)
        if send < 0:
            continue
        body = data[sdata_start:send]
        if not exact:
            # only the endstream-scan fallback strips the EOL that
            # separates data from the keyword — a trusted /Length is
            # exact, and binary streams may legitimately end in \n
            body = body.rstrip(b"\r\n")
        objects[num] = (head, body)
    return objects


# Decompression-bomb guard: a kilobyte of Flate data can inflate to
# gigabytes, and these streams arrive from arbitrary web documents.
# Real page content streams are text operators — a few MB at most —
# so 64 MB is a generous budget; past it the stream is rejected and
# per-document isolation upstream turns the doc into a poison row
# instead of an executor OOM.
_MAX_STREAM_BYTES = 64 * 1024 * 1024


_FILTER_LIST = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_FILTER_NAME = re.compile(rb"/([A-Za-z0-9]+)")
# full names + the inline-image abbreviations the spec also allows
_FILTER_ALIAS = {b"Fl": b"FlateDecode", b"AHx": b"ASCIIHexDecode",
                 b"A85": b"ASCII85Decode", b"RL": b"RunLengthDecode",
                 b"LZW": b"LZWDecode", b"DCT": b"DCTDecode"}


def _filter_names(head: bytes) -> list[bytes]:
    """The stream's filter chain in application order (PDF 32000
    §7.4: a name or an array of names), abbreviations normalized."""
    m = _FILTER_LIST.search(head)
    if m is None:
        return []
    names = [g.group(1) for g in _FILTER_NAME.finditer(m.group(1))]
    return [_FILTER_ALIAS.get(n, n) for n in names]


def _ascii85(raw: bytes) -> bytes:
    import base64
    body = raw.strip()
    if body.endswith(b"~>"):
        body = body[:-2]
    return base64.a85decode(b"<~" + body + b"~>", adobe=True)


def _asciihex(raw: bytes) -> bytes:
    body = bytes(c for c in raw if c not in b" \t\r\n\f\0")
    if body.endswith(b">"):
        body = body[:-1]
    if len(body) & 1:
        body += b"0"  # spec: odd final digit behaves as if 0 followed
    return bytes.fromhex(body.decode("ascii"))


def _runlength(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        ln = raw[i]
        i += 1
        if ln == 128:  # EOD
            break
        if ln < 128:
            out += raw[i:i + ln + 1]
            i += ln + 1
        else:
            if i >= n:
                break
            out += bytes([raw[i]]) * (257 - ln)
            i += 1
        if len(out) > _MAX_STREAM_BYTES:
            raise ValueError("RunLength stream exceeds decode budget")
    return bytes(out)


def _png_unpredict(data: bytes, head: bytes) -> bytes:
    """Inverse of the PNG row predictors (/DecodeParms /Predictor
    >= 10) that Flate/LZW PDF streams may apply; predictor 2 (TIFF
    horizontal) and 1 (none) also handled."""
    pm = re.search(rb"/Predictor\s+(\d+)", head)
    pred = int(pm.group(1)) if pm else 1
    if pred <= 1:
        return data
    cm = re.search(rb"/Columns\s+(\d+)", head)
    colors_m = re.search(rb"/Colors\s+(\d+)", head)
    bpc_m = re.search(rb"/BitsPerComponent\s+(\d+)", head)
    columns = int(cm.group(1)) if cm else 1
    colors = int(colors_m.group(1)) if colors_m else 1
    bpc = int(bpc_m.group(1)) if bpc_m else 8
    bpp = max(1, colors * bpc // 8)
    row_len = (columns * colors * bpc + 7) // 8
    if pred == 2:  # TIFF horizontal differencing (8-bit only here)
        if bpc != 8:
            raise ValueError("TIFF predictor with sub-byte samples "
                             "not supported")
        out = bytearray(data)
        for r0 in range(0, len(out) - row_len + 1, row_len):
            for i in range(bpp, row_len):
                out[r0 + i] = (out[r0 + i] + out[r0 + i - bpp]) & 255
        return bytes(out)
    # PNG predictors: each row prefixed by its filter-type byte
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    while pos + 1 + row_len <= len(data) + row_len and pos < len(data):
        ft = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + row_len])
        pos += 1 + row_len
        if ft == 1:
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 255
        elif ft == 2:
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 255
        elif ft == 3:
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 255
        elif ft == 4:
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                b = prev[i]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else \
                    (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 255
        elif ft != 0:
            raise ValueError(f"unknown PNG predictor row type {ft}")
        out += row
        prev = row
    return bytes(out)


def _apply_filters(head: bytes, raw: bytes,
                   names: list[bytes]) -> bytes:
    """Apply a PDF filter chain in order with the decode budget
    enforced at every expansion step."""
    out = raw
    for name in names:
        if name == b"FlateDecode":
            d = zlib.decompressobj()
            out = d.decompress(out, _MAX_STREAM_BYTES + 1)
            if len(out) > _MAX_STREAM_BYTES:
                raise ValueError(
                    "PDF stream inflates past the decode budget")
            out = _png_unpredict(out, head)
        elif name == b"LZWDecode":
            if re.search(rb"/EarlyChange\s+0", head):
                raise ValueError("LZW EarlyChange 0 not supported")
            from goose_parser_spark.ops.imagecodec import _tiff_lzw
            out = bytes(_tiff_lzw(out, _MAX_STREAM_BYTES + 1))
            if len(out) > _MAX_STREAM_BYTES:
                raise ValueError(
                    "PDF stream inflates past the decode budget")
            out = _png_unpredict(out, head)
        elif name == b"ASCII85Decode":
            out = _ascii85(out)
        elif name == b"ASCIIHexDecode":
            out = _asciihex(out)
        elif name == b"RunLengthDecode":
            out = _runlength(out)
        else:
            raise ValueError(
                f"unsupported PDF stream filter {name.decode()}")
    return out


def _decode_stream(head: bytes, raw: bytes) -> bytes:
    return _apply_filters(head, raw, _filter_names(head))


def _expand_object_streams(
        objects: dict[int, tuple[bytes, bytes | None]]) -> None:
    """Unpack /Type /ObjStm containers (PDF 32000 §7.5.7) in place:
    modern writers (PDF 1.5+) put most non-stream objects — page
    dicts, the catalog, font dicts — inside Flate-compressed object
    streams, which is why real-world PDFs used to be rejected with
    'object-stream not supported'. The stream begins with /N pairs
    of ``objnum offset`` integers; object bodies follow at /First +
    offset and carry no obj/endobj wrappers (and can hold no streams
    themselves). Directly-defined objects win over ObjStm-packed
    ones — the regex scan's last-definition-wins already models
    incremental updates, and a direct definition is always the newer
    generation in practice. A malformed container is skipped (its
    objects stay missing) rather than failing the document."""
    packed: list[tuple[int, bytes]] = []
    for num, (head, raw) in list(objects.items()):
        if raw is None or not re.search(rb"/Type\s*/ObjStm\b", head):
            continue
        try:
            body = _decode_stream(head, raw)
            nm = re.search(rb"/N\s+(\d+)", head)
            fm = re.search(rb"/First\s+(\d+)", head)
            if nm is None or fm is None:
                continue
            # bounds are attacker bytes: cap the pair count and keep
            # /First inside the stream so the header findall cannot
            # materialize millions of matches from a crafted prefix
            n = min(int(nm.group(1)), 65536)
            first = min(int(fm.group(1)), len(body))
            ints = []
            for v in re.finditer(rb"\d+", body[:first]):
                ints.append(int(v.group()))
                if len(ints) >= 2 * n:
                    break
            pairs = list(zip(ints[0::2], ints[1::2]))
            for i, (onum, off) in enumerate(pairs):
                start = first + off
                end = first + pairs[i + 1][1] \
                    if i + 1 < len(pairs) else len(body)
                if 0 <= start <= end <= len(body):
                    packed.append((onum, body[start:end].strip()))
        except ValueError:
            continue
    for onum, obody in packed:
        objects.setdefault(onum, (obody, None))


def _page_order(objects: dict[int, tuple[bytes, bytes | None]]) -> list[int]:
    """Page object numbers in page-tree order (catalog → /Pages →
    /Kids walk); falls back to file order of /Type /Page objects."""
    catalog = next((n for n, (h, _) in objects.items()
                    if b"/Type" in h and b"/Catalog" in h), None)
    pages: list[int] = []
    if catalog is not None:
        pm = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", objects[catalog][0])
        if pm is not None:
            stack = [int(pm.group(1))]
            seen = set()
            while stack:
                node = stack.pop(0)
                if node in seen or node not in objects:
                    continue
                seen.add(node)
                head = objects[node][0]
                if b"/Page" in head and b"/Pages" not in head:
                    pages.append(node)
                    continue
                km = re.search(rb"/Kids\s*\[(.*?)\]", head, re.DOTALL)
                if km is not None:
                    kids = [int(r.group(1))
                            for r in _REF.finditer(km.group(1))]
                    stack = kids + stack
    if not pages:
        pages = [n for n, (h, _) in objects.items()
                 if re.search(rb"/Type\s*/Page\b", h)]
    return pages


def _content_of(page_head: bytes,
                objects: dict[int, tuple[bytes, bytes | None]]) -> bytes:
    cm = re.search(rb"/Contents\s+(\d+)\s+\d+\s+R", page_head)
    refs: list[int] = []
    if cm is not None:
        refs = [int(cm.group(1))]
    else:
        am = re.search(rb"/Contents\s*\[(.*?)\]", page_head, re.DOTALL)
        if am is not None:
            refs = [int(r.group(1)) for r in _REF.finditer(am.group(1))]
    parts = []
    for r in refs:
        if r in objects and objects[r][1] is not None:
            head, raw = objects[r]
            parts.append(_decode_stream(head, raw))
    # spec: multiple content streams form one stream, whitespace-joined
    return b"\n".join(parts)


def _balanced_dict(b: bytes, start: int) -> bytes | None:
    """The ``<< ... >>`` region beginning at ``start`` (which must
    point at the opening ``<<``), nesting-aware."""
    if b[start:start + 2] != b"<<":
        return None
    depth = 0
    i = start
    n = len(b)
    while i < n - 1:
        two = b[i:i + 2]
        if two == b"<<":
            depth += 1
            i += 2
            continue
        if two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return b[start:i]
            continue
        i += 1
    return None


def _dict_value(head: bytes, key: bytes,
                objects: dict) -> bytes | None:
    """The value of ``/key`` inside dict bytes ``head``: an inline
    ``<< ... >>`` sub-dict (returned as-is) or an indirect reference
    (resolved through ``objects``). None when absent."""
    m = re.search(rb"/" + re.escape(key) + rb"\s*", head)
    if m is None:
        return None
    i = m.end()
    if head[i:i + 2] == b"<<":
        return _balanced_dict(head, i)
    rm = re.match(rb"(\d+)\s+\d+\s+R\b", head[i:i + 32])
    if rm is not None:
        obj = objects.get(int(rm.group(1)))
        return obj[0] if obj is not None else None
    return None


_HEX_TOK = re.compile(rb"<([0-9A-Fa-f\s]*)>|(\[)|(\])")


def _parse_tounicode(data: bytes) -> tuple[int, dict[int, str]]:
    """Parse a /ToUnicode CMap stream (PDF 32000 §9.10.3) into
    ``(code_len_bytes, {code: text})``. Handles codespacerange (code
    width), bfchar pairs, and bfrange in both forms — consecutive
    increment and explicit destination array. Destinations decode
    UTF-16BE (ligature expansions like one code → 'fi' included).
    CMaps are attacker bytes: the stream is capped at 4 MB (real
    ToUnicode maps are a few KB), each bfrange at 64K entries, and
    the whole table at 2^17 entries — crafted CMaps can neither soak
    CPU in the section regexes nor blow memory."""
    if len(data) > 4 << 20:
        raise ValueError("ToUnicode CMap exceeds the parse budget")
    max_entries = 1 << 17

    def _hx(tok: bytes) -> bytes:
        h = re.sub(rb"\s", b"", tok)
        return bytes.fromhex(h.decode("ascii")) if h else b""

    clen = 0
    for m in re.finditer(rb"begincodespacerange(.*?)endcodespacerange",
                         data, re.DOTALL):
        for hm in re.finditer(rb"<([0-9A-Fa-f\s]*)>", m.group(1)):
            clen = max(clen, len(_hx(hm.group(1))))
    table: dict[int, str] = {}
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data,
                         re.DOTALL):
        toks = re.findall(rb"<([0-9A-Fa-f\s]*)>", m.group(1))
        for j in range(0, len(toks) - 1, 2):
            if len(table) >= max_entries:
                break
            src = _hx(toks[j])
            dst = _hx(toks[j + 1])
            if src:
                clen = clen or len(src)
                table[int.from_bytes(src, "big")] = \
                    dst.decode("utf-16-be", "replace")
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data,
                         re.DOTALL):
        toks: list = []
        for tm in _HEX_TOK.finditer(m.group(1)):
            if tm.group(2):
                toks.append("[")
            elif tm.group(3):
                toks.append("]")
            else:
                toks.append(_hx(tm.group(1)))
        i = 0
        while i + 2 <= len(toks) and len(table) < max_entries:
            lo_b, hi_b = toks[i], toks[i + 1]
            if not isinstance(lo_b, bytes) or \
                    not isinstance(hi_b, bytes):
                i += 1
                continue
            lo = int.from_bytes(lo_b, "big")
            hi = min(int.from_bytes(hi_b, "big"), lo + 0xFFFF)
            clen = clen or len(lo_b)
            if i + 2 < len(toks) and toks[i + 2] == "[":
                j = i + 3
                code = lo
                while j < len(toks) and toks[j] != "]":
                    if isinstance(toks[j], bytes) and code <= hi:
                        table[code] = toks[j].decode(
                            "utf-16-be", "replace")
                        code += 1
                    j += 1
                i = j + 1
            elif i + 2 < len(toks) and isinstance(toks[i + 2], bytes):
                dst = toks[i + 2]
                base = int.from_bytes(dst, "big")
                width = max(len(dst), 2)
                mask = (1 << (8 * width)) - 1  # crafted base+k must
                for k in range(hi - lo + 1):   # not overflow to_bytes
                    table[lo + k] = ((base + k) & mask).to_bytes(
                        width, "big").decode("utf-16-be", "replace")
                i += 3
            else:
                i += 2
    return (clen or 1, table)


# Adobe Glyph List subset (the AGL is public Adobe spec data): the
# names embedded-subset text fonts actually use — ligatures, ASCII
# punctuation, typographic quotes/dashes, and the systematic rules
# (single-char names map to themselves, uniXXXX to the code point).
_AGL = {
    "fi": "fi", "fl": "fl", "ff": "ff", "ffi": "ffi", "ffl": "ffl",
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&",
    "quotesingle": "'", "quoteright": "’",
    "quoteleft": "‘", "parenleft": "(", "parenright": ")",
    "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "zero": "0", "one": "1", "two": "2",
    "three": "3", "four": "4", "five": "5", "six": "6", "seven": "7",
    "eight": "8", "nine": "9", "colon": ":", "semicolon": ";",
    "less": "<", "equal": "=", "greater": ">", "question": "?",
    "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
    "asciitilde": "~", "endash": "–", "emdash": "—",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "guillemotleft": "«", "guillemotright": "»",
    "bullet": "•", "periodcentered": "·",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "degree": "°", "copyright": "©",
    "registered": "®", "trademark": "™",
    "section": "§", "paragraph": "¶", "cent": "¢",
    "sterling": "£", "yen": "¥", "Euro": "€",
    "multiply": "×", "divide": "÷",
    "plusminus": "±", "florin": "ƒ",
    "dotlessi": "ı", "germandbls": "ß",
    "oe": "œ", "OE": "Œ", "ae": "æ", "AE": "Æ",
    "oslash": "ø", "Oslash": "Ø", "aring": "å",
    "Aring": "Å", "ccedilla": "ç", "Ccedilla": "Ç",
    "ntilde": "ñ", "Ntilde": "Ñ", "atilde": "ã",
    "Atilde": "Ã", "aacute": "á", "eacute": "é",
    "iacute": "í", "oacute": "ó", "uacute": "ú",
    "agrave": "à", "egrave": "è", "igrave": "ì",
    "ograve": "ò", "ugrave": "ù", "acircumflex": "â",
    "ecircumflex": "ê", "icircumflex": "î",
    "ocircumflex": "ô", "ucircumflex": "û",
    "adieresis": "ä", "edieresis": "ë",
    "idieresis": "ï", "odieresis": "ö",
    "udieresis": "ü", "ydieresis": "ÿ",
}


def _glyph_to_text(name: str) -> str | None:
    """AGL resolution: the curated table, then the systematic rules
    — single-character names are themselves, uniXXXX / uXXXX(XX) are
    explicit code points."""
    if name in _AGL:
        return _AGL[name]
    if len(name) == 1:
        return name
    if re.fullmatch(r"uni[0-9A-Fa-f]{4}", name):
        return chr(int(name[3:], 16))
    if re.fullmatch(r"u[0-9A-Fa-f]{4,6}", name):
        cp = int(name[1:], 16)
        return chr(cp) if cp <= 0x10FFFF else None
    return None


def _parse_differences(enc: bytes) -> dict[int, str]:
    """/Encoding /Differences array → {code: text}: integers set the
    next code, each glyph name assigns and increments (PDF 32000
    §9.6.6.1). Unresolvable glyph names are left out (their codes
    fall back to latin-1)."""
    m = re.search(rb"/Differences\s*\[(.*?)\]", enc, re.DOTALL)
    if m is None:
        return {}
    table: dict[int, str] = {}
    code = 0
    for tok in re.finditer(rb"(\d+)|/([^\s/<>\[\]()%]+)", m.group(1)):
        if tok.group(1) is not None:
            code = int(tok.group(1))
            continue
        text = _glyph_to_text(
            tok.group(2).decode("latin-1"))
        if text is not None:
            table[code] = text
        code += 1
    return table


def _page_fonts(page_head: bytes, objects: dict) -> dict[bytes, tuple]:
    """Resource-name → decode info for the page's fonts: walks
    /Resources (inherited through /Parent when the page dict lacks
    one, PDF 32000 §7.7.3.4) → /Font → each font's /ToUnicode CMap,
    falling back to an /Encoding /Differences glyph-name table for
    simple fonts (the pdfTeX/Type1 shape, where ligatures sit at low
    codes). Fonts with neither are absent (plain latin-1 decode)."""
    fonts: dict[bytes, tuple] = {}
    head = page_head
    res = None
    for _ in range(16):  # parent-chain bound
        res = _dict_value(head, b"Resources", objects)
        if res is not None:
            break
        pm = re.search(rb"/Parent\s+(\d+)\s+\d+\s+R", head)
        if pm is None:
            break
        obj = objects.get(int(pm.group(1)))
        if obj is None:
            break
        head = obj[0]
    if res is None:
        return fonts
    fdict = _dict_value(res, b"Font", objects)
    if fdict is None:
        return fonts
    for fm in re.finditer(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R",
                          fdict):
        name, ref = fm.group(1), int(fm.group(2))
        obj = objects.get(ref)
        if obj is None:
            continue
        tm = re.search(rb"/ToUnicode\s+(\d+)\s+\d+\s+R", obj[0])
        if tm is not None:
            tobj = objects.get(int(tm.group(1)))
            if tobj is not None and tobj[1] is not None:
                try:
                    cmap_data = _decode_stream(tobj[0], tobj[1])
                    clen, table = _parse_tounicode(cmap_data)
                    fonts[name] = (clen, table, False)
                    continue
                except ValueError:
                    pass
        enc = _dict_value(obj[0], b"Encoding", objects)
        if enc is not None and b"/Differences" in enc:
            table = _parse_differences(enc)
            if table:
                fonts[name] = (1, table, True)
    return fonts


def _decode_shown(s: bytes, cmap: tuple | None) -> str:
    """One shown string → text: through the font's code table. For
    ToUnicode CMaps unmapped codes become U+FFFD (the map is the
    font's complete statement of meaning); for /Differences tables
    unmapped codes fall back to latin-1 (Differences only overrides
    a base encoding). Simple fonts with neither decode latin-1."""
    if cmap is None:
        return s.decode("latin-1")
    clen, table, latin1_fallback = cmap
    out = []
    for i in range(0, len(s) - clen + 1, clen):
        code = int.from_bytes(s[i:i + clen], "big")
        hit = table.get(code)
        if hit is None:
            hit = chr(code) if latin1_fallback and code < 256 \
                else "�"
        out.append(hit)
    return "".join(out)


def _show_text_ops(content: bytes,
                   fonts: dict[bytes, tuple] | None = None) -> str:
    """Run the text-showing subset of the content-stream language:
    Tj ' \" TJ show strings; Td/TD/T* (and ') start new lines; TJ
    kerns more negative than -150/1000 em render as a space. Strings
    decode through the active font's /ToUnicode CMap when it has one
    (Tf tracks the font; CID/Identity-H text becomes real Unicode,
    ligature expansions included) and latin-1 otherwise (simple
    fonts)."""
    fonts = fonts or {}
    cur: tuple | None = None  # active font's (code_len, table)
    out: list[str] = []
    strings: list[bytes] = []  # operand stack of RAW string bytes
    nums: list[float] = []
    names: list[bytes] = []  # /Name operands (Tf font selection)
    in_array = False
    array_parts: list = []  # bytes (code runs) or " " (kern gaps)

    def _shown(parts: list) -> str:
        return "".join(p if isinstance(p, str)
                       else _decode_shown(p, cur) for p in parts)

    i, n = 0, len(content)
    while i < n:
        c = content[i]
        if c == 0x28:  # ( literal string
            i += 1
            depth = 1
            buf = bytearray()
            while i < n and depth:
                b = content[i]
                if b == 0x5C:  # backslash
                    i += 1
                    if i >= n:
                        break
                    e = content[i]
                    if 0x30 <= e <= 0x37:  # octal, up to 3 digits
                        oct_ = chr(e)
                        for _ in range(2):
                            if i + 1 < n and 0x30 <= content[i + 1] <= 0x37:
                                i += 1
                                oct_ += chr(content[i])
                        # PDF 32000 §7.3.4.2: high-order overflow in
                        # \400..\777 is ignored (mask, don't crash)
                        buf.append(int(oct_, 8) & 0xFF)
                    elif e in (0x0A, 0x0D):
                        # line continuation; \CRLF consumes both bytes
                        if e == 0x0D and content[i + 1:i + 2] == b"\n":
                            i += 1
                    else:
                        buf.append(ord(_ESCAPES.get(e, chr(e))))
                    i += 1
                    continue
                if b == 0x28:
                    depth += 1
                elif b == 0x29:
                    depth -= 1
                    if not depth:
                        i += 1
                        break
                buf.append(b)
                i += 1
            s = bytes(buf)
            (array_parts if in_array else strings).append(s)
            continue
        if c == 0x3C and content[i:i + 2] != b"<<":  # <hex string>
            j = content.find(b">", i)
            if j < 0:
                break
            hx = re.sub(rb"\s", b"", content[i + 1:j])
            if len(hx) % 2:
                hx += b"0"
            s = bytes.fromhex(hx.decode("ascii", "ignore"))
            (array_parts if in_array else strings).append(s)
            i = j + 1
            continue
        if c == 0x5B:  # [
            in_array = True
            array_parts = []
            i += 1
            continue
        if c == 0x5D:  # ]
            in_array = False
            i += 1
            continue
        if c == 0x2F:  # /Name operand
            m = re.compile(rb"/([^\s/<>\[\]()%]*)").match(content, i)
            names.append(m.group(1))
            i = m.end()
            continue
        if c in (0x2B, 0x2D, 0x2E) or 0x30 <= c <= 0x39:
            m = _NUM.match(content, i)
            v = float(m.group())
            if in_array:
                if v < -150:  # kern wide enough to be a word gap
                    array_parts.append(" ")
            else:
                nums.append(v)
            i = m.end()
            continue
        if 0x41 <= c <= 0x7A and (c <= 0x5A or c >= 0x61):  # letter
            m = re.compile(rb"[A-Za-z*']+").match(content, i)
            op = m.group()
            if op == b"Tj" and strings:
                out.append(_decode_shown(strings[-1], cur))
            elif op == b"TJ":
                out.append(_shown(array_parts))
                array_parts = []
            elif op == b"Tf" and names:
                cur = fonts.get(names[-1])
            elif op in (b"Td", b"TD", b"T*"):
                if op == b"T*" or (len(nums) >= 1 and nums[-1] != 0):
                    out.append("\n")
            strings = []
            nums = []
            names = []
            i = m.end()
            continue
        if c == 0x27 or c == 0x22:  # ' and " show-on-next-line ops
            if strings:
                out.append("\n" + _decode_shown(strings[-1], cur))
            strings = []
            nums = []
            i += 1
            continue
        i += 1
    text = "".join(out)
    # collapse leading newline artifacts from the initial Td
    return text.lstrip("\n")


def parse_pdf_text(data: bytes) -> list[str]:
    """Real PDF → list of per-page texts (pure stdlib; scope in the
    module docstring). PDF 1.5+ object streams are unpacked, so
    modern compressed-xref files extract too. Raises ValueError on
    encrypted documents or unsupported filters."""
    if b"/Encrypt" in data:
        raise ValueError("encrypted PDF not supported")
    objects = _scan_objects(data)
    if not objects:
        raise ValueError("no PDF objects found")
    _expand_object_streams(objects)
    pages = _page_order(objects)
    if not pages:
        raise ValueError("no pages found")
    return [_show_text_ops(_content_of(objects[p][0], objects),
                           _page_fonts(objects[p][0], objects))
            for p in pages]


_IMG_MAX_PIXELS = 16_000_000  # same decode budget as imagecodec


def parse_pdf_images(data: bytes) -> list[dict]:
    """Embedded image XObjects of a PDF, in ascending object-number
    order (the stable contract — reference order would need full
    resource-dictionary resolution for no analytical gain). Each
    entry: ``{image_no, width, height, fmt, pixels}`` where ``fmt``
    is ``jpeg`` (DCTDecode payload decoded by the pure-stdlib JPEG
    decoder), ``raw`` (DeviceGray/DeviceRGB bitmap after the filter
    chain, BT.601 gray), and ``pixels`` is the row-major grayscale
    list — or None with ``fmt='undecodable'`` when THAT image cannot
    be decoded (JPXDecode, CCITT, encrypted...): per-image poison,
    the other images of the document still extract (I4)."""
    if b"/Encrypt" in data:
        raise ValueError("encrypted PDF not supported")
    objects = _scan_objects(data)
    if not objects:
        raise ValueError("no PDF objects found")
    # images are stream objects so they never live INSIDE an ObjStm,
    # but expanding keeps the object table consistent either way
    _expand_object_streams(objects)
    out: list[dict] = []
    image_no = 0
    for num in sorted(objects):
        head, raw = objects[num]
        if raw is None or not re.search(rb"/Subtype\s*/Image", head):
            continue
        entry = {"image_no": image_no, "width": None, "height": None,
                 "fmt": "undecodable", "pixels": None}
        image_no += 1
        try:
            wm = re.search(rb"/Width\s+(\d+)", head)
            hm = re.search(rb"/Height\s+(\d+)", head)
            if wm is None or hm is None:
                raise ValueError("image without dimensions")
            w, h = int(wm.group(1)), int(hm.group(1))
            entry["width"], entry["height"] = w, h
            if w <= 0 or h <= 0 or w * h > _IMG_MAX_PIXELS:
                raise ValueError("image exceeds the decode budget")
            names = _filter_names(head)
            if names and names[-1] == b"DCTDecode":
                from goose_parser_spark.ops.imagecodec import (
                    decode_image_gray)
                payload = _apply_filters(head, raw, names[:-1])
                dw, dh, px = decode_image_gray(payload)
                if (dw, dh) != (w, h):
                    raise ValueError("DCT image dimension mismatch")
                entry["fmt"] = "jpeg"
                entry["pixels"] = px
            else:
                body = _apply_filters(head, raw, names)
                bm = re.search(rb"/BitsPerComponent\s+(\d+)", head)
                bpc = int(bm.group(1)) if bm else 8
                if bpc != 8:
                    raise ValueError("sub-byte raw images not "
                                     "supported")
                if re.search(rb"/DeviceRGB\b", head):
                    need = w * h * 3
                    if len(body) < need:
                        raise ValueError("truncated RGB image data")
                    px = [(299 * body[i] + 587 * body[i + 1]
                           + 114 * body[i + 2] + 500) // 1000
                          for i in range(0, need, 3)]
                elif re.search(rb"/DeviceGray\b", head):
                    if len(body) < w * h:
                        raise ValueError("truncated gray image data")
                    px = list(body[:w * h])
                else:
                    raise ValueError("unsupported image color space")
                entry["fmt"] = "raw"
                entry["pixels"] = px
        except ValueError:
            pass  # per-image poison entry stays
        out.append(entry)
    return out


def parse_pdf_stub(data: bytes) -> list[str]:
    """STUB PDF parser → list of page texts: deterministic fake
    pagination — the byte payload is decoded latin-1 and split into
    512-byte "pages" (stable across runs/engines).
    """
    text = data.decode("latin-1")
    page_size = 512
    return [text[i:i + page_size] for i in range(0, max(len(text), 1), page_size)]


def extract_pdf_pages(
    df: "DataFrame",
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Binary PDF payloads → one row per (doc, page_no, page_text).

    Payloads with the ``%PDF-`` magic run the REAL extractor
    (:func:`parse_pdf_text`); anything else gets the deterministic
    fake splitter so plumbing tests and non-PDF fixtures keep working.
    Per-document failure isolation (I4): a document whose parse raises
    contributes one row with ``page_no = -1`` and NULL text — poison
    never kills the batch, and failures stay countable downstream.
    NULL payloads yield no rows.

    Runs on the per-document map kernel (kernel.map_docs): the explode
    happens inside the Python worker (a parsed page list never crosses
    the boundary twice); output rows are narrow.
    """
    fields = [StructField("page_no", IntegerType(), True),
              StructField("page_text", StringType(), True),
              StructField("n_pages", IntegerType(), True)]

    def fn(raw):
        pages = (parse_pdf_text(raw) if raw.startswith(b"%PDF-")
                 else parse_pdf_stub(raw))
        return [(pno, ptext, len(pages)) for pno, ptext in enumerate(pages)]

    out = map_docs(df, fn, fields, id_col, payload_col).where(
        F.col("bytes_in").isNotNull())
    return out.select(id_col,
                      F.coalesce("page_no", F.lit(-1)).alias("page_no"),
                      "page_text",
                      F.coalesce("n_pages", F.lit(0)).alias("n_pages"))


# ---------------------------------------------------------------------------
# PDF document metadata (round 6): the /Info dictionary + page count —
# what a corpus pipeline indexes before deciding whether to pay for
# full text extraction.
# ---------------------------------------------------------------------------

_INFO_REF = re.compile(rb"/Info\s+(\d+)\s+\d+\s+R")


def _pdf_string_at(b: bytes, i: int) -> str | None:
    """Parse one PDF string object starting at ``b[i]`` — literal
    ``(…)`` with escape sequences and nested parens, or hex ``<…>``.
    Latin-1 decode (PDFDocEncoding's ASCII-compatible subset; UTF-16
    metadata is out of scope and surfaces as its BOM bytes)."""
    while i < len(b) and b[i:i + 1].isspace():
        i += 1
    if i >= len(b):
        return None
    if b[i] == 0x3C:  # '<' hex string
        j = b.find(b">", i)
        if j < 0:
            return None
        hexs = re.sub(rb"\s", b"", b[i + 1:j])
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii")).decode("latin-1")
    if b[i] != 0x28:  # '('
        return None
    out = bytearray()
    depth = 1
    i += 1
    esc = {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b",
           0x66: b"\f", 0x28: b"(", 0x29: b")", 0x5C: b"\\"}
    while i < len(b) and depth:
        c = b[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= len(b):
                break
            e = b[i]
            if 0x30 <= e <= 0x37:  # octal \ddd (1-3 digits)
                val = 0
                k = 0
                while k < 3 and i < len(b) and 0x30 <= b[i] <= 0x37:
                    val = val * 8 + (b[i] - 0x30)
                    i += 1
                    k += 1
                out.append(val & 0xFF)
                continue
            out += esc.get(e, bytes([e]))
            i += 1
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                break
        out.append(c)
        i += 1
    return out.decode("latin-1")


def _pdf_dict_string(d: bytes, key: bytes) -> str | None:
    m = re.search(rb"/" + key + rb"\b", d)
    if m is None:
        return None
    return _pdf_string_at(d, m.end())


def parse_pdf_info(data: bytes) -> dict:
    """``{n_pages, title, author, subject, producer, created}`` from a
    PDF: the /Info object referenced by the trailer (LAST reference
    wins — incremental-update semantics, same rule as
    :func:`_scan_objects`) and the page-tree count. String fields are
    None when absent."""
    if b"/Encrypt" in data:
        raise ValueError("encrypted PDF not supported")
    objects = _scan_objects(data)
    if not objects:
        raise ValueError("no PDF objects found")
    _expand_object_streams(objects)
    n_pages = len(_page_order(objects))
    info: bytes | None = None
    refs = _INFO_REF.findall(data)
    if refs:
        obj = objects.get(int(refs[-1]))
        if obj is not None:
            info = obj[0]
    fields = {}
    for out_key, pdf_key in (("title", b"Title"), ("author", b"Author"),
                             ("subject", b"Subject"),
                             ("producer", b"Producer"),
                             ("created", b"CreationDate")):
        fields[out_key] = (_pdf_dict_string(info, pdf_key)
                           if info is not None else None)
    return {"n_pages": n_pages, **fields}


def pdf_metadata(
    df: "DataFrame",
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Binary PDF payloads → one metadata row per document:
    ``(id, n_pages, title, author, subject, producer, created,
    error)``. Map-only (kernel.map_docs), per-document poison
    isolation (I4): a failing parse yields n_pages = -1 and the error
    string; NULL payloads yield no rows."""
    names = ("title", "author", "subject", "producer", "created")
    fields = [StructField("n_pages", IntegerType(), True),
              *(StructField(k, StringType(), True) for k in names)]

    def fn(payload):
        info = parse_pdf_info(payload)
        return ((info["n_pages"], *(info[k] for k in names)),)

    out = map_docs(df, fn, fields, id_col, payload_col).where(
        F.col("bytes_in").isNotNull())
    return out.select(id_col,
                      F.coalesce("n_pages", F.lit(-1)).alias("n_pages"),
                      *names, "error")


def pdf_images(
    df: "DataFrame",
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Figure mining: every embedded image of every PDF, decoded and
    dropped into the SAME 60-bit pHash space as stills / video
    frames / animations — PDF figures become near-dup-joinable
    against the rest of the corpus for free. One row per (document,
    image): ``id_col, image_no, width, height, fmt, phash``; an
    undecodable image yields a NULL-hash row for ITS index and a
    document that is not parseable PDF at all yields the single
    ``image_no = -1`` poison row (same I4 convention as
    extract_pdf_pages).

    100-TB shape: the parse+decode is the only Python node, map-only
    on the per-document map kernel (kernel.map_docs) — payload bytes
    never shuffle; the DCT hash is pure Catalyst downstream. NULL
    payloads yield no rows."""
    from pyspark.sql.types import BooleanType

    from goose_parser_spark.ops.multimodal import (
        PIXEL_FIELDS, PIXELS, _phash_from_pixel_cols)

    fields = [StructField("image_no", IntegerType(), True),
              StructField("width", IntegerType(), True),
              StructField("height", IntegerType(), True),
              StructField("fmt", StringType(), True),
              StructField("_ok", BooleanType(), True),
              *PIXEL_FIELDS]

    def fn(payload):
        from goose_parser_spark.ops.imagecodec import resize_gray_box
        rows = []
        for img in parse_pdf_images(payload):
            head = (img["image_no"], img["width"], img["height"], img["fmt"])
            try:
                if img["pixels"] is None:
                    raise ValueError("undecodable image")
                rows.append((*head, True, *resize_gray_box(
                    img["width"], img["height"], img["pixels"])))
            except Exception:  # noqa: BLE001 — per-image I4
                rows.append((*head, False, *[0] * 64))
        return rows

    out = map_docs(df, fn, fields, id_col, payload_col).where(
        F.col("bytes_in").isNotNull())
    base = out.select(
        id_col, F.coalesce("image_no", F.lit(-1)).alias("image_no"),
        "width", "height", "fmt",
        F.coalesce("_ok", F.lit(False)).alias("_ok"), *PIXELS)
    return _phash_from_pixel_cols(
        base, id_col, "phash", valid_col="_ok",
        extra_cols=("image_no", "width", "height", "fmt"))
