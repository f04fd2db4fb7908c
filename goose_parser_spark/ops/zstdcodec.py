"""Zstandard (RFC 8878) decoding under an output budget.

Crawled HTTP bodies arrive with ``Content-Encoding: zstd`` (RFC 8878
§7 registers the token), web-archive shards ship as ``.warc.zst`` and
datasets as ``.jsonl.zst``. The content is decoded by libzstd, which
pyarrow ships (``sources/inflate.inflate_stream``). What stays here is
the frame layer: one walk over the frame and block headers, with no
entropy decoding, that

- rejects bad magic, a set reserved bit and external dictionaries
  (``Dictionary_ID != 0``; the legacy v0.x formats fail the magic
  check), with the messages callers and tests match on;
- turns bombs into :class:`ZstdError` before anything is allocated
  wherever the headers tell: a declared content size, or raw and RLE
  blocks, past the ``max_out`` budget (a 100-byte frame can legally
  declare terabytes). Compressed blocks are held to the same budget
  while libzstd decodes them, ~1 MiB at a time;
- counts the data frames and notes whether each carries a content
  checksum.

Checksum contract: libzstd always verifies a frame's content checksum
(xxHash64, low 32 bits), so a mismatch is a decode error like any
other corruption. ``checksum_state`` is ``'ok'`` when every data frame
carried a checksum (all verified) and ``'absent'`` otherwise. A frame
with a bad checksum therefore gives ``zstd_text``'s ``n_frames = -1``
poison row, leaves ``decode_http_body`` with the raw bytes, and gets a
``.warc.zst`` or ``.jsonl.zst`` file skipped.
"""

from __future__ import annotations

import struct

__all__ = [
    "ZstdError",
    "decompress",
    "decode_frames",
    "is_zstd",
]


class ZstdError(ValueError):
    """Raised on malformed, truncated, unsupported, or budget-
    exceeding zstd input."""


_MAGIC = 0xFD2FB528
_SKIP_MAGIC_MIN = 0x184D2A50
_SKIP_MAGIC_MAX = 0x184D2A5F
_BLOCK_MAX = 1 << 17          # Block_Maximum_Size upper bound (128 KiB)


def is_zstd(data: bytes) -> bool:
    """True if ``data`` starts with a zstd frame or skippable-frame
    magic — the cheap sniff the WARC reader uses."""
    if len(data) < 4:
        return False
    magic = struct.unpack_from("<I", data, 0)[0]
    return magic == _MAGIC or _SKIP_MAGIC_MIN <= magic <= _SKIP_MAGIC_MAX


def _walk_frame(data: bytes, pos: int,
                budget: int) -> tuple[int, bool, int]:
    """Check one frame's header and block headers, starting just past
    its magic. Returns (new pos, has_checksum, output bytes the
    headers account for: the declared content size, else the raw and
    RLE block sizes)."""
    if pos >= len(data):
        raise ZstdError("frame header truncated")
    fhd = data[pos]
    pos += 1
    if fhd & 0x08:
        raise ZstdError("reserved frame-header bit set")
    has_checksum = bool(fhd & 4)
    single = bool(fhd & 0x20)
    if not single:
        if pos >= len(data):
            raise ZstdError("window descriptor truncated")
        wd = data[pos]
        pos += 1
        wbase = 1 << (10 + (wd >> 3))
        window = wbase + (wbase >> 3) * (wd & 7)
    dict_size = (0, 1, 2, 4)[fhd & 3]
    if dict_size:
        if pos + dict_size > len(data):
            raise ZstdError("dictionary id truncated")
        did = int.from_bytes(data[pos:pos + dict_size], "little")
        pos += dict_size
        if did != 0:
            raise ZstdError("external dictionaries not supported")
    fcs_size = (1 if single else 0, 2, 4, 8)[fhd >> 6]
    content_size = None
    if fcs_size:
        if pos + fcs_size > len(data):
            raise ZstdError("frame content size truncated")
        content_size = int.from_bytes(data[pos:pos + fcs_size], "little")
        if fcs_size == 2:
            content_size += 256
        pos += fcs_size
    if single:
        window = content_size
    if content_size is not None and content_size > budget:
        raise ZstdError("declared content size exceeds output budget")
    block_max = min(window or _BLOCK_MAX, _BLOCK_MAX)
    known = 0
    compressed = False
    while True:
        if pos + 3 > len(data):
            raise ZstdError("block header truncated")
        bh = int.from_bytes(data[pos:pos + 3], "little")
        pos += 3
        btype = (bh >> 1) & 3
        bsize = bh >> 3
        if btype == 0:
            if pos + bsize > len(data):
                raise ZstdError("raw block truncated")
            if known + bsize > budget:
                raise ZstdError("output budget exceeded")
            known += bsize
            pos += bsize
        elif btype == 1:
            if pos >= len(data):
                raise ZstdError("RLE block byte missing")
            if known + bsize > budget or bsize > _BLOCK_MAX:
                raise ZstdError("output budget exceeded")
            known += bsize
            pos += 1
        elif btype == 2:
            if bsize > block_max:
                raise ZstdError("compressed block exceeds maximum")
            if pos + bsize > len(data):
                raise ZstdError("compressed block truncated")
            compressed = True  # output size known only to libzstd
            pos += bsize
        else:
            raise ZstdError("reserved block type")
        if bh & 1:
            break
    if content_size is not None and not compressed \
            and known != content_size:
        raise ZstdError("frame content size mismatch")
    if has_checksum:
        if pos + 4 > len(data):
            raise ZstdError("content checksum truncated")
        pos += 4
    return pos, has_checksum, known if content_size is None else content_size


def decode_frames(data: bytes,
                  max_out: int = 1 << 30) -> tuple[bytes, int, str]:
    """Decode ALL concatenated zstd frames (skippable frames are
    skipped). Returns (content, n_data_frames, checksum_state) where
    checksum_state is 'ok' if every data frame carried a checksum
    (libzstd verified each) and 'absent' otherwise. Raises
    :class:`ZstdError` on malformed input, unsupported features
    (external dictionaries), a checksum mismatch, or output past
    ``max_out`` (bomb guard)."""
    from goose_parser_spark.sources.inflate import inflate_stream

    pos = 0
    n_frames = 0
    n_checksums = 0
    known = 0
    while pos < len(data):
        if pos + 4 > len(data):
            raise ZstdError("trailing bytes too short for a frame magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        if _SKIP_MAGIC_MIN <= magic <= _SKIP_MAGIC_MAX:
            if pos + 8 > len(data):
                raise ZstdError("skippable frame header truncated")
            (size,) = struct.unpack_from("<I", data, pos + 4)
            if pos + 8 + size > len(data):
                raise ZstdError("skippable frame truncated")
            pos += 8 + size
            continue
        if magic != _MAGIC:
            raise ZstdError("bad frame magic")
        pos, has_checksum, size = _walk_frame(data, pos + 4, max_out - known)
        known += size
        n_frames += 1
        n_checksums += has_checksum
    if not n_frames:
        return b"", 0, "absent"
    content = inflate_stream(data, "zstd", max_out, ZstdError)
    return content, n_frames, "ok" if n_checksums == n_frames else "absent"


def decompress(data: bytes, max_out: int = 1 << 30) -> bytes:
    """Decompress a complete zstd stream (one or more frames).
    Raises :class:`ZstdError` on malformed input, unsupported
    features (external dictionaries), checksum mismatch, or when the
    output would exceed ``max_out`` (bomb guard)."""
    return decode_frames(data, max_out)[0]


def zstd_text(df, payload_col: str = "payload", id_col: str = "doc_id",
              max_out: int = 1 << 26):
    """Spark-side decode of a zstd binary column to text — the
    compressed-sidecar ingest shape (datasets distributed as
    ``.jsonl.zst`` / ``.txt.zst`` payloads, or zstd-recompressed
    bodies landed by a crawler). One row per input row:
    ``id_col, n_frames, content_len, checksum_state, text``; decode
    failures, a frame whose content checksum does not match among
    them, yield a single ``n_frames = -1`` row with NULL content (I4
    poison isolation — same contract as the media codecs); NULL
    payloads yield no rows. Runs on the per-document map kernel
    (kernel.map_docs); decode is the only Python node, the plan is
    map-only (no shuffle), and ``max_out`` bounds per-doc inflation so
    a bomb poisons its row instead of the executor."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField)

    from goose_parser_spark.kernel import map_docs

    fields = [StructField("n_frames", IntegerType(), True),
              StructField("content_len", LongType(), True),
              StructField("checksum_state", StringType(), True),
              StructField("text", StringType(), True)]

    def fn(payload):
        content, n_frames, cstate = decode_frames(payload, max_out=max_out)
        return ((n_frames, len(content), cstate,
                 content.decode("utf-8", "replace")),)

    out = map_docs(df, fn, fields, id_col, payload_col).where(
        F.col("bytes_in").isNotNull())
    return out.select(id_col,
                      F.coalesce("n_frames", F.lit(-1)).alias("n_frames"),
                      "content_len", "checksum_state", "text")
