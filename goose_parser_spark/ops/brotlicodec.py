"""Brotli (RFC 7932) decoding under an output budget.

Brotli is the most common non-gzip ``Content-Encoding`` on the web,
and datasets also ship ``.br`` shards. The stream is decoded by
libbrotlidec, which pyarrow ships (``sources/inflate.inflate_stream``),
~1 MiB at a time against the ``max_out`` budget, so a bomb raises
:class:`BrotliError` instead of exhausting the executor. This module
reads the one header field :func:`brotli_text` reports, the window
size WBITS (RFC 7932 §9.1).

Brotli has no magic number: callers gate on ``Content-Encoding`` or
the file suffix, and empty input is a :class:`BrotliError`. Arrow's
reader decodes bytes after a stream's last metablock as a further
stream, so trailing junk is a :class:`BrotliError` (libbrotlidec's
one-shot call would ignore it) and two concatenated streams decode to
their joined content.
"""

from __future__ import annotations

__all__ = ["BrotliError", "decompress", "decompress_info", "brotli_text"]


class BrotliError(ValueError):
    """Raised on malformed, truncated, unsupported, or
    budget-exceeding brotli input."""


def _window_bits(data: bytes) -> int:
    """WBITS from the stream header (RFC 7932 §9.1): a 1-, 4- or
    7-bit LSB-first code, always inside the first byte."""
    if not data:
        raise BrotliError("empty stream")
    b = data[0]
    if not b & 1:
        return 16
    n = (b >> 1) & 7
    if n:
        return 17 + n
    n = (b >> 4) & 7
    if n == 1:
        raise BrotliError("reserved WBITS value")
    return 8 + n if n else 17


def decompress(data: bytes, max_out: int = 1 << 30) -> bytes:
    """Decompress a complete brotli stream. Raises
    :class:`BrotliError` on malformed/truncated input or when output
    would exceed ``max_out`` (bomb guard)."""
    return decompress_info(data, max_out=max_out)[0]


def decompress_info(data: bytes,
                    max_out: int = 1 << 30) -> tuple[bytes, int]:
    """Like :func:`decompress` but also returns the stream's declared
    sliding-window size in bits (WBITS, 10..24)."""
    from goose_parser_spark.sources.inflate import inflate_stream

    wbits = _window_bits(data)
    return inflate_stream(data, "brotli", max_out, BrotliError), wbits


def brotli_text(df, payload_col: str = "payload", id_col: str = "doc_id",
                max_out: int = 1 << 26):
    """Spark-side decode of a brotli binary column to text — the
    ``Content-Encoding: br`` ingest shape (brotli is the most common
    non-gzip response coding in real crawls, and datasets are also
    distributed as ``.br`` sidecars). One row per input row:
    ``id_col, wbits, content_len, text``; decode failures yield a
    single ``wbits = -1`` row with NULL content (I4 poison isolation
    — same contract as the media codecs and zstd_text); NULL payloads
    yield no rows. Runs on the per-document map kernel
    (kernel.map_docs); decode is the only Python node, the plan is
    map-only (no shuffle), and ``max_out`` bounds per-doc inflation so
    a bomb poisons its row instead of the executor."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField)

    from goose_parser_spark.kernel import map_docs

    fields = [StructField("wbits", IntegerType(), True),
              StructField("content_len", LongType(), True),
              StructField("text", StringType(), True)]

    def fn(payload):
        content, wbits = decompress_info(payload, max_out=max_out)
        return ((wbits, len(content), content.decode("utf-8", "replace")),)

    out = map_docs(df, fn, fields, id_col, payload_col).where(
        F.col("bytes_in").isNotNull())
    return out.select(id_col, F.coalesce("wbits", F.lit(-1)).alias("wbits"),
                      "content_len", "text")
