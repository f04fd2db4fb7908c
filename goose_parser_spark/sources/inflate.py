"""Budget-bounded, MULTI-MEMBER stream inflation shared by the
compressed sources (JSONL shards, wiki dumps).

Real-world shards are concatenations of independent compressed
members: ``cat a.gz b.gz`` is a spec-valid gzip file, pbzip2 output
is many bz2 streams back to back, and Wikipedia's standard
``pages-articles-multistream.xml.bz2`` is exactly that shape. The
stdlib's one-shot decompressors stop at the FIRST member boundary
and leave the rest in ``unused_data`` — a reader that ignores it
silently drops almost all of a multi-GB dump (code-review finding,
session 6). This helper loops members until the input is exhausted,
carries one output budget across all of them, and REJECTS streams
whose final member never reaches EOF (a shard cut mid-transfer is
corruption, not content).

zstd and brotli go through :func:`inflate_stream` instead: pyarrow
ships libzstd and libbrotlidec, and its ``CompressedInputStream``
already decodes concatenated frames / streams, so only the output
budget is this module's job there.
"""
from __future__ import annotations

__all__ = ["inflate_members", "inflate_stream"]

_STREAM_CHUNK = 1 << 20


def inflate_members(data: bytes, codec: str, budget: int) -> bytes | None:
    """Inflate ``data`` as one or more concatenated ``codec``
    members (``gz``, ``bz2`` or ``xz``). Returns None — shard
    skipped, best-effort contract — on malformed input, an
    unfinished final member, or output past ``budget``."""
    import bz2
    import lzma
    import zlib

    out = bytearray()
    rest = data
    try:
        while rest:
            if codec == "gz":
                d = zlib.decompressobj(wbits=31)
            elif codec == "bz2":
                d = bz2.BZ2Decompressor()
            elif codec == "xz":
                d = lzma.LZMADecompressor()
            else:
                return None
            out += d.decompress(rest, budget + 1 - len(out))
            if len(out) > budget:
                return None
            if not d.eof:
                return None  # truncated member: reject, don't trim
            rest = d.unused_data.lstrip(b"\x00")  # bz2 pads with NULs
    except Exception:  # noqa: BLE001 — malformed member
        return None
    return bytes(out)


def inflate_stream(data: bytes, codec: str, max_out: int,
                   error: type[Exception]) -> bytes:
    """Decode ``data`` with pyarrow's ``codec`` (``zstd`` or
    ``brotli``), reading ~1 MiB at a time so a bomb is stopped as
    soon as the output passes ``max_out`` (``error`` whose message
    says "budget"), never sized up front. Decode failures raise
    ``error``; anything else propagates — a pyarrow built without the
    codec raises ``ArrowNotImplementedError``, which must not pass
    for a corrupt stream."""
    import pyarrow as pa

    chunks = []
    total = 0
    try:
        with pa.CompressedInputStream(pa.py_buffer(data), codec) as stream:
            while True:
                chunk = stream.read(min(_STREAM_CHUNK, max_out + 1 - total))
                if not chunk:
                    break
                total += len(chunk)
                if total > max_out:
                    raise error("output budget exceeded")
                chunks.append(chunk)
    except (OSError, pa.ArrowInvalid) as exc:
        raise error(f"{codec} decode failed: {exc}") from exc
    return b"".join(chunks)
