"""WARC (Web ARChive, ISO 28500) source — the Common-Crawl container
format. Pure-stdlib parser (no warcio in this container), Spark-first
distribution model:

- Common Crawl lays out one gzip MEMBER per WARC record inside each
  ``.warc.gz`` (the spec's recommended record-at-time compression), so
  a file cannot be byte-split — the unit of parallelism is the FILE.
  ``read_warc`` therefore reads via Spark's ``binaryFile`` source (one
  task per file; a CC segment has ~64k files, far more than any
  cluster's cores → full parallelism without splitting) and parses
  records inside ``kernel.map_docs``, the same Arrow-batched boundary
  and poison contract the extractor uses: a file is a document whose
  rows are its records.
- Records stream out as (url, warc_ts, record_type, content_type,
  html) rows matching the input-hint page schema; ``response``
  records carry the HTTP payload with headers stripped.

At 100 TB: pair with ``ExtractJob`` — read_warc → extract →
repartition the extracted rows on the url-hash bucket → partitioned
write. The binaryFile row carries the whole file in memory once; CC
files are ~1 GB compressed, so size executor memory accordingly or
pre-split with maxRecordsPerFile on re-landing.
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


# Hostile-input guards. These bytes come straight off the web, and
# the gzip layer makes tiny inputs arbitrarily large: a 1 MB member
# of deflated zeros inflates to GBs with no newline in it, so an
# unbounded readline() would materialize the whole bomb looking for
# one. Every readline is capped (WARC headers are short lines), the
# header block is capped in line count, and a record whose declared
# Content-Length exceeds the payload budget is drained in chunks and
# skipped — the stream stays aligned, the executor never holds more
# than one bounded buffer.
_MAX_HEADER_LINE = 64 * 1024
_MAX_HEADER_LINES = 512
_MAX_PAYLOAD = 64 * 1024 * 1024
_DRAIN_CHUNK = 8 * 1024 * 1024


def _read_headers(fh) -> dict[str, str] | None:
    """Read a CRLF-terminated header block; None on EOF/garbage."""
    line = fh.readline(_MAX_HEADER_LINE)
    while line in (b"\r\n", b"\n"):  # tolerate inter-record padding
        line = fh.readline(_MAX_HEADER_LINE)
    if not line:
        return None
    if not line.startswith(b"WARC/"):
        return None
    headers: dict[str, str] = {"__version__": line.strip().decode("ascii",
                                                                  "replace")}
    for _ in range(_MAX_HEADER_LINES):
        line = fh.readline(_MAX_HEADER_LINE)
        if line in (b"\r\n", b"\n", b""):
            break
        if len(line) >= _MAX_HEADER_LINE and not line.endswith(b"\n"):
            return None  # unterminated giant "line": not a WARC header
        try:
            k, v = line.decode("utf-8", "replace").split(":", 1)
        except ValueError:
            continue
        headers[k.strip().lower()] = v.strip()
    else:
        return None  # header block never ended: malformed
    return headers


def _split_http_payload(payload: bytes) -> tuple[str | None, bytes]:
    """(response head as text, body) for a response record body; head
    is None when the payload carries no HTTP envelope. Decoded
    latin-1 — lossless for arbitrary header bytes, and
    ops/crawl.parse_http_headers only reads ASCII shapes from it."""
    if payload[:5] in (b"HTTP/",):
        sep = payload.find(b"\r\n\r\n")
        if sep == -1:
            sep = payload.find(b"\n\n")
            if sep == -1:
                return payload.decode("latin-1"), payload
            return payload[:sep].decode("latin-1"), payload[sep + 2:]
        return payload[:sep].decode("latin-1"), payload[sep + 4:]
    return None, payload


def _http_header_value(head: str, name: str) -> str | None:
    import re
    m = re.search(rf"(?im)^{name}[ \t]*:[ \t]*([^\r\n]*)", head)
    return m.group(1).strip().lower() if m else None


def _dechunk(body: bytes) -> bytes | None:
    """Decode an HTTP/1.1 chunked transfer coding; None when the
    framing is malformed (caller keeps the raw bytes — archives carry
    truncated captures, and a best-effort body beats dropping it).
    Bounded: output capped at the record payload cap, chunk-size
    lines capped, trailers skipped."""
    out = bytearray()
    pos = 0
    n = len(body)
    while pos < n:
        # window: 16 hex digits of size plus room for RFC 7230 chunk
        # extensions (';name=value' pairs can legitimately run long —
        # an 18-byte window rejected spec-valid bodies); a size line
        # past 4 KB is not a chunk frame
        eol = body.find(b"\r\n", pos, pos + 4096)
        if eol < 0:
            return None
        size_field = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_field, 16)
        except ValueError:
            return None
        if size < 0 or len(out) + size > _MAX_PAYLOAD:
            return None
        if size == 0:
            return bytes(out)  # trailers (if any) are ignored
        pos = eol + 2
        if pos + size > n:
            # truncated capture: keep what arrived of the last chunk
            out += body[pos:]
            return bytes(out)
        out += body[pos:pos + size]
        pos += size
        if body[pos:pos + 2] == b"\r\n":
            pos += 2
        else:
            return None
    return bytes(out)  # missing terminal 0-chunk: truncated capture


def _gunzip_bounded(body: bytes, wbits: int) -> bytes | None:
    """zlib-family decompress with the payload cap (bomb guard);
    None on any error or past-cap inflation."""
    import zlib
    try:
        d = zlib.decompressobj(wbits)
        out = d.decompress(body, _MAX_PAYLOAD + 1)
    except zlib.error:
        return None
    if len(out) > _MAX_PAYLOAD:
        return None
    return out


def decode_http_body(head: str | None, body: bytes) -> bytes:
    """Undo the HTTP transfer/content codings a crawled response body
    arrives in (real Common Crawl captures are frequently chunked
    and/or gzip-encoded — handing the raw bytes to an HTML parser
    interleaves chunk-size lines into the markup, or feeds it gzip
    noise). Chunked framing first, then Content-Encoding gzip or
    deflate (both zlib-wrapped and raw, as servers disagree), zstd
    (RFC 8878, ops/zstdcodec.py) or brotli (RFC 7932,
    ops/brotlicodec.py), both decoded by the libzstd / libbrotlidec
    pyarrow ships. Every step is best-effort and bounded: malformed
    framing, a decompression bomb, a zstd frame whose content
    checksum does not match, or bytes after a brotli stream's end
    keep the bytes as they arrived."""
    if not head or not body:
        return body
    te = _http_header_value(head, "transfer-encoding")
    if te and "chunked" in te:
        decoded = _dechunk(body)
        if decoded is not None:
            body = decoded
    ce = _http_header_value(head, "content-encoding")
    if ce in ("gzip", "x-gzip"):
        out = _gunzip_bounded(body, 16 + 15)
        if out is not None:
            body = out
    elif ce == "deflate":
        out = _gunzip_bounded(body, 15)  # zlib-wrapped (the spec)
        if out is None:
            out = _gunzip_bounded(body, -15)  # raw (common in the wild)
        if out is not None:
            body = out
    elif ce == "zstd":
        from goose_parser_spark.ops.zstdcodec import ZstdError, decompress
        try:
            body = decompress(body, max_out=_MAX_PAYLOAD)
        except ZstdError:
            pass  # best-effort: malformed/bomb keeps raw bytes
    elif ce == "br":
        from goose_parser_spark.ops.brotlicodec import (
            BrotliError, decompress)
        try:
            body = decompress(body, max_out=_MAX_PAYLOAD)
        except BrotliError:
            pass  # best-effort: malformed/bomb keeps raw bytes
    return body


def iter_warc_records(raw: bytes) -> Iterator[dict]:
    """Yield records from WARC bytes — plain, gzip (including the
    member-per-record concatenated-gzip layout Common Crawl uses;
    ``gzip.GzipFile`` over the whole stream handles concatenated
    members transparently), or zstd ``.warc.zst`` (record-per-frame
    or whole-file frames both arrive as concatenated frames, which
    ops/zstdcodec.decode_frames inflates in one bounded pass through
    libzstd). A ``.warc.zst`` that fails to decode yields no records
    rather than mis-parsing: dictionary-bearing archives (the IIPC
    layout's skippable-frame dictionary), a frame whose content
    checksum does not match, truncation and bombs alike. Each dict: url,
    warc_ts, record_type, content_type, payload (HTTP headers
    stripped for responses)."""
    if raw[:2] == b"\x1f\x8b":
        fh = gzip.GzipFile(fileobj=io.BytesIO(raw))
    else:
        from goose_parser_spark.ops.zstdcodec import (
            ZstdError, decode_frames, is_zstd)
        if is_zstd(raw):
            try:
                # whole-file buffer: the binaryFile model already holds
                # the compressed file; cap the inflated copy at 32x the
                # per-record payload budget (CC files are ~1 GB raw)
                inflated, _, _ = decode_frames(raw, max_out=32 * _MAX_PAYLOAD)
            except ZstdError:
                return
            fh = io.BytesIO(inflated)
        else:
            fh = io.BytesIO(raw)
    while True:
        headers = _read_headers(fh)
        if headers is None:
            break
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            break  # stream alignment is lost without a length
        if length < 0:
            break
        if length > _MAX_PAYLOAD:
            # oversize record: drain to stay aligned, then skip it
            remaining = length
            while remaining > 0:
                chunk = fh.read(min(_DRAIN_CHUNK, remaining))
                if not chunk:
                    break
                remaining -= len(chunk)
            fh.readline(_MAX_HEADER_LINE)
            fh.readline(_MAX_HEADER_LINE)
            continue
        payload = fh.read(length)
        # trailing CRLF CRLF record separator
        fh.readline(_MAX_HEADER_LINE)
        fh.readline(_MAX_HEADER_LINE)
        rtype = headers.get("warc-type", "")
        http_head = None
        if rtype == "response":
            http_head, payload = _split_http_payload(payload)
            payload = decode_http_body(http_head, payload)
        yield {
            "url": headers.get("warc-target-uri"),
            "warc_ts": headers.get("warc-date"),
            "record_type": rtype,
            "content_type": headers.get("content-type", ""),
            "http_headers": http_head,
            "payload": payload,
        }


def read_warc(
    spark: "SparkSession",
    path: str,
    record_types: tuple[str, ...] = ("response",),
    keep_http_headers: bool = False,
) -> "DataFrame":
    """Distributed WARC read: one task per ``.warc``/``.warc.gz``/
    ``.warc.zst`` file (binaryFile source; zstd inflated by libzstd
    through pyarrow's ``inflate_stream``), each file one document of
    ``kernel.map_docs`` whose rows are its records. Returns
    ``url, warc_ts (timestamp), record_type, content_type, html
    (binary)`` — the input-hint page shape, ready for ``extract``.
    An empty ``record_types`` keeps every record.
    With ``keep_http_headers`` the stripped HTTP response head rides
    along as an ``http_headers`` string column, feeding
    ``ops.crawl.parse_http_headers`` (the status/content-type gate)
    without a second pass over the archive.

    A file that fails to parse — a ``.warc.gz`` cut short or with a
    corrupt member — is skipped whole (best-effort, the kernel's
    poison contract), as is a NULL content; the job never fails on
    one damaged download.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType, StringType, StructField

    from goose_parser_spark.kernel import map_docs

    fields = [
        StructField("url", StringType(), True),
        StructField("warc_ts", StringType(), True),
        StructField("record_type", StringType(), True),
        StructField("content_type", StringType(), True),
        StructField("html", BinaryType(), True),
    ]
    keys = ["url", "warc_ts", "record_type", "content_type", "payload"]
    if keep_http_headers:
        fields.append(StructField("http_headers", StringType(), True))
        keys.append("http_headers")
    wanted = set(record_types)

    def records(raw: bytes) -> tuple:
        return tuple(
            tuple(rec[k] for k in keys) for rec in iter_warc_records(raw)
            if not wanted or rec["record_type"] in wanted)

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*")
             .load(path))
    parsed = (map_docs(files, records, fields, "path", "content")
              .where(F.col("error").isNull())
              .select(*(f.name for f in fields)))
    # ISO-8601 WARC-Date → timestamp, matching the input-hint schema
    return parsed.withColumn(
        "warc_ts",
        F.to_timestamp(F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))


def write_warc_bytes(records: list[dict], gzip_members: bool = True) -> bytes:
    """Serialize records to WARC/1.0 bytes (test fixture writer; also
    the shape a re-landing sink would emit). Each record dict: url,
    warc_ts (ISO string), payload (bytes), optional record_type,
    content_type, http (bool — wrap payload in an HTTP/1.1 envelope).
    ``gzip_members=True`` emits one gzip member per record — the
    Common-Crawl layout ``iter_warc_records`` must round-trip."""
    out = io.BytesIO()
    for rec in records:
        payload = rec["payload"]
        rtype = rec.get("record_type", "response")
        # only response records carry an HTTP envelope (WET conversion
        # records are bare text per the Common Crawl WET spec)
        if rtype == "response" and rec.get("http", True):
            payload = (b"HTTP/1.1 200 OK\r\nContent-Type: "
                       + rec.get("content_type", "text/html").encode()
                       + b"\r\n\r\n" + payload)
            rec_ct = "application/http; msgtype=response"
        else:
            rec_ct = rec.get("content_type", "text/plain")
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: {rtype}\r\n"
            f"WARC-Target-URI: {rec['url']}\r\n"
            f"WARC-Date: {rec['warc_ts']}\r\n"
            f"Content-Type: {rec_ct}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode("utf-8")
        body = head + payload + b"\r\n\r\n"
        if gzip_members:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(body)
            out.write(buf.getvalue())
        else:
            out.write(body)
    return out.getvalue()


def read_wet(spark: "SparkSession", path: str) -> "DataFrame":
    """Read WET files (Common Crawl's extracted-text distribution —
    WARC containers whose ``conversion`` records carry the plain text
    of each page). Same distributed shape as :func:`read_warc` (one
    task per file, mapInArrow parse); returns ``url, warc_ts,
    text (string)`` — the pre-extracted corpus shape, ready for the
    dedup/quality/curation operators without running the extractor.

    Conversion payloads are UTF-8 text by spec; undecodable bytes are
    replaced rather than failing the file (crawl data is never clean).
    """
    from pyspark.sql import functions as F
    wet = read_warc(spark, path, record_types=("conversion",))
    return wet.select(
        "url", "warc_ts",
        F.make_valid_utf8(F.col("html").cast("string")).alias("text"))


def write_warc(
    df: "DataFrame",
    path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
    gzip_members: bool = True,
) -> "DataFrame":
    """Distributed WARC sink: every input partition lands as one
    ``part-NNNNN.warc.gz`` shard of member-per-record gzip (the Common
    Crawl layout :func:`read_warc` round-trips), so write parallelism
    equals partition count — repartition upstream to pick shard count
    and size. Returns an eagerly-computed manifest DataFrame
    ``(file, n_records, n_bytes)`` with one row per non-empty shard.

    Records are written as WARC/1.0 ``response`` records with an
    HTTP/1.1 envelope (what ``read_warc`` strips back off). Rows with
    a NULL payload, url or timestamp are skipped — WARC requires
    WARC-Target-URI and WARC-Date, and a stringified ``None`` in a
    header is worse for interchange than an absent record (filter or
    repair upstream if those rows matter). The sink streams batch-by-batch
    through the file handle — shard memory is one Arrow batch, not the
    partition.

    Files are written through the POSIX file API: correct for local,
    NFS and fuse-mounted object storage; at cluster scale point
    ``path`` at shared storage (table formats like parquet/Iceberg go
    through Spark's own writers instead — this sink exists for WARC
    interchange with crawler tooling).
    """
    import os
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )
    from goose_parser_spark.deploy import ship_package
    from goose_parser_spark.kernel import _arrow
    ship_package(df.sparkSession)

    os.makedirs(path, exist_ok=True)
    manifest_schema = StructType([
        StructField("file", StringType(), True),
        StructField("n_records", LongType(), True),
        StructField("n_bytes", LongType(), True),
    ])
    arrow_schema = to_arrow_schema(manifest_schema)
    ext = ".warc.gz" if gzip_members else ".warc"

    src = df.select(
        F.col(url_col).cast("string").alias("url"),
        F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .alias("ts"),
        F.col(payload_col).cast("binary").alias("payload"),
    )

    def write_parts(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        fname = os.path.join(path, f"part-{pid:05d}{ext}")
        fh = None
        n = 0
        try:
            for batch in batches:
                urls = batch.column(0).to_pylist()
                tss = batch.column(1).to_pylist()
                payloads = batch.column(2).to_pylist()
                recs = [
                    {"url": u, "warc_ts": t, "payload": p}
                    for u, t, p in zip(urls, tss, payloads)
                    if p is not None and u is not None and t is not None
                ]
                if not recs:
                    continue
                if fh is None:
                    fh = open(fname, "wb")
                fh.write(write_warc_bytes(recs,
                                          gzip_members=gzip_members))
                n += len(recs)
        finally:
            if fh is not None:
                fh.close()
        if n:
            yield pa.RecordBatch.from_arrays(
                [_arrow([fname], pa.string()),
                 _arrow([n], pa.int64()),
                 _arrow([os.path.getsize(fname)], pa.int64())],
                schema=arrow_schema)

    manifest = src.mapInArrow(write_parts, schema=manifest_schema)
    # eager: the write IS the action; cache so re-reading the manifest
    # never re-writes shards
    manifest = manifest.cache()
    manifest.count()
    return manifest
