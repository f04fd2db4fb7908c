"""Email ingestion (mbox / RFC 822) — mailing-list corpora.

Mailing-list archives (the classic public-discussion slice of LLM
corpora) ship as mbox files: messages separated by ``From `` lines,
each an RFC 822 document with encoded headers and MIME bodies. The
stdlib ``email`` package is the reference implementation of exactly
this format, so parsing rides it rather than re-implementing MIME:

- mbox splitting on the canonical ``\\nFrom `` separator (with
  ``>From `` unescaping inside bodies)
- headers via ``email.parser`` + ``email.header.decode_header``
  (RFC 2047 encoded-words in Subject/From)
- body extraction prefers the first ``text/plain`` leaf part of a
  multipart tree, decoding quoted-printable/base64 transfer
  encodings and the declared charset (errors replaced)
- per-message budget: a message larger than the cap is skipped,
  not inflated (same bomb stance as every other source)

Output: one row per message — ``(id, msg_no, subject, from_addr,
date, body)``.
"""
from __future__ import annotations

import email
import email.header
import email.policy
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

__all__ = ["iter_mbox", "parse_email", "mbox_messages"]

_MAX_MESSAGE = 32 << 20


def _decode_header(value: str | None) -> str | None:
    if value is None:
        return None
    try:
        parts = email.header.decode_header(value)
    except Exception:  # noqa: BLE001 — malformed encoded-word
        return value
    out = []
    for data, enc in parts:
        if isinstance(data, bytes):
            out.append(data.decode(enc or "ascii", "replace"))
        else:
            out.append(data)
    return "".join(out)


def parse_email(raw: bytes) -> dict:
    """One RFC 822 message → ``{subject, from_addr, date, body}``.
    The body is the first text/plain leaf (transfer-encoding and
    charset decoded); an HTML-only message falls back to its first
    text/* leaf."""
    if len(raw) > _MAX_MESSAGE:
        raise ValueError("message exceeds the parse budget")
    msg = email.message_from_bytes(raw)
    body = None
    fallback = None
    for part in msg.walk():
        if part.is_multipart():
            continue
        ctype = part.get_content_type()
        if not ctype.startswith("text/"):
            continue
        try:
            payload = part.get_payload(decode=True) or b""
            charset = part.get_content_charset() or "utf-8"
            try:
                text = payload.decode(charset, "replace")
            except LookupError:  # unknown charset name
                text = payload.decode("utf-8", "replace")
        except Exception:  # noqa: BLE001 — broken part: skip it
            continue
        if ctype == "text/plain":
            body = text
            break
        if fallback is None:
            fallback = text
    return {
        "subject": _decode_header(msg.get("Subject")),
        "from_addr": _decode_header(msg.get("From")),
        "date": msg.get("Date"),
        "body": body if body is not None else fallback,
    }


def iter_mbox(data: bytes):
    """Split an mbox on the canonical separator and yield raw
    message bytes with ``>From `` unescaping applied."""
    if not data.startswith(b"From "):
        raise ValueError("not an mbox (no leading From_ line)")
    for chunk in data.split(b"\nFrom "):
        if chunk.startswith(b"From "):
            chunk = chunk[5:]
        # drop the From_ envelope line itself
        nl = chunk.find(b"\n")
        if nl < 0:
            continue
        body = chunk[nl + 1:]
        yield body.replace(b"\n>From ", b"\nFrom ")


def mbox_messages(df: "DataFrame", payload_col: str = "payload",
                  id_col: str = "doc_id") -> "DataFrame":
    """Mailing lists at corpus scale: one row per message —
    ``id_col, msg_no, subject, from_addr, date, body``. A document
    that is not an mbox yields the single ``msg_no = -1`` poison
    row; an individual unparseable message yields its NULL-body row.
    Map-only (kernel.map_docs — MIME decode is per-document string
    work); mbox bytes never shuffle; NULL payloads yield no rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StringType, StructField

    from goose_parser_spark.kernel import map_docs

    names = ("subject", "from_addr", "date", "body")
    fields = [StructField("msg_no", IntegerType(), True),
              *(StructField(k, StringType(), True) for k in names)]

    def fn(payload):
        rows = []
        for no, raw in enumerate(iter_mbox(payload)):
            try:
                rec = parse_email(raw)
            except Exception:  # noqa: BLE001 — per-msg I4
                rec = {}
            rows.append((no, *(rec.get(k) for k in names)))
        return rows

    out = map_docs(df, fn, fields, id_col, payload_col).where(
        F.col("bytes_in").isNotNull())
    return out.select(id_col,
                      F.coalesce("msg_no", F.lit(-1)).alias("msg_no"),
                      *names)
