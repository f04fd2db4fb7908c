"""The per-document map kernel: every per-document Python operator in
the package runs through :func:`map_docs`.

One Arrow-batched ``mapInArrow`` is the JVM↔Python boundary: it is
amortized per batch, and the only Python work per document is the
operator's own ``fn(payload)`` call ("Accelerating Python UDFs in
Vectorized Query Execution", CIDR 2022 — see PAPERS.md). The kernel
owns the single NULL / poison contract (SURVEY.md §2.8 I4):

- ``fn(payload)`` returns the document's rows, a list or tuple of
  tuples with one value per field: zero rows, one row (1:1 ops) or
  many (pages, frames, chapters, messages, tables). The id and the
  ``keep`` columns repeat on every row of a document (Arrow ``take``).
- A NULL payload, or an ``fn`` that raises, yields ONE row with NULL
  fields and ``"<ExcClass>: <msg>"`` in ``error`` — never a failed
  task.
- Every row carries ``error``, ``parse_ns`` (nanoseconds spent in
  ``fn`` for its document) and ``bytes_in`` (the payload's byte
  length; NULL exactly when the payload is NULL).

Output columns: ``id_col, *fields, error, parse_ns, bytes_in, *keep``.
Operators select their public schema from this. Where an operator's
contract drops NULL inputs it keeps ``bytes_in IS NOT NULL`` — after
the kernel, because a filter on the payload before it is pushed below
the projection that builds the payload and evaluates that projection
twice. Where an operator marks poison with a sentinel
(``page_no = -1``) it derives the sentinel from the kernel's NULLs.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from typing import TYPE_CHECKING

from pyspark.sql.types import LongType, StringType, StructField, StructType

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame


def map_docs(
    df: "DataFrame",
    fn: Callable[[object], Sequence[tuple]],
    fields: Sequence[StructField],
    id_col: str,
    payload_col: str,
    keep: Sequence[str] = (),
    text: bool = False,
) -> "DataFrame":
    """Run ``fn`` once per document of ``df`` (module docstring for
    the contract). ``fields`` are the StructFields of the values
    ``fn`` returns per row. With ``text=True`` a binary payload
    reaches ``fn`` as ``str`` (UTF-8, invalid bytes → U+FFFD; the
    HTML operators); otherwise as ``bytes`` (codecs, media). String
    payloads reach ``fn`` as ``str`` either way.

    Selects ``id_col, payload_col, *keep`` first, so Catalyst prunes
    the scan to the columns the operator reads."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from goose_parser_spark.deploy import ship_package

    ship_package(df.sparkSession)
    in_cols = list(dict.fromkeys([id_col, payload_col, *keep]))
    pruned = df.select(*in_cols)
    schema = StructType([
        pruned.schema[id_col],
        *fields,
        StructField("error", StringType(), True),
        StructField("parse_ns", LongType(), True),
        StructField("bytes_in", LongType(), True),
        *(pruned.schema[c] for c in keep),
    ])
    arrow_schema = to_arrow_schema(schema)
    field_types = [arrow_schema.field(j + 1).type for j in range(len(fields))]
    null_row = ((None,) * len(fields),)
    id_at = in_cols.index(id_col)
    payload_at = in_cols.index(payload_col)
    keep_at = [in_cols.index(c) for c in keep]
    missing = f"{payload_col} is NULL"

    def run(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        clock = time.perf_counter_ns
        for batch in batches:
            col = batch.column(payload_at)
            n = batch.num_rows
            payloads = _as_text(col) if text else col.to_pylist()
            rows: list[tuple] = []
            counts: list[int] = []
            errors: list[str | None] = [None] * n
            parse_ns: list[int] = [0] * n
            for i in range(n):
                raw = payloads[i]
                t0 = clock()
                try:
                    if raw is None:
                        raise ValueError(missing)
                    got = fn(raw)
                    k = len(got)
                except Exception as exc:  # noqa: BLE001 — I4 poison isolation
                    errors[i] = f"{type(exc).__name__}: {exc}"
                    got, k = null_row, 1
                parse_ns[i] = clock() - t0
                rows.extend(got)
                counts.append(k)
            per_doc = [
                batch.column(id_at),
                pa.array(errors, type=pa.string()),
                pa.array(parse_ns, type=pa.int64()),
                pc.binary_length(col).cast(pa.int64()),
                *(batch.column(j) for j in keep_at),
            ]
            if len(rows) != n or max(counts, default=1) != 1:
                take = pa.array(np.repeat(np.arange(n), counts))
                per_doc = [a.take(take) for a in per_doc]
            values = list(zip(*rows)) if rows else [()] * len(fields)
            yield pa.RecordBatch.from_arrays([
                per_doc[0],
                *(pa.array(v, type=t) for v, t in zip(values, field_types)),
                *per_doc[1:],
            ], schema=arrow_schema)

    return pruned.mapInArrow(run, schema=schema)


def _as_text(col) -> list:
    """A binary Arrow column as ``str`` values. One C-level UTF-8
    cast for the whole batch (no per-document bytes objects or
    ``.decode`` calls); when the cast fails, bisect so only the
    invalid documents decode one by one (invalid bytes → U+FFFD) and
    the rest of the batch stays on the cast."""
    import pyarrow as pa

    if not (pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type)):
        return col.to_pylist()
    try:
        return col.cast(pa.large_string()).to_pylist()
    except pa.ArrowInvalid:
        if len(col) == 1:
            return [col[0].as_py().decode("utf-8", errors="replace")]
        mid = len(col) // 2
        return _as_text(col.slice(0, mid)) + _as_text(col.slice(mid))
