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
  ``keep`` columns repeat on every row of a document (Arrow slices,
  concatenated).
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

Every Arrow array the kernel returns is built straight from buffers
(:func:`_arrow`, ``pa.Array.from_buffers``): ``pa.array`` imports
pandas on its first call, and ``cast``, ``take`` and ``binary_length``
import ``pyarrow.compute``, ~46 MB per Python worker that the
extraction path never uses. The declared field types are therefore
limited to what :func:`_arrow` builds (string, binary, boolean, int,
bigint, float, double, array and struct); :func:`map_docs` rejects any
other with ``TypeError`` on the driver.
"""

from __future__ import annotations

import math
import time
from collections.abc import Callable, Sequence, Set
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql.types import LongType, StringType, StructField, StructType

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa
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
    for f, t in zip(fields, field_types):
        if not _buildable(t):
            raise TypeError(
                f"map_docs: field {f.name!r} is {f.dataType.simpleString()};"
                " the kernel builds string, binary, boolean, int, bigint,"
                " float, double, array and struct values only")
    null_row = ((None,) * len(fields),)
    id_at = in_cols.index(id_col)
    payload_at = in_cols.index(payload_col)
    keep_at = [in_cols.index(c) for c in keep]
    missing = f"{payload_col} is NULL"

    def run(batches):
        import pyarrow as pa

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
                _arrow(errors, pa.string()),
                _arrow(parse_ns, pa.int64()),
                _byte_lengths(col),
                *(batch.column(j) for j in keep_at),
            ]
            if len(rows) != n or max(counts, default=1) != 1:
                per_doc = _repeat(per_doc, counts)
            values = list(zip(*rows)) if rows else [()] * len(fields)
            yield pa.RecordBatch.from_arrays([
                per_doc[0],
                *(_arrow(v, t) for v, t in zip(values, field_types)),
                *per_doc[1:],
            ], schema=arrow_schema)

    return pruned.mapInArrow(run, schema=schema)


def _as_text(col) -> list:
    """A binary Arrow column as ``str`` values. The column's own
    buffers are viewed as a string array and UTF-8-validated in C for
    the whole batch (no per-document bytes objects or ``.decode``
    calls); when validation fails, bisect so only the invalid
    documents decode one by one (invalid bytes → U+FFFD) and the rest
    of the batch stays on the view."""
    import pyarrow as pa

    if pa.types.is_binary(col.type):
        as_str = pa.string()
    elif pa.types.is_large_binary(col.type):
        as_str = pa.large_string()
    else:
        return col.to_pylist()
    view = pa.Array.from_buffers(as_str, len(col), col.buffers(),
                                 null_count=col.null_count, offset=col.offset)
    try:
        view.validate(full=True)
        return view.to_pylist()
    except pa.ArrowInvalid:
        if len(col) == 1:
            return [col[0].as_py().decode("utf-8", errors="replace")]
        mid = len(col) // 2
        return _as_text(col.slice(0, mid)) + _as_text(col.slice(mid))


def _byte_lengths(col) -> "pa.Array":
    """Byte length of every value of a string or binary column, read
    off its offsets buffer; NULL where the value is NULL."""
    import pyarrow as pa

    large = pa.types.is_large_binary(col.type) or pa.types.is_large_string(
        col.type)
    validity, offsets = col.buffers()[:2]
    end = col.offset + len(col)
    lengths = (np.diff(np.frombuffer(offsets, np.int64 if large else np.int32)
                       [:end + 1]).astype(np.int64)
               if len(col) else np.zeros(end, np.int64))
    return pa.Array.from_buffers(
        pa.int64(), len(col), [validity, pa.py_buffer(lengths)],
        null_count=col.null_count, offset=col.offset)


def _repeat(columns: list, counts: list[int]) -> list:
    """Row ``i`` of every column repeated ``counts[i]`` times: runs of
    one-row documents stay one slice, and the slices concatenate."""
    import pyarrow as pa

    spans: list[tuple[int, int]] = []
    for i, k in enumerate(counts):
        if k == 1 and spans and spans[-1][0] + spans[-1][1] == i:
            spans[-1] = (spans[-1][0], spans[-1][1] + 1)
        elif k == 1:
            spans.append((i, 1))
        else:
            spans.extend([(i, 1)] * k)
    return [pa.concat_arrays([a.slice(0, 0)]
                             + [a.slice(i, m) for i, m in spans])
            for a in columns]


# -- Arrow arrays from Python values ------------------------------------------

_FLOAT_EXACT = {32: 2 ** 24, 64: 2 ** 53}  # |int| a float holds exactly


def _buildable(t) -> bool:
    """Whether :func:`_arrow` builds arrays of Arrow type ``t``."""
    import pyarrow as pa

    if pa.types.is_list(t):
        return _buildable(t.value_type)
    if pa.types.is_struct(t):
        return all(_buildable(f.type) for f in t)
    return (pa.types.is_string(t) or pa.types.is_binary(t)
            or t in (pa.bool_(), pa.int32(), pa.int64(), pa.float32(),
                     pa.float64()))


def _arrow(values: Sequence, t) -> "pa.Array":
    """One Arrow array of type ``t`` (:func:`_buildable`) from Python
    values, built with ``pa.Array.from_buffers``: a validity bitmap
    from ``np.packbits``, var-width offsets from ``np.cumsum``,
    fixed-width values from ``np.array``, recursion for lists and
    structs. It accepts what ``pa.array(values, type=t)`` accepts and
    builds the same array; what ``pa.array`` rejects raises the same
    exception class (out-of-range ints, non-numbers in numeric fields,
    bytes that are not UTF-8 in string fields, ...). A struct value is
    a dict or a tuple, the first non-NULL value fixing which one, as in
    ``pa.array``; a list of (key, value) pairs is not accepted."""
    import pyarrow as pa

    n = len(values)
    nulls = sum(v is None for v in values)
    validity = (pa.py_buffer(np.packbits([v is not None for v in values],
                                         bitorder="little"))
                if nulls else None)
    if pa.types.is_list(t):
        items = [() if v is None else _items(v) for v in values]
        offsets = _offsets([len(s) for s in items])
        child = _arrow([x for s in items for x in s], t.value_type)
        return pa.Array.from_buffers(t, n, [validity, offsets],
                                     null_count=nulls, children=[child])
    if pa.types.is_struct(t):
        rows = _struct_rows(values, t)
        cols = list(zip(*rows)) if rows else [()] * t.num_fields
        return pa.Array.from_buffers(
            t, n, [validity], null_count=nulls,
            children=[_arrow(c, f.type) for c, f in zip(cols, t)])
    if pa.types.is_string(t) or pa.types.is_binary(t):
        text = pa.types.is_string(t)
        data = [b"" if v is None
                else v.encode() if type(v) is str else _bytes(v, text)
                for v in values]
        offsets = _offsets([len(b) for b in data])
        return pa.Array.from_buffers(
            t, n, [validity, offsets, pa.py_buffer(b"".join(data))],
            null_count=nulls)
    if pa.types.is_boolean(t):
        for v in values:
            if not (v is None or v is True or v is False
                    or isinstance(v, np.bool_)):
                raise _not_convertible(v, "boolean")
        data = np.packbits(np.array([v is not None and bool(v)
                                     for v in values], dtype=bool),
                           bitorder="little")
    elif pa.types.is_integer(t):
        bound = 1 << (t.bit_width - 1)
        data = np.array([0 if v is None
                         else v if type(v) is int and -bound <= v < bound
                         else _int(v, bound, t) for v in values],
                        dtype=f"int{t.bit_width}")
    else:
        exact = _FLOAT_EXACT[t.bit_width]
        with np.errstate(over="ignore"):  # float32 overflow → inf, as pa.array
            data = np.array([0.0 if v is None
                             else v if type(v) is float
                             else _float(v, exact, t) for v in values],
                            dtype=f"float{t.bit_width}")
    return pa.Array.from_buffers(t, n, [validity, pa.py_buffer(data)],
                                 null_count=nulls)


def _offsets(lengths: list[int]) -> "pa.Buffer":
    """The int32 offsets buffer of ``lengths``: 0, then their running
    sum."""
    import pyarrow as pa

    ends = np.cumsum(lengths, dtype=np.int64)
    if len(ends) and ends[-1] > np.iinfo(np.int32).max:
        raise pa.ArrowCapacityError(
            f"{ends[-1]} bytes or items overflow int32 offsets")
    return pa.py_buffer(np.concatenate(([0], ends)).astype(np.int32))


def _not_convertible(v, to) -> Exception:
    import pyarrow as pa

    return pa.ArrowInvalid(f"Could not convert {v!r} with type "
                           f"{type(v).__name__}: tried to convert to {to}")


def _bytes(v, text: bool) -> bytes:
    """A non-``str`` value of a string or binary field as bytes."""
    import pyarrow as pa

    if isinstance(v, str):
        return v.encode()  # surrogates raise UnicodeEncodeError, as pa.array
    if not isinstance(v, (bytes, bytearray, memoryview)):
        raise pa.ArrowTypeError(
            f"Expected bytes, got a '{type(v).__name__}' object")
    b = bytes(v)
    if text:
        try:
            b.decode()
        except UnicodeDecodeError:
            raise pa.ArrowInvalid(f"Could not convert {v!r} with type "
                                  f"{type(v).__name__}: was not a utf8 "
                                  "string") from None
    return b


def _int(v, bound: int, t) -> int:
    """A non-``int`` or out-of-range value of an integer field: numpy
    ints are range-checked like Python ints, floats truncate toward
    zero as in ``pa.array``; anything else raises."""
    import pyarrow as pa

    if isinstance(v, bool):
        raise pa.ArrowTypeError("Expected integer, got bool")
    if isinstance(v, (int, np.integer, np.bool_)):
        v = int(v)
        if not -2 ** 63 <= v < 2 ** 63:
            raise OverflowError("Python int too large to convert to C long")
        if not -bound <= v < bound:
            raise pa.ArrowInvalid(
                f"Value {v} too large to fit in C integer type")
        return v
    if (isinstance(v, (float, np.floating)) and math.isfinite(v)
            and -bound <= int(v) < bound):
        return int(v)
    raise _not_convertible(v, t)


def _float(v, exact: int, t) -> float:
    """A non-``float`` value of a floating-point field: bools and ints
    the type holds exactly convert; anything else raises."""
    import pyarrow as pa

    if isinstance(v, (float, np.floating, bool)):
        return float(v)
    if isinstance(v, (int, np.integer)):
        if not -exact <= int(v) <= exact:
            raise pa.ArrowInvalid(
                f"Integer value {v} is outside of the range exactly "
                f"representable by {t}")
        return float(v)
    raise _not_convertible(v, t)


def _items(v) -> Sequence:
    """The items of a non-NULL list-field value."""
    import pyarrow as pa

    if isinstance(v, (list, tuple)):
        return v
    if isinstance(v, np.ndarray):
        if v.ndim != 1:
            raise pa.ArrowInvalid("Can only convert 1-dimensional array values")
        return v.tolist()
    if isinstance(v, (Sequence, Set)):
        return list(v)
    raise pa.ArrowTypeError(
        f"Could not convert {v!r} with type {type(v).__name__}: was not a "
        "sequence or recognized null for conversion to list type")


def _struct_rows(values: Sequence, t) -> list[tuple]:
    """Struct-field values as tuples in field order; NULL as all-NULL."""
    import pyarrow as pa

    names = [f.name for f in t]
    shape = next((type(v) for v in values if v is not None), None)
    shape = dict if shape is not None and issubclass(shape, dict) else tuple
    rows = []
    for v in values:
        if v is None:
            rows.append((None,) * len(names))
        elif shape is dict and isinstance(v, dict):
            rows.append(tuple(v.get(k) for k in names))
        elif shape is tuple and isinstance(v, tuple):
            if len(v) != len(names):
                raise pa.ArrowInvalid(
                    "Tuple size must be equal to number of struct fields")
            rows.append(v)
        else:
            raise pa.ArrowTypeError(
                f"Could not convert {v!r} with type {type(v).__name__}: "
                f"was expecting a {shape.__name__}")
    return rows
