"""The per-document map kernel (goose_parser_spark/kernel.py): one
NULL/poison contract for every per-document Python operator, and the
guard that keeps it the only per-document batch loop."""

import ast
import json
import os
import re
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark import cloudpickle
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DoubleType, FloatType, IntegerType,
    LongType, MapType, StringType, StructField, StructType, TimestampType,
)

from goose_parser_spark import kernel
from goose_parser_spark.kernel import map_docs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FIELDS = [StructField("kind", StringType(), True),
          StructField("value", StringType(), True),
          StructField("row_no", IntegerType(), True)]


@pytest.mark.parametrize("payload_type,text", [
    ("string", True), ("binary", True), ("binary", False)])
def test_map_docs_contract(spark, payload_type, text):
    def rows_of(payload):
        # the payload names how many rows its document yields; "boom"
        # raises (nested, so the closure ships by value)
        kind = type(payload).__name__
        s = payload if isinstance(payload, str) else payload.decode("latin-1")
        if s.startswith("boom"):
            raise RuntimeError("bad doc")
        return [(kind, s, j) for j in range({"none": 0, "many": 3}.get(s, 1))]

    docs = [(1, "one"), (2, "many"), (3, "none"), (4, None), (5, "boom")]
    if payload_type == "binary":
        docs.append((6, "bad \xff utf8"))
    rows = [(i, None if p is None else
             (p.encode("latin-1") if payload_type == "binary" else p),
             f"t{i}") for i, p in docs]
    df = spark.createDataFrame(
        rows, f"id long, payload {payload_type}, tag string")
    out = map_docs(df, rows_of, FIELDS, "id", "payload", keep=("tag",),
                   text=text)
    assert out.columns == ["id", "kind", "value", "row_no", "error",
                           "parse_ns", "bytes_in", "tag"]
    got = sorted(out.collect(), key=lambda r: (r["id"], r["row_no"] or 0))
    by_id: dict[int, list] = {}
    for r in got:
        by_id.setdefault(r["id"], []).append(r)
        # every row carries error, parse_ns and bytes_in (NULL exactly
        # for the NULL payload); pass-through columns repeat on every
        # row of a document
        assert r["parse_ns"] is not None and r["parse_ns"] >= 0
        assert (r["bytes_in"] is None) == (r["id"] == 4)
        assert r["tag"] == f"t{r['id']}"

    kind = "bytes" if payload_type == "binary" and not text else "str"
    assert [(r["kind"], r["value"], r["row_no"], r["error"], r["bytes_in"])
            for r in by_id[1]] == [(kind, "one", 0, None, 3)]
    assert [r["row_no"] for r in by_id[2]] == [0, 1, 2]   # 1:N
    assert 3 not in by_id                                 # zero rows
    for i, err in ((4, "ValueError: payload is NULL"),
                   (5, "RuntimeError: bad doc")):
        (r,) = by_id[i]                                   # one row
        assert (r["kind"], r["value"], r["row_no"]) == (None, None, None)
        assert r["error"] == err
    if payload_type == "binary":
        (r,) = by_id[6]
        # text mode decodes invalid UTF-8 with U+FFFD; bytes_in is the
        # raw byte length either way
        assert r["value"] == ("bad � utf8" if text else "bad \xff utf8")
        assert r["bytes_in"] == 10 and r["error"] is None


def test_as_text_bisects_only_invalid_documents(monkeypatch):
    """One invalid-UTF-8 document in a 1024-document binary batch
    decodes alone with U+FFFD; the rest of the batch stays on the
    C-level cast (the bisection touches O(log n) slices)."""
    docs = [f"<p>doc {i} é</p>".encode() for i in range(1024)]
    docs[700] = b"<p>\xff</p>"
    docs[5] = None
    calls = []
    orig = kernel._as_text

    def counting(col):
        calls.append(len(col))
        return orig(col)

    monkeypatch.setattr(kernel, "_as_text", counting)
    got = kernel._as_text(pa.array(docs, type=pa.binary()))
    assert got[700] == "<p>�</p>"
    assert got[5] is None
    assert got[:5] == [f"<p>doc {i} é</p>" for i in range(5)]
    assert got[701:] == [d.decode() for d in docs[701:]]
    assert calls.count(1) <= 2 and len(calls) <= 2 * 10 + 1


# The few batch loops that are not per document keep their own: the
# WARC sink writes per partition, the compressed-JSONL reader picks its
# codec by file name (brotli has no magic number), and the similarity
# scorer works on a matrix block. File -> number of loops allowed in it.
_BATCH_LOOPS_ALLOWED = {
    "kernel.py": 1,
    os.path.join("sources", "warc.py"): 1,      # write_warc sink
    os.path.join("sources", "jsonl.py"): 1,     # codec by file name
    os.path.join("ops", "similarity.py"): 1,    # matrix scorer
}


def test_no_batch_loop_outside_kernel():
    root = os.path.join(ROOT, "goose_parser_spark")
    found = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as fh:
                    n = len(re.findall(r"\bmapIn(?:Pandas|Arrow)\(",
                                       fh.read()))
                if n:
                    found[os.path.relpath(path, root)] = n
    over = {f: n for f, n in found.items()
            if n > _BATCH_LOOPS_ALLOWED.get(f, 0)}
    assert not over, (
        f"per-document batch loop outside kernel.map_docs: {over}")



# -- Arrow arrays from buffers -------------------------------------------------

_LEAVES = [pa.string(), pa.binary(), pa.bool_(), pa.int32(), pa.int64(),
           pa.float32(), pa.float64()]
_TYPES = st.recursive(
    st.sampled_from(_LEAVES),
    lambda inner: st.one_of(
        inner.map(pa.list_),
        st.lists(inner, min_size=1, max_size=3).map(
            lambda ts: pa.struct([(f"f{i}", t) for i, t in enumerate(ts)]))),
    max_leaves=5)
# values of the wrong type or range for some field types
_WILD = st.one_of(
    st.booleans(), st.integers(), st.floats(), st.text(max_size=3),
    st.binary(max_size=3), st.just("\ud800"), st.just([1]),
    st.just({"f0": 1}), st.just(()), st.just(object()),
    st.integers(-2 ** 40, 2 ** 40).map(np.int64),
    st.floats(width=32).map(np.float32), st.booleans().map(np.bool_))


def _draw(data, t, shape, wild: list):
    """One value of Arrow type ``t`` as an operator returns it: struct
    values are dicts (keys may be missing) or tuples, per ``shape``.
    While ``wild`` holds True, one value anywhere in the tree may come
    from ``_WILD`` instead (one, because ``pa.array`` reports the first
    bad value in its own conversion order). A struct value is never a
    str, bytes or list: ``pa.array`` reads those as (key, value) pair
    sequences, which ``_arrow`` rejects."""
    if wild[0] and data.draw(st.integers(0, 7)) == 0:
        wild[0] = False
        if pa.types.is_struct(t):
            return data.draw(_WILD.filter(
                lambda v: not isinstance(v, (str, bytes, list))))
        return data.draw(_WILD)
    if data.draw(st.integers(0, 5)) == 0:
        return None
    if pa.types.is_string(t):
        return data.draw(st.text())
    if pa.types.is_binary(t):
        return data.draw(st.binary())
    if pa.types.is_boolean(t):
        return data.draw(st.booleans())
    if pa.types.is_integer(t):
        lo, hi = -2 ** (t.bit_width - 1), 2 ** (t.bit_width - 1) - 1
        return data.draw(st.one_of(st.sampled_from([lo, hi]),
                                   st.integers(lo, hi)))
    if pa.types.is_floating(t):
        return data.draw(st.one_of(st.floats(allow_nan=False),
                                   st.integers(-2 ** 24, 2 ** 24)))
    if pa.types.is_list(t):
        items = [_draw(data, t.value_type, shape, wild)
                 for _ in range(data.draw(st.integers(0, 3)))]
        return tuple(items) if data.draw(st.booleans()) else items
    if shape == "tuple":
        return tuple(_draw(data, f.type, shape, wild) for f in t)
    return {f.name: _draw(data, f.type, shape, wild) for f in t
            if data.draw(st.booleans())}


def _outcome(build):
    try:
        return build()
    except Exception as exc:  # noqa: BLE001 — the class is the result
        return type(exc)


@settings(max_examples=400, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=st.data())
def test_arrow_builds_what_pa_array_builds(data):
    """``kernel._arrow`` against ``pa.array`` for every field type a
    ``map_docs`` caller declares, nested included: the same array for
    the values ``pa.array`` accepts (NULLs, empty lists, non-ASCII
    text, int bounds), the same exception class for the ones it
    rejects."""
    t = data.draw(_TYPES, label="type")
    shape = data.draw(st.sampled_from(["dict", "tuple"]), label="shape")
    wild = [data.draw(st.booleans(), label="wild")]
    values = [_draw(data, t, shape, wild)
              for _ in range(data.draw(st.integers(0, 6)))]
    want = _outcome(lambda: pa.array(values, type=t))
    got = _outcome(lambda: kernel._arrow(values, t))
    if isinstance(want, type) or isinstance(got, type):
        assert got is want
        return
    got.validate(full=True)
    assert got.type == want.type and got.null_count == want.null_count
    assert repr(got.to_pylist()) == repr(want.to_pylist())


def test_map_docs_rejects_types_it_cannot_build(spark):
    df = spark.createDataFrame([(1, "x")], "id long, payload string")
    for bad in (TimestampType(), MapType(StringType(), StringType()),
                ArrayType(StructType([StructField("t", TimestampType())]))):
        with pytest.raises(TypeError, match="field 'v'"):
            map_docs(df, lambda p: [], [StructField("v", bad)], "id",
                     "payload")


def _batch_fns(spark, monkeypatch) -> list:
    """The kernel's batch function of three map_docs calls, each with
    the input batch it runs over: a text batch (invalid UTF-8 and a
    NULL), a multi-row batch (0, 1 and 3 rows per document, a raising
    document) and a batch returning binary, nested and numeric fields."""
    captured = []
    monkeypatch.setattr(type(spark.range(1)), "mapInArrow",
                        lambda self, fn, schema, **kw: captured.append(fn))

    def text_fn(html):
        return [(html.upper(), len(html))]

    def rows_fn(s):
        if s == "boom":
            raise RuntimeError("bad doc")
        return [(s, j) for j in range(int(s))]

    def typed_fn(b):
        return [(b[::-1], b[0] > 100, float(len(b)) / 2, [len(b), None],
                 {"k": b.hex(), "n": len(b)})]

    calls = [
        ([(1, b"<p>\xc3\xa9</p>"), (2, None), (3, b"<p>\xff</p>")],
         "binary", text_fn, [StructField("up", StringType()),
                             StructField("n", IntegerType())], True),
        ([(1, "1"), (2, "0"), (3, "3"), (4, "boom"), (5, "1")],
         "string", rows_fn, [StructField("s", StringType()),
                             StructField("j", LongType())], False),
        ([(1, b"ab"), (2, b"\xff\x00\x01")],
         "binary", typed_fn, [
             StructField("rev", BinaryType()),
             StructField("hi", BooleanType()),
             StructField("half", DoubleType()),
             StructField("lens", ArrayType(IntegerType())),
             StructField("info", StructType([
                 StructField("k", StringType()),
                 StructField("n", FloatType())]))], False),
    ]
    out = []
    for rows, ptype, fn, fields, text in calls:
        df = spark.createDataFrame(rows, f"id long, payload {ptype}")
        map_docs(df, fn, fields, "id", "payload", text=text)
        sink = pa.BufferOutputStream()
        batch = pa.RecordBatch.from_pylist(
            [{"id": i, "payload": p} for i, p in rows],
            schema=pa.schema([("id", pa.int64()),
                              ("payload", pa.string() if ptype == "string"
                               else pa.binary())]))
        with pa.ipc.new_stream(sink, batch.schema) as w:
            w.write_batch(batch)
        out.append((captured[-1], sink.getvalue().to_pybytes()))
    return out


_WORKER = """
import json, sys
import pyspark.worker  # what a Spark Python worker imports
import pyarrow as pa
from pyspark import cloudpickle

with open(sys.argv[1], "rb") as fh:
    calls = cloudpickle.load(fh)
outputs = []
for run, ipc in calls:
    sink = pa.BufferOutputStream()
    got = list(run(iter(pa.ipc.open_stream(ipc))))
    with pa.ipc.new_stream(sink, got[0].schema) as w:
        for b in got:
            w.write_batch(b)
    outputs.append(sink.getvalue().to_pybytes())
with open(sys.argv[2], "wb") as fh:
    cloudpickle.dump(outputs, fh)
print(json.dumps({m: m in sys.modules for m in ("pandas", "pyarrow.compute")}))
"""


def test_worker_never_imports_pandas_or_compute(spark, monkeypatch, tmp_path):
    """A process that imports only what a Spark Python worker imports
    runs the kernel's batch function and never loads pandas or
    ``pyarrow.compute`` (~46 MB per worker)."""
    calls = _batch_fns(spark, monkeypatch)
    src, dst = tmp_path / "calls.pkl", tmp_path / "out.pkl"
    src.write_bytes(cloudpickle.dumps(calls))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [ROOT, os.environ.get("PYTHONPATH", "")]))
    proc = subprocess.run([sys.executable, "-c", _WORKER, str(src), str(dst)],
                          capture_output=True, text=True, env=env, cwd=ROOT,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr
    loaded = json.loads(proc.stdout.strip().splitlines()[-1])
    assert loaded == {"pandas": False, "pyarrow.compute": False}

    text, multi, typed = [pa.ipc.open_stream(b).read_all().to_pylist()
                          for b in cloudpickle.loads(dst.read_bytes())]
    assert [(r["id"], r["up"], r["n"], r["error"], r["bytes_in"])
            for r in text] == [
        (1, "<P>É</P>", 8, None, 9),
        (2, None, None, "ValueError: payload is NULL", None),
        (3, "<P>�</P>", 8, None, 8)]
    assert [(r["id"], r["s"], r["j"], r["bytes_in"]) for r in multi] == [
        (1, "1", 0, 1), (3, "3", 0, 1), (3, "3", 1, 1), (3, "3", 2, 1),
        (4, None, None, 4), (5, "1", 0, 1)]
    assert multi[4]["error"] == "RuntimeError: bad doc"
    assert all(r["parse_ns"] >= 0 for r in text + multi + typed)
    assert [{k: r[k] for k in ("id", "rev", "hi", "half", "lens", "info")}
            for r in typed] == [
        {"id": 1, "rev": b"ba", "hi": False, "half": 1.0, "lens": [2, None],
         "info": {"k": "6162", "n": 2.0}},
        {"id": 2, "rev": b"\x01\x00\xff", "hi": True, "half": 1.5,
         "lens": [3, None], "info": {"k": "ff0001", "n": 3.0}}]


def test_arrow_building_modules_never_call_pa_array():
    """The kernel and the two other batch loops build their Arrow
    arrays with ``kernel._arrow``: ``pa.array`` and ``pa.scalar``
    import pandas on their first call, and ``pyarrow.compute`` (which
    ``cast`` and ``take`` load) is ~7 MB per worker. Checked on the
    code, not on the docstrings that explain why."""
    for rel in ("kernel.py", os.path.join("sources", "warc.py"),
                os.path.join("sources", "jsonl.py")):
        with open(os.path.join(ROOT, "goose_parser_spark", rel),
                  encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                assert "compute" not in ast.unparse(node), (rel, node.lineno)
            elif (isinstance(node, ast.Call)
                  and isinstance(node.func, ast.Attribute)):
                called = ast.unparse(node.func)
                assert called not in ("pa.array", "pa.scalar"), (rel, called)
                assert "compute" not in called, (rel, called)
                if rel == "kernel.py":
                    assert node.func.attr not in ("take", "cast"), called
