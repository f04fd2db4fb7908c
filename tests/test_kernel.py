"""The per-document map kernel (goose_parser_spark/kernel.py): one
NULL/poison contract for every per-document Python operator, and the
guard that keeps it the only per-document batch loop."""

import os
import re

import pyarrow as pa
import pytest

from pyspark.sql.types import IntegerType, StringType, StructField

from goose_parser_spark import kernel
from goose_parser_spark.kernel import map_docs

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
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "goose_parser_spark")
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
