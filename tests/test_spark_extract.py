"""End-to-end Spark extraction: pages DataFrame → mapInArrow →
nested-struct results, byte-compared against the goldens.

Also asserts plan shape: column pruning reaches the scan and the only
Python boundary is one MapInArrow node (SURVEY.md §4.2)."""

import json

import pytest

from pyspark.sql import functions as F

from goose_parser_spark.extractor import extract
from goose_parser_spark.rules.compiler import RuleCompiler
from goose_parser_spark.sources.fixtures import (
    FAMILIES,
    expected_for,
    family_of,
    pages_rows,
    pages_schema,
)

N = 110  # covers every family ≥4 times (22 families)


def _canon(v):
    return json.dumps(v, ensure_ascii=False, separators=(",", ":"),
                      sort_keys=False)


def _to_py(v):
    """Spark Row/list → plain python preserving schema field order."""
    from pyspark.sql import Row
    if isinstance(v, Row):
        return {k: _to_py(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_to_py(x) for x in v]
    return v


@pytest.fixture(scope="module")
def pages_df(spark):
    return spark.createDataFrame(pages_rows(N), schema=pages_schema()).cache()


def test_extract_all_families_bytewise(spark, pages_df):
    by_fid = {}
    for i in range(N):
        by_fid.setdefault(family_of(i).fid, []).append(i)
    for fid, idxs in by_fid.items():
        fam = FAMILIES[fid]
        urls = {f"https://f{0 if i % 5 == 0 else i % 7}.fixtures.test/{fid}/{i}": i
                for i in idxs}
        sub = pages_df.filter(F.col("url").contains(f"/{fid}/"))
        out = extract(sub, fam.rules).collect()
        assert len(out) == len(idxs), fid
        for row in out:
            i = urls[row["url"]]
            assert row["error"] is None, f"{fid} row {i}: {row['error']}"
            got = _canon(_to_py(row["extracted"]))
            assert got == expected_for(i), f"{fid} row {i}"


def test_failure_isolation_poison_doc(spark):
    """A NULL/broken html row yields error + NULL extracted, not a crash
    (SURVEY.md §2.8 I4)."""
    rows = pages_rows(4)
    rows[2]["html"] = None
    schema = pages_schema()
    schema["html"].nullable = True
    df = spark.createDataFrame(rows, schema=schema)
    out = extract(df, FAMILIES[family_of(0).fid].rules).collect()
    assert len(out) == 4
    bad = [r for r in out if r["error"] is not None]
    assert len(bad) == 1 and bad[0]["extracted"] is None


def test_plan_prunes_columns_at_scan(spark, tmp_path):
    """The parquet scan must read only url+html — never text/lang/
    warc_ts (SURVEY.md §4.1: column pruning is the resource-blacklist
    analog; at 10^12 docs this is the difference between reading 2
    columns and 5)."""
    path = str(tmp_path / "pages.parquet")
    spark.createDataFrame(pages_rows(20), schema=pages_schema()) \
        .write.parquet(path)
    df = spark.read.parquet(path)
    out = extract(df, FAMILIES["f01"].rules)
    plan = out._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "url" in read_schema[0] and "html" in read_schema[0]
    assert "warc_ts" not in read_schema[0]
    assert "lang" not in read_schema[0]
    assert "text" not in read_schema[0]


def test_keep_cols_passthrough(spark, pages_df):
    sub = pages_df.filter(F.col("url").contains("/f01/"))
    out = extract(sub, FAMILIES["f01"].rules, keep_cols=("lang",))
    rows = out.collect()
    assert all(r["lang"] in ("en", "es", "de", "zh", "ru") for r in rows)


def test_conditional_branch_schema_union(spark, pages_df):
    """F-17 both branches produce the same field; per-row branch choice
    is data-dependent (SURVEY.md §2.6 A2/A3)."""
    sub = pages_df.filter(F.col("url").contains("/f17/"))
    out = extract(sub, FAMILIES["f17"].rules).collect()
    for row in out:
        i = int(row["url"].rsplit("/", 1)[1])
        want = f"new{i}" if i % 2 == 0 else f"old{i}"
        assert row["extracted"]["t"] == want


def test_extract_many_one_parse_multi_tenant(spark):
    from goose_parser_spark import extract_many
    rows = [
        ("u1", '<div class="doc"><h1 class="t">Title A</h1><p class="b">body a</p></div>'),
        ("u2", None),
    ]
    pages = spark.createDataFrame(rows, "url string, html string")
    out = extract_many(pages, {
        "titles": {"name": "t", "scope": "h1.t"},
        "bodies": {"scope": "div.doc", "collection": [
            {"name": "b", "scope": "p.b"}]},
        "broken": {"name": "x", "scope": "p.b", "transform": [
            {"type": "date", "from": "YYYY", "to": "YYYY"}]},
    })
    got = {r["url"]: r for r in out.collect()}
    r1 = got["u1"]
    assert r1["extracted"]["titles"]["t"] == "Title A"
    assert r1["extracted"]["bodies"]["b"] == "body a"
    # the 'broken' tree yields "Invalid date" (date transform catches),
    # NOT an error — trees are isolated regardless
    assert r1["extracted"]["broken"]["x"] == "Invalid date"
    assert r1["error"] is None
    r2 = got["u2"]
    assert r2["extracted"] is None and "html is NULL" in r2["error"]


def test_extract_many_matches_single_tree_outputs(spark):
    from goose_parser_spark import extract, extract_many
    from goose_parser_spark.sources.fixtures import pages_rows, pages_schema
    pages = spark.createDataFrame(pages_rows(44), schema=pages_schema())
    rules_a = {"name": "title", "scope": "h1.title"}
    rules_b = {"name": "href", "scope": "a.link", "attr": "href"}
    many = {r["url"]: r["extracted"]
            for r in extract_many(pages, {"a": rules_a, "b": rules_b}).collect()}
    single_a = {r["url"]: r["extracted"] for r in extract(pages, rules_a).collect()}
    single_b = {r["url"]: r["extracted"] for r in extract(pages, rules_b).collect()}
    for url in many:
        assert many[url]["a"] == single_a[url], url
        assert many[url]["b"] == single_b[url], url


def test_extract_many_32_trees_memo_dedup_and_schema(spark):
    """VERDICT r02 #8: at N=32 tenant trees with overlapping scopes,
    the shared selector memo must dedup engine evaluations (selector
    interning + per-doc memo ⇒ tree count does not multiply selector
    invocations), the output schema must carry one field per tree, and
    the whole job stays a single Python node."""
    import goose_parser_spark.rules.evaluator as ev
    from goose_parser_spark import extract_many
    from goose_parser_spark.rules.compiler import RuleCompiler

    html = ('<html><body><div class="doc"><h1 class="t">T</h1>'
            '<p class="b">B</p></div></body></html>')
    tree_spec = {"scope": "div.doc", "collection": [
        {"name": "title", "scope": "h1.t"},
        {"name": "body", "scope": "p.b"},
    ]}

    # --- engine-level memo count (pure Python, same code the UDF runs)
    def count_selector_calls(n_trees: int) -> int:
        compiled = {f"t{i}": RuleCompiler().compile(tree_spec)
                    for i in range(n_trees)}
        calls = []
        orig = ev.select_indexed
        ev.select_indexed = lambda idx, ctx, sel: (
            calls.append(1) or orig(idx, ctx, sel))
        try:
            out, errors = ev.evaluate_document_many(compiled, html)
        finally:
            ev.select_indexed = orig
        assert len(out) == n_trees and not errors
        return len(calls)

    one = count_selector_calls(1)
    many = count_selector_calls(32)
    assert one > 0
    assert many == one, (
        f"32 overlapping trees made {many} selector invocations vs "
        f"{one} for a single tree — the memo is not shared across trees")

    # --- Spark-level: schema width + single Python node + values
    pages = spark.createDataFrame(
        [("https://t.test/1", html)], "url string, html string")
    trees = {f"t{i}": tree_spec for i in range(32)}
    out = extract_many(pages, trees)
    assert len(out.schema["extracted"].dataType.fields) == 32
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "BatchEvalPython" not in plan
    row = out.collect()[0]
    assert row["error"] is None
    for i in (0, 15, 31):
        assert row["extracted"][f"t{i}"]["title"] == "T"
        assert row["extracted"][f"t{i}"]["body"] == "B"


def test_warc_source_end_to_end(spark, tmp_path):
    """WARC (Common-Crawl container) → read_warc → extract: one task
    per file, record-per-gzip-member layout, HTTP envelope stripped,
    WARC-Date parsed to timestamp, non-response records filtered."""
    from goose_parser_spark.sources.warc import read_warc, write_warc_bytes

    def mk(i):
        return {"url": f"https://w.test/{i}",
                "warc_ts": f"2025-03-01T10:00:{i:02d}Z",
                "payload": (f'<html><body><h1 class="t">doc {i}</h1>'
                            f"</body></html>").encode()}

    warc_dir = tmp_path / "warcs"
    warc_dir.mkdir()
    meta = {"url": "https://w.test/info", "warc_ts": "2025-03-01T10:01:00Z",
            "record_type": "warcinfo", "http": False, "payload": b"x: y"}
    (warc_dir / "a.warc.gz").write_bytes(
        write_warc_bytes([mk(0), meta, mk(1)], gzip_members=True))
    (warc_dir / "b.warc").write_bytes(
        write_warc_bytes([mk(2)], gzip_members=False))

    pages = read_warc(spark, str(warc_dir))
    rows = {r["url"]: r for r in pages.collect()}
    assert set(rows) == {f"https://w.test/{i}" for i in range(3)}  # no warcinfo
    assert rows["https://w.test/0"]["warc_ts"].second == 0
    assert rows["https://w.test/2"]["warc_ts"].second == 2
    assert bytes(rows["https://w.test/1"]["html"]).startswith(b"<html>")

    from goose_parser_spark import extract
    out = extract(pages, {"name": "title", "scope": "h1.t"})
    got = {r["url"]: r["extracted"]["title"] for r in out.collect()}
    assert got == {f"https://w.test/{i}": f"doc {i}" for i in range(3)}


def _warc_pages(prefix, n):
    return [{"url": f"https://{prefix}.test/{i}",
             "warc_ts": f"2025-03-01T10:00:{i:02d}Z",
             "payload": f"<html><body>{prefix} {i}</body></html>".encode()}
            for i in range(n)]


def _read_warc_beside_good_file(spark, tmp_path, damaged):
    """Read a directory holding ``damaged`` and an intact shard; the
    damaged bytes must fail the parser on their own."""
    from goose_parser_spark.sources.warc import (
        iter_warc_records, read_warc, write_warc_bytes)
    with pytest.raises(Exception):
        list(iter_warc_records(damaged))
    good = _warc_pages("good", 4)
    (tmp_path / "good.warc.gz").write_bytes(write_warc_bytes(good))
    (tmp_path / "bad.warc.gz").write_bytes(damaged)
    got = sorted((r["url"], bytes(r["html"]))
                 for r in read_warc(spark, str(tmp_path)).collect())
    assert got == [(r["url"], r["payload"]) for r in good]


def test_read_warc_skips_truncated_gzip_file(spark, tmp_path):
    """A .warc.gz cut short (a partial download) is skipped whole; the
    job and the intact file beside it are unaffected."""
    from goose_parser_spark.sources.warc import write_warc_bytes
    raw = write_warc_bytes(_warc_pages("cut", 3))
    _read_warc_beside_good_file(spark, tmp_path, raw[:-30])


def test_read_warc_skips_bit_flipped_gzip_member(spark, tmp_path):
    """One flipped byte inside a gzip member fails that file only."""
    from goose_parser_spark.sources.warc import write_warc_bytes
    raw = bytearray(write_warc_bytes(_warc_pages("flip", 3)))
    raw[40] ^= 0xFF  # inside the first member's deflate stream
    _read_warc_beside_good_file(spark, tmp_path, bytes(raw))


def test_jsonl_pages_roundtrip(spark, tmp_path):
    """JSONL interchange: write pages (binary html → base64), read them
    back byte-identically, and extract through the engine."""
    from goose_parser_spark.sources.jsonl import (
        read_pages_jsonl, write_pages_jsonl)
    import datetime as dt
    rows = [("https://j.test/%d" % i,
             dt.datetime(2025, 1, 1, 0, 0, i),
             ('<html><body><h1 class="t">J %d</h1></body></html>' % i)
             .encode(), "j %d" % i, "en") for i in range(5)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    path = str(tmp_path / "pages.jsonl")
    write_pages_jsonl(pages, path)
    back = read_pages_jsonl(spark, path)
    got = {r["url"]: bytes(r["html"]) for r in back.collect()}
    want = {u: h for u, _, h, _, _ in rows}
    assert got == want
    from goose_parser_spark import extract
    out = extract(back, {"name": "t", "scope": "h1.t"})
    titles = {r["url"]: r["extracted"]["t"] for r in out.collect()}
    assert titles["https://j.test/3"] == "J 3"


def test_read_wet_conversion_records(spark, tmp_path):
    """WET (Common Crawl extracted-text distribution) → read_wet:
    conversion records have NO HTTP envelope; payload decodes straight
    to the text column."""
    from goose_parser_spark.sources.warc import read_wet, write_warc_bytes
    recs = [{"url": f"https://w.test/{i}",
             "warc_ts": "2024-01-01T00:00:00Z",
             "record_type": "conversion", "content_type": "text/plain",
             "payload": f"extracted text {i}\nsecond line".encode()}
            for i in range(5)]
    (tmp_path / "f.warc.gz").write_bytes(write_warc_bytes(recs))
    out = read_wet(spark, str(tmp_path)).orderBy("url").collect()
    assert len(out) == 5
    assert out[0]["text"] == "extracted text 0\nsecond line"
    assert out[0]["url"] == "https://w.test/0"


def test_read_wet_replaces_invalid_utf8(spark, tmp_path):
    """Invalid UTF-8 in a conversion record becomes U+FFFD instead of
    failing the job (Spark's decode() throws on malformed input)."""
    from goose_parser_spark.sources.warc import read_wet, write_warc_bytes
    recs = [{"url": "https://w.test/bad", "warc_ts": "2024-01-01T00:00:00Z",
             "record_type": "conversion", "payload": b"caf\xe9 ok \xff\xfe"},
            {"url": "https://w.test/ok", "warc_ts": "2024-01-01T00:00:00Z",
             "record_type": "conversion", "payload": "café".encode()}]
    (tmp_path / "f.warc.gz").write_bytes(write_warc_bytes(recs))
    got = {r["url"]: r["text"] for r in read_wet(spark, str(tmp_path)).collect()}
    assert got == {"https://w.test/bad": "caf\ufffd ok \ufffd\ufffd",
                   "https://w.test/ok": "café"}


def test_write_warc_roundtrip(spark, tmp_path):
    """Distributed WARC sink → read_warc round-trip: every (url, ts,
    payload) survives byte-identically; one shard per non-empty
    partition; the manifest counts match; NULL payloads are skipped."""
    import datetime as dt
    import glob
    from goose_parser_spark.sources.warc import read_warc, write_warc

    rows = [(f"https://w.test/{i}",
             dt.datetime(2024, 3, 1, 12, 0, i),
             f"<html><body>doc {i}</body></html>".encode())
            for i in range(37)]
    rows.append(("https://w.test/null", dt.datetime(2024, 3, 1), None))
    df = (spark.createDataFrame(rows, "url string, warc_ts timestamp,"
                                " html binary")
          .repartition(4))
    out = str(tmp_path / "warcs")
    manifest = write_warc(df, out).collect()
    assert sum(r["n_records"] for r in manifest) == 37
    assert len(manifest) == len(glob.glob(f"{out}/part-*.warc.gz"))
    back = read_warc(spark, out).collect()
    assert len(back) == 37
    got = {r["url"]: r for r in back}
    for i in range(37):
        r = got[f"https://w.test/{i}"]
        assert bytes(r["html"]) == f"<html><body>doc {i}</body></html>".encode()
        assert r["warc_ts"] == dt.datetime(2024, 3, 1, 12, 0, i)
    assert "https://w.test/null" not in got
