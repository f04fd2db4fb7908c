"""Deterministic `pages` fixture table + golden expectations.

Single source of truth for the synthetic Common-Crawl-style input
(FIXTURES.md §1, schema = the driver's input_hint BASELINE.json:15:
``url string, warc_ts timestamp, html binary, text string, lang
string``) and for the per-family golden parse results reconstructed
from goose-parser's documented semantics (FIXTURES.md §2 — the binding
byte-identity contract until /root/reference is populated, M8).

Generation is fully deterministic in the row index (seed-free by
construction): host skew (20% of rows on host 0) and html size skew
(filler paragraph growing with ``i % 97``) are built in so the salting
and metrics machinery has something real to defeat (SURVEY.md §2.8 I1).
"""

from __future__ import annotations

import datetime as _dt
import json
from dataclasses import dataclass
from collections.abc import Callable


def _canon(value: object) -> str:
    """Canonical JSON used for byte-compare of golden results
    (FIXTURES.md §1: compact separators, no ascii-escaping, key order =
    rule order)."""
    return json.dumps(value, ensure_ascii=False, separators=(",", ":"),
                      sort_keys=False)


@dataclass(frozen=True)
class Family:
    fid: str
    rules: dict
    html: Callable[[int], str]
    expected: Callable[[int], object]


_F03_HTML = ('<span class="tag">red</span><span class="tag">green</span>'
             '<span class="tag">blue</span>')

_F17_RULES = {"actions": [{"type": "cases", "cases": [
    [{"type": "exist", "scope": ".new-layout"},
     {"type": "provideRules", "rules": {"name": "t", "scope": ".new-layout p.t2"}}],
    [{"type": "provideRules", "rules": {"name": "t", "scope": "p.t1"}}],
]}]}

FAMILIES: dict[str, Family] = {f.fid: f for f in [
    Family("f01", {"name": "title", "scope": "h1.title"},
           lambda i: f'<h1 class="title">Hello, Goose {i}!</h1>',
           lambda i: {"title": f"Hello, Goose {i}!"}),
    Family("f02", {"name": "href", "scope": "a.link", "attr": "href"},
           lambda i: f'<a class="link" href="https://example.org/item?id={i}&amp;ref=x">go</a>',
           lambda i: {"href": f"https://example.org/item?id={i}&ref=x"}),
    Family("f03a", {"name": "tags", "scope": "span.tag", "separator": ", "},
           lambda i: _F03_HTML,
           lambda i: {"tags": "red, green, blue"}),
    Family("f03b", {"name": "tags", "scope": "span.tag"},
           lambda i: _F03_HTML,
           lambda i: {"tags": "red green blue"}),
    Family("f04", {"name": "tags", "scope": "span.tag", "type": "array"},
           lambda i: _F03_HTML,
           lambda i: {"tags": ["red", "green", "blue"]}),
    Family("f05", {"scope": "div.product", "collection": [
               {"name": "name", "scope": "span.name"},
               {"name": "price", "scope": "span.price"}]},
           lambda i: ('<div class="product"><span class="name">Goose Feed</span>'
                      '<span class="price">9.99</span></div>'),
           lambda i: {"name": "Goose Feed", "price": "9.99"}),
    Family("f06", {"scope": "tr.row", "collection": [[
               {"name": "sku", "scope": "td.sku"},
               {"name": "price", "scope": "td.price"}]]},
           lambda i: ('<table class="prices">'
                      f'<tr class="row"><td class="sku">A{i}</td><td class="price">1.50</td></tr>'
                      f'<tr class="row"><td class="sku">B{i}</td><td class="price">2.75</td></tr>'
                      '</table>'),
           lambda i: [{"sku": f"A{i}", "price": "1.50"},
                      {"sku": f"B{i}", "price": "2.75"}]),
    Family("f07", {"scope": "div.sec", "collection": [[
               {"name": "head", "scope": "h2.h"},
               {"name": "items", "scope": "li.it", "type": "array"}]]},
           lambda i: ('<div class="sec"><h2 class="h">Food</h2>'
                      '<ul><li class="it">corn</li><li class="it">grass</li></ul></div>'
                      '<div class="sec"><h2 class="h">Toys</h2>'
                      '<ul><li class="it">ball</li></ul></div>'),
           lambda i: [{"head": "Food", "items": ["corn", "grass"]},
                      {"head": "Toys", "items": ["ball"]}]),
    Family("f08a", {"name": "missing", "scope": ".absent"},
           lambda i: '<div class="present">here</div>',
           lambda i: {"missing": ""}),
    Family("f08b", {"scope": ".absent", "collection": [[{"name": "x", "scope": ".y"}]]},
           lambda i: '<div class="present">here</div>',
           lambda i: []),
    Family("f09", {"scope": "div.ctx", "collection": [
               {"name": "in", "scope": "span.v"},
               {"name": "out", "scope": "span.v", "parentScope": "body"}]},
           lambda i: ('<div class="ctx"><span class="v">inner</span></div>'
                      '<span class="v">outer</span>'),
           lambda i: {"in": "inner", "out": "inner outer"}),
    Family("f10", {"scope": "li.r", "collection": [[
               {"name": "rid", "scope": "li.r", "attr": "data-id",
                "id": True, "virtual": True},
               {"name": "n", "scope": "b.n"}]]},
           lambda i: (f'<ul><li class="r" data-id="a{i}"><b class="n">one</b></li>'
                      f'<li class="r" data-id="b{i}"><b class="n">two</b></li></ul>'),
           lambda i: [{"n": "one"}, {"n": "two"}]),
    Family("f11", {"name": "v", "scope": "span.pad", "transform": [{"type": "trim"}]},
           lambda i: '<span class="pad">  hello&nbsp; </span>',
           lambda i: {"v": "hello"}),
    Family("f12", {"name": "v", "scope": "span.ml", "transform": [
               {"type": "replace", "re": ["\\n", "g"], "to": " "}]},
           lambda i: '<span class="ml">a\nb\nc</span>',
           lambda i: {"v": "a b c"}),
    Family("f13", {"name": "v", "scope": "span.d", "transform": [
               {"type": "date", "locale": "ru",
                "from": "HH:mm D MMMM YYYY", "to": "YYYY-MM-DD HH:mm"}]},
           lambda i: '<span class="d">21:10 30 августа 2016</span>',
           lambda i: {"v": "2016-08-30 21:10"}),
    Family("f14", {"name": "v", "scope": "span.csv", "transform": [
               {"type": "split", "separator": ","}, {"type": "pick", "prop": 1}]},
           lambda i: '<span class="csv">red,green,blue</span>',
           lambda i: {"v": "green"}),
    Family("f15", {"name": "v", "scope": "span.tag", "type": "array",
                    "transform": [{"type": "join", "glue": "|"}]},
           lambda i: _F03_HTML,
           lambda i: {"v": "red|green|blue"}),
    Family("f16", {"name": "v", "scope": "span.c", "transform": [
               {"type": "trim"},
               {"type": "replace", "re": ["x", "g"], "to": "-"}]},
           lambda i: '<span class="c">  x1x2x  </span>',
           lambda i: {"v": "-1-2-"}),
    Family("f17", _F17_RULES,
           lambda i: (f'<div class="new-layout"><p class="t2">new{i}</p></div>'
                      if i % 2 == 0 else f'<p class="t1">old{i}</p>'),
           lambda i: {"t": f"new{i}"} if i % 2 == 0 else {"t": f"old{i}"}),
    Family("f18", {"scope": "div.m", "collection": [
               {"name": "a", "scope": "p.a"},
               {"name": "b", "scope": "p.b"}]},
           lambda i: '<div class="m"><p class="a">alpha<p class="b">beta</div>',
           lambda i: {"a": "alpha", "b": "beta"}),
    Family("f19", {"name": "v", "scope": "span.u"},
           lambda i: '<span class="u">caf&eacute; &amp; 北京 🦢</span>',
           lambda i: {"v": "café & 北京 🦢"}),
    Family("f20", {"actions": [
               {"type": "wait", "scope": "div.product", "timeout": 1000},
               {"type": "click", "scope": ".more"}],
            "rules": {"scope": "div.product", "collection": [
               {"name": "name", "scope": "span.name"},
               {"name": "price", "scope": "span.price"}]}},
           lambda i: ('<div class="product"><span class="name">Goose Feed</span>'
                      '<span class="price">9.99</span></div>'),
           lambda i: {"name": "Goose Feed", "price": "9.99"}),
    Family("f21", {"name": "v", "scope": "div.w"},
           lambda i: '<div class="w">a <b>b</b>\n c</div>',
           lambda i: {"v": "a b\n c"}),
    # CSS of-type family through the full rule path: the span sits
    # between the <p>s so child-index and type-index differ.
    Family("f22", {"scope": "div.ot", "collection": [
        {"name": "p2", "scope": "p:nth-of-type(2)"},
        {"name": "plast", "scope": "p:last-of-type"},
        {"name": "only_span", "scope": "span:only-of-type"},
    ]},
           lambda i: (f'<div class="ot"><p>a{i}</p><span>s{i}</span>'
                      f'<p>b{i}</p><p>c{i}</p></div>'),
           lambda i: {"p2": f"b{i}", "plast": f"c{i}",
                      "only_span": f"s{i}"}),
]}

_FAMILY_IDS = list(FAMILIES)
_EPOCH = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)


def family_of(i: int) -> Family:
    return FAMILIES[_FAMILY_IDS[i % len(_FAMILY_IDS)]]


def _page_html(i: int) -> str:
    fam = family_of(i)
    filler = '<p class="filler">' + ("pad " * ((i % 97) * 40)) + "</p>"
    return ("<!DOCTYPE html><html><head><title>fixture "
            f"{fam.fid}</title></head><body>{filler}{fam.html(i)}</body></html>")


def url_of(i: int) -> str:
    host = 0 if i % 5 == 0 else i % 7           # 20% of docs on one host → skew
    return f"https://f{host}.fixtures.test/{family_of(i).fid}/{i}"


def pages_rows(n: int) -> list[dict]:
    """Rows of the synthetic pages table (FIXTURES.md §1)."""
    langs = ["en", "es", "de", "zh", "ru"]
    return [{
        "url": url_of(i),
        "warc_ts": _EPOCH + _dt.timedelta(seconds=i * 137),
        "html": _page_html(i).encode("utf-8"),
        "text": f"fixture {family_of(i).fid} row {i}",
        "lang": langs[i % 5],
    } for i in range(n)]


def pages_schema():
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType, TimestampType,
    )
    return StructType([
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ])


def expected_for(i: int) -> str:
    """Canonical golden JSON for row i (its family's expectation)."""
    return _canon(family_of(i).expected(i))


def write_pages_parquet(path: str, n: int) -> None:
    """Write the fixture pages table with plain pyarrow (no Spark
    needed — used by bench setup and test fixtures)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = pages_rows(n)
    table = pa.Table.from_pylist(rows, schema=pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]))
    # small row groups so Spark's scan splits the file across many
    # tasks — a single-row-group file serializes the scan and caps
    # scaling efficiency (Amdahl; see BENCH/BASELINE.md)
    pq.write_table(table, path, row_group_size=256)
