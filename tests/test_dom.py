"""DOM backend unit tests: parsing, recovery, textContent fidelity
(SURVEY.md §2.2 C1-C8; FIXTURES.md F-18/F-19/F-21)."""

import gc
import weakref
from contextlib import contextmanager

import pytest

from goose_parser_spark.dom import parser as parser_mod
from goose_parser_spark.dom.parser import parse_html
from goose_parser_spark.dom.selector import select
from goose_parser_spark.ops import maincontent
from goose_parser_spark.rules import evaluator
from goose_parser_spark.rules.compiler import RuleCompiler


def _one(root, sel):
    els = select(root, sel)
    assert len(els) == 1, f"{sel} matched {len(els)}"
    return els[0]


def test_basic_tree():
    root = parse_html("<div><p>a</p><p>b</p></div>")
    ps = select(root, "div p")
    assert [p.text() for p in ps] == ["a", "b"]


def test_text_content_no_normalization():
    root = parse_html('<div class="w">a <b>b</b>\n c</div>')
    assert _one(root, "div.w").text() == "a b\n c"


def test_entities_decoded_in_text_and_attrs():
    root = parse_html('<a href="?a=1&amp;b=2">caf&eacute; &amp; x</a>')
    a = _one(root, "a")
    assert a.text() == "café & x"
    assert a.attr("href") == "?a=1&b=2"


def test_void_elements_do_not_nest():
    root = parse_html("<p>a<br>b<img src=x>c</p>")
    p = _one(root, "p")
    assert p.text() == "abc"
    assert len(select(root, "p br")) == 1
    assert len(select(root, "p img")) == 1


def test_p_auto_close():
    root = parse_html('<div><p class="a">alpha<p class="b">beta</div>')
    a = _one(root, "p.a")
    b = _one(root, "p.b")
    assert a.text() == "alpha"
    assert b.text() == "beta"
    # beta's <p> is a sibling, not a child, of alpha's
    assert b.parent is a.parent


def test_li_auto_close():
    root = parse_html("<ul><li>one<li>two<li>three</ul>")
    lis = select(root, "ul > li")
    assert [li.text() for li in lis] == ["one", "two", "three"]


def test_nested_list_li_not_closed_by_inner():
    root = parse_html("<ul><li>a<ul><li>a1</li></ul></li><li>b</li></ul>")
    outer = select(root, "body > ul > li")
    assert len(outer) == 2
    assert outer[0].text() == "aa1"


def test_tbody_inserted_like_browsers():
    root = parse_html("<table><tr><td>x</td></tr></table>")
    assert len(select(root, "table > tbody > tr")) == 1
    assert len(select(root, "table tr")) == 1
    # explicit tbody not duplicated
    root2 = parse_html("<table><tbody><tr><td>x</td></tr></tbody></table>")
    assert len(select(root2, "table > tbody")) == 1


def test_td_th_tr_implied_ends():
    root = parse_html("<table><tr><td>a<td>b<tr><td>c</table>")
    rows = select(root, "tr")
    assert len(rows) == 2
    assert [td.text() for td in select(root, "td")] == ["a", "b", "c"]


def test_stray_end_tags_ignored():
    root = parse_html("<div>a</span></div></div>")
    assert _one(root, "div").text() == "a"


def test_duplicate_attr_first_wins():
    root = parse_html('<a class="x" class="y">t</a>')
    assert _one(root, "a").attr("class") == "x"


def test_comments_not_in_text():
    root = parse_html("<div>a<!-- nope -->b</div>")
    assert _one(root, "div").text() == "ab"


def test_script_style_text_kept():
    # textContent DOES include script/style character data (DOM spec)
    root = parse_html("<div><style>.x{}</style>ok</div>")
    assert _one(root, "div").text() == ".x{}ok"


def test_inner_html_roundtrip():
    root = parse_html('<div id="d"><b>x</b> &amp; <i>y</i></div>')
    assert _one(root, "#d").inner_html() == "<b>x</b> &amp; <i>y</i>"


def test_bytes_input_utf8():
    root = parse_html("<p>北京 🦢</p>".encode("utf-8"))
    assert _one(root, "p").text() == "北京 🦢"


def test_document_order_is_global():
    root = parse_html("<div><a>1</a></div><div><a>2</a></div>")
    els = select(root, "a")
    assert [e.text() for e in els] == ["1", "2"]
    assert els[0].order < els[1].order


# ---- page scope: each page's tree is freed when its evaluation ends ------

_SCOPE_RULES = RuleCompiler().compile({"scope": "div.card", "collection": [[
    {"name": "title", "scope": "h3.t"},
    {"name": "price", "scope": "span.price"},
]]})
# ~3,000 elements: parsing it alone runs several automatic collections
_SCOPE_PAGE = ("<html><body><table><tr><td>cell</td></tr></table>"
               + '<div class="card"><h3 class="t">t</h3>'
               '<span class="price">1</span></div>' * 1000
               + "</body></html>")


class _Attrs(dict):
    """A root ``attrs`` that can be weakly referenced: it dies with the
    tree (Elements have no ``__weakref__`` slot)."""


@contextmanager
def _collections():
    """Count the collector's runs per generation inside the block."""
    counts = [0, 0, 0]

    def cb(phase, info):
        if phase == "start":
            counts[info["generation"]] += 1

    gc.callbacks.append(cb)
    try:
        yield counts
    finally:
        gc.callbacks.remove(cb)


@pytest.fixture
def roots(monkeypatch):
    """Weak references to every root the page functions parse."""
    refs = []

    def track(root):
        root.attrs = _Attrs(root.attrs)
        refs.append(weakref.ref(root.attrs))
        return root

    orig_doc, orig_html = evaluator.parse_document, maincontent.parse_html

    def parse_document(html, *a, **kw):
        root, elements = orig_doc(html, *a, **kw)
        return track(root), elements

    monkeypatch.setattr(evaluator, "parse_document", parse_document)
    monkeypatch.setattr(maincontent, "parse_html",
                        lambda html, *a, **kw: track(orig_html(html, *a, **kw)))
    return refs


@pytest.fixture
def collector_on():
    was = gc.isenabled()
    gc.enable()
    yield
    if not was:
        gc.disable()


@pytest.mark.parametrize("call", [
    lambda: evaluator.evaluate_document(
        _SCOPE_RULES, _SCOPE_PAGE),
    lambda: evaluator.evaluate_document_many(
        {"a": _SCOPE_RULES}, _SCOPE_PAGE),
    lambda: maincontent.main_content(_SCOPE_PAGE),
    lambda: maincontent.html_to_markdown(_SCOPE_PAGE),
    lambda: maincontent.html_tables(_SCOPE_PAGE),
], ids=["evaluate_document", "evaluate_document_many", "main_content",
        "html_to_markdown", "html_tables"])
def test_page_is_freed_by_one_young_collection(call, roots, collector_on):
    """With the collector on, a page's evaluation runs exactly one
    collection, of the youngest generation, after its work, and the
    page's tree is gone when the call returns. A caller that turned the
    collector off (a timed replay, an enclosing scope) keeps it off,
    and the page collects nothing."""
    with _collections() as counts:  # the page is big enough to matter
        parser_mod.parse_document(_SCOPE_PAGE)
    assert counts[0] >= 2, counts
    call()  # warm up outside the counted call
    roots.clear()
    with _collections() as counts:
        out = call()
    assert out
    assert counts == [1, 0, 0]
    assert len(roots) == 1 and roots[0]() is None
    assert gc.isenabled()

    gc.disable()
    with _collections() as counts:
        call()
    assert counts == [0, 0, 0]
    assert not gc.isenabled()


def test_page_scope_restores_collector_when_the_rules_raise(
        monkeypatch, collector_on):
    def boom(branches, doc):
        raise RuntimeError("rule tree failed")

    monkeypatch.setattr(evaluator, "evaluate_branches", boom)
    with _collections() as counts:
        with pytest.raises(RuntimeError, match="rule tree failed"):
            evaluator.evaluate_document(_SCOPE_RULES, _SCOPE_PAGE)
    assert counts == [1, 0, 0]
    assert gc.isenabled()
