"""Selector engine tests: CSS3 subset + Sizzle dialect (SURVEY.md §2.3),
including a property test against a naive reference matcher."""

import pytest
from hypothesis import given, settings, strategies as st

from goose_parser_spark.dom.parser import parse_html
from goose_parser_spark.dom.selector import SelectorError, parse_selector, select

DOC = parse_html("""
<div id="main" class="box outer" data-k="v1">
  <p class="a first">one</p>
  <p class="a">two</p>
  <span class="a b">three</span>
  <ul>
    <li>l1</li>
    <li class="mid">l2</li>
    <li>l3</li>
  </ul>
  <a href="https://x.test/page" rel="nofollow ext">link</a>
  <a href="/rel" title="T">rel</a>
</div>
<div class="box">
  <p class="a">four</p>
</div>
""")


def texts(sel):
    return [e.text() for e in select(DOC, sel)]


def test_tag_and_universal():
    assert texts("p") == ["one", "two", "four"]
    assert len(select(DOC, "*")) >= 10


def test_class_id_compound():
    assert texts(".a") == ["one", "two", "three", "four"]
    assert texts("p.a") == ["one", "two", "four"]
    assert texts("span.a.b") == ["three"]
    assert [e.tag for e in select(DOC, "#main")] == ["div"]
    assert texts("div#main p.a.first") == ["one"]


def test_attribute_operators():
    assert texts("[href]") == ["link", "rel"]
    assert texts('[href="/rel"]') == ["rel"]
    assert texts("[href^=https]") == ["link"]
    assert texts("[href$=page]") == ["link"]
    assert texts("[href*=x.test]") == ["link"]
    assert texts("[rel~=ext]") == ["link"]
    # Sizzle !=: absent or different
    assert texts("a[title!=T]") == ["link"]


def test_combinators():
    assert texts("div p") == ["one", "two", "four"]
    assert texts("#main > p") == ["one", "two"]
    assert texts("p.first + p") == ["two"]
    assert texts("p.first ~ span") == ["three"]


def test_structural_pseudos():
    assert texts("li:first-child") == ["l1"]
    assert texts("li:last-child") == ["l3"]
    assert texts("li:nth-child(2)") == ["l2"]
    assert texts("li:nth-child(odd)") == ["l1", "l3"]
    assert texts("li:nth-child(2n+1)") == ["l1", "l3"]
    assert texts("li:not(.mid)") == ["l1", "l3"]
    assert texts("ul:only-child") == []


def test_of_type_pseudos():
    # #main children: p, p, span, ul, a, a
    assert texts("#main p:first-of-type") == ["one"]
    assert texts("#main p:last-of-type") == ["two"]
    assert texts("#main span:only-of-type") == ["three"]
    assert texts("#main p:only-of-type") == []
    assert texts("#main p:nth-of-type(2)") == ["two"]
    assert texts("#main a:nth-of-type(1)") == ["link"]
    assert texts("#main a:nth-of-type(2)") == ["rel"]
    assert texts("#main a:nth-last-of-type(1)") == ["rel"]
    # span is the 3rd child but the 1st of its type
    assert texts("#main span:nth-of-type(1)") == ["three"]
    assert texts("#main span:nth-child(3)") == ["three"]
    assert texts("li:nth-last-child(1)") == ["l3"]
    assert texts("li:nth-last-child(odd)") == ["l1", "l3"]
    assert texts("li:nth-last-child(2n)") == ["l2"]


def test_sizzle_positional():
    assert texts("p:eq(1)") == ["two"]
    assert texts("p:eq(-1)") == ["four"]
    assert texts("p:first") == ["one"]
    assert texts("p:last") == ["four"]
    assert texts("p:lt(2)") == ["one", "two"]
    assert texts("p:gt(0)") == ["two", "four"]
    # positional applies at its step, then descends (Sizzle semantics)
    assert texts("div:eq(0) p") == ["one", "two"]
    assert texts("div:eq(1) p") == ["four"]


def test_sizzle_content():
    assert texts("p:contains(wo)") == ["two"]
    assert texts('p:contains("two")') == ["two"]
    assert texts("div:has(ul) > p") == ["one", "two"]
    assert texts("div:not(#main) p") == ["four"]


def test_groups_and_dedup():
    assert texts("p.first, span.b") == ["one", "three"]
    # overlapping alternatives dedup in document order
    assert texts("p.a, .first") == ["one", "two", "four"]


def test_scope_is_descendant_only():
    main = select(DOC, "#main")[0]
    # context node itself never matches (Sizzle .find semantics)
    assert select(main, "div.box") == []
    assert [e.text() for e in select(main, "p")] == ["one", "two"]


def test_parse_errors():
    with pytest.raises(SelectorError):
        parse_selector("")
    with pytest.raises(SelectorError):
        parse_selector("p:contains(unclosed")


# --- property test: engine vs naive matcher on generated DOMs ---------------

_TAGS = ["div", "span", "p", "b"]
_CLASSES = ["x", "y", "z"]


@st.composite
def _doms(draw, max_children=4, depth=3):
    def node(d):
        tag = draw(st.sampled_from(_TAGS))
        cls = draw(st.lists(st.sampled_from(_CLASSES), max_size=2))
        attr = f' class="{" ".join(cls)}"' if cls else ""
        if d == 0:
            return f"<{tag}{attr}>t</{tag}>"
        kids = draw(st.integers(0, max_children))
        inner = "".join(node(d - 1) for _ in range(kids)) or "t"
        return f"<{tag}{attr}>{inner}</{tag}>"
    return node(depth)


def _naive_select(root, tag, cls):
    out = []
    for el in root.iter_elements():
        if tag is not None and el.tag != tag:
            continue
        if cls is not None and cls not in el.classes():
            continue
        out.append(el)
    return out


@settings(max_examples=60, deadline=None)
@given(html=_doms(),
       tag=st.sampled_from(_TAGS + [None]),
       cls=st.sampled_from(_CLASSES + [None]))
def test_engine_matches_naive_walker(html, tag, cls):
    if tag is None and cls is None:
        sel = "*"
    else:
        sel = (tag or "") + (f".{cls}" if cls else "")
    root = parse_html(html)
    got = select(root, sel)
    want = _naive_select(root, tag, cls)
    assert [e.order for e in got] == [e.order for e in want]


# --- indexed vs walker equivalence -------------------------------------------

from goose_parser_spark.dom.selector import DocIndex, select_indexed

_ALL_SELECTORS = [
    "p", "*", ".a", "p.a", "span.a.b", "#main", "div#main p.a.first",
    "[href]", '[href="/rel"]', "[href^=https]", "[href$=page]",
    "[href*=x.test]", "[rel~=ext]", "a[title!=T]",
    "div p", "#main > p", "p.first + p", "p.first ~ span",
    "li:first-child", "li:last-child", "li:nth-child(2)",
    "li:nth-child(odd)", "li:not(.mid)", "p:eq(1)", "p:first", "p:last",
    "p:first-of-type", "p:last-of-type", "span:only-of-type",
    "a:nth-of-type(2)", "a:nth-last-of-type(1)", "li:nth-last-child(2n)",
    "p:lt(2)", "p:gt(0)", "div:eq(0) p", "div:eq(1) p",
    "p:contains(wo)", "div:has(ul) > p", "div:not(#main) p",
    "p.first, span.b", "p.a, .first", "ul li", "div > ul > li",
]


@pytest.mark.parametrize("sel", _ALL_SELECTORS)
def test_indexed_equals_walker_from_root(sel):
    idx = DocIndex(DOC)
    walker = [e.order for e in select(DOC, sel)]
    indexed = [e.order for e in select_indexed(idx, DOC, sel)]
    assert indexed == walker, sel


def test_indexed_equals_walker_from_inner_context():
    idx = DocIndex(DOC)
    main = select(DOC, "#main")
    for sel in ["p", "p.a", "ul > li", "li:nth-child(2)", "div.box", "span"]:
        walker = [e.order for e in select(main, sel)]
        indexed = [e.order for e in select_indexed(idx, main, sel)]
        assert indexed == walker, sel


@settings(max_examples=60, deadline=None)
@given(html=_doms(),
       tag=st.sampled_from(_TAGS + [None]),
       cls=st.sampled_from(_CLASSES + [None]))
def test_indexed_property_random_doms(html, tag, cls):
    sel = "*" if tag is None and cls is None else \
        (tag or "") + (f".{cls}" if cls else "")
    root = parse_html(html)
    idx = DocIndex(root)
    assert [e.order for e in select_indexed(idx, root, sel)] == \
        [e.order for e in select(root, sel)]


def test_indexed_fast_path_result_is_mutation_safe():
    """The simple-compound root-context fast path must return a COPY,
    not the index's internal pool: a caller sorting/reversing the
    result must not corrupt the shared DocIndex for later queries."""
    idx = DocIndex(DOC)
    first = select_indexed(idx, DOC, "p")
    expect = [e.order for e in first]
    first.reverse()
    first.append(None)           # worst-case caller abuse
    again = [e.order for e in select_indexed(idx, DOC, "p")]
    assert again == expect
    # same for pure-class and universal pools
    for sel in [".a", "*"]:
        res = select_indexed(idx, DOC, sel)
        orders = [e.order for e in res]
        res.clear()
        assert [e.order for e in select_indexed(idx, DOC, sel)] == orders


# --- universe-restricted DocIndex -------------------------------------------

from goose_parser_spark.dom.selector import index_keys


def test_index_keys_collects_all_compounds_and_inner_selectors():
    t, c, i = index_keys("div#main p.a.first, span.b > em")
    assert t == {"div", "p", "span", "em"}
    assert c == {"a", "first", "b"}
    assert i == {"main"}
    # :not()/:has() argument selectors contribute their keys too
    t, c, i = index_keys("li:not(.mid):has(a.ext)")
    assert t == {"li", "a"}
    assert c == {"mid", "ext"}


@pytest.mark.parametrize("sel", _ALL_SELECTORS)
def test_universe_restricted_index_matches_unrestricted(sel):
    """A DocIndex built with exactly the selector's key universe must
    answer that selector identically to a full index."""
    keys = index_keys(sel)
    universe = tuple(frozenset(k) for k in keys)
    full = DocIndex(DOC)
    restricted = DocIndex(DOC, universe=universe)
    assert [e.order for e in select_indexed(restricted, DOC, sel)] == \
        [e.order for e in select_indexed(full, DOC, sel)], sel


def test_compiled_rules_universe_drives_identical_extraction():
    """evaluate_document (which indexes only the compiled tree's key
    universe) must agree with an unrestricted-index evaluation."""
    from goose_parser_spark.rules.compiler import RuleCompiler
    from goose_parser_spark.rules.evaluator import (
        _DocContext, evaluate_branches, evaluate_document)
    from goose_parser_spark.dom.parser import parse_document

    rules = {
        "scope": "div#main",
        "collection": [
            {"name": "first", "scope": "p.first"},
            {"name": "items", "scope": "ul li", "type": "array"},
            {"name": "links", "scope": "a[href]", "type": "array",
             "attr": "href"},
        ],
    }
    html = """<html><body><div id="main">
      <p class="first irrelevant-class">hello</p>
      <ul><li>a</li><li class="unused">b</li></ul>
      <a href="/x" class="ext">x</a><a href="/y">y</a>
      <div class="noise"><span class="alsonoise">z</span></div>
    </div></body></html>"""
    compiled = RuleCompiler().compile(rules)
    uni = compiled.index_universe()
    # names no selector mentions stay out of the index universe
    assert "noise" not in uni[1] and "irrelevant-class" not in uni[1]
    got = evaluate_document(compiled, html)
    root, elements = parse_document(html)
    unrestricted = evaluate_branches(
        compiled.branches, _DocContext(root, elements))
    assert got == unrestricted
    assert got["items"] == ["a", "b"]
    assert got["links"] == ["/x", "/y"]


def test_memoized_paths_differential_random_doms():
    """The evaluation-context memos (per-parent position maps, the
    descendant/sibling chain memos, the :has marked-ancestor set) must
    be invisible: indexed and set-walker engines — which share only
    the compound matcher, not the chain logic — must agree on random
    DOMs for every selector shape the memos accelerate."""
    import random
    from goose_parser_spark.dom.parser import parse_document
    from goose_parser_spark.dom.selector import (
        DocIndex, select, select_indexed)

    rng = random.Random(77)
    tags = ["div", "p", "span", "ul", "li", "b"]
    sels = [
        "p + p", "p ~ p", "span ~ p", "li + li", "b ~ span",
        "div:has(span)", "div:has(.a)", "ul:has(li) li",
        "li:nth-child(2n+1)", "li:first-child", "li:last-child",
        "p:nth-of-type(2)", "span:only-child", "div div p",
        "div:not(.a) span", "p + p ~ span",
    ]
    for trial in range(120):
        parts = []
        depth = 0
        for _ in range(rng.randrange(5, 60)):
            r = rng.random()
            if r < 0.45 or depth == 0:
                t = rng.choice(tags)
                cls = ' class="a"' if rng.random() < 0.3 else ""
                parts.append(f"<{t}{cls}>")
                depth += 1
            elif r < 0.75:
                parts.append("x")
            else:
                parts.append("</x>")  # builder recovery in play
                if rng.random() < 0.5 and depth:
                    depth -= 1
                    parts.append("</" + rng.choice(tags) + ">")
        html = "".join(parts)
        root, created = parse_document(html)
        idx = DocIndex(root, created)
        for s in sels:
            a = [e.order for e in select_indexed(idx, root, s)]
            b = [e.order for e in select(root, s)]
            assert a == b, (trial, s, html)


def test_has_store_survives_argument_selector_identity_reuse():
    """The doc-scoped :has cache must key on selector SOURCE, not
    id(): with the intern cache bypassed (its cap makes argument
    Selectors transient on adversarial rule sets), two different
    :has arguments at the same memory address must not share a
    marked-ancestor set."""
    from goose_parser_spark.dom.parser import parse_document
    from goose_parser_spark.dom.selector import (
        DocIndex, _parse_selector_impl, select_indexed, Selector,
        Complex)
    root, created = parse_document(
        "<div id=a><span>x</span></div><div id=b><em>y</em></div>")
    idx = DocIndex(root, created)
    # two structurally distinct, non-interned selectors evaluated
    # back-to-back on the SAME index: if the second lookup hit the
    # first's cache entry, div#b would (wrongly) match :has(span)
    s1 = _parse_selector_impl("div:has(span)")
    r1 = [e.attrs.get("id") for e in select_indexed(idx, root, s1)]
    del s1  # allow id() reuse
    s2 = _parse_selector_impl("div:has(em)")
    r2 = [e.attrs.get("id") for e in select_indexed(idx, root, s2)]
    assert r1 == ["a"] and r2 == ["b"]
    # and same-source selectors share the cache (one doc pass)
    assert len(idx.has_store) == 2
    assert set(idx.has_store) == {"span", "em"}


# --- inner-context pools: the row's interval, not the whole page -------------

from goose_parser_spark.dom import selector as selector_mod
from goose_parser_spark.dom.parser import parse_document

_G_TAGS = ["div", "p", "span", "ul", "li", "a"]

# every shape the interval slice serves or must skip: multi-step chains,
# leading combinators, a positional last compound, :has/:not inside a
# step, id-keyed pools, several alternatives, and the one-compound fast
# path (whose '*' pool exceeds the bisect cut-off on the larger DOMs)
_INNER_SELECTORS = [
    "div p", "p > span", "div.a li",
    "+ p", "~ span", "> li",
    "ul li:first", "li:eq(1)", "a:last",
    "div:has(span) p", "li:not(.a) a", "ul:not(.b) > li",
    "#x p",
    "span.b a, li a",
    "*", ".a", "li",
]


@st.composite
def _grid_doms(draw):
    """A random card repeated a few times, plus one trailing subtree:
    grids give contexts with identical subtrees and pools large enough
    to take the bisect."""
    def node(d):
        tag = draw(st.sampled_from(_G_TAGS))
        cls = draw(st.lists(st.sampled_from(["a", "b"]), max_size=2,
                            unique=True))
        attrs = f' class="{" ".join(cls)}"' if cls else ""
        if draw(st.integers(0, 9)) == 0:
            attrs += ' id="x"'
        kids = draw(st.integers(0, 3)) if d else 0
        inner = "".join(node(d - 1) for _ in range(kids)) or "t"
        return f"<{tag}{attrs}>{inner}</{tag}>"
    card = node(3)
    reps = draw(st.integers(1, 6))
    return "<html><body>" + card * reps + node(2) + "</body></html>"


@settings(max_examples=40, deadline=None)
@given(html=_grid_doms())
def test_indexed_equals_walker_from_every_context(html):
    root, created = parse_document(html)
    idx = DocIndex(root, created)
    for ctx in [root] + idx.all:
        for s in _INNER_SELECTORS:
            assert [e.order for e in select_indexed(idx, ctx, s)] == \
                [e.order for e in select(ctx, s)], (s, ctx.order, html)


_RECOVERY_HTML = [
    "<html><body><p><b><i>x</b>y</i>z</p></body></html>",
    "<table><tr><td>a</td></tr>stray<div>foster</div><tr><td>b</td></tr>"
    "</table>",
    "<html><body><table><tr><td>1</td><td>2</td></tr><tr><td>3"
    "</table></body></html>",
    "<ul><li>a<li>b<ul><li>c<li>d</ul><li>e</ul><dl><dt>t<dd>u<dt>v</dl>",
    "<body><form><input><form><input></form></form><p>after</body>",
    '<html><body><div class="listing"><div class="card"><h3 class="t">'
    '<a href="/p/1">one</a></h3><ul class="tags"><li>x</li></ul></div>'
    '<div class="card"><h3 class="t"><a href="/p/2">two</a>',
]


def _assert_subtrees_are_intervals(root, elements):
    idx = DocIndex(root, elements)
    orders = [el.order for el in idx.all]
    assert all(a < b for a, b in zip(orders, orders[1:]))
    ends = idx.subtree_ends()
    for el in idx.all:
        below = {id(e) for e in el.iter_elements()}
        interval = {id(e) for e in idx.all
                    if el.order < e.order <= ends[el.order]}
        assert below == interval, el.order


@pytest.mark.parametrize("backend", ["fast", "stdlib"])
@pytest.mark.parametrize("html", _RECOVERY_HTML)
def test_subtree_is_its_preorder_interval_after_recovery(html, backend):
    """DocIndex.within relies on a subtree being exactly the interval
    (order, subtree_ends[order]] of the document-order element list,
    including where tree recovery inserted, closed or reopened nodes."""
    _assert_subtrees_are_intervals(parse_html(html, backend=backend), None)
    _assert_subtrees_are_intervals(*parse_document(html, backend=backend))


@settings(max_examples=40, deadline=None)
@given(html=st.one_of(_doms(), _grid_doms()),
       backend=st.sampled_from(["fast", "stdlib"]))
def test_subtree_is_its_preorder_interval_random_doms(html, backend):
    _assert_subtrees_are_intervals(parse_html(html, backend=backend), None)
    _assert_subtrees_are_intervals(*parse_document(html, backend=backend))


def _compound_checks_per_card(cards, monkeypatch):
    from goose_parser_spark.rules.compiler import RuleCompiler
    from goose_parser_spark.rules.evaluator import evaluate_document

    rules = {"scope": "div.card", "collection": [[
        {"name": "title", "scope": "h3.t a"},
        {"name": "tags", "scope": "ul.tags li", "type": "array"},
    ]]}
    card = ('<div class="card"><h3 class="t"><a href="/p">t</a></h3>'
            '<ul class="tags"><li>x</li><li>y</li><li>z</li></ul></div>')
    html = ('<html><body><ul class="nav"><li><a href="/">home</a></li></ul>'
            + card * cards + "</body></html>")
    compiled = RuleCompiler().compile(rules)
    calls = [0]
    orig = selector_mod._matches_compound

    def counting(el, comp):
        calls[0] += 1
        return orig(el, comp)

    monkeypatch.setattr(selector_mod, "_matches_compound", counting)
    out = evaluate_document(compiled, html)
    assert out == [{"title": "t", "tags": ["x", "y", "z"]}] * cards
    return calls[0] / cards


def test_multi_step_grid_scopes_cost_constant_per_card(monkeypatch):
    """A grid row's multi-step field scope ('h3.t a', 'ul.tags li')
    verifies only the candidates inside its row: compound checks per
    card stay flat as the page grows. Scanning the page's whole pool
    for every row grows them with the card count."""
    small = _compound_checks_per_card(50, monkeypatch)
    large = _compound_checks_per_card(200, monkeypatch)
    assert large <= 1.2 * small, (small, large)
