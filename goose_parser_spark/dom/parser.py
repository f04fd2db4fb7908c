"""Pure-stdlib HTML DOM backend.

Parses HTML into a lightweight element tree with browser-like error
recovery (HTML5 implied end tags, void elements, auto-<tbody>), so that
extraction results match what goose-parser saw through a real browser
DOM (reference behavior: SURVEY.md §2.2 C1-C8, FIXTURES.md F-18/F-21).

Design notes
------------
- This is the sandbox `StdlibBackend` of the pluggable DomBackend plan
  (SURVEY.md §7.0): no lxml/selectolax offline, so we build on
  ``html.parser`` with ``convert_charrefs=True`` (entities decoded in
  both text and attribute values — FIXTURES.md F-02/F-19).
- ``textContent`` semantics: recursive concatenation of text nodes with
  **no whitespace normalization** (FIXTURES.md F-21: byte-identity
  lives or dies here).
- Every element carries a document-order index so selector results can
  be deduplicated and ordered globally in O(n log n).
"""

from __future__ import annotations

import gc
from contextlib import contextmanager
from html.parser import HTMLParser


# HTML5 void elements: never have children, never pushed on the stack.
VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Start tags that imply </p> when a <p> is open (HTML5 8.2.5.4.7).
P_CLOSERS = frozenset(
    """address article aside blockquote center details dialog dir div dl
    dd dt fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header
    hgroup hr main menu nav ol p pre section summary table ul li""".split()
)

# tag -> set of open tags it auto-closes when encountered as a sibling
IMPLIED_END = {
    "li": frozenset(["li"]),
    "dt": frozenset(["dt", "dd"]),
    "dd": frozenset(["dt", "dd"]),
    "tr": frozenset(["tr", "td", "th"]),
    "td": frozenset(["td", "th"]),
    "th": frozenset(["td", "th"]),
    "thead": frozenset(["thead", "tbody", "tfoot", "tr", "td", "th"]),
    "tbody": frozenset(["thead", "tbody", "tfoot", "tr", "td", "th"]),
    "tfoot": frozenset(["thead", "tbody", "tfoot", "tr", "td", "th"]),
    "option": frozenset(["option"]),
    "optgroup": frozenset(["option", "optgroup"]),
    "caption": frozenset([]),
    "colgroup": frozenset([]),
}

# Tags whose implied-close search must not cross these boundaries
# (e.g. an <li> inside a nested <ul> must not close the outer <li>).
_SCOPE_BOUNDARIES = {
    "li": frozenset(["ul", "ol"]),
    "dt": frozenset(["dl"]),
    "dd": frozenset(["dl"]),
    "tr": frozenset(["table"]),
    "td": frozenset(["table", "tr"]),
    "th": frozenset(["table", "tr"]),
    "thead": frozenset(["table"]),
    "tbody": frozenset(["table"]),
    "tfoot": frozenset(["table"]),
    "option": frozenset(["select"]),
    "optgroup": frozenset(["select"]),
}

# "button scope"-ish boundaries for the implied-</p> check ("#document"
# sits at stack index 0, below any real <p>, so it needs no entry).
_BUTTON_SCOPE = ("html", "body", "table", "td", "th", "caption",
                 "template", "select")

# per-tag boundary tuples for the implied-end check: the tag's scope
# boundaries plus the universal ones ("#document" is index 0, always
# below any real closer, so it needs no entry).
_SCOPE_STOPS = {
    t: tuple(_SCOPE_BOUNDARIES.get(t, ())) + ("html", "body")
    for t in IMPLIED_END
}

# Children of <table> that trigger auto-<tbody> insertion (browsers do
# this; FIXTURES.md F-06 is written to be agnostic, but we stay
# browser-faithful so descendant selectors see the same tree).
_TABLE_SECTIONS = frozenset(["thead", "tbody", "tfoot", "caption", "colgroup", "col", "script", "style", "template"])


class Element:
    """One DOM element. Children are Element instances or plain ``str``
    text nodes. ``order`` is the global document-order index."""

    __slots__ = ("tag", "attrs", "children", "parent", "order", "_classes")

    def __init__(self, tag: str, attrs: dict[str, str], parent: "Element | None", order: int):
        self.tag = tag
        self.attrs = attrs
        self.children: list[Element | str] = []
        self.parent = parent
        self.order = order
        self._classes: list[str] | None = None

    # ---- DOM-ish accessors -------------------------------------------------

    def text(self) -> str:
        """``textContent``: depth-first concat of all text descendants,
        entities already decoded, no whitespace normalization."""
        out: list[str] = []
        stack: list[Element | str] = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if isinstance(node, str):
                out.append(node)
            else:
                stack.extend(reversed(node.children))
        return "".join(out)

    def attr(self, name: str) -> str | None:
        return self.attrs.get(name.lower())

    def classes(self) -> list[str]:
        if self._classes is None:
            self._classes = self.attrs.get("class", "").split()
        return self._classes

    def element_children(self) -> list["Element"]:
        return [c for c in self.children if isinstance(c, Element)]

    def iter_elements(self):
        """Pre-order traversal of element descendants (self excluded)."""
        stack = [c for c in reversed(self.children) if isinstance(c, Element)]
        while stack:
            node = stack.pop()
            yield node
            stack.extend(c for c in reversed(node.children) if isinstance(c, Element))

    def inner_html(self) -> str:
        """Serialize children back to HTML (supports ``prop: innerHTML``,
        SURVEY.md §2.2 C5 — static-derivable subset; divergence from a
        live browser's normalized serialization is documented there)."""
        return "".join(_serialize(c) for c in self.children)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        ident = ("#" + self.attrs["id"]) if "id" in self.attrs else ""
        cls = ("." + ".".join(self.classes())) if self.classes() else ""
        return f"<{self.tag}{ident}{cls} @{self.order}>"


def _escape_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _escape_attr(s: str) -> str:
    return s.replace("&", "&amp;").replace('"', "&quot;")


def _serialize(node: Element | str) -> str:
    """Iterative serialization (explicit stack with close-tag
    sentinels): recursion here would cap innerHTML at the interpreter
    recursion limit (~1000 frames), turning a legitimately deep page
    into a poison row — and the recursive form's generator-fed join
    also grew the C stack per level, which no recursion-limit raise
    can make safe."""
    out: list[str] = []
    stack: list[Element | str | tuple[str]] = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, str):
            out.append(_escape_text(n))
            continue
        if isinstance(n, tuple):  # close-tag sentinel
            out.append(n[0])
            continue
        attrs = "".join(
            f' {k}="{_escape_attr(v)}"' for k, v in n.attrs.items())
        out.append(f"<{n.tag}{attrs}>")
        if n.tag not in VOID_ELEMENTS:
            stack.append((f"</{n.tag}>",))
            stack.extend(reversed(n.children))
    return "".join(out)


class _TreeBuilder(HTMLParser):
    """html.parser → Element tree with HTML5-style recovery."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._order = 0
        self.root = Element("#document", {}, None, self._next_order())
        self.stack: list[Element] = [self.root]
        # tag -> ascending stack indices of open elements with that
        # tag. Keeps the implied-end decision O(1) per start tag: the
        # old top-down stack scan was O(open depth) per tag, which a
        # hostile page turns quadratic (e.g. "<table><div>"*k then
        # "<li></li>"*m re-scans the div run for every li). Deletions
        # are always stack suffixes, so each tag list pops from its
        # tail and stays sorted by construction.
        self._tag_pos: dict[str, list[int]] = {"#document": [0]}
        # elements in creation (= document) order; lets the selector
        # index skip its own tree walk for non-restructured documents
        self.created: list[Element] = []

    def _next_order(self) -> int:
        self._order += 1
        return self._order

    # -- helpers -------------------------------------------------------------

    def _open_tags(self) -> list[str]:
        return [e.tag for e in self.stack]

    def _push(self, el: Element) -> None:
        tp = self._tag_pos
        lst = tp.get(el.tag)
        if lst is None:
            tp[el.tag] = [len(self.stack)]
        else:
            lst.append(len(self.stack))
        self.stack.append(el)

    def _pop_to(self, i: int) -> None:
        """del stack[i:], keeping the tag-position index in sync."""
        stack = self.stack
        tp = self._tag_pos
        for e in stack[i:]:
            tp[e.tag].pop()
        del stack[i:]

    def _close_one(self) -> None:
        if len(self.stack) > 1:
            self._tag_pos[self.stack[-1].tag].pop()
            self.stack.pop()

    def _imply_ends_for(self, tag: str) -> None:
        """Close open elements that the HTML5 parser would auto-close
        before inserting ``tag``.

        Decision via the tag-position index: the old scan walked the
        stack top-down and acted on the FIRST closer-or-boundary hit,
        which equals "the deepest open closer, unless a deeper open
        boundary sits above it" — i.e. compare maximum stack indices.
        """
        tp = self._tag_pos
        # </p> implied by block-level starts
        if tag in P_CLOSERS:
            pl = tp.get("p")
            if pl:
                pi = pl[-1]
                # closed only when no "button scope"-ish boundary is
                # open above it (any non-inline container means no
                # open <p> in scope)
                for b in _BUTTON_SCOPE:
                    bl = tp.get(b)
                    if bl and bl[-1] > pi:
                        break
                else:
                    self._pop_to(pi)
        closers = IMPLIED_END.get(tag)
        if closers:
            ci = -1
            for c in closers:
                cl = tp.get(c)
                if cl and cl[-1] > ci:
                    ci = cl[-1]
            if ci > 0:
                for b in _SCOPE_STOPS[tag]:
                    bl = tp.get(b)
                    if bl and bl[-1] > ci:
                        break
                else:
                    self._pop_to(ci)

    def _maybe_insert_tbody(self, tag: str) -> None:
        """Browsers wrap stray <tr> directly under <table> in <tbody>."""
        if tag == "tr" and self.stack[-1].tag == "table":
            tbody = Element("tbody", {}, self.stack[-1], self._next_order())
            self.stack[-1].children.append(tbody)
            self.created.append(tbody)
            self._push(tbody)

    # -- HTMLParser callbacks --------------------------------------------------

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        self._imply_ends_for(tag)
        self._maybe_insert_tbody(tag)
        # first occurrence of a duplicated attribute wins (HTML5)
        attr_map: dict[str, str] = {}
        for k, v in attrs:
            if k not in attr_map:
                attr_map[k] = v if v is not None else ""
        parent = self.stack[-1]
        el = Element(tag, attr_map, parent, self._next_order())
        parent.children.append(el)
        self.created.append(el)
        if tag not in VOID_ELEMENTS:
            self._push(el)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        # <tag/> — html treats foreign-content self-closing as a normal
        # start for non-void elements, but for extraction purposes an
        # explicitly self-closed element having no children is the safer
        # interpretation; void elements are void regardless.
        self._imply_ends_for(tag)
        self._maybe_insert_tbody(tag)
        attr_map: dict[str, str] = {}
        for k, v in attrs:
            if k not in attr_map:
                attr_map[k] = v if v is not None else ""
        parent = self.stack[-1]
        el = Element(tag, attr_map, parent, self._next_order())
        parent.children.append(el)
        self.created.append(el)

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            return
        stack = self.stack
        # fast path: well-formed HTML closes the top of the stack (the
        # root is '#document', never equal to a real tag name)
        if stack[-1].tag == tag:
            self._tag_pos[tag].pop()
            stack.pop()
            return
        # nearest matching open element = its highest stack index;
        # none open → ignored (browser behavior for stray end tags)
        lst = self._tag_pos.get(tag)
        if lst:
            self._pop_to(lst[-1])

    def handle_data(self, data: str) -> None:
        if not data:
            return
        children = self.stack[-1].children
        # merge adjacent text nodes so textContent is a simple concat;
        # pop into a local first so CPython's in-place str extension
        # applies (a stream of tiny fragments is quadratic otherwise)
        if children and isinstance(children[-1], str):
            merged = children.pop()
            merged += data
            children.append(merged)
        else:
            children.append(data)

    def handle_comment(self, data: str) -> None:
        pass  # comments are not part of textContent

    def handle_decl(self, decl: str) -> None:
        pass


# Elements that belong in <head>; used when synthesizing document
# structure for fragments (browsers always create html/head/body).
_HEAD_TAGS = frozenset(["head", "title", "meta", "link", "base"])


def _ensure_document_structure(root: Element) -> bool:
    """Guarantee root > html > body exist, like every browser parser
    does — goose rules rely on it (e.g. ``parentScope: "body"``,
    FIXTURES.md F-09) even when given an HTML fragment."""
    changed = False
    html_el = next((c for c in root.children
                    if isinstance(c, Element) and c.tag == "html"), None)
    if html_el is None:
        changed = True
        html_el = Element("html", {}, root, 0)
        html_el.children = root.children
        for c in html_el.children:
            if isinstance(c, Element):
                c.parent = html_el
        root.children = [html_el]
    body = next((c for c in html_el.children
                 if isinstance(c, Element) and c.tag == "body"), None)
    if body is None:
        changed = True
        body = Element("body", {}, html_el, 0)
        moved: list[Element | str] = []
        kept: list[Element | str] = []
        for c in html_el.children:
            if isinstance(c, Element) and c.tag in _HEAD_TAGS:
                kept.append(c)
            else:
                moved.append(c)
                if isinstance(c, Element):
                    c.parent = body
        body.children = moved
        html_el.children = kept + [body]
    if not changed:
        # full documents (the overwhelmingly common case at crawl
        # scale) skip the renumber walk entirely
        return False

    # renumber document order after restructuring (iterative — a
    # pathologically deep fragment must not hit the recursion limit)
    counter = 1
    root.order = counter
    stack = [c for c in reversed(root.children) if isinstance(c, Element)]
    while stack:
        el = stack.pop()
        counter += 1
        el.order = counter
        stack.extend(c for c in reversed(el.children) if isinstance(c, Element))
    return True


def parse_html(html: str | bytes, backend: str = "fast") -> Element:
    """Parse an HTML document (str or utf-8 bytes) into an Element tree.

    Returns the synthetic ``#document`` root; selector evaluation starts
    there. One call per document per rule tree — the extractor parses
    each page ONCE and evaluates all rules against it (vs the
    reference's one browser-IPC round trip per rule, SURVEY.md §3.1).

    ``backend="fast"`` (default) uses the regex tokenizer in
    fastparser.py; ``backend="stdlib"`` uses html.parser. Both drive
    the same recovery logic and are differential-tested to produce
    identical trees.
    """
    if backend == "fast":
        from goose_parser_spark.dom.fastparser import parse_html_fast
        return parse_html_fast(html)
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    _ensure_document_structure(builder.root)
    return builder.root


def parse_document(html: str | bytes, backend: str = "fast"):
    """Parse and return ``(root, elements_in_doc_order_or_None)``.

    The second element feeds the selector DocIndex without another
    tree walk; it is None when document-structure synthesis moved
    nodes (fragments), in which case the caller re-walks."""
    if backend == "fast":
        from goose_parser_spark.dom.fastparser import parse_document_fast
        return parse_document_fast(html)
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    changed = _ensure_document_structure(builder.root)
    return builder.root, (None if changed else builder.created)


@contextmanager
def page_scope():
    """Free one page's DOM when its work ends, in one young collection.

    A tree is a reference cycle (``Element.parent`` / ``children``), so
    refcounting never frees it and, left to itself, the cyclic
    collector runs several times mid-parse and frees the tree pages
    later. Inside the scope the collector is off; at its end it is
    back on and ``gc.collect(0)`` frees what the page left behind,
    which is all still in the youngest generation. A collector that
    was off at entry (a caller that times without it, or an enclosing
    scope) stays off and nothing is collected.

    The scope is per page, not per kernel call: ``epub_chapters``
    parses one tree per chapter, and one scope around the document
    would hold every chapter's tree until the last. Apply it as a
    decorator (``@page_scope()``) to the function that parses, uses
    and drops the tree: the function's frame, and with it the last
    reference to the tree, is gone before the collection runs.
    """
    if not gc.isenabled():
        yield
        return
    gc.disable()
    try:
        yield
    finally:
        gc.enable()
        gc.collect(0)
