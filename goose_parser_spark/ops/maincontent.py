"""Main-content extraction: boilerplate strip via DOM heuristics.

The north rule (BASELINE.json:14) scopes the engine to "main-content
extraction (HTML boilerplate strip, PDF/layout parse, DOM heuristics)".
This module is the rules-free counterpart of the rule-tree extractor:
a readability-style scorer that picks the dominant content block of a
page and strips chrome (nav/header/footer/sidebar/ads/comments).

Heuristic (deterministic, frozen — the driver oracle depends on it):
for every candidate container (`article main section div td`) compute

    score = own_text_len × (1 − link_density) × class_weight

where ``link_density`` is the fraction of the candidate's text that
lives inside <a> descendants, and ``class_weight`` down-weights
candidates whose class/id match boilerplate patterns (nav, footer,
sidebar, ad, …) and up-weights content-ish names (article, content,
main, post, body). Deepest-wins on ties so a page wrapper never beats
the article it contains. Runs on the per-document map kernel
(kernel.map_docs) — same execution profile as the rule-tree extractor
(map-only, no shuffle).
"""

from __future__ import annotations

import re
import sys
from typing import TYPE_CHECKING

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, IntegerType, StringType, StructField,
)

from goose_parser_spark.dom.parser import Element, page_scope, parse_html
from goose_parser_spark.kernel import map_docs

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

_CANDIDATE_TAGS = frozenset(["article", "main", "section", "div", "td"])

_NEGATIVE = re.compile(
    r"nav|menu|header|footer|sidebar|side-bar|aside|banner|breadcrumb|"
    r"comment|share|social|sponsor|advert|\bad\b|ads|promo|related|"
    r"widget|cookie|popup|masthead", re.IGNORECASE)
_POSITIVE = re.compile(
    r"article|content|main|post|body|entry|text|story|column", re.IGNORECASE)


def _class_weight(el: Element) -> float:
    hint = f"{el.attrs.get('class', '')} {el.attrs.get('id', '')}"
    w = 1.0
    if _NEGATIVE.search(hint):
        w *= 0.2
    if _POSITIVE.search(hint):
        w *= 1.5
    return w


def _subtree_lengths(root: Element) -> tuple[dict[int, int], dict[int, int]]:
    """(text_len, link_text_len) per element id() in ONE post-order
    pass — the naive per-candidate text()/anchor walk is
    O(candidates × subtree), quadratic on deeply nested pages; this is
    O(nodes). An anchor's whole subtree counts as link text exactly
    once (nested <a> is not double-counted)."""
    tl: dict[int, int] = {}
    ll: dict[int, int] = {}
    stack: list[tuple[Element, bool]] = [(root, False)]
    while stack:
        el, done = stack.pop()
        if done:
            t = 0
            link = 0
            for c in el.children:
                if isinstance(c, str):
                    t += len(c)
                else:
                    t += tl[id(c)]
                    link += ll[id(c)]
            if el.tag == "a":
                link = t
            tl[id(el)] = t
            ll[id(el)] = link
        else:
            stack.append((el, True))
            for c in el.children:
                if not isinstance(c, str):
                    stack.append((c, False))
    return tl, ll


def score_candidates(root: Element) -> list[tuple[float, int, Element]]:
    """All candidates scored; returns (score, depth, element)."""
    tl, ll = _subtree_lengths(root)
    out = []
    depth = {id(root): 0}
    stack = [c for c in root.children if isinstance(c, Element)]
    for el in stack:
        depth[id(el)] = 1
    while stack:
        el = stack.pop()
        d = depth[id(el)]
        for c in el.children:
            if isinstance(c, Element):
                depth[id(c)] = d + 1
                stack.append(c)
        if el.tag not in _CANDIDATE_TAGS:
            continue
        n = tl[id(el)]
        if n == 0:
            continue
        link_density = ll[id(el)] / n
        score = n * (1.0 - link_density) * _class_weight(el)
        out.append((score, d, el))
    return out


@page_scope()
def main_content(html: str | bytes) -> tuple[str, float]:
    """Extract (main_text, score) from one document. Falls back to the
    whole-body text when no candidate scores (text-only pages)."""
    root = parse_html(html)
    cands = score_candidates(root)
    if not cands:
        return (root.text(), 0.0)
    # max score; deepest wins ties so wrappers never beat the article
    best = max(cands, key=lambda t: (t[0], t[1]))
    return (best[2].text(), best[0])


def extract_main_content(
    df: "DataFrame",
    html_col: str = "html",
    url_col: str = "url",
) -> "DataFrame":
    """Boilerplate-strip over a pages DataFrame.

    Output: ``url, main_text, content_score, parse_ns, error``. Same
    scale profile as the rule extractor: column-pruned scan → the
    per-document map kernel (kernel.map_docs) → no shuffle. A poison
    page scores 0.0 and carries its ``error``.
    """
    fields = [StructField("main_text", StringType(), True),
              StructField("content_score", DoubleType(), True)]
    out = map_docs(df, lambda html: (main_content(html),), fields,
                   url_col, html_col, text=True)
    return out.select(url_col, "main_text",
                      F.coalesce("content_score", F.lit(0.0))
                      .alias("content_score"), "parse_ns", "error")


# ---------------------------------------------------------------------------
# HTML → Markdown (structured-text output for training corpora)
# ---------------------------------------------------------------------------

_MD_SKIP = frozenset(["script", "style", "noscript", "template", "head"])
_MD_HEADINGS = {"h1": "#", "h2": "##", "h3": "###", "h4": "####",
                "h5": "#####", "h6": "######"}
_MD_BLOCKS = frozenset(["p", "div", "section", "article", "main", "body",
                        "html", "header", "footer", "aside", "figure",
                        "figcaption", "table", "ul", "ol", "blockquote",
                        "pre"])


def _md_inline(el: Element) -> str:
    """Serialize an element's content as markdown INLINE text."""
    parts: list[str] = []
    for c in el.children:
        if isinstance(c, str):
            parts.append(c)
            continue
        if c.tag in _MD_SKIP:
            continue
        inner = _md_inline(c)
        if c.tag == "a":
            href = c.attrs.get("href", "")
            parts.append(f"[{inner}]({href})")
        elif c.tag in ("strong", "b"):
            parts.append(f"**{inner}**")
        elif c.tag in ("em", "i"):
            parts.append(f"*{inner}*")
        elif c.tag == "code":
            parts.append(f"`{inner}`")
        elif c.tag == "br":
            parts.append("\n")
        else:
            parts.append(inner)
    return "".join(parts)


def _md_blocks(el: Element, out: list[str]) -> None:
    """Accumulate markdown BLOCKS for an element's children."""
    for c in el.children:
        if isinstance(c, str):
            s = c.strip()
            if s:
                out.append(s)
            continue
        tag = c.tag
        if tag in _MD_SKIP:
            continue
        if tag in _MD_HEADINGS:
            out.append(f"{_MD_HEADINGS[tag]} {_md_inline(c).strip()}")
        elif tag in ("ul", "ol"):
            items = [x for x in c.children
                     if isinstance(x, Element) and x.tag == "li"]
            lines = []
            for i, li in enumerate(items):
                marker = "-" if tag == "ul" else f"{i + 1}."
                lines.append(f"{marker} {_md_inline(li).strip()}")
            if lines:
                out.append("\n".join(lines))
        elif tag == "pre":
            out.append("```\n" + c.text() + "\n```")
        elif tag == "blockquote":
            inner: list[str] = []
            _md_blocks(c, inner)
            if inner:
                out.append("\n".join("> " + ln for blk in inner
                                     for ln in blk.split("\n")))
        elif tag == "table":
            rows = []
            for tr in c.iter_elements():
                if tr.tag != "tr":
                    continue
                cells = [x for x in tr.children
                         if isinstance(x, Element) and x.tag in ("td", "th")]
                if cells:
                    rows.append("| " + " | ".join(
                        _md_inline(x).strip() for x in cells) + " |")
            if rows:
                if len(rows) > 1:
                    ncols = rows[0].count("|") - 1
                    rows.insert(1, "|" + "---|" * ncols)
                out.append("\n".join(rows))
        elif tag == "hr":
            out.append("---")
        elif tag == "p":
            s = _md_inline(c).strip()
            if s:
                out.append(s)
        elif tag in _MD_BLOCKS:
            _md_blocks(c, out)   # transparent container
        else:
            s = _md_inline(c).strip()
            if s:
                out.append(s)


@page_scope()
def html_to_markdown(html: str | bytes) -> str:
    """Deterministic HTML→Markdown: headings/#, lists, links
    [text](href), emphasis, code fences, tables, blockquotes;
    script/style dropped; blocks joined by blank lines. The structured
    plain-text form LLM training corpora keep when layout carries
    meaning flat text loses."""
    root = parse_html(html)
    out: list[str] = []
    _md_blocks(root, out)
    return "\n\n".join(out)


def extract_markdown(
    df: "DataFrame",
    html_col: str = "html",
    url_col: str = "url",
) -> "DataFrame":
    """HTML→Markdown over a pages DataFrame: ``url, markdown, error``.
    Same map-only profile as the other extractors (kernel.map_docs)."""
    def fn(html):
        # the markdown walker recurses per nesting level (direct
        # Python-to-Python calls — 3.11 keeps those off the C stack);
        # the default ~1000 limit would poison legitimately deep
        # pages, 30k is past anything a real document nests and still
        # bounds a hostile 400k-deep page to a clean per-doc error
        if sys.getrecursionlimit() < 30_000:
            sys.setrecursionlimit(30_000)
        return ((html_to_markdown(html),),)

    out = map_docs(df, fn, [StructField("markdown", StringType(), True)],
                   url_col, html_col, text=True)
    return out.select(url_col, "markdown", "error")


# ---------------------------------------------------------------------------
# HTML table extraction (round 6): <table> → relational rows, the
# table-to-text feed of an LLM training corpus (and the structured
# sibling of extract_markdown). Same execution profile as the other
# extractors: map-only Arrow-batched mapInArrow, per-page I4 poison
# isolation, no shuffle — at 100 TB the cost is one codegen-free scan.
# ---------------------------------------------------------------------------

_WS_RUN = re.compile(r"\s+")


@page_scope()
def html_tables(html: str | bytes) -> list[tuple[int, int, bool, list[str]]]:
    """All tables of a page → ``(table_no, row_no, is_header, cells)``
    per <tr>. Tables are numbered in document order; a row belongs to
    its NEAREST ancestor table (nested tables never leak rows into
    the outer one); cells are the row's <td>/<th> in order, text
    whitespace-collapsed and trimmed; ``is_header`` when the row has
    cells and every cell is a <th>."""
    root = parse_html(html)
    tables = [el for el in root.iter_elements() if el.tag == "table"]
    order_to_no = {id(t): i for i, t in enumerate(tables)}
    out: list[tuple[int, int, bool, list[str]]] = []
    for t in tables:
        tno = order_to_no[id(t)]
        rows = []
        for el in t.iter_elements():
            if el.tag != "tr":
                continue
            anc = el.parent
            while anc is not None and anc.tag != "table":
                anc = anc.parent
            if anc is not t:
                continue
            rows.append(el)
        for rno, tr in enumerate(rows):
            cells: list[str] = []
            all_th = True
            for el in tr.iter_elements():
                if el.tag not in ("td", "th"):
                    continue
                anc = el.parent
                while anc is not None and anc.tag not in ("tr", "table"):
                    anc = anc.parent
                if anc is not tr:
                    continue
                cells.append(_WS_RUN.sub(" ", el.text()).strip())
                if el.tag != "th":
                    all_th = False
            out.append((tno, rno, bool(cells) and all_th, cells))
    return out


def extract_tables(
    df: "DataFrame",
    html_col: str = "html",
    url_col: str = "url",
) -> "DataFrame":
    """Table extraction over a pages DataFrame: one output row per
    <tr> — ``url, table_no, row_no, is_header, n_cols, cells`` (cells
    tab-joined; ``error`` carries per-page failures, I4)."""
    fields = [StructField("table_no", IntegerType(), True),
              StructField("row_no", IntegerType(), True),
              StructField("is_header", BooleanType(), True),
              StructField("n_cols", IntegerType(), True),
              StructField("cells", StringType(), True)]

    def fn(html):
        return [(tno, rno, hdr, len(cells), "\t".join(cells))
                for tno, rno, hdr, cells in html_tables(html)]

    out = map_docs(df, fn, fields, url_col, html_col, text=True)
    return out.select(url_col, "table_no", "row_no", "is_header", "n_cols",
                      "cells", "error")
