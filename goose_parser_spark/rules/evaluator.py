"""Per-document rule-tree evaluation.

Runs inside the Arrow-batched extraction UDF: each document's HTML is
parsed ONCE, then the whole compiled rule tree is evaluated against the
DOM (vs the reference's one browser round-trip per rule — the key
structural win recorded in SURVEY.md §3.2).

Semantics pinned by FIXTURES.md:
- scope resolves descendants of the current context node (Sizzle
  ``find``); ``parentScope`` resets the context by selecting from the
  document root (F-09).
- multiple matches joined with ``separator`` (default ``" "``,
  PROVISIONAL — FIXTURES.md §4.1) unless ``type: "array"`` (F-03/F-04).
- empty match → ``""`` for simple rules (PROVISIONAL, F-08a), ``[]``
  for grids (F-08b).
- collections evaluate children in the parent's FIRST matched node
  (F-05); grids iterate ALL matched nodes (F-06).
- ``virtual`` fields are evaluated (their ``id`` role may need them)
  but dropped from the result (F-10).
- text extraction is raw ``textContent`` concatenation, no whitespace
  normalization (F-21); attributes come entity-decoded (F-02).

Selector memoization: within one document, repeated (context, selector)
pairs hit a per-document cache — rule trees with shared scope prefixes
pay for each selector once (SURVEY.md §4.2 "UDF-internal rule
evaluation order").
"""

from __future__ import annotations

from goose_parser_spark.dom.parser import Element, parse_document, parse_html
from goose_parser_spark.dom.selector import DocIndex, Selector, select_indexed
from goose_parser_spark.functions.transforms import apply_chain
from goose_parser_spark.rules import conventions
from goose_parser_spark.rules.compiler import Branch, CompiledRule, CompiledRules


class _DocContext:
    """Per-document evaluation state: DOM root + element index +
    selector memo cache."""

    __slots__ = ("root", "index", "_cache", "skip_lowered")

    def __init__(self, root: Element,
                 elements: list[Element] | None = None,
                 skip_lowered: bool = False,
                 universe: tuple | None = None) -> None:
        self.root = root
        self.index = DocIndex(root, elements, universe=universe)
        self._cache: dict[tuple[int, ...], list[Element]] = {}
        # True inside the Spark UDF when the chain's native-safe suffix
        # runs post-UDF as Column expressions (functions/native.py);
        # the pure-Python path always applies the full chain.
        self.skip_lowered = skip_lowered

    def select(self, context: list[Element], selector: Selector) -> list[Element]:
        # 1-node contexts are the overwhelmingly common case: build the
        # cheap 2-tuple key instead of a generator-driven tuple
        if len(context) == 1:
            key = (id(selector), context[0].order)
        else:
            key = (id(selector),) + tuple(e.order for e in context)
        hit = self._cache.get(key)
        if hit is None:
            hit = select_indexed(self.index, context, selector)
            self._cache[key] = hit
        return hit


def _extract_value(el: Element, rule: CompiledRule) -> str:
    if rule.attr is not None:
        v = el.attr(rule.attr)
        return v if v is not None else ""
    if rule.prop is not None:
        prop = rule.prop
        if prop == "innerHTML":
            return el.inner_html()
        if prop in ("innerText", "textContent"):
            return el.text()
        if prop == "value":
            v = el.attr("value")
            return v if v is not None else ""
        # static-derivable fallback: DOM property ≈ attribute (C5 subset)
        v = el.attr(prop)
        return v if v is not None else ""
    return el.text()


def _resolve_context(rule: CompiledRule, context: list[Element], doc: _DocContext) -> list[Element]:
    base = context
    if rule.parent_scope is not None:
        base = doc.select([doc.root], rule.parent_scope)
    if rule.scope is not None:
        return doc.select(base, rule.scope)
    return base


def evaluate_rule(rule: CompiledRule, context: list[Element], doc: _DocContext) -> object:
    matched = _resolve_context(rule, context, doc)

    if rule.is_grid:
        if rule.max_results is not None:
            # P3 analog: maxResultsCount caps grid rows (SURVEY.md §2.7)
            matched = matched[:rule.max_results]
        return [_evaluate_children(rule, [node], doc) for node in matched]

    if rule.is_collection:
        # children resolve in the parent's first matched node (F-05);
        # no match → children evaluate against nothing (empty strings)
        node_ctx = matched[:1]
        return _evaluate_children(rule, node_ctx, doc)

    # leaf
    values = [_extract_value(el, rule) for el in matched]
    value: object
    if rule.is_array:
        value = values
    elif not values:
        # PROVISIONAL empty-match convention (conventions.py / F-08a)
        value = conventions.EMPTY_MATCH_VALUE
    else:
        value = rule.separator.join(values)
    if value is None:
        return None  # alternative convention: nothing to transform
    chain = (rule.transforms[:rule.n_python] if doc.skip_lowered
             else rule.transforms)
    return apply_chain(chain, value)


def _evaluate_children(rule: CompiledRule, node_ctx: list[Element], doc: _DocContext) -> dict:
    out: dict[str, object] = {}
    for child in rule.children:
        v = evaluate_rule(child, node_ctx, doc)
        if not child.virtual:
            out[child.name or ""] = v
    return out


def evaluate_branches(branches: list[Branch], doc: _DocContext) -> object:
    """Pick the first branch whose guards all match (first-wins,
    SURVEY.md §2.6 A2) and evaluate its rule tree."""
    for br in branches:
        if all(doc.select([doc.root], g) for g in br.guards):
            root = br.rules
            value = evaluate_rule(root, [doc.root], doc)
            if root.children:
                return value
            return {root.name or "": value}
    return None


def evaluate_document_many(
    compiled_by_name: dict[str, CompiledRules],
    html: str | bytes,
) -> tuple[dict[str, object], list[str]]:
    """Evaluate SEVERAL compiled rule trees against ONE parse of the
    document (multi-tenant extraction: one scan of the corpus serves
    every consumer's rules). The selector memo cache is shared across
    trees, so trees with overlapping scopes pay for each selector
    once. Full Python transform chains (no native lowering — the
    per-tree schemas stay self-contained).

    Returns ``(row, errors)``: per-tree I4 isolation — a tree whose
    evaluation raises maps to None in ``row`` and adds a
    ``tree=<name>: <ExcClass>: <msg>`` entry to ``errors``, so one bad
    ruleset never poisons the other tenants. A document that fails to
    parse raises."""
    root, elements = parse_document(html)
    universe = _union_universe(compiled_by_name.values())
    doc = _DocContext(root, elements, universe=universe)
    row: dict[str, object] = {}
    errors: list[str] = []
    for name, c in compiled_by_name.items():
        try:
            row[name] = evaluate_branches(c.branches, doc)
        except Exception as exc:  # noqa: BLE001 — per-tree I4
            row[name] = None
            errors.append(f"tree={name}: {type(exc).__name__}: {exc}")
    return row, errors


def _union_universe(compiled_trees) -> tuple:
    """Union the per-tree index universes (multi-tenant: the shared
    per-document index must cover every tenant's selectors)."""
    tags: frozenset = frozenset()
    classes: frozenset = frozenset()
    ids: frozenset = frozenset()
    for c in compiled_trees:
        t, cl, i = c.index_universe()
        tags |= t
        classes |= cl
        ids |= i
    return tags, classes, ids


def evaluate_document(compiled: CompiledRules, html: str | bytes,
                      skip_lowered: bool = False) -> object:
    """Parse one document and evaluate the compiled rules against it.

    Returns a nested python value (dict / list / str) matching
    ``compiled.schema`` (``compiled.udf_schema`` when ``skip_lowered``
    — the Spark UDF mode where native-safe transform suffixes run
    post-UDF); ``None`` if no conditional branch matched.
    """
    root, elements = parse_document(html)
    doc = _DocContext(root, elements, skip_lowered=skip_lowered,
                      universe=compiled.index_universe())
    return evaluate_branches(compiled.branches, doc)
