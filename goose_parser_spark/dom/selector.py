"""CSS3 + Sizzle-dialect selector engine over the stdlib DOM backend.

Covers the selector surface goose-parser rules use (SURVEY.md §2.3):
tag/universal, class/id/compound, attribute operators (incl. Sizzle's
``[a!=b]``), combinators (descendant, ``>``, ``+``, ``~``), structural
pseudo-classes (``:first-child``, ``:last-child``, ``:nth-child``,
``:nth-last-child``, the ``:*-of-type`` family, ``:only-child``,
``:empty``, ``:not``), and Sizzle extensions
(``:eq/:first/:last/:gt/:lt`` positional filters, ``:contains``,
``:has``), plus comma-separated groups.

Evaluation is left-to-right set-based, exactly Sizzle's observable
semantics for positional pseudos: ``div:eq(1) span`` first narrows the
``div`` result set to its second element, then descends. Results are
returned deduplicated in document order.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from dataclasses import dataclass, field

from goose_parser_spark.dom.parser import Element


def _el_order(el: "Element") -> int:
    return el.order


class SelectorError(ValueError):
    pass


# --------------------------------------------------------------------------
# Parsing
# --------------------------------------------------------------------------

_IDENT = r"[-\w -￿]+"
_token_re = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<combinator>[>+~])
  | (?P<comma>,)
  | (?P<hash>\#(?P<hash_v>{ident}))
  | (?P<class>\.(?P<class_v>{ident}))
  | (?P<attr>\[\s*(?P<attr_n>{ident})\s*
        (?:(?P<attr_op>[!^$*~|]?=)\s*
            (?P<attr_v>"[^"]*"|'[^']*'|[^\]\s]*)\s*)?\])
  | (?P<pseudo>:(?P<pseudo_n>[-\w]+)(?P<pseudo_arg>\()?)
  | (?P<tag>(?:{ident}|\*))
    """.format(ident=_IDENT),
    re.VERBOSE,
)

# Positional (result-set) pseudos vs per-element pseudos.
_POSITIONAL = frozenset(["eq", "first", "last", "gt", "lt", "even", "odd"])
_NO_ARG_PSEUDOS = frozenset(
    ["first-child", "last-child", "only-child", "empty", "first", "last",
     "even", "odd", "checked", "disabled", "enabled", "selected",
     "first-of-type", "last-of-type", "only-of-type"]
)

# pseudo-classes taking an an+b argument (CSS3 §6.6.5)
_NTH_PSEUDOS = frozenset(
    ["nth-child", "nth-last-child", "nth-of-type", "nth-last-of-type"]
)


@dataclass
class Compound:
    tag: str | None = None
    universal: bool = False
    ids: list[str] = field(default_factory=list)
    classes: list[str] = field(default_factory=list)
    attrs: list[tuple[str, str | None, str | None]] = field(default_factory=list)
    pseudos: list[tuple[str, object]] = field(default_factory=list)      # per-element
    positional: list[tuple[str, object]] = field(default_factory=list)   # result-set
    # tag/class-only compound (finalized in Complex.__post_init__):
    # `.cls` / `tag` / `tag.cls` / `*` — the index pool IS (or needs
    # only a tag check to be) the exact match set, so select_indexed
    # skips _matches_compound entirely for these (the hot-path shapes)
    simple: bool = False

    def is_empty(self) -> bool:
        return (self.tag is None and not self.universal and not self.ids
                and not self.classes and not self.attrs and not self.pseudos
                and not self.positional)


@dataclass
class Complex:
    """One complex selector: [(combinator, Compound), ...].
    The first combinator relates the first compound to the context:
    ' ' (descendant, the default when none is written), or a leading
    '>', '+' or '~' (child, next sibling, following sibling of a
    context node; see _rel_to_context)."""
    steps: list[tuple[str, Compound]]
    # static per-selector property consulted on EVERY select call:
    # positional pseudos on a non-final compound force the
    # left-to-right walker (computed once at parse time)
    inner_positional: bool = False

    def __post_init__(self) -> None:
        self.inner_positional = any(
            comp.positional for _, comp in self.steps[:-1])
        for _, comp in self.steps:
            comp.simple = not (comp.ids or comp.attrs or comp.pseudos
                               or comp.positional) and len(comp.classes) <= 1


@dataclass
class Selector:
    """A parsed selector group (comma-separated complex selectors)."""
    source: str
    alternatives: list[Complex]


def _read_balanced_paren_arg(src: str, pos: int) -> tuple[str, int]:
    """src[pos] is just past '('; read until the matching ')'."""
    depth = 1
    out = []
    quote = None
    i = pos
    while i < len(src):
        ch = src[i]
        if quote:
            if ch == quote:
                quote = None
            out.append(ch)
        elif ch in "\"'":
            quote = ch
            out.append(ch)
        elif ch == "(":
            depth += 1
            out.append(ch)
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(ch)
        else:
            out.append(ch)
        i += 1
    raise SelectorError(f"unbalanced parentheses in selector: {src!r}")


def _strip_quotes(v: str) -> str:
    if len(v) >= 2 and v[0] == v[-1] and v[0] in "\"'":
        return v[1:-1]
    return v


def parse_selector(src: str) -> Selector:
    """Parse (and INTERN) a selector: identical selector text returns
    the same parsed object. Interning matters beyond speed — the
    per-document selector memo (rules/evaluator._DocContext.select)
    keys on ``id(selector)``, so multi-tenant rule trees sharing scope
    text only share memo entries when the parsed objects are shared
    too (extract_many's one-parse-serves-N-trees contract; VERDICT r02
    #8). Selectors are immutable after parse, so sharing is safe."""
    cached = _SELECTOR_INTERN.get(src)
    if cached is not None:
        return cached
    sel = _parse_selector_impl(src)
    if len(_SELECTOR_INTERN) < 65536:  # bound memory on adversarial input
        _SELECTOR_INTERN[src] = sel
    return sel


_SELECTOR_INTERN: dict[str, "Selector"] = {}


def _parse_selector_impl(src: str) -> Selector:
    alternatives: list[Complex] = []
    steps: list[tuple[str, Compound]] = []
    compound = Compound()
    pending_combinator = " "
    saw_ws = False
    pos = 0
    n = len(src)

    def flush_compound() -> None:
        nonlocal compound, pending_combinator, saw_ws
        if not compound.is_empty():
            steps.append((pending_combinator, compound))
            compound = Compound()
            pending_combinator = " "
        saw_ws = False

    def flush_complex() -> None:
        nonlocal steps
        flush_compound()
        if steps:
            alternatives.append(Complex(steps))
            steps = []

    while pos < n:
        m = _token_re.match(src, pos)
        if not m:
            raise SelectorError(f"cannot parse selector at {src[pos:]!r} (in {src!r})")
        pos = m.end()
        kind = m.lastgroup  # not reliable with nested groups; check explicitly
        if m.group("ws"):
            saw_ws = True
            continue
        if m.group("comma"):
            flush_complex()
            continue
        if m.group("combinator"):
            flush_compound()
            pending_combinator = m.group("combinator")
            saw_ws = False
            continue
        # a new compound starts if we saw whitespace since the last token
        if saw_ws and not compound.is_empty():
            flush_compound()
        if m.group("tag"):
            if not compound.is_empty():
                # tag must come first within a compound → this is a new compound
                flush_compound()
            t = m.group("tag")
            if t == "*":
                compound.universal = True
            else:
                compound.tag = t.lower()
        elif m.group("hash"):
            compound.ids.append(m.group("hash_v"))
        elif m.group("class"):
            compound.classes.append(m.group("class_v"))
        elif m.group("attr"):
            name = m.group("attr_n").lower()
            op = m.group("attr_op")
            val = m.group("attr_v")
            compound.attrs.append(
                (name, op, _strip_quotes(val) if val is not None else None))
        elif m.group("pseudo"):
            name = m.group("pseudo_n").lower()
            arg: object = None
            if m.group("pseudo_arg"):
                raw, pos = _read_balanced_paren_arg(src, pos)
                arg = raw.strip()
            elif name not in _NO_ARG_PSEUDOS:
                raise SelectorError(f"pseudo-class :{name} requires an argument")
            if name in ("not", "has"):
                arg = parse_selector(str(arg))
            elif name == "contains":
                arg = _strip_quotes(str(arg))
            elif name in ("eq", "gt", "lt"):
                arg = int(str(arg))
            elif name in _NTH_PSEUDOS:
                arg = _parse_nth(str(arg))
            elif name in ("first", "last", "even", "odd"):
                pass
            if name in _POSITIONAL:
                compound.positional.append((name, arg))
            else:
                compound.pseudos.append((name, arg))
        saw_ws = False

    flush_complex()
    if not alternatives:
        raise SelectorError(f"empty selector: {src!r}")
    return Selector(src, alternatives)


_nth_re = re.compile(r"^(?:(?P<a>[+-]?\d*)n)?\s*(?P<b>[+-]?\s*\d+)?$")


def _parse_nth(arg: str) -> tuple[int, int]:
    """Return (a, b) for an+b; :nth-child index is 1-based."""
    s = arg.strip().lower()
    if s == "odd":
        return (2, 1)
    if s == "even":
        return (2, 0)
    m = _nth_re.match(s.replace(" ", ""))
    if not m or (m.group("a") is None and m.group("b") is None):
        raise SelectorError(f"bad :nth-child argument {arg!r}")
    a_raw = m.group("a")
    if a_raw is None:
        a = 0
    elif a_raw in ("", "+"):
        a = 1
    elif a_raw == "-":
        a = -1
    else:
        a = int(a_raw)
    b = int(m.group("b").replace(" ", "")) if m.group("b") else 0
    return (a, b)


# --------------------------------------------------------------------------
# Matching
# --------------------------------------------------------------------------

def _attr_match(el: Element, name: str, op: str | None, val: str | None) -> bool:
    actual = el.attrs.get(name)
    if op is None:
        return actual is not None
    if op == "!=":  # Sizzle: attr absent OR different
        return actual != val
    if actual is None:
        return False
    assert val is not None
    if op == "=":
        return actual == val
    if op == "^=":
        return val != "" and actual.startswith(val)
    if op == "$=":
        return val != "" and actual.endswith(val)
    if op == "*=":
        return val != "" and val in actual
    if op == "~=":
        return val in actual.split()
    if op == "|=":
        return actual == val or actual.startswith(val + "-")
    raise SelectorError(f"unknown attribute operator {op!r}")


# --------------------------------------------------------------------------
# Per-evaluation context: the amortization layer that keeps hostile
# tree shapes linear. Positional pseudo-classes, sibling combinators
# and :has were all per-element scans — correct, but O(siblings) /
# O(subtree) PER CANDIDATE, which a crafted page (200k <li> siblings,
# a 30k-deep chain) turns into O(n^2): measured >15 s for ONE selector
# where the fixes below measure milliseconds. The context carries:
#
# - pos_store: per-parent position maps (element index, of-type index,
#   type counts, the ordered element-children list), built once per
#   parent on first positional/sibling query — doc-scoped (owned by
#   the DocIndex when one exists, so grid rules reuse them per row).
# - has_store: per-:has-argument marked-ancestor sets — "el has a
#   matching descendant" iff el is a proper ancestor of some match,
#   so one doc-wide match pass + ancestor marking (early-stop at
#   already-marked nodes: amortized O(n)) answers every candidate in
#   O(1). Doc-scoped; only for :scope-free single-compound arguments
#   (the overwhelmingly common :has(span) / :has(.price) shape) —
#   anything else falls back to the per-element subtree select.
# - chain_memo: per-CALL memo for _chain_matches (the left-chain
#   verification), including monotone short-circuits: descendant
#   chains memoize "some ancestor matches-and-chains" down the
#   ancestor path, and ~ chains keep per-parent prefix scan state so
#   the sibling run is checked once, not once per candidate. Call-
#   scoped because results depend on the call's context set.
#
# A module-level current-context global is safe here: each Spark
# Python worker evaluates one task single-threaded, and nested
# evaluations (:has fallback, :not) push/restore via try/finally.

class _EvalCtx:
    __slots__ = ("pos_store", "has_store", "chain_memo", "root", "index")

    def __init__(self, pos_store, has_store, root, index):
        self.pos_store = pos_store
        self.has_store = has_store
        self.chain_memo: dict = {}
        self.root = root
        self.index = index


_EVAL_CTX: _EvalCtx | None = None


def _pos_maps(parent: Element):
    """(elem_children, 1-based elem index by id, 1-based of-type index
    by id, type counts by tag) for ``parent``, built once and cached
    in the current evaluation's pos_store (falls back to building
    uncached when no evaluation context is active)."""
    ctx = _EVAL_CTX
    store = ctx.pos_store if ctx is not None else None
    if store is not None:
        maps = store.get(id(parent))
        if maps is not None:
            return maps
    elems: list[Element] = []
    idx_of: dict[int, int] = {}
    type_idx: dict[int, int] = {}
    type_count: dict[str, int] = {}
    i = 0
    for c in parent.children:
        if isinstance(c, Element):
            i += 1
            elems.append(c)
            idx_of[id(c)] = i
            t = type_count.get(c.tag, 0) + 1
            type_count[c.tag] = t
            type_idx[id(c)] = t
    maps = (elems, idx_of, type_idx, type_count)
    if store is not None:
        store[id(parent)] = maps
    return maps


def _element_index(el: Element) -> int:
    """1-based index among element siblings."""
    parent = el.parent
    if parent is None:
        return 1
    return _pos_maps(parent)[1].get(id(el), 1)


def _sibling_count(el: Element) -> int:
    parent = el.parent
    if parent is None:
        return 1
    return len(_pos_maps(parent)[0])


def _type_index(el: Element) -> int:
    """1-based index among same-tag element siblings (CSS *-of-type)."""
    parent = el.parent
    if parent is None:
        return 1
    return _pos_maps(parent)[2].get(id(el), 1)


def _type_count(el: Element) -> int:
    parent = el.parent
    if parent is None:
        return 1
    return _pos_maps(parent)[3].get(el.tag, 1)


def _nth_match(arg: object, idx: int) -> bool:
    a, b = arg  # type: ignore[misc]
    if a == 0:
        return idx == b
    k = (idx - b) / a
    return k >= 0 and float(k).is_integer()


def _pseudo_match(el: Element, name: str, arg: object) -> bool:
    if name == "first-child":
        return _element_index(el) == 1
    if name == "last-child":
        parent = el.parent
        if parent is None:
            return True
        sibs = _pos_maps(parent)[0]
        return bool(sibs) and sibs[-1] is el
    if name == "only-child":
        parent = el.parent
        if parent is None:
            return True
        return len(_pos_maps(parent)[0]) == 1
    if name == "nth-child":
        return _nth_match(arg, _element_index(el))
    if name == "nth-last-child":
        return _nth_match(arg, _sibling_count(el) - _element_index(el) + 1)
    if name == "first-of-type":
        return _type_index(el) == 1
    if name == "last-of-type":
        return _type_index(el) == _type_count(el)
    if name == "only-of-type":
        return _type_count(el) == 1
    if name == "nth-of-type":
        return _nth_match(arg, _type_index(el))
    if name == "nth-last-of-type":
        return _nth_match(arg, _type_count(el) - _type_index(el) + 1)
    if name == "empty":
        return not el.children
    if name == "not":
        sel: Selector = arg  # type: ignore[assignment]
        return not _matches_compound_group(el, sel)
    if name == "has":
        sel = arg  # type: ignore[assignment]
        ctx = _EVAL_CTX
        if ctx is not None and all(
                len(a.steps) == 1 and a.steps[0][0] == " "
                and not a.steps[0][1].positional
                for a in sel.alternatives):
            # single-compound argument (":has(span)"): answer from the
            # doc-scoped marked-ancestor set — one whole-doc match pass
            # + early-stop ancestor marking, O(1) per candidate. The
            # per-element subtree select was O(subtree) per candidate:
            # quadratic on deep chains. Positional pseudos are
            # excluded (their meaning is context-scoped). Keyed by the
            # selector SOURCE, not id(): the store outlives any one
            # call, and an id() of a garbage-collected argument
            # Selector can be reused by a different one (the intern
            # cache is capped, so argument Selectors may be transient)
            # — source text is what defines the semantics anyway.
            marked = ctx.has_store.get(sel.source)
            if marked is None:
                if ctx.root is None:  # non-indexed call: climb once
                    r = el
                    while r.parent is not None:
                        r = r.parent
                    ctx.root = r
                if ctx.index is not None:
                    pool = ctx.index.all
                else:
                    pool = list(ctx.root.iter_elements())
                comps = [a.steps[0][1] for a in sel.alternatives]
                marked = set()
                for m in pool:
                    if any(_matches_compound(m, c) for c in comps):
                        p = m.parent
                        while p is not None:
                            po = p.order
                            if po in marked:
                                break
                            marked.add(po)
                            p = p.parent
                ctx.has_store[sel.source] = marked
            return el.order in marked
        return bool(select([el], sel))
    if name == "contains":
        return str(arg) in el.text()
    if name in ("checked", "selected"):
        return name in el.attrs
    if name == "disabled":
        return "disabled" in el.attrs
    if name == "enabled":
        return el.tag in ("input", "button", "select", "textarea", "option") \
            and "disabled" not in el.attrs
    raise SelectorError(f"unsupported pseudo-class :{name}")


def _matches_compound(el: Element, c: Compound) -> bool:
    if c.tag is not None and el.tag != c.tag:
        return False
    if c.ids:
        el_id = el.attrs.get("id")
        if any(i != el_id for i in c.ids):
            return False
    if c.classes:
        el_classes = el.classes()
        if any(cls not in el_classes for cls in c.classes):
            return False
    for name, op, val in c.attrs:
        if not _attr_match(el, name, op, val):
            return False
    for name, arg in c.pseudos:
        if not _pseudo_match(el, name, arg):
            return False
    return True


def _matches_compound_group(el: Element, sel: Selector) -> bool:
    """For :not(...) — CSS3 restricts the arg to simple selector
    sequences; we accept a full group but match per-compound (each
    alternative must be a single step)."""
    for alt in sel.alternatives:
        if len(alt.steps) != 1:
            raise SelectorError(
                f":not()/:has() combinator depth: use :has for {sel.source!r}")
        if _matches_compound(el, alt.steps[0][1]):
            return True
    return False


def _apply_positional(matched: list[Element], positional: list[tuple[str, object]]) -> list[Element]:
    out = matched
    for name, arg in positional:
        if name == "eq":
            i = int(arg)  # type: ignore[arg-type]
            if -len(out) <= i < len(out):
                out = [out[i]]
            else:
                out = []
        elif name == "first":
            out = out[:1]
        elif name == "last":
            out = out[-1:]
        elif name == "gt":
            out = out[int(arg) + 1:]  # type: ignore[arg-type]
        elif name == "lt":
            out = out[:int(arg)]  # type: ignore[arg-type]
        elif name == "even":  # Sizzle :even = 0-based even indices
            out = out[0::2]
        elif name == "odd":
            out = out[1::2]
    return out


def _gather(nodes: list[Element], combinator: str) -> list[Element]:
    """Candidate elements reachable from ``nodes`` via ``combinator``,
    in document order, deduplicated.

    Two set-level prunes keep hostile shapes linear (both were
    O(nodes x reachable) — quadratic when a step matches most of a
    crafted page): a descendant gather skips source nodes that are
    themselves already-gathered candidates (their subtree was fully
    added by the enclosing source — sources are processed in document
    order so containers precede their contents), and a '~' gather
    walks each PARENT's sibling run once from its earliest source
    (the following-set of the earliest source is a superset of every
    later sibling source's)."""
    seen: set[int] = set()
    out: list[Element] = []

    def add(el: Element) -> None:
        if el.order not in seen:
            seen.add(el.order)
            out.append(el)

    if combinator == "~":
        earliest: dict[int, tuple[int, list[Element]]] = {}
        for node in nodes:
            parent = node.parent
            if parent is None:
                continue
            sibs, idx_of, _, _ = _pos_maps(parent)
            idx = idx_of.get(id(node), 0) - 1
            if idx < 0:
                continue
            cur = earliest.get(id(parent))
            if cur is None or idx < cur[0]:
                earliest[id(parent)] = (idx, sibs)
        for idx, sibs in earliest.values():
            for el in sibs[idx + 1:]:
                add(el)
        out.sort(key=lambda e: e.order)
        return out

    ordered = sorted(nodes, key=_el_order) if combinator == " " else nodes
    for node in ordered:
        if combinator == " ":
            if node.order in seen:
                continue  # inside an earlier source's gathered subtree
            for el in node.iter_elements():
                add(el)
        elif combinator == ">":
            for el in node.element_children():
                add(el)
        elif combinator == "+":
            parent = node.parent
            if parent is None:
                continue
            sibs, idx_of, _, _ = _pos_maps(parent)
            idx = idx_of.get(id(node), 0) - 1
            if idx < 0 or idx + 1 >= len(sibs):
                continue
            add(sibs[idx + 1])
        else:  # pragma: no cover
            raise SelectorError(f"unknown combinator {combinator!r}")
    out.sort(key=lambda e: e.order)
    return out


# --------------------------------------------------------------------------
# Indexed (right-to-left) evaluation — the hot path
# --------------------------------------------------------------------------

_EMPTY: list[Element] = []


def index_keys(selector: "Selector | str") -> tuple[set[str], set[str],
                                                    set[str]]:
    """(tags, classes, ids) a selector can ever look up in a DocIndex
    — the per-selector contribution to DocIndex's ``universe``.
    Includes every compound (only rightmost compounds hit the index
    today, but the full set costs nothing and is future-proof) and
    recurses into :not()/:has() argument selectors."""
    if isinstance(selector, str):
        selector = parse_selector(selector)
    tags: set[str] = set()
    classes: set[str] = set()
    ids: set[str] = set()
    for alt in selector.alternatives:
        for _comb, comp in alt.steps:
            if comp.tag is not None:
                tags.add(comp.tag)
            classes.update(comp.classes)
            ids.update(comp.ids)
            for _name, arg in comp.pseudos:
                if isinstance(arg, Selector):
                    t2, c2, i2 = index_keys(arg)
                    tags |= t2
                    classes |= c2
                    ids |= i2
    return tags, classes, ids


class _AnyKey:
    """The unrestricted universe: contains every tag, class and id."""

    __slots__ = ()

    def __contains__(self, key: str) -> bool:
        return True


_EVERY_KEY = (_AnyKey(),) * 3


class DocIndex:
    """Per-document element index: one pre-order walk builds tag/class/
    id maps, then each selector fetches candidates for its RIGHTMOST
    compound from the index and verifies the leftward combinator chain
    by walking up — no repeated whole-tree traversals (the profile
    showed ``_gather`` re-walking the tree per step as the top cost)."""

    __slots__ = ("root", "all", "by_tag", "by_class", "by_id", "_ends",
                 "pos_maps", "has_store", "eval_ctx")

    def __init__(self, root: Element,
                 elements: list[Element] | None = None,
                 universe: tuple[frozenset[str], frozenset[str],
                                 frozenset[str]] | None = None) -> None:
        """``elements`` may supply the document-order element list the
        parser already produced (parse_document), skipping the walk.

        ``universe`` — optional ``(tags, classes, ids)`` restriction
        (None indexes every key):
        only keys the caller's selectors can ever look up are indexed
        (compiled rule trees reference a handful of names; real pages
        carry hundreds of distinct classes, so unrestricted indexing
        spends most of its time on entries nobody will read). A
        compound whose key falls outside the universe would read an
        empty pool — callers must pass the FULL key set of every
        selector they will evaluate (rules_index_universe() /
        index_keys() compute it)."""
        self.root = root
        self.all = elements if elements is not None \
            else list(root.iter_elements())
        self._ends: dict[int, int] | None = None
        # doc-scoped evaluation caches (see _EvalCtx): per-parent
        # position maps and per-:has-argument marked-ancestor sets
        # survive across select_indexed calls on the same document
        self.pos_maps: dict = {}
        self.has_store: dict = {}
        self.eval_ctx: "_EvalCtx | None" = None
        self.by_tag: dict[str, list[Element]] = {}
        self.by_class: dict[str, list[Element]] = {}
        self.by_id: dict[str, list[Element]] = {}
        by_tag, by_class, by_id = self.by_tag, self.by_class, self.by_id
        w_tags, w_classes, w_ids = (_EVERY_KEY if universe is None
                                    else universe)
        for el in self.all:
            tag = el.tag
            if tag in w_tags:
                by_tag.setdefault(tag, []).append(el)
            attrs = el.attrs
            cval = attrs.get("class")
            if cval is not None and cval:
                cl = el.classes()
                if len(cl) == 1:
                    if cl[0] in w_classes:
                        by_class.setdefault(cl[0], []).append(el)
                else:
                    # dict.fromkeys: class="x x" must not double-insert
                    # (candidate lists are consumed without dedup)
                    for cls in dict.fromkeys(cl):
                        if cls in w_classes:
                            by_class.setdefault(cls, []).append(el)
            el_id = attrs.get("id")
            if el_id is not None and el_id in w_ids:
                by_id.setdefault(el_id, []).append(el)

    def subtree_ends(self) -> dict[int, int]:
        """order → max order within that element's subtree. Element
        orders are assigned at creation, and the tree builders create
        strictly in pre-order (tbody insertion happens before its rows;
        nodes are never re-parented), so a subtree is exactly the
        contiguous order interval (order, end] — descendant checks
        become two integer comparisons instead of an ancestor walk.
        Computed lazily (one reverse pass over the pre-order list;
        children precede parents in reversed pre-order) so documents
        that never select under a non-root context pay nothing."""
        ends = self._ends
        if ends is None:
            ends = {}
            for el in reversed(self.all):
                e = el.order
                for c in el.children:
                    if type(c) is not str:
                        ce = ends[c.order]
                        if ce > e:
                            e = ce
                ends[el.order] = e
            self._ends = ends
        return ends

    def within(self, pool: list[Element], ctx: Element) -> list[Element]:
        """The members of ``pool`` (doc-ordered, duplicate-free) that
        lie strictly inside ``ctx``'s subtree: the pre-order interval
        (ctx.order, subtree_ends[ctx.order]]. Two integer comparisons
        per member instead of an ancestor walk; large pools take a
        bisect + slice (O(log pool + matches)), which keeps row-wise
        grid selection near-linear in the document instead of
        quadratic. Always a new list, never the index's own pool."""
        lo = ctx.order
        hi = self.subtree_ends().get(lo, lo)
        if len(pool) > 64:
            i = bisect_right(pool, lo, key=_el_order)
            j = bisect_right(pool, hi, lo=i, key=_el_order)
            return pool[i:j]
        return [el for el in pool if lo < el.order <= hi]

    def candidates_simple(self, comp: Compound) -> list[Element] | None:
        """Exact match list for a ``simple`` compound against the whole
        document, or None when the shape needs the generic path. The
        index pools are doc-ordered and duplicate-free, so for
        ``.cls`` / ``tag`` / ``*`` the pool IS the answer and
        ``tag.cls`` needs only a tag check — no per-element
        _matches_compound, no chain walk."""
        tag = comp.tag
        cls = comp.classes
        if cls:
            pool = self.by_class.get(cls[0], _EMPTY)
            if tag is None:
                return pool
            pool_t = self.by_tag.get(tag, _EMPTY)
            if len(pool) <= len(pool_t):
                return [el for el in pool if el.tag == tag]
            c0 = cls[0]
            return [el for el in pool_t if c0 in el.classes()]
        if tag is not None:
            return self.by_tag.get(tag, _EMPTY)
        if comp.universal:
            return self.all
        return None

    def candidates(self, comp: Compound) -> list[Element]:
        """Smallest indexed candidate list for a compound (doc order)."""
        if comp.ids:
            return self.by_id.get(comp.ids[0], [])
        pools = []
        if comp.classes:
            pools = [self.by_class.get(c, []) for c in comp.classes]
        if comp.tag is not None:
            pools.append(self.by_tag.get(comp.tag, []))
        if not pools:
            return self.all
        return min(pools, key=len)


def _rel_to_context(el: Element, comb: str, ctx_orders: set[int]) -> bool:
    """Does ``el`` stand in relation ``comb`` to some context node?"""
    if comb == " ":
        p = el.parent
        while p is not None:
            if p.order in ctx_orders:
                return True
            p = p.parent
        return False
    if comb == ">":
        return el.parent is not None and el.parent.order in ctx_orders
    # sibling combinators relative to a context node
    if el.parent is None:
        return False
    sibs, idx_of, _, _ = _pos_maps(el.parent)
    i = idx_of.get(id(el), 0) - 1  # 0-based position in sibs
    if comb == "+":
        return i > 0 and sibs[i - 1].order in ctx_orders
    if comb == "~":
        # memoize the parent's first context-sibling position: the
        # per-candidate prefix scan is quadratic on long sibling runs
        ctx = _EVAL_CTX
        if ctx is not None:
            key = ("ctx~", id(el.parent))
            first = ctx.chain_memo.get(key, -2)
            if first == -2:
                first = next((k for k, s in enumerate(sibs)
                              if s.order in ctx_orders), -1)
                ctx.chain_memo[key] = first
            return first != -1 and first < i
        return any(s.order in ctx_orders for s in sibs[:i])
    return False


def _left_candidates(el: Element, comb: str):
    """Elements X such that comb(X → el) holds, nearest first."""
    if comb == " ":
        p = el.parent
        while p is not None:
            yield p
            p = p.parent
    elif comb == ">":
        if el.parent is not None:
            yield el.parent
    else:
        if el.parent is None:
            return
        sibs, idx_of, _, _ = _pos_maps(el.parent)
        i = idx_of.get(id(el), 0) - 1  # 0-based position in sibs
        if comb == "+":
            if i > 0:
                yield sibs[i - 1]
        elif comb == "~":
            for s in reversed(sibs[:i]):
                yield s


def _chain_matches(el: Element, alt: Complex, step_idx: int,
                   ctx_orders: set[int], ctx_is_root: bool) -> bool:
    """el matches alt.steps[step_idx]'s compound; verify everything to
    its left (combinator chain up to the context).

    With an active evaluation context the two unbounded scans are
    amortized across candidates (both were O(n) PER candidate —
    quadratic on crafted pages):

    - descendant chains (' '): "some ancestor matches-and-chains" is
      monotone down the tree, so it memoizes along the ancestor path
      (each element's check runs once per (alt, step));
    - general-sibling chains ('~'): "some earlier sibling matches-and-
      chains" is monotone along the sibling run, so per-(parent, alt,
      step) prefix state scans the run once in total.
    """
    comb = alt.steps[step_idx][0]
    if step_idx == 0:
        if ctx_is_root and comb == " ":
            return True
        return _rel_to_context(el, comb, ctx_orders)
    prev_comp = alt.steps[step_idx - 1][1]
    ctx = _EVAL_CTX
    memo = ctx.chain_memo if ctx is not None else None
    if memo is not None and comb == " ":
        if el.parent is None:
            return False
        # g(X) = matches-and-chains(X) or g(X.parent); memoized per
        # (alt, step). Walk up to the first memoized ancestor, then
        # fill the path back down (True propagates downward).
        path: list[Element] = []
        node: Element | None = el.parent
        val: bool | None = None
        while node is not None:
            k = (" ", id(alt), step_idx, node.order)
            v = memo.get(k)
            if v is not None:
                val = v
                break
            path.append(node)
            node = node.parent
        if val is None:
            val = False
        for node in reversed(path):
            if not val:
                val = (_matches_compound(node, prev_comp)
                       and _chain_matches(node, alt, step_idx - 1,
                                          ctx_orders, ctx_is_root))
            memo[(" ", id(alt), step_idx, node.order)] = val
        return val
    if memo is not None and comb == "~":
        parent = el.parent
        if parent is None:
            return False
        sibs, idx_of, _, _ = _pos_maps(parent)
        i = idx_of.get(id(el), 0) - 1  # 0-based; need a match at < i
        skey = ("~", id(alt), step_idx, id(parent))
        checked_upto, found = memo.get(skey, (0, None))
        if found is not None and found < i:
            return True
        j = checked_upto
        while j < i:
            x = sibs[j]
            if _matches_compound(x, prev_comp) and \
                    _chain_matches(x, alt, step_idx - 1,
                                   ctx_orders, ctx_is_root):
                found = j
                break
            j += 1
        memo[skey] = (max(checked_upto, j), found)
        return found is not None and found < i
    for x in _left_candidates(el, comb):
        if _matches_compound(x, prev_comp) and \
                _chain_matches(x, alt, step_idx - 1, ctx_orders, ctx_is_root):
            return True
    return False


def select_indexed(index: DocIndex, context: list[Element] | Element,
                   selector: Selector | str) -> list[Element]:
    """Indexed evaluation: each alternative fetches its rightmost
    compound's pool from the index and verifies the combinator chain
    leftward. Falls back to the set-based walker for alternatives with
    positional pseudos on non-final compounds (their semantics are
    inherently left-to-right).

    A call with exactly one context that is not the index root (a grid
    row) first cuts each pool to the context's pre-order interval
    (:meth:`DocIndex.within`) — for every alternative whose first
    combinator is ' ' or '>', single- and multi-step alike. Calls at
    the root, calls with several contexts, and alternatives led by
    '+' or '~' (whose matches lie outside the context's subtree) scan
    the whole pool."""
    if isinstance(selector, str):
        selector = parse_selector(selector)
    roots = [context] if isinstance(context, Element) else list(context)
    ctx_is_root = len(roots) == 1 and roots[0] is index.root

    alternatives = selector.alternatives
    single = len(alternatives) == 1
    if single and len(roots) == 1:
        # hot path: one alternative, one tag/class-only compound, one
        # context node ('div.product', 'h1.title', …, the overwhelming
        # shape in rule trees) — the index pool is the exact match set;
        # skip _matches_compound and the chain-walk frames (and the
        # evaluation-context push: nothing here consults it). A non-root
        # context (a grid row, selected once per row) takes its slice
        # of the pool, not the whole pool.
        steps = alternatives[0].steps
        if len(steps) == 1 and steps[0][0] == " " and steps[0][1].simple:
            fast = index.candidates_simple(steps[0][1])
            if fast is not None:
                if ctx_is_root:
                    # copy: candidates_simple may return the index's
                    # internal pool by reference; callers are allowed
                    # to mutate (sort/reverse) select results, which
                    # would otherwise corrupt the shared index and the
                    # _DocContext memo. A list copy is still far
                    # cheaper than the per-element match loop this
                    # path replaces.
                    return list(fast)
                return index.within(fast, roots[0])

    global _EVAL_CTX
    prev_ctx = _EVAL_CTX
    if prev_ctx is None:
        # non-nested (the per-rule common case): reuse the index's
        # context object, just rebinding a fresh chain memo — the
        # allocation showed up at ~4% of per-document evaluation
        ctx = index.eval_ctx
        if ctx is None:
            ctx = index.eval_ctx = _EvalCtx(
                index.pos_maps, index.has_store, index.root, index)
        else:
            ctx.chain_memo = {}
    else:
        ctx = _EvalCtx(index.pos_maps, index.has_store,
                       index.root, index)
    _EVAL_CTX = ctx
    try:
        return _select_indexed_impl(index, roots, selector,
                                    ctx_is_root, single)
    finally:
        _EVAL_CTX = prev_ctx


def _select_indexed_impl(index: DocIndex, roots: list[Element],
                         selector: Selector, ctx_is_root: bool,
                         single: bool) -> list[Element]:
    ctx_orders = {e.order for e in roots}
    # one inner context (a grid row): an alternative led by ' ' or '>'
    # matches only inside the row's subtree — later steps descend, or
    # move to siblings of nodes already inside it — so its pool shrinks
    # to the row's interval before the chain is verified. Leading '+'
    # and '~' match outside the subtree and keep the whole pool.
    row = roots[0] if len(roots) == 1 and not ctx_is_root else None
    seen: set[int] = set()
    results: list[Element] = []
    for alt in selector.alternatives:
        if alt.inner_positional:
            matched = select(roots, Selector(selector.source, [alt]))
        else:
            last_idx = len(alt.steps) - 1
            last_comp = alt.steps[last_idx][1]
            pool = index.candidates(last_comp)
            if row is not None and alt.steps[0][0] in (" ", ">"):
                pool = index.within(pool, row)
            # the relation checks implement find-semantics: the ' '
            # chain walks strict ancestors, so context nodes themselves
            # never match (index.all already excludes the doc root)
            matched = [
                el for el in pool
                if _matches_compound(el, last_comp)
                and _chain_matches(el, alt, last_idx, ctx_orders, ctx_is_root)
            ]
            if last_comp.positional:
                matched = _apply_positional(matched, last_comp.positional)
        if single:
            # the common case: index candidate lists are doc-ordered
            # and duplicate-free, so the dedup set + sort are pure
            # overhead (select() fallback output is ordered too)
            return matched
        for el in matched:
            if el.order not in seen:
                seen.add(el.order)
                results.append(el)
    results.sort(key=lambda e: e.order)
    return results


def select(context: list[Element] | Element, selector: Selector | str) -> list[Element]:
    """Evaluate ``selector`` relative to ``context`` node(s).

    Matches goose's scope semantics: the selector searches *within* each
    context node (context nodes themselves are not candidates for the
    first descendant step). Returns elements deduplicated in document
    order across the whole group.
    """
    if isinstance(selector, str):
        selector = parse_selector(selector)
    roots = [context] if isinstance(context, Element) else list(context)
    # push a fresh evaluation context (fresh chain memo — results
    # depend on this call's context set), inheriting the doc-scoped
    # position/:has stores from any enclosing evaluation so nested
    # calls (:has fallback, :not) reuse them
    global _EVAL_CTX
    prev_ctx = _EVAL_CTX
    if prev_ctx is not None:
        _EVAL_CTX = _EvalCtx(prev_ctx.pos_store, prev_ctx.has_store,
                             prev_ctx.root, prev_ctx.index)
    else:
        _EVAL_CTX = _EvalCtx({}, {}, None, None)
    try:
        seen: set[int] = set()
        results: list[Element] = []
        for alt in selector.alternatives:
            current = roots
            for combinator, compound in alt.steps:
                candidates = _gather(current, combinator)
                matched = [el for el in candidates
                           if _matches_compound(el, compound)]
                if compound.positional:
                    matched = _apply_positional(matched, compound.positional)
                current = matched
                if not current:
                    break
            for el in current:
                if el.order not in seen:
                    seen.add(el.order)
                    results.append(el)
        results.sort(key=lambda e: e.order)
        return results
    finally:
        _EVAL_CTX = prev_ctx
