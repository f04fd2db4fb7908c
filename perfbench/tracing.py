"""Traced replay: per-layer counts and self times of the extraction engine.

The replay evaluates a seeded sample of a workload's documents in the
benchmark process, untraced and with spans recorded around the public
entry points of each layer. The wrappers are installed from here, over
the names the evaluator looks up at call time; the engine itself is not
modified. Spans are kept in memory and written out once,
when the replay ends.

Layers and the entry points that open their spans:

    rules      evaluate_document (the root span of each document)
    dom        parse_document
    selector   DocIndex (index build), select_indexed, DocIndex.candidates
               and DocIndex.candidates_simple (pool lookups)
    functions  apply_chain

A span's self time is its duration minus the durations of its child
spans. The self times of one document sum to its evaluate_document time
exactly when every span is closed and lies inside its parent, on the
same document; :func:`replay` checks that nesting, and that the traced
replay returns the same values as the untraced one.
"""

from __future__ import annotations

import contextlib
import gc
import json
import statistics
import time
from collections import defaultdict

from goose_parser_spark.dom import selector as selector_mod
from goose_parser_spark.rules import evaluator as evaluator_mod


REPLAYS = 4  # pairs of an untraced and a traced replay


class Tracer:
    """In-memory span recorder. A span is (name, start_ns, end_ns,
    parent index, doc index); counts ride along per layer."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, int, int, int, int]] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []
        self.doc = -1
        # candidates fetched by the innermost select_indexed call, and
        # whether it cut its pool to the context's interval by bisection
        self.pool = 0
        self.bisected = False

    def span(self, name: str, fn, *args, **kwargs):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, 0, 0, parent, self.doc))
        self._stack.append(idx)
        t0 = time.perf_counter_ns()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter_ns()
            self._stack.pop()
            self.spans[idx] = (name, t0, t1, parent, self.doc)

    def self_ns(self) -> dict[str, int]:
        """Self time per span name, summed over all documents."""
        child = [0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, int] = defaultdict(int)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            out[name] += t1 - t0 - child[i]
        return out

    def total_ns(self, name: str) -> int:
        return sum(t1 - t0 for n, t0, t1, _, _ in self.spans if n == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s[0] == name)

    def nesting_errors(self) -> list[str]:
        """Spans left open, opened outside a document's root span, or
        not inside their parent's interval on the same document."""
        bad = []
        for i, (name, t0, t1, parent, doc) in enumerate(self.spans):
            if not 0 < t0 <= t1:
                bad.append(f"span {i} {name} was not closed")
            elif parent < 0:
                if name != "rules.evaluate":
                    bad.append(f"span {i} {name} has no parent")
            else:
                _, p0, p1, _, pdoc = self.spans[parent]
                if pdoc != doc or not p0 <= t0 <= t1 <= p1:
                    bad.append(f"span {i} {name} lies outside its parent")
        return bad

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, t0, t1, parent, doc in self.spans:
                fh.write(json.dumps([name, t0, t1, parent, doc]) + "\n")


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Install span wrappers over the layer entry points; restore the
    originals on exit."""
    ev, sel = evaluator_mod, selector_mod
    orig_parse, orig_index = ev.parse_document, ev.DocIndex
    orig_select, orig_chain = ev.select_indexed, ev.apply_chain
    orig_cand = sel.DocIndex.candidates
    orig_simple = sel.DocIndex.candidates_simple
    orig_bisect = sel.bisect_right

    def parse_document(html, *a, **kw):
        root, elements = tracer.span("dom.parse", orig_parse, html, *a, **kw)
        if elements is not None:
            tracer.counts["dom.elements"] += len(elements)
        else:  # fragment: the parser re-rooted nodes
            tracer.counts["dom.elements"] += sum(1 for _ in root.iter_elements())
        return root, elements

    def doc_index(*a, **kw):
        return tracer.span("selector.index", orig_index, *a, **kw)

    def select_indexed(index, context, selector):
        outer = tracer.pool, tracer.bisected
        tracer.pool, tracer.bisected = 0, False
        out = tracer.span("selector.select", orig_select, index, context,
                          selector)
        # candidates scanned: the pools fetched, except that a pool cut
        # to the context's interval by bisection scans only the slice
        # it returns
        scanned = len(out) if tracer.bisected else tracer.pool
        tracer.counts["selector.matches"] += len(out)
        tracer.counts["selector.scanned"] += scanned
        tracer.pool, tracer.bisected = outer[0] + scanned, outer[1]
        return out

    def candidates(self, comp):
        pool = tracer.span("selector.candidates", orig_cand, self, comp)
        tracer.pool += len(pool)
        return pool

    def candidates_simple(self, comp):
        pool = tracer.span("selector.candidates", orig_simple, self, comp)
        if pool is not None:
            tracer.pool += len(pool)
        return pool

    def bisect_right(*a, **kw):
        tracer.bisected = True
        return orig_bisect(*a, **kw)

    def apply_chain(chain, value):
        if not chain:
            return orig_chain(chain, value)
        return tracer.span("functions.chain", orig_chain, chain, value)

    ev.parse_document, ev.DocIndex = parse_document, doc_index
    ev.select_indexed, ev.apply_chain = select_indexed, apply_chain
    sel.DocIndex.candidates = candidates
    sel.DocIndex.candidates_simple = candidates_simple
    sel.bisect_right = bisect_right
    try:
        yield tracer
    finally:
        ev.parse_document, ev.DocIndex = orig_parse, orig_index
        ev.select_indexed, ev.apply_chain = orig_select, orig_chain
        sel.DocIndex.candidates = orig_cand
        sel.DocIndex.candidates_simple = orig_simple
        sel.bisect_right = orig_bisect


@contextlib.contextmanager
def _no_gc():
    """Collect, then keep the cyclic collector off for the block. DOM
    trees are reference cycles, so when full collections fall depends
    on everything else the process allocates (the tracer's spans among
    it); with the collector running, the traced replay came out faster
    than the untraced one."""
    gc.collect()
    gc.disable()
    try:
        yield
    finally:
        gc.enable()


def _evaluate_all(compiled, htmls: list) -> tuple[int, list]:
    with _no_gc():
        t0 = time.perf_counter_ns()
        values = [evaluator_mod.evaluate_document(compiled, html,
                                                  skip_lowered=True)
                  for html in htmls]
        return time.perf_counter_ns() - t0, values


def replay(rules: dict, htmls: list, spans_path: str | None) -> dict:
    """Replay ``htmls`` (str or bytes, as the extractor receives them
    after decoding) through the engine; return per-layer metrics.

    An untraced and a traced replay run back to back ``REPLAYS``
    times, each side first in every other pair. The overhead is the
    median over these pairs of traced over untraced time, minus one: a
    pair shares the host's speed of the moment, which drifts by more
    than the overhead between pairs. The fastest traced replay gives
    the per-layer figures. Replays run with the cyclic garbage
    collector off, so their times leave out collection. The replay's
    own ``evaluate_document`` calls are the root span of each
    document."""
    from goose_parser_spark.rules.compiler import RuleCompiler

    compile_ns = []
    for _ in range(5):
        t0 = time.perf_counter_ns()
        compiled = RuleCompiler().compile(rules)
        compile_ns.append(time.perf_counter_ns() - t0)
    compile_ns.sort()

    def traced_replay() -> tuple[int, Tracer, list]:
        tr = Tracer()
        got = []
        with instrumented(tr), _no_gc():
            t0 = time.perf_counter_ns()
            for i, html in enumerate(htmls):
                tr.doc = i
                got.append(tr.span("rules.evaluate",
                                   evaluator_mod.evaluate_document,
                                   compiled, html, skip_lowered=True))
            return time.perf_counter_ns() - t0, tr, got

    untraced, traced = [], []
    for rep in range(REPLAYS):
        # alternate which side of a pair runs first
        if rep % 2:
            ns, tr, got = traced_replay()
            u_ns, want = _evaluate_all(compiled, htmls)
        else:
            u_ns, want = _evaluate_all(compiled, htmls)
            ns, tr, got = traced_replay()
        untraced.append(u_ns)
        traced.append((ns, tr))
        bad = tr.nesting_errors()
        bad += [f"traced replay of document {i} returned another value"
                for i in range(len(htmls)) if got[i] != want[i]]
        if bad:
            raise RuntimeError("traced replay: " + "; ".join(bad[:5]))
    _, tracer = min(traced, key=lambda x: x[0])
    n = len(htmls)
    self_ns = tracer.self_ns()
    total = tracer.total_ns("rules.evaluate")
    if spans_path:
        tracer.write(spans_path)
    c = tracer.counts
    sel_calls = tracer.calls("selector.select")
    ms = 1e-6 / n
    select_ns = tracer.total_ns("selector.select")
    return {
        "dom.parse_ms_per_doc": tracer.total_ns("dom.parse") * ms,
        "dom.elements_per_doc": c["dom.elements"] / n,
        "dom.kb_per_doc": sum(len(h.encode() if isinstance(h, str) else h)
                              for h in htmls) / 1024 / n,
        "selector.index_ms_per_doc": tracer.total_ns("selector.index") * ms,
        "selector.select_ms_per_doc": select_ns * ms,
        "selector.calls_per_doc": sel_calls / n,
        "selector.pool_per_call": c["selector.scanned"] / max(1, sel_calls),
        "selector.match_ratio":
            c["selector.matches"] / max(1, c["selector.scanned"]),
        "rules.compile_ms": compile_ns[len(compile_ns) // 2] / 1e6,
        "rules.evaluate_ms_per_doc": total * ms,
        "rules.self_ms_per_doc": self_ns["rules.evaluate"] * ms,
        "functions.chain_calls_per_doc": tracer.calls("functions.chain") / n,
        "functions.chain_ms_per_doc": tracer.total_ns("functions.chain") * ms,
        "trace.spans": len(tracer.spans),
        "trace.overhead_share": statistics.median(
            t / u for (t, _), u in zip(traced, untraced)) - 1.0,
    }
