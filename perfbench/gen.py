"""Seeded input generators for the benchmark workloads.

Each generator writes the files the program reads (parquet pages, WARC
shards or curation documents) and returns a plan: the expected output
of every document, the exact set of planted poison documents, and for
the curation corpus the documents curation must keep. The plan never reaches the program; the
benchmark checks the program's output against it.

Work per input is held fixed across seeds: heavy-tailed quantities
(cards per listing page, boilerplate size per article) are drawn from a
fixed set of quantiles that the seed only permutes, poison counts are
exact shares, and files are dealt so each carries the same share of
heavy pages. A different seed changes which documents are heavy and
what they contain, not how much work a run does, so run-to-run spread
measures the engine and the host rather than the draw.
"""

from __future__ import annotations

import gzip
import io
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from goose_parser_spark.sources.warc import write_warc_bytes

MONTH_NAMES = ("January", "February", "March", "April", "May", "June",
               "July", "August", "September", "October", "November",
               "December")
MONTHS = tuple(m[:3] for m in MONTH_NAMES)


def canon(value: object) -> str | None:
    """JSON text as Spark's ``to_json`` prints it (compact, rule order,
    no ASCII escaping); None for a NULL document."""
    if value is None:
        return None
    return json.dumps(value, ensure_ascii=False, separators=(",", ":"))


def heavy_tail(n: int, xmin: float, alpha: float, cap: int) -> list[int]:
    """``n`` Pareto(xmin, alpha) quantiles, capped: a fixed multiset
    for every seed."""
    return [min(cap, max(1, round(xmin * (1.0 - (i + 0.5) / n)
                                  ** (-1.0 / alpha))))
            for i in range(n)]


def _word(rng: random.Random, syllables: tuple[str, ...], k: int) -> str:
    return "".join(rng.choice(syllables) for _ in range(k))


_SYL = ("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "qu",
        "da", "fe", "gi", "hu", "ja", "bo", "ce", "wy", "xo")


@dataclass
class Plan:
    """What the program must produce for the generated inputs."""
    docs: int
    expected: dict = field(default_factory=dict)   # url -> JSON or None
    poison: dict = field(default_factory=dict)     # kind -> [url, ...]
    error_urls: list = field(default_factory=list)  # docs that must error
    survivors: set = field(default_factory=set)    # doc_ids curation keeps
    stats: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# listing_grids: parquet listing pages, heavy-tailed card counts
# ---------------------------------------------------------------------------

LISTING_GRID = {"scope": "div.card", "collection": [[
    {"name": "sku", "attr": "data-id"},
    {"name": "title", "scope": "h3.t a", "transform": [{"type": "trim"}]},
    {"name": "href", "scope": "h3.t a", "attr": "href"},
    {"name": "price", "scope": "span.price",
     "transform": [{"type": "replace", "re": ["[^0-9.]", "g"], "to": ""}]},
    {"name": "date", "scope": "span.date",
     "transform": [{"type": "date", "from": "D MMM YYYY",
                    "to": "YYYY-MM-DD"}]},
    {"name": "tags", "scope": "ul.tags li", "type": "array"},
    {"name": "tag_line", "scope": "ul.tags li", "type": "array",
     "transform": [{"type": "join", "glue": "|"}]},
    {"name": "brand", "scope": "div.meta",
     "transform": [{"type": "split", "separator": "|"},
                   {"type": "pick", "index": 0},
                   {"type": "replace", "re": "^brand:", "to": ""}]},
    {"name": "color", "scope": "div.meta",
     "transform": [{"type": "trim"}, {"type": "split", "separator": "|"},
                   {"type": "pick", "index": 1}]},
]]}

# One guarded branch: pages without the listing container ("no
# results" pages) yield NULL. A single branch keeps native lowering on.
LISTING_RULES = {"actions": [{"type": "cases", "cases": [[
    {"type": "exist", "scope": "div.listing"},
    {"type": "provideRules", "rules": LISTING_GRID},
]]}]}

_NOUNS = ("lamp", "chair", "kettle", "boot", "scarf", "drill", "mug",
          "tent", "desk", "clock", "radio", "bike", "vase", "rug", "pan")
_ADJS = ("red", "compact", "vintage", "smart", "heavy", "café", "deluxe",
         "eco", "mini", "pro", "quiet", "rugged", "soft", "tall", "wide")
_COLORS = ("red", "blue", "green", "black", "white", "grey", "teal")
_BRANDS = ("Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay")
_TAGS = ("sale", "new", "eco", "gift", "bulk", "clearance", "local",
         "premium", "handmade", "refurb")


# Cards per page follow Pareto(6, 1.25) up to 400. These are synthetic
# choices, not fitted to measured traffic: the tail reaches 400 cards so
# the largest pages sit where a multi-step selector's per-card cost has
# grown several-fold (README.md gives the measured cost per card).
MAX_CARDS = 400


def _card(rng: random.Random, sku: str) -> tuple[str, dict]:
    title = f"{rng.choice(_ADJS).capitalize()} {rng.choice(_NOUNS)} {sku[-4:]}"
    pad_l = " " * rng.randint(0, 3) + ("\n" if rng.random() < 0.3 else "")
    pad_r = " " * rng.randint(0, 3)
    href = f"/p/{sku}?ref=grid&amp;pos={rng.randint(1, 99)}"
    price = f"{rng.randint(1, 999)}.{rng.randint(0, 99):02d}"
    price_txt = rng.choice(("USD ", "$", "US$ ")) + price
    if rng.random() < 0.05:
        date_txt, date = "n/a", "Invalid date"
    else:
        y, m, d = rng.randint(2015, 2025), rng.randint(1, 12), rng.randint(1, 28)
        date_txt, date = f"{d} {MONTHS[m - 1]} {y}", f"{y:04d}-{m:02d}-{d:02d}"
    tags = rng.sample(_TAGS, rng.randint(0, 5))
    brand, color = rng.choice(_BRANDS), rng.choice(_COLORS)
    html = (
        f'<div class="card" data-id="{sku}">'
        f'<h3 class="t"><a href="{href}">{pad_l}{title}{pad_r}</a></h3>'
        f'<span class="price">{price_txt}</span>'
        f'<span class="date">{date_txt}</span>'
        '<ul class="tags">' + "".join(f"<li>{t}</li>" for t in tags) + "</ul>"
        f'<div class="meta">brand:{brand}|color:{color}</div>'
        f'<a class="more" href="/p/{sku}#reviews">reviews</a>'
        "</div>")
    value = {"sku": sku, "title": title,
             "href": href.replace("&amp;", "&"), "price": price,
             "date": date, "tags": tags, "tag_line": "|".join(tags),
             "brand": brand, "color": f"color:{color}"}
    return html, value


def _listing_page(rng: random.Random, page: int, n_cards: int,
                  truncate_at: int | None) -> tuple[str, list]:
    head = ('<!DOCTYPE html><html><head><meta charset="utf-8">'
            f"<title>Shop page {page}</title></head><body>"
            '<div class="hdr"><ul class="nav">'
            + "".join(f'<li><a href="/c/{c}">{c}</a></li>' for c in _NOUNS)
            + '</ul></div><div class="listing" id="results">')
    cards, values = [], []
    for k in range(n_cards):
        html, value = _card(rng, f"P{page:06d}-{k:04d}")
        cards.append(html)
        values.append(value)
    tail = ('</div><div class="ftr"><ul class="links">'
            + "".join(f'<li><a href="/help/{t}">{t}</a></li>' for t in _TAGS)
            + "</ul></div></body></html>")
    if truncate_at is not None:
        # the capture ends right after a card: closing tags are missing
        return head + "".join(cards[:truncate_at]), values[:truncate_at]
    return head + "".join(cards) + tail, values


def deal(weights: list[float], bins: int, rng: random.Random) -> list[list[int]]:
    """Indices dealt heaviest-first in snake order over ``bins``, then
    shuffled within each bin: every bin (file, shard) carries the same
    share of heavy inputs whatever the seed."""
    order = sorted(range(len(weights)), key=lambda i: (-weights[i], rng.random()))
    out: list[list[int]] = [[] for _ in range(bins)]
    for k, i in enumerate(order):
        lap, pos = divmod(k, bins)
        out[pos if lap % 2 == 0 else bins - 1 - pos].append(i)
    for b in out:
        rng.shuffle(b)
    return out


def gen_listing(out_dir: str, seed: int, pages: int, files: int) -> Plan:
    """Listing pages as parquet (``url, html``), ``files`` files of
    equal weight. Poison pages come on top of a fixed card multiset:
    NULL html (must error), empty html and "no results" pages (NULL
    output), and pages truncated after a card."""
    rng = random.Random(f"listing/{seed}")
    poison = (["null"] * max(1, pages // 100) + ["empty"] * max(1, pages // 200)
              + ["truncated"] * max(1, pages // 100)
              + ["no_results"] * max(1, pages // 50))
    kinds = [None] * (pages - len(poison)) + poison
    counts = heavy_tail(pages - len(poison), xmin=6, alpha=1.25,
                        cap=MAX_CARDS) + [12] * len(poison)
    perm = list(range(pages))
    rng.shuffle(perm)
    kinds = [kinds[i] for i in perm]
    counts = [counts[i] for i in perm]
    plan = Plan(docs=pages)
    urls, htmls = [], []
    for p in range(pages):
        url = f"https://shop{p % 37}.example/list/{seed}/{p}"
        kind = kinds[p]
        if kind == "null":
            html, value = None, None
            plan.error_urls.append(url)
        elif kind == "empty":
            html, value = "", None
        elif kind == "no_results":
            html = ('<html><body><div class="hdr">nothing</div>'
                    '<p class="empty">No results.</p></body></html>')
            value = None
        else:
            cut = rng.randrange(counts[p]) if kind == "truncated" else None
            html, value = _listing_page(rng, p, counts[p], cut)
        if kind is not None:
            plan.poison.setdefault(kind, []).append(url)
        urls.append(url)
        htmls.append(html)
        plan.expected[url] = canon(value)
    plan.stats = {"card_counts": sorted(counts)}
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("html", pa.string())])
    # per-page cost grows with the square of its cards
    for f, part in enumerate(deal([c * c for c in counts], files, rng)):
        table = pa.table({"url": [urls[i] for i in part],
                          "html": [htmls[i] for i in part]}, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{f:03d}.parquet"),
                       compression="snappy")
    return plan


# ---------------------------------------------------------------------------
# crawl_job: Common-Crawl-layout WARC shards of large article pages
# ---------------------------------------------------------------------------

# Flat rule tree: every selector is one tag.class compound, so the
# selector engine stays on its single-compound fast path.
ARTICLE_RULES = {"collection": [
    {"name": "title", "scope": "h1.headline"},
    {"name": "author", "scope": "span.byline", "transform": [{"type": "trim"}]},
    {"name": "published", "scope": "time.pub", "attr": "datetime"},
    {"name": "day", "scope": "time.pub",
     "transform": [{"type": "date", "from": "YYYY-MM-DD",
                    "to": "D MMMM YYYY"}]},
    {"name": "section", "scope": "a.section"},
    {"name": "paras", "scope": "p.para", "type": "array"},
    {"name": "keywords", "scope": "meta.kw", "attr": "content",
     "transform": [{"type": "split", "separator": ","}]},
]}


def _boilerplate_pool(rng: random.Random, n: int = 256) -> list[str]:
    """Nav, sidebar and footer blocks of about 600 bytes each: elements
    the rules never read, which the tokenizer and tree build still pay
    for."""
    pool = []
    for _ in range(n):
        w = _word(rng, _SYL, 3)
        pool.append(f'<div class="blk-{w}"><ul class="menu">'
                    + "".join(f'<li class="it"><a href="/{w}/{j}" '
                              f'title="{w} {j}">{w} item {j}</a></li>'
                              for j in range(8))
                    + f'</ul><span class="promo">{w} offer</span></div>')
    return pool


def _boilerplate(rng: random.Random, pool: list[str], kb: int) -> str:
    out, size = [], 0
    while size < kb * 1024:
        block = rng.choice(pool)
        out.append(block)
        size += len(block)
    return "".join(out)


def _paragraphs(rng: random.Random) -> list[str]:
    return [" ".join(_word(rng, _SYL, rng.randint(1, 4))
                     for _ in range(rng.randint(20, 60)))
            for _ in range(rng.randint(3, 12))]


def _article(rng: random.Random, pool: list[str], kb: int, paras: list[str],
             truncate: bool, bad_utf8: bool) -> tuple[bytes, dict]:
    title = " ".join(_word(rng, _SYL, rng.randint(2, 4))
                     for _ in range(rng.randint(3, 7))).capitalize()
    author = "By " + " ".join(_word(rng, _SYL, 2).capitalize() for _ in range(2))
    published = (f"{rng.randint(2016, 2025)}-{rng.randint(1, 12):02d}-"
                 f"{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:00:00Z")
    section = rng.choice(("World", "Tech", "Sport", "Culture", "Économie"))
    keywords = [_word(rng, _SYL, 2) for _ in range(rng.randint(1, 5))]
    title_bytes = title.encode()
    if bad_utf8:
        # invalid bytes inside the headline: decoded with U+FFFD
        title_bytes = title.encode() + b" \xff\xfe" + b"end"
    half = kb // 2
    head = (b'<!DOCTYPE html><html><head><meta charset="utf-8">'
            + f'<meta class="kw" name="keywords" content="{",".join(keywords)}">'
            .encode() + b"<title>" + title_bytes + b"</title></head><body>"
            + _boilerplate(rng, pool, half).encode()
            + b'<article><h1 class="headline">' + title_bytes + b"</h1>"
            + f'<span class="byline">  {author} </span>'
              f'<time class="pub" datetime="{published}">{published[:10]}'
              f'</time><a class="section" href="/s">{section}</a>'.encode())
    kept = paras
    if truncate:
        kept = paras[:rng.randint(1, len(paras) - 1)]
    body = "".join(f'<p class="para">{p}</p>' for p in kept).encode()
    if truncate:
        html = head + body  # capture cut after a paragraph
    else:
        html = (head + body + b"</article>"
                + _boilerplate(rng, pool, kb - half).encode() + b"</body></html>")
    y, m, d = (int(x) for x in published[:10].split("-"))
    value = {"title": title_bytes.decode("utf-8", "replace"),
             "author": author, "published": published,
             "day": f"{d} {MONTH_NAMES[m - 1]} {y}", "section": section,
             "paras": kept, "keywords": keywords}
    return html, value


def _chunked(body: bytes, rng: random.Random) -> bytes:
    out, pos = [], 0
    while pos < len(body):
        n = rng.randint(512, 8192)
        piece = body[pos:pos + n]
        out.append(f"{len(piece):x}\r\n".encode() + piece + b"\r\n")
        pos += n
    return b"".join(out) + b"0\r\n\r\n"


def _http_response(body: bytes, rng: random.Random, encoding: str) -> bytes:
    headers = ["HTTP/1.1 200 OK", "Content-Type: text/html; charset=utf-8",
               "Server: nginx"]
    if encoding in ("gzip", "gzip+chunked"):
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(body)
        body = buf.getvalue()
        headers.append("Content-Encoding: gzip")
    if encoding in ("chunked", "gzip+chunked"):
        body = _chunked(body, rng)
        headers.append("Transfer-Encoding: chunked")
    else:
        headers.append(f"Content-Length: {len(body)}")
    return ("\r\n".join(headers) + "\r\n\r\n").encode() + body


def gen_crawl(out_dir: str, seed: int, docs: int, shards: int) -> Plan:
    """``shards`` ``.warc.gz`` files of equal weight, one gzip member
    per record; each capture is a request, a response and a metadata
    record."""
    rng = random.Random(f"crawl/{seed}")
    ids = list(range(docs))
    rng.shuffle(ids)
    kinds: dict[int, str] = {}
    for kind in ("empty", "bad_utf8", "truncated"):
        for _ in range(max(1, docs // 100)):
            kinds[ids.pop()] = kind
    # boilerplate KiB: a fixed multiset over the pages that have a body
    bodies = [d for d in range(docs) if kinds.get(d) != "empty"]
    kbs = heavy_tail(len(bodies), xmin=8, alpha=1.6, cap=160)
    rng.shuffle(kbs)
    sizes = [0] * docs
    for d, kb in zip(bodies, kbs):
        sizes[d] = kb
    plan = Plan(docs=docs, stats={"boilerplate_kb": sorted(kbs)})
    encodings = ["identity"] * docs
    for i in ids[: docs // 4]:
        encodings[i] = "chunked"
    for i in ids[docs // 4: docs // 2]:
        encodings[i] = "gzip"
    for i in ids[docs // 2: docs // 2 + docs // 8]:
        encodings[i] = "gzip+chunked"
    pool = _boilerplate_pool(rng)
    records: list[list[dict]] = [[] for _ in range(shards)]
    shard_of = {}
    for s, part in enumerate(deal(sizes, shards, rng)):
        shard_of.update((d, s) for d in part)
    order = list(range(docs))
    rng.shuffle(order)
    for d in order:
        url = f"https://news{d % 53}.example/{seed}/a/{d}"
        ts = f"2025-{1 + d % 12:02d}-{1 + d % 28:02d}T{d % 24:02d}:00:00Z"
        kind = kinds.get(d)
        if kind == "empty":
            html, value = b"", None
            plan.error_urls.append(url)
        else:
            html, value = _article(rng, pool, sizes[d], _paragraphs(rng),
                                   kind == "truncated", kind == "bad_utf8")
        if kind is not None:
            plan.poison.setdefault(kind, []).append(url)
        plan.expected[url] = canon(value)
        shard = records[shard_of[d]]
        shard.append({"url": url, "warc_ts": ts, "record_type": "request",
                      "http": False, "content_type": "application/http; "
                      "msgtype=request",
                      "payload": f"GET /{d} HTTP/1.1\r\nHost: x\r\n\r\n"
                      .encode()})
        shard.append({"url": url, "warc_ts": ts, "record_type": "response",
                      "http": False,
                      "content_type": "application/http; msgtype=response",
                      "payload": _http_response(html, rng, encodings[d])})
        shard.append({"url": url, "warc_ts": ts, "record_type": "metadata",
                      "http": False, "content_type": "application/warc-fields",
                      "payload": f"fetchTimeMs: {d % 997}\r\n".encode()})
    os.makedirs(out_dir, exist_ok=True)
    for s, recs in enumerate(records):
        with open(os.path.join(out_dir, f"CC-{s:05d}.warc.gz"), "wb") as fh:
            fh.write(write_warc_bytes(recs, gzip_members=True))
    return plan



# ---------------------------------------------------------------------------
# curation corpus: documents with planted exact and near duplicates
# ---------------------------------------------------------------------------

_STOP = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


def _prose(rng: random.Random, vocab: list[str], n_words: int) -> list[str]:
    """Content words from a large vocabulary with a stopword after about
    one word in four, never two stopwords in a row: shared word 3-grams
    between unrelated documents stay rare, so LSH candidates come from
    the planted duplicates."""
    out: list[str] = []
    for _ in range(n_words):
        out.append(rng.choice(vocab))
        if rng.random() < 0.28:
            out.append(rng.choice(_STOP))
    return out


def gen_curate(out_dir: str, seed: int, originals: int, files: int) -> Plan:
    """``doc_id, text, source`` parquet. A fifth of the originals get an
    exact copy, half of them differing only in whitespace that
    ``--clean`` folds; three in ten get one or two near copies (four
    words replaced: word-3-gram Jaccard about 0.8); one document in
    twenty-one is junk that fails the quality filter.
    ``plan.survivors`` holds the smallest doc_id of each family."""
    rng = random.Random(f"curate/{seed}")
    vocab = sorted({_word(rng, _SYL, rng.randint(2, 4)) + str(rng.randint(0, 9))
                    for _ in range(60000)})
    texts: list[str] = []
    family: list[int] = []
    for f in range(originals):
        words = _prose(rng, vocab, rng.randint(90, 200))
        base = " ".join(words)
        texts.append(base)
        family.append(f)
        r = f % 10
        if r < 2:
            texts.append(base if f % 4 else base.replace(" ", "  \t", 3))
            family.append(f)
        elif r < 5:
            for _ in range(1 + (r == 4)):
                w = list(words)
                for _ in range(4):
                    w[rng.randrange(len(w))] = rng.choice(vocab)
                texts.append(" ".join(w))
                family.append(f)
    for _ in range(originals // 20):
        texts.append(" ".join(f"{rng.randint(0, 99999)}-{rng.randint(0, 999)}#"
                              for _ in range(rng.randint(40, 120))))
        family.append(-1)
    n = len(texts)
    doc_ids = rng.sample(range(1, 50 * n), n)
    best: dict[int, int] = {}
    for i in range(n):
        if family[i] >= 0:
            best[family[i]] = min(best.get(family[i], doc_ids[i]), doc_ids[i])
    plan = Plan(docs=n, survivors=set(best.values()))
    plan.poison = {"junk": [doc_ids[i] for i in range(n) if family[i] < 0]}
    sources = [("web", "books", "news")[i % 3] for i in range(n)]
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("source", pa.string())])
    order = list(range(n))
    rng.shuffle(order)
    for k in range(files):
        part = order[k::files]
        pq.write_table(pa.table({"doc_id": [doc_ids[i] for i in part],
                                 "text": [texts[i] for i in part],
                                 "source": [sources[i] for i in part]},
                                schema=schema),
                       os.path.join(out_dir, f"part-{k:03d}.parquet"))
    return plan
