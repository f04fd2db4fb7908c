"""MediaWiki dump parsing + wikitext cleaning (ops/wikitext.py)."""
from __future__ import annotations

import bz2
import random
import time

import pytest

from goose_parser_spark.ops.wikitext import (
    iter_wiki_pages,
    wikitext_to_text,
)


def _page(pid, title, text, ns=0, redirect=None):
    r = (f'    <redirect title="{redirect}" />\n' if redirect else "")
    return (f"  <page>\n    <title>{title}</title>\n"
            f"    <ns>{ns}</ns>\n    <id>{pid}</id>\n{r}"
            f"    <revision>\n      <id>{pid * 7}</id>\n"
            f"      <text bytes=\"{len(text)}\" xml:space=\"preserve\""
            f">{text}</text>\n    </revision>\n  </page>\n")


def _dump(pages):
    return ("<mediawiki xml:lang=\"en\">\n" + "".join(pages)
            + "</mediawiki>\n").encode()


# ---------------------------------------------------------------------------
# cleaner unit behavior
# ---------------------------------------------------------------------------

def test_templates_nested_and_tables():
    s = "Intro {{cite|{{inner|x}}|y}} middle\n{| class=x\n|cell\n|}\nend"
    assert wikitext_to_text(s) == "Intro  middle\n\nend"


def test_links_and_labels():
    s = "[[Paris]] is in [[France|the Republic]]. See [http://x.org the site]."
    assert wikitext_to_text(s) == \
        "Paris is in the Republic. See the site."
    assert wikitext_to_text("[http://bare.example]") == ""


def test_file_links_with_nested_brackets_dropped():
    s = "A[[File:x.jpg|thumb|A [[caption]] here]]B"
    assert wikitext_to_text(s) == "AB"
    s2 = "[[Image:y.png|right]]text"
    assert wikitext_to_text(s2) == "text"


def test_refs_comments_quotes_headings_lists():
    s = ("== History ==\n'''Bold''' and ''italic''<ref>cite</ref>"
         "<ref name=a/>\n<!-- hidden -->\n* item one\n# item two\n"
         ": indented")
    assert wikitext_to_text(s) == \
        "History\nBold and italic\n\nitem one\nitem two\nindented"


def test_html_tags_stripped():
    assert wikitext_to_text("a<br/>b <div class=x>c</div>") == \
        "ab c"


# ---------------------------------------------------------------------------
# dump parsing
# ---------------------------------------------------------------------------

def test_iter_wiki_pages_fields():
    dump = _dump([
        _page(12, "Alpha &amp; Beta", "Body with [[link]]."),
        _page(13, "Old name", "#REDIRECT [[New name]]",
              redirect="New name"),
        _page(14, "Talk:Alpha", "discussion", ns=1),
    ])
    pages = list(iter_wiki_pages(dump))
    assert [p["page_id"] for p in pages] == [12, 13, 14]
    assert pages[0]["title"] == "Alpha & Beta"
    assert pages[0]["wikitext"] == "Body with [[link]]."
    assert pages[1]["redirect"] == "New name"
    assert pages[2]["ns"] == 1


def test_read_wiki_dump_spark(spark, tmp_path):
    from goose_parser_spark.ops.wikitext import read_wiki_dump
    d1 = _dump([_page(1, "One", "alpha {{t}} text")])
    d2 = _dump([_page(2, "Two", "beta"), _page(3, "Three", "gamma")])
    (tmp_path / "a.xml").write_bytes(d1)
    (tmp_path / "b.xml.bz2").write_bytes(bz2.compress(d2))
    df = read_wiki_dump(spark, str(tmp_path))
    rows = {r.page_id: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[3].title == "Three" and rows[2].wikitext == "beta"


def test_wiki_clean_spark_op(spark):
    from goose_parser_spark.ops.wikitext import wiki_clean
    df = spark.createDataFrame(
        [(1, "== T ==\n{{box|a}}\n'''X''' is [[Y|Z]]."),
         (2, None)],
        "page_id long, wikitext string")
    rows = {r.page_id: r for r in wiki_clean(df).collect()}
    assert rows[1].clean_text == "T\n\nX is Z."
    assert rows[1].n_templates == 1
    assert 2 not in rows  # NULL wikitext contributes no row


# ---------------------------------------------------------------------------
# fuzz
# ---------------------------------------------------------------------------

def test_fuzz_cleaner_linear_on_pathological_nesting():
    t0 = time.monotonic()
    wikitext_to_text("{{" * 200_000)
    wikitext_to_text("[[File:x|" + "[[" * 100_000)
    wikitext_to_text("{|" * 100_000 + "|}" * 100_000)
    wikitext_to_text("[[a|" * 100_000)
    assert time.monotonic() - t0 < 10


def test_fuzz_dump_parser_on_garbage():
    rnd = random.Random(3)
    t0 = time.monotonic()
    for n in (0, 10, 1000, 65536):
        blob = bytes(rnd.randrange(256) for _ in range(n))
        list(iter_wiki_pages(blob))
        list(iter_wiki_pages(b"<page>" + blob + b"</page>" * 3))
    assert time.monotonic() - t0 < 10


def test_multistream_bz2_dump_reads_all_pages(spark, tmp_path):
    """Wikipedia's standard dump is pages-articles-MULTISTREAM: many
    independent bz2 streams concatenated. All streams must decode
    (code-review finding: first-stream-only lost all but the first
    chunk of pages)."""
    from goose_parser_spark.ops.wikitext import read_wiki_dump
    s1 = _dump([_page(1, "One", "alpha")])
    s2 = _dump([_page(2, "Two", "beta"), _page(3, "Three", "gamma")])
    (tmp_path / "multi.xml.bz2").write_bytes(
        bz2.compress(s1) + bz2.compress(s2))
    rows = {r.page_id for r in read_wiki_dump(spark, str(tmp_path)).collect()}
    assert rows == {1, 2, 3}


def test_read_wiki_dump_skips_garbage_bz2_shard(spark, tmp_path):
    """A .xml.bz2 shard that is garbage after its BZh header is skipped
    whole; the intact shard beside it reads unchanged."""
    from goose_parser_spark.ops.wikitext import read_wiki_dump
    (tmp_path / "good.xml").write_bytes(
        _dump([_page(1, "One", "alpha"), _page(2, "Two", "beta")]))
    (tmp_path / "bad.xml.bz2").write_bytes(
        b"BZh9" + bytes(random.Random(5).randrange(256) for _ in range(512)))
    rows = sorted(tuple(r) for r in read_wiki_dump(spark, str(tmp_path))
                  .collect())
    assert rows == [(1, "One", 0, None, "alpha"), (2, "Two", 0, None, "beta")]


def test_read_wiki_dump_codec_from_magic_bytes(spark, tmp_path):
    """The codec comes from the content, not the name: gzip bytes under
    a plain .xml name inflate, beside an intact raw shard."""
    import gzip

    from goose_parser_spark.ops.wikitext import read_wiki_dump
    (tmp_path / "good.xml").write_bytes(_dump([_page(1, "One", "alpha")]))
    (tmp_path / "misnamed.xml").write_bytes(
        gzip.compress(_dump([_page(2, "Two", "beta")])))
    rows = sorted(tuple(r) for r in read_wiki_dump(spark, str(tmp_path))
                  .collect())
    assert rows == [(1, "One", 0, None, "alpha"), (2, "Two", 0, None, "beta")]
