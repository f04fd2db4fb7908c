"""Main-content extraction (boilerplate strip) + PDF plumbing."""

import pytest

from goose_parser_spark.ops.layout import extract_pdf_pages, parse_pdf_stub
from goose_parser_spark.ops.maincontent import extract_main_content, main_content

ARTICLE = ("The quick brown goose jumped over the lazy crawler and "
           "wrote a long and informative article about web extraction "
           "engines that scale to a trillion documents without breaking.")

LAYOUTS = [
    # classic: nav + sidebar + article + footer
    ('<div class="nav"><a href="/">Home</a><a href="/x">News</a></div>'
     '<article><p>{A}</p></article>'
     '<div class="footer">© <a href="/t">Terms</a></div>'),
    # article via id hint, wrapped in a page container div
    ('<div id="page"><div id="header"><a href="/">logo</a></div>'
     '<div id="main-content"><p>{A}</p></div>'
     '<div id="sidebar"><a href="/a">a</a><a href="/b">b</a></div></div>'),
    # table layout (td candidates)
    ('<table><tr><td class="menu"><a href="/1">one</a><a href="/2">two</a></td>'
     "<td>{A}</td></tr></table>"),
    # comment section after content
    ('<section class="post-body">{A}</section>'
     '<section class="comments"><a href="/u1">user1</a> nice post '
     '<a href="/u2">user2</a> thanks for sharing this</section>'),
]


@pytest.mark.parametrize("layout", LAYOUTS)
def test_main_content_recovers_article(layout):
    html = f"<html><body>{layout.format(A=ARTICLE)}</body></html>"
    text, score = main_content(html)
    assert ARTICLE in text, text[:120]
    # chrome must be stripped
    for junk in ("Home", "Terms", "logo", "user1"):
        assert junk not in text


def test_main_content_plain_text_fallback():
    text, score = main_content("<html><body>just words</body></html>")
    assert "just words" in text


def test_main_content_wrapper_does_not_beat_article():
    # outer div contains article + junk; deepest-wins tie-break plus
    # link-density must pick the article
    html = ('<html><body><div class="wrapper">'
            '<div class="ads"><a href="/buy">BUY NOW!!</a></div>'
            f'<article class="content"><p>{ARTICLE}</p></article>'
            "</div></body></html>")
    text, _ = main_content(html)
    assert text == ARTICLE


def test_extract_main_content_dataframe(spark):
    rows = [("u1", f"<html><body>{LAYOUTS[0].format(A=ARTICLE)}</body></html>".encode()),
            ("u2", None)]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = {r["url"]: r for r in extract_main_content(df).collect()}
    assert ARTICLE in out["u1"]["main_text"]
    assert out["u1"]["error"] is None and out["u1"]["content_score"] > 0
    assert out["u2"]["error"] is not None


def test_pdf_stub_contract():
    pages = parse_pdf_stub(b"x" * 1100)
    assert [len(p) for p in pages] == [512, 512, 76]
    assert parse_pdf_stub(b"") == [""]


def test_extract_pdf_pages_dataframe(spark):
    rows = [(1, bytearray(b"a" * 700)), (2, bytearray(b"b" * 100)), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = extract_pdf_pages(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 2 and by_doc[1][0]["n_pages"] == 2
    assert len(by_doc[2]) == 1
    assert 3 not in by_doc  # NULL payload skipped
    assert sorted(r["page_no"] for r in by_doc[1]) == [0, 1]


def test_html_to_markdown_structure():
    from goose_parser_spark.ops.maincontent import html_to_markdown
    html = ('<html><head><style>x{}</style></head><body>'
            '<h1>T</h1><p>Hi <a href="/x">lnk</a> and <b>bold</b>.</p>'
            '<ul><li>a</li><li>b</li></ul>'
            '<ol><li>one</li><li>two</li></ol>'
            '<table><tr><th>k</th></tr><tr><td>v</td></tr></table>'
            '<blockquote><p>q</p></blockquote>'
            '<pre>c</pre><hr><h2>S</h2></body></html>')
    md = html_to_markdown(html)
    assert md.startswith("# T\n\nHi [lnk](/x) and **bold**.")
    assert "- a\n- b" in md
    assert "1. one\n2. two" in md
    assert "| k |\n|---|\n| v |" in md
    assert "> q" in md
    assert "```\nc\n```" in md
    assert "\n\n---\n\n## S" in md
    assert "style" not in md


def test_extract_markdown_spark_maponly(spark):
    from goose_parser_spark.ops.maincontent import extract_markdown
    pages = spark.createDataFrame(
        [("u1", "<html><body><h1>A</h1><p>b</p></body></html>"),
         ("u2", None)],
        "url string, html string")
    out = extract_markdown(pages)
    rows = {r["url"]: r for r in out.collect()}
    assert rows["u1"]["markdown"] == "# A\n\nb"
    assert rows["u2"]["error"] is not None      # poison isolation
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _build_pdf(pages_content: list[bytes], compress: bool = True) -> bytes:
    """Author a minimal classic-layout PDF: catalog → pages → kids,
    one (optionally Flate) content stream per page."""
    import zlib
    objs: list[bytes] = []
    n_pages = len(pages_content)
    kid_nums = [3 + 2 * i for i in range(n_pages)]
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    kids = b" ".join(b"%d 0 R" % k for k in kid_nums)
    objs.append(b"<< /Type /Pages /Kids [" + kids +
                b"] /Count %d >>" % n_pages)
    for i, content in enumerate(pages_content):
        objs.append(b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R >>"
                    % (kid_nums[i] + 1))
        data = zlib.compress(content) if compress else content
        filt = b" /Filter /FlateDecode" if compress else b""
        objs.append(b"<< /Length %d%s >>\nstream\n" % (len(data), filt)
                    + data + b"\nendstream")
    out = [b"%PDF-1.4"]
    for num, body in enumerate(objs, start=1):
        out.append(b"%d 0 obj\n" % num + body + b"\nendobj")
    out.append(b"%%EOF")
    return b"\n".join(out)


def test_parse_pdf_text_real_documents():
    """Real (authored) PDFs: Flate + raw streams, literal/hex strings,
    escapes, TJ kerning, multi-page order via the page tree."""
    from goose_parser_spark.ops.layout import parse_pdf_text
    p1 = (b"BT /F1 12 Tf 72 720 Td (Hello) Tj ( ) Tj "
          b"[(Wor) -300 (ld)] TJ T* (Next line) Tj ET")
    p2 = (b"BT 72 720 Td <48656C6C6F20686578> Tj "
          b"(esc \\(paren\\) \\101 and \\\\slash) ' ET")
    pdf = _build_pdf([p1, p2])
    pages = parse_pdf_text(pdf)
    assert len(pages) == 2
    assert pages[0] == "Hello Wor ld\nNext line"
    assert pages[1].startswith("Hello hex")
    assert "esc (paren) A and \\slash" in pages[1]
    # raw (uncompressed) stream variant
    raw = parse_pdf_text(_build_pdf([b"BT (plain) Tj ET"],
                                    compress=False))
    assert raw == ["plain"]


def test_parse_pdf_text_rejects_unsupported():
    from goose_parser_spark.ops.layout import parse_pdf_text
    with pytest.raises(ValueError):
        parse_pdf_text(b"%PDF-1.7 garbage with no objects")
    with pytest.raises(ValueError):
        parse_pdf_text(_build_pdf([b"BT (x) Tj ET"]) + b" /Encrypt ")


def test_extract_pdf_pages_real_and_poison(spark):
    """The DataFrame op routes %PDF- payloads to the real parser;
    a poison PDF lands as one page_no=-1 NULL-text row."""
    from goose_parser_spark.ops.layout import extract_pdf_pages
    good = _build_pdf([b"BT (page one) Tj ET", b"BT (page two) Tj ET"])
    rows = [(1, bytearray(good)),
            (2, bytearray(b"%PDF-1.4 truncated")),
            (3, bytearray(b"not a pdf at all"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {}
    for r in extract_pdf_pages(df).collect():
        out.setdefault(r["doc_id"], []).append(r)
    texts = [r["page_text"] for r in
             sorted(out[1], key=lambda r: r["page_no"])]
    assert texts == ["page one", "page two"]
    assert out[2][0]["page_no"] == -1 and out[2][0]["page_text"] is None
    assert out[3][0]["n_pages"] == 1  # fake-split path for non-PDF
