"""HTML boilerplate-strip heuristic tests."""

import hashlib
import random
import time

from pdfplumber_golang_spark import spec
from pdfplumber_golang_spark.kernel.html_extract import (
    _SPLIT_RE,
    _needs_scan,
    _scan_tokens,
    extract_html_text,
)
from pdfplumber_golang_spark.kernel.htmlwrite import build_html

#: tag-soup atoms: odd shapes the corpus lacks, around raw text in particular
SOUP_ATOMS = [
    "<p>", "</p>", "<div>", "</div>", "<a href=x>", "</a>", "<A HREF='y'>", "</A>",
    "<nav>", "</nav>", "<menu>", "</menu>", "<head>", "</head>", "<title>", "</title>",
    "<br/>", "<br>", "<hr />", "<img src=a.png>", "<span>", "</span>", "<b>", "</b>",
    "<li>", "</li>", "<UL>", "</ul>", "<script>", "</script>", "<SCRIPT type=x>",
    "</Script >", "<style>", "</style>", "<style x=1/>", "<script src=a/>", "<script/>",
    "<script a='/'/>", "<!--", "-->", "<!-- c -->", "<!--</script>-->", "<a b='</style>'>",
    "<![CDATA[x<p>]]>", "<![CDATA[", "]]>", "<?php x ?>", "<!DOCTYPE html>",
    "<a href=x/>", "<a href='x'/>", "<a foo/>", "<a href= y/>", "<p/>", "<nav/>",
    "&amp;", "&lt;", "&#32;", "&nbsp;", "&bogus;", "<", ">", "/", '"', "'", "=", " ",
    "\n", "\t", "word", "text here", "more words", "\u00fcn\u00ef", "<custom-el>",
    "</custom-el>", '<x1 y="a>b">', "</\u017fcript>", "<\u017fcript>",
]
#: sha256 of the 20,000 seeded soups' outputs, '\x00'-joined, as the
#: positional-search scanner this one replaced produced them
SOUP_DIGEST = "0470a7cb4ea683eea882d8fc6d651323e0f330aa5dd5e23bcb3d8976bb72829e"


def _soups(n: int = 20000, seed: int = 13) -> list[str]:
    rng = random.Random(seed)
    return [
        "".join(rng.choice(SOUP_ATOMS) for _ in range(rng.randint(1, 30)))
        for _ in range(n)
    ]


def _corpus_html() -> list[bytes]:
    """Every HTML doc of the sf0.001 and sf0.01 corpora, as generated."""
    import duckdb

    docs = []
    for sf in ("sf0.001", "sf0.01"):
        rows = duckdb.sql(
            f"select doc_id, text from '/root/testdata/{sf}/documents.parquet'"
        ).fetchall()
        docs += [
            build_html(d, spec.body_of(d, t))
            for d, t in rows
            if spec.variant_of(d) == "html"
        ]
    return docs


def test_strips_nav_header_footer_script():
    html = b"""<html><head><title>T</title><script>x()</script></head><body>
    <nav><a href=/>Home</a> <a href=/x>X</a></nav>
    <header><h1>Site</h1></header>
    <p>Main content paragraph one.</p>
    <p>Second paragraph.</p>
    <footer><a href=/t>terms</a></footer></body></html>"""
    assert extract_html_text(html) == "Main content paragraph one.\nSecond paragraph."


def test_link_density_filter():
    html = b"""<body>
    <div><a href=/1>all</a> <a href=/2>links</a> <a href=/3>here</a></div>
    <div>real sentence with enough plain text to keep</div></body>"""
    assert extract_html_text(html) == "real sentence with enough plain text to keep"


def test_mixed_block_under_density_threshold_kept():
    html = b"<body><p>long plain text sentence <a href=/x>tiny</a> more plain text here</p></body>"
    out = extract_html_text(html)
    assert "long plain text sentence" in out and "tiny" in out


def test_generator_roundtrip_identity():
    body = "alpha beta gamma " * 20
    body = body.strip()
    got = extract_html_text(build_html(3, body))
    assert got == spec.html_golden(body)


def test_fast_scanner_parity_with_reference_parser():
    """The regex scanner must match the stdlib-HTMLParser implementation
    block-for-block on the full corpus and on adversarial shapes."""
    from pdfplumber_golang_spark.kernel.html_extract import (
        extract_html_text_reference,
    )

    for h in _corpus_html():
        assert extract_html_text(h) == extract_html_text_reference(h), h[:200]
    cases = [
        b"<p>unclosed <a href=x>all link text here and more and more</a>",
        b"<script>var x = '<p>not text</p>';</script><p>real body text</p>",
        b"<br/><p/>self closing <p>kept paragraph</p>",
        b"<!-- <p>comment</p> --><p>after comment</p>",
        # self-closing anchors: start+end in HTMLParser, must NOT leak
        # link_depth (ADVICE r1: fast path dropped everything after <a/>)
        b"<p>before <a/> plain text after the self-closing anchor stays</p>",
        b"<p>x <a href='y'/> plenty of plain words keep this block alive</p>",
        b'<p>x <a href="y" /> plenty of plain words keep this block alive</p>',
        # unquoted attr value ending in '/': HTMLParser treats as START tag
        b"<p><a href=x/>linklinklink</a> tail words enough to pass filter</p>",
        # whitespace before '/>': the unquoted value already ended, so the
        # '/' closes the tag — startendtag (ADVICE r2 medium: fast path
        # treated this as a start tag and leaked link_depth)
        b"<p>x <a href=y /> plenty of plain words keep this block alive</p>",
        b"<p>x <a href=y  /> extra space plain words keep this block ok</p>",
        # unquoted value CONTINUED after '=' whitespace: '/' is part of the
        # value "y/" in HTMLParser's tolerant attr regex -> START tag
        b"<p><a href= y/>linkvalue</a> tail words enough to pass filter</p>",
        b"<p><a href = y/>linkval</a> tail words enough to pass a filter</p>",
        b"<p><a href=/>slashvalue</a> tail words enough to pass a filter</p>",
        b'<p>x <a href=""/> plenty of plain words keep this block alive</p>',
        # valueless attribute before '/': startendtag in HTMLParser
        b"<p>before <a foo/> plenty of plain words keep this block alive</p>",
        b"<p>x <a href=y foo/> plenty of plain words keep this block y</p>",
        b"<nav data-x/><p>content after self-closing nav with attr kept</p>",
        # self-closing script must not swallow following text as raw-text
        b"<script/><p>content after a self-closing script element</p>",
        b"<nav/><p>content after a self-closing nav element is kept</p>",
        b"<P>UPPER</P>",
        b"<style>p { color: red }</style><p>visible words</p>",
        b"",
        b"<div>" * 50 + b"deep text" + b"</div>" * 50,
    ]
    for c in cases:
        assert extract_html_text(c) == extract_html_text_reference(c), c


def test_entities_and_misnesting_tolerated():
    html = b"<body><p>a &amp; b<div>next block</p></div></body>"
    out = extract_html_text(html)
    assert "a & b" in out and "next block" in out


def test_seeded_soups_match_previous_scanner_digest():
    """Odd shapes (stray "<", entities around raw text, self-closing
    script/style) are where the scanner and the stdlib reference part, so
    exactness there is pinned to the previous scanner's output."""
    soups = _soups()
    assert sum(map(_needs_scan, soups)) > 1000  # the positional path runs
    out = "\x00".join(extract_html_text(s) for s in soups)
    assert hashlib.sha256(out.encode()).hexdigest() == SOUP_DIGEST


def test_split_tokens_equal_positional_scan():
    """Where no script/style start tag ends in a non-closing "/", the one
    split and the positional search give the same token list."""
    docs = _soups() + [h.decode("utf-8") for h in _corpus_html()]
    checked = 0
    for s in docs:
        if not _needs_scan(s):
            assert _SPLIT_RE.split(s) == _scan_tokens(s), s[:200]
            checked += 1
    assert checked > 10000
    assert _needs_scan("<script src=a.js/>") and not _needs_scan("<script src=a.js />")


def test_unmatched_closing_tags_deep_stack_linear():
    """Closing a tag that is not open costs O(1), not a scan of the open
    stack: 20,000 open spans then 20,000 stray closes (200 KB)."""
    doc = "<p>" + "<span>" * 20000 + "</b>" * 20000 + "kept words</p>"
    t0 = time.perf_counter()
    out = extract_html_text(doc)
    assert time.perf_counter() - t0 < 1.0
    assert out == "kept words"
