"""Pure-core tests: extractor vs goldens-by-construction (no Spark).

Mirrors the reference's golden-fixture practice
(/root/reference/python_files/outputs/*.json): the fixture factory composes
pages and derives expected output from its own layout arithmetic; the
extractor must independently recover byte-identical text from the HTML alone.
"""

from ocr_machine_spark.core.extract import extract_one
from ocr_machine_spark.core.htmlparse import render_page
from ocr_machine_spark.fixtures import gen_pages

N = 300


def test_render_whitespace_policy():
    raw, blocks = render_page("<p>  a   b </p><p>c</p>")
    assert raw == "a b\nc"
    assert [(b.start, b.end) for b in blocks] == [(0, 3), (4, 5)]


def test_render_skips_script_style_head():
    raw, _ = render_page("<head><title>t</title></head><script>x=1</script><p>hi</p><style>.a{}</style>")
    assert raw == "hi"


def test_render_entities_and_br():
    raw, _ = render_page("<p>a &amp; b<br>c</p>")
    assert raw == "a & b\nc"


def test_render_malformed_unclosed():
    raw, blocks = render_page("<p>one<p>two<li>three")
    assert raw == "one\ntwo\nthree"
    assert len(blocks) == 3


def test_extract_struck_removed():
    r = extract_one(b"<p>keep this part <del>drop these words</del> and this tail end too</p>")
    assert r.ok
    assert r.extracted_text == "keep this part and this tail end too"
    assert [t[2] for t in r.removed_spans] == ["struck"]
    s, e, _ = r.removed_spans[0]
    assert r.raw_text[s:e] == " drop these words"


def test_struck_merge_never_swallows_visible_text():
    # regression (ADVICE r1): the old merge rule `end >= start - 1` merged
    # across ANY 1-char gap, so the visible 'y' between two <del> runs was
    # excised as if struck
    r = extract_one(b"<p>alpha beta gamma delta <del>x</del>y<del>z</del> tail words</p>")
    assert r.ok
    assert "y" in r.extracted_text
    assert r.extracted_text == "alpha beta gamma delta y tail words"
    # but two struck runs separated only by a renderer separator still merge
    r2 = extract_one(b"<p>alpha beta gamma delta <del>x</del> <del>z</del> tail words</p>")
    assert r2.extracted_text == "alpha beta gamma delta tail words"


def test_block_goldens_match_extractor():
    """The per-block goldens (fixtures.make_page, computed by construction)
    must equal the extractor's block layer field-for-field — this is what
    licenses the DuckDB golden twins for every blocks/region/profile query."""
    from ocr_machine_spark.fixtures import make_page

    for i in range(250):
        p = make_page(i)
        r = extract_one(p.html, want_blocks=True)
        assert r.ok
        got = [
            (b["block_type"], b["n_words"], b["is_content"], b["kind"], b["reason"],
             b["start"], b["end"], b["row_idx"], b["col_idx"],
             "COLUMN_HEADER" in b["entity_types"])
            for b in r.blocks
        ]
        exp = [
            (b["block_type"], b["n_words"], b["is_content"], b["kind"], b["reason"],
             b["start"], b["end"], b["row_idx"], b["col_idx"], b["header"])
            for b in p.blocks
        ]
        assert got == exp, f"page {i}"


def test_extract_boilerplate_gates():
    html = (
        b"<nav><ul><li><a href='/'>home</a></li></ul></nav>"
        b"<p>this paragraph has plenty of words to pass the content gate</p>"
        b"<footer>copyright words and more words</footer>"
    )
    r = extract_one(html)
    assert r.extracted_text == "this paragraph has plenty of words to pass the content gate"
    reasons = {t[2] for t in r.removed_spans}
    assert reasons == {"boilerplate"}


def test_extract_malformed_survives():
    r = extract_one(None)
    assert not r.ok and r.error
    r = extract_one(b"")
    assert not r.ok
    r = extract_one(b"\xff\xfe\x00garbage<<<>>")
    assert r.ok  # decode errors='replace' keeps the row alive


def test_goldens_match_extractor():
    """The core correctness gate: byte-identical extracted text per url."""
    pages = gen_pages(N)
    n_empty = n_struck = n_table = 0
    for p in pages:
        r = extract_one(p.html)
        assert r.ok, (p.url, r.error)
        assert r.raw_text == p.text, p.url
        assert r.extracted_text == p.extracted_text, p.url
        assert r.spans == p.spans, p.url
        assert r.removed_spans == p.removed_spans, p.url
        assert r.has_table == p.has_table and r.has_figure == p.has_figure
        n_empty += not p.extracted_text
        n_struck += any(t[2] == "struck" for t in p.removed_spans)
        n_table += p.has_table
    # the corpus exercises every fixture case
    assert n_empty > 0 and n_struck > 0 and n_table > 0


def test_fast_parser_matches_stdlib():
    """Differential: the single-pass tokenizer+renderer and the stdlib tree
    oracle produce the same rendered text and blocks on the whole fixture
    corpus + edge cases."""
    from ocr_machine_spark.core.htmlparse import parse_html_stdlib, render

    # decode each page with its own charset (fixture case 10 pages are
    # cp1252/shift_jis/BOM'd — the parser operates on already-decoded text)
    cases = [p.html.decode(p.charset) for p in gen_pages(150)] + [
        "<p>a &amp; b<br>c</p>",
        "<p>one<p>two<li>three",
        "<script>if (a<b) {x='</div>'}</script><p>hi</p>",
        "<style>.x{}</style><div>ok</div>",
        "<!-- comment --><!doctype html><p>t</p>",
        "<img src='x'/><p>tail</p>",
        "<p>stray < bracket and 1<2 math</p>",
        "<table><tr><td>a<td>b<tr><td>c</table>",
        "<A HREF='/x'>UPPER</A><P>case</P>",
        "",
        "just text no tags",
    ]
    for html in cases:
        fa, fb = render_page(html), render(parse_html_stdlib(html))
        assert fa[0] == fb[0], html[:80]
        assert [(b.tag, b.start, b.end, b.link_chars, b.struck_spans) for b in fa[1]] == [
            (b.tag, b.start, b.end, b.link_chars, b.struck_spans) for b in fb[1]
        ], html[:80]


def test_extract_deterministic_rerun():
    p = gen_pages(1, start=7)[0]
    a, b = extract_one(p.html), extract_one(p.html)
    assert a.extracted_text == b.extracted_text and a.spans == b.spans


def test_blocks_output():
    p = gen_pages(1, start=3)[0]
    r = extract_one(p.html, want_blocks=True)
    assert r.blocks and all(b["end"] > b["start"] for b in r.blocks)
    types = {b["block_type"] for b in r.blocks}
    assert "LAYOUT_TEXT" in types
    for b in r.blocks:
        assert r.raw_text[b["start"] : b["end"]] == b["text"]


def test_nested_block_text_never_duplicated():
    """Review fix: a mixed-content container (direct text bracketing a nested
    block) used to re-emit the nested block's text inside its own hull span —
    silently duplicating content into training data."""
    from ocr_machine_spark.core.extract import extract_one

    r = extract_one(
        "<div>Intro words here for the gate test "
        "<p>Nested paragraph words beyond the short gate</p>"
        " outro words tail beyond gate limit</div>"
    )
    assert r.ok
    assert r.extracted_text.count("Nested paragraph words") == 1
    # kept spans are pairwise disjoint
    ss = sorted((s, e) for s, e, _ in r.spans)
    assert all(ss[i][1] <= ss[i + 1][0] for i in range(len(ss) - 1))
    # reading order: intro, nested, outro
    ti = r.extracted_text.index
    assert ti("Intro") < ti("Nested") < ti("outro")


def test_removed_spans_never_cover_kept_content():
    """Review fix: removing a link-farm parent used to record its full hull
    (covering a kept nested block) as removed — spans/removed_spans must
    partition, not overlap."""
    from ocr_machine_spark.core.extract import extract_one

    r = extract_one(
        "<div><a>Home</a> <a>About</a> <a>More</a>"
        "<p>Real nested article content words beyond the five word gate</p>"
        " <a>Terms</a> <a>Priv</a></div>"
    )
    assert r.ok and "Real nested article" in r.extracted_text
    for rs, re_, _ in r.removed_spans:
        for ks, ke, _ in r.spans:
            assert not (rs < ke and re_ > ks), ((rs, re_), (ks, ke))


def test_parent_gates_use_direct_text_only():
    """Review fix: a parent with 2 direct words must not pass the
    MIN_CONTENT_WORDS gate via its nested child's words."""
    from ocr_machine_spark.core.extract import extract_one

    r = extract_one(
        "<div>Tiny intro <p>Nested paragraph words beyond the short gate "
        "easily</p> wee</div>"
    )
    assert r.ok
    assert "Nested paragraph words" in r.extracted_text
    assert "Tiny intro" not in r.extracted_text  # direct text is 2+1 words -> short
    reasons = {reason for _, _, reason in r.removed_spans}
    assert "short" in reasons


def test_excised_to_empty_block_not_content():
    """Review fix: a block whose text is entirely excised by multiple struck
    runs must report is_content=False in the block layer."""
    from ocr_machine_spark.core.extract import extract_one

    r = extract_one(
        "<p><del>first struck run of words</del> <del>second struck run of "
        "words</del></p><p>Real content words beyond the five word gate</p>",
        want_blocks=True,
    )
    assert r.ok
    by_start = sorted(r.blocks, key=lambda b: b["start"])
    assert by_start[0]["is_content"] is False
    assert by_start[1]["is_content"] is True


def test_sniff_charset_precedence_and_aliases():
    from ocr_machine_spark.core.extract import sniff_charset

    # BOM wins over any declaration
    assert sniff_charset(b"\xef\xbb\xbf<meta charset='shift_jis'>") == "utf-8-sig"
    assert sniff_charset(b"\xff\xfe<\x00h\x00t\x00m\x00l\x00>\x00") == "utf-16"
    assert sniff_charset(b"\xff\xfe\x00\x00<\x00\x00\x00") == "utf-32"
    # declared charset, both meta forms, case-insensitive
    assert sniff_charset(b'<html><head><meta charset="Windows-1252"></head>') == "cp1252"
    assert (
        sniff_charset(
            b'<meta http-equiv="Content-Type" content="text/html; charset=SHIFT_JIS">'
        )
        == "shift_jis"
    )
    # WHATWG latin-1 family -> windows-1252
    assert sniff_charset(b'<meta charset="ISO-8859-1">') == "cp1252"
    # xml prolog
    assert sniff_charset(b'<?xml version="1.0" encoding="euc-jp"?><r/>') == "euc_jp"
    # unknown label / declaration past the 1024-byte window / ASCII-declared
    # utf-16 (impossible) -> utf-8 fallback
    assert sniff_charset(b'<meta charset="klingon-8">') == "utf-8"
    assert sniff_charset(b"x" * 1500 + b'<meta charset="shift_jis">') == "utf-8"
    assert sniff_charset(b'<meta charset="UTF-16LE">') == "utf-8"
    assert sniff_charset(b"<html><p>plain</p>") == "utf-8"


def test_extract_non_utf8_pages_recover_exact_content():
    """A declared-charset page must extract its exact non-ASCII characters —
    the UTF-8-only decode this replaces mojibaked every one of these."""
    body = "<p>café résumé naïve façade entrée.</p>"
    w1252 = ('<html><head><meta charset="windows-1252"></head><body>' + body).encode("cp1252")
    r = extract_one(w1252)
    assert r.ok and r.charset == "cp1252"
    assert "café résumé naïve" in r.extracted_text

    jp_body = "<p>東京 条例 市役所 区域 建築.</p>"
    sjis = (
        '<html><head><meta http-equiv="Content-Type" '
        'content="text/html; charset=shift_jis"></head><body>' + jp_body
    ).encode("shift_jis")
    r = extract_one(sjis)
    assert r.ok and r.charset == "shift_jis"
    assert "東京 条例" in r.extracted_text

    bom = ("<html><body>" + body).encode("utf-8-sig")
    r = extract_one(bom)
    assert r.ok and r.charset == "utf-8-sig"
    assert "café" in r.extracted_text
    assert "﻿" not in r.raw_text  # BOM stripped, not rendered

    # bad bytes under a declared charset degrade per-char, never raise
    broken = b'<html><head><meta charset="shift_jis"></head><body><p>' + b"\x81" + b" ok words here now fine</p>"
    r = extract_one(broken)
    assert r.ok and r.charset == "shift_jis"


# ---------------------------------------------------------------------------
# outlink extraction (core.extract.outlinks_one / resolve_href)
# ---------------------------------------------------------------------------


def test_resolve_href_spec():
    from ocr_machine_spark.core.extract import resolve_href

    base = "https://www.Ex.com:8080/a/b?q=1#frag"
    # root-relative → scheme://authority (verbatim authority, port kept)
    assert resolve_href(base, "/x") == "https://www.Ex.com:8080/x"
    # path-relative → base directory, no dot-normalization
    assert resolve_href(base, "c/d") == "https://www.Ex.com:8080/a/c/d"
    assert resolve_href(base, "../up") == "https://www.Ex.com:8080/a/../up"
    # protocol-relative → base scheme
    assert resolve_href(base, "//other.com/p") == "https://other.com/p"
    # absolute http(s) pass through unchanged; other schemes dropped
    assert resolve_href(base, "http://a.com/") == "http://a.com/"
    assert resolve_href(base, "mailto:x@y.com") is None
    assert resolve_href(base, "javascript:void(0)") is None
    # RFC 3986 §3.1: scheme comparison is case-insensitive; href kept verbatim
    assert resolve_href(base, "HTTP://a.com/UP") == "HTTP://a.com/UP"
    assert resolve_href(base, "Https://a.com/x") == "Https://a.com/x"
    assert resolve_href(base, "MAILTO:x@y.com") is None
    # ...but the authority is still required: scheme-only hrefs (an authoring
    # typo) have no host and must not enter the link graph
    assert resolve_href(base, "https:foo.html") is None
    assert resolve_href(base, "HTTP:/one-slash") is None
    # fragment-only / empty → dropped
    assert resolve_href(base, "#top") is None
    assert resolve_href(base, "") is None
    # unparseable base → nothing resolvable
    assert resolve_href("not a url", "/x") is None
    # base with no path: directory is "/"
    assert resolve_href("https://a.com", "p") == "https://a.com/p"
    # query-relative (pagination markup): base path kept VERBATIM including
    # the filename, query replaced (RFC 3986 §5.3 merge)
    assert resolve_href(base, "?page=2") == "https://www.Ex.com:8080/a/b?page=2"
    assert resolve_href("https://a.com", "?x=1") == "https://a.com/?x=1"


def test_outlinks_one_document_order_and_nesting():
    from ocr_machine_spark.core.extract import outlinks_one

    html = (
        "<html><body>"
        '<p>intro <a href="/one">first <b>bold</b> link</a> mid</p>'
        '<div><a href="two.html">second</a><a href="#skip">skipped</a></div>'
        '<a href="mailto:x@y">also skipped</a>'
        '<a href="https://abs.example/p">third</a>'
        "</body></html>"
    )
    links = outlinks_one(html, "https://h.example/dir/page.html")
    assert links == [
        ("https://h.example/one", "first bold link"),
        ("https://h.example/dir/two.html", "second"),
        ("https://abs.example/p", "third"),
    ]
    base = "https://h.example/"
    # <a> never implies the end of an open <a>: both are reported, in
    # pre-order, and the outer anchor's text includes the inner one's
    assert outlinks_one("<a href=/1>x<a href=/2>y</a>z</a>", base) == [
        ("https://h.example/1", "x y z"),
        ("https://h.example/2", "y"),
    ]
    # raw-text content is anchor text; element boundaries become spaces
    assert outlinks_one("<a href=/3>p<script>q</script>r</a>", base) == [
        ("https://h.example/3", "p q r")
    ]
    # an anchor in an invisible subtree is still a link
    assert outlinks_one("<noscript><a href=/4>in noscript</a></noscript>", base) == [
        ("https://h.example/4", "in noscript")
    ]


def test_outlinks_one_caps_anchor_text():
    """Each anchor keeps the first 4096 chars of its raw text, cut before the
    whitespace collapse, so nested unclosed anchors stay linear in output."""
    from ocr_machine_spark.core.extract import ANCHOR_TEXT_CAP, outlinks_one

    assert ANCHOR_TEXT_CAP == 4096
    base = "https://h.example/"
    # 4096 raw chars = 1365 × "ab " + "a": the cut lands inside a word
    assert outlinks_one("<a href=/x>" + "ab " * 2000 + "</a>", base) == [
        ("https://h.example/x", " ".join(["ab"] * 1365 + ["a"]))
    ]
    # every nesting level adds "w" plus two spaces of raw text to the anchors
    # around it, so an anchor with m levels inside keeps min(m, 1366) words
    n = 2000
    links = outlinks_one("<a href=/x>w " * n, base)
    assert links == [("https://h.example/x", " ".join(["w"] * min(n - k, 1366))) for k in range(n)]


def test_outlinks_one_total_on_garbage():
    from ocr_machine_spark.core.extract import outlinks_one

    assert outlinks_one(None, "https://x.com/") == []
    assert outlinks_one(b"", "https://x.com/") == []
    assert outlinks_one(b"\xff\xfe garbage <a", "https://x.com/") == []
    # anchor with no href attribute contributes nothing
    assert outlinks_one("<a name='x'>t</a>", "https://x.com/") == []


def test_outlinks_match_fixture_goldens():
    from ocr_machine_spark.core.extract import outlinks_one
    from ocr_machine_spark.fixtures import make_page

    for i in range(40):
        p = make_page(i)
        assert outlinks_one(p.html, p.url) == p.outlinks, f"page {i}"
