"""Deterministic HTML → (visible text, typed blocks) for the extraction core.

Pure stdlib (no lxml/bs4). One tokenizer, ``scan``, turns a page into
``enter``/``leave``/``text`` events. It tolerates malformed markup exactly as
``html.parser`` does (unclosed tags, stray end tags, failed start tags
recovered as data), keeps the open-element stack with HTML5 implied ends, and
knows nothing about rendering — mirroring how the reference tolerates
imperfect OCR input (its per-page try/except at
``python_files/table_detector_agent.py:193-206``). Two sinks consume the
events: ``render_page`` below and ``core.extract.outlinks_one``. There is no
fallback parser: a tokenizer error propagates, and ``extract_one`` records it
as a failed row.

``parse_html_stdlib`` (an ``html.parser`` tree) and ``render`` (a walk over
it) are the tests' independent oracle for ``scan`` + ``render_page``; no
production path calls them.

The renderer is the analogue of the reference's OCR block extraction
(``python_files/textract_agent.py:43-98``): it linearises the document into a
single *raw visible text* string plus a flat list of typed blocks with
character spans — the web equivalent of Textract's WORD/LINE/LAYOUT_* blocks
with normalized bounding boxes (see the 474-block golden fixture
``python_files/outputs/full_response_output.json``). Character spans play the
role bounding boxes play in the reference.

Determinism contract (SURVEY.md §7 "hard parts"): no wall-clock, no
dict-iteration-order leaks, one fixed whitespace policy —
* whitespace runs inside a text node collapse to a single space;
* block-element boundaries emit exactly one ``\\n`` (never two in a row);
* entities are decoded (as ``html.parser`` with ``convert_charrefs=True``).
Given the same bytes, ``render_page`` returns byte-identical output on every
run and under every partitioning.
"""

from __future__ import annotations

import sys

if sys.version_info < (3, 11):  # pragma: no cover
    # the tokenizer regexes use possessive quantifiers (*+) and atomic groups
    # ((?>...)) — re supports them only on 3.11+; fail with a clear message
    # instead of an opaque re.error deep in an executor stack
    raise ImportError(
        "ocr_machine_spark requires Python >= 3.11 (possessive-quantifier "
        f"regex in the HTML tokenizer); running {sys.version.split()[0]}"
    )

from dataclasses import dataclass, field
from html.parser import HTMLParser

# Elements whose entire subtree is invisible.
SKIP_TAGS = frozenset(
    {
        "script",
        "style",
        "noscript",
        "template",
        "head",
        "title",
        "svg",
        "iframe",
        "object",
        "canvas",
        "datalist",
    }
)

# Elements that do not take an end tag.
VOID_TAGS = frozenset(
    {
        "area",
        "base",
        "br",
        "col",
        "embed",
        "hr",
        "img",
        "input",
        "link",
        "meta",
        "param",
        "source",
        "track",
        "wbr",
    }
)

# Elements that establish a block boundary in the rendered text.
BLOCK_TAGS = frozenset(
    {
        "address",
        "article",
        "aside",
        "blockquote",
        "body",
        "caption",
        "dd",
        "div",
        "dl",
        "dt",
        "fieldset",
        "figcaption",
        "figure",
        "footer",
        "form",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "header",
        "hr",
        "html",
        "li",
        "main",
        "nav",
        "ol",
        "p",
        "pre",
        "section",
        "table",
        "tbody",
        "td",
        "tfoot",
        "th",
        "thead",
        "tr",
        "ul",
    }
)

# Struck-through content — the direct HTML analogue of the reference's
# strikethrough words (python_files/strikethrough_agent.py:9-142): visible on
# the page, legally deleted, to be removed from the extraction.
STRUCK_TAGS = frozenset({"del", "s", "strike"})

# Ancestors that mark a subtree as boilerplate by construction.
BOILER_TAGS = frozenset({"nav", "header", "footer", "aside"})

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
TABLE_TAGS = frozenset({"table", "thead", "tbody", "tfoot", "tr", "td", "th", "caption"})

# Tags that auto-close an open element of the given kind (HTML5 implied ends).
_P_CLOSERS = BLOCK_TAGS - {"html", "body"}


class Element:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict[str, str | None]):
        self.tag = tag
        self.attrs = attrs
        self.children: list[Element | str] = []


class _TreeBuilder(HTMLParser):
    """Tolerant stack-based tree builder (text children are plain ``str``).
    Its implied ends are written out here, apart from ``scan``'s table, so
    the oracle shares no tokenizer code with what it checks."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("#root", {})
        self.stack: list[Element] = [self.root]

    # -- implied-end handling ------------------------------------------------
    def _implied_close(self, tag: str) -> None:
        stack = self.stack
        if tag == "body":
            # <body> implies the head is over, even without </head>
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == "head":
                    del stack[i:]
                    break
        top = stack[-1].tag
        if top == "p" and tag in _P_CLOSERS:
            stack.pop()
        elif top == "li" and tag == "li":
            stack.pop()
        elif top in ("dd", "dt") and tag in ("dd", "dt"):
            stack.pop()
        elif top in ("td", "th") and tag in ("td", "th", "tr"):
            stack.pop()
            if stack[-1].tag == "tr" and tag == "tr":
                stack.pop()
        elif top == "tr" and tag == "tr":
            stack.pop()

    # -- parser callbacks ----------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if len(self.stack) > 1:
            self._implied_close(tag)
        el = Element(tag, dict(attrs))
        self.stack[-1].children.append(el)
        if tag not in VOID_TAGS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.stack[-1].children.append(Element(tag, dict(attrs)))

    def handle_endtag(self, tag: str) -> None:
        # Pop to the matching open tag; ignore stray end tags.
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].children.append(data)


def parse_html_stdlib(html: str) -> Element:
    """Reference tree on stdlib html.parser — the tests' differential oracle
    for ``scan``; no production path calls it."""
    tb = _TreeBuilder()
    tb.feed(html)
    tb.close()
    return tb.root


# ---------------------------------------------------------------------------
# The tokenizer — html.parser's tree semantics, ~4x less overhead
# ---------------------------------------------------------------------------
#
# Profiling showed 72% of extract_one inside html.parser's regex machinery
# (goahead/parse_starttag/updatepos); one regex search per token replaces it.

import re  # noqa: E402  (module-local import keeps the top clean)
from html import unescape  # noqa: E402

# tag-name and attribute sub-patterns lifted from CPython's html.parser
# (tagfind_tolerant / locatestarttagend_tolerant) so the scanner accepts
# exactly what the stdlib reference parser accepts
# possessive name: stdlib parses the name as a committed step (tagfind), so
# a failing attrs/'>' suffix must NOT backtrack into the name — otherwise
# '<a'n =='>' would "match" as tag a' with attrs, where html.parser sees an
# incomplete start tag and recovers it as data
_TAGNAME = r"[a-zA-Z][^\t\n\r\f />\x00]*+"
_ATTRS_TOLERANT = (
    # the leading separator class must NOT consume a '/' that sits right
    # before '>': that slash is the self-close marker (stdlib's parse loop
    # decides via `end == '/>'`; regression: '<figcaption/>' + trailing text
    # attributed to a phantom open block)
    # The outer repeats are possessive: everything after each can match
    # empty, so the first match is the greedy one either way, but sre then
    # frees each attribute's backtrack state — a 30k-attribute tag costs the
    # same per char as a short one instead of ~3x more.
    r"(?:(?:\s|/(?!>))*+(?:(?<=['\"\s/])[^\s/>][^\s/=>]*"
    r"(?:\s*=+\s*(?:'[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*)(?:\s*,)*)?"
    r"(?:\s|/(?!>))*+)*+)?(?:\s|/(?!>))*+"
)
_TOKEN_RE = re.compile(
    # start tag: attrs are atomic for the same reason the name is possessive
    # — stdlib commits each parse stage before checking for '>'
    r"<(?P<name>" + _TAGNAME + r")(?P<attrs>(?>" + _ATTRS_TOLERANT + r"))(?P<selfclose>/?)>"
    # end tag, strict first: html.parser's endtagfind allows whitespace
    # around the name ('</ div >' is handle_endtag("div"))
    r"|</\s*(?P<end>[a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    # then tolerant: parse_endtag takes the NAME only and scans straight to
    # the next '>' — junk between them is discarded, never parsed as attrs
    # ('</v -='>' is handle_endtag("v"))
    r"|</(?P<endname>" + _TAGNAME + r")[^>]*+>"
    # '<!' must not swallow a '<!--' whose comment never closes — that is an
    # UNTERMINATED COMMENT and html.parser recovers it as data (see
    # _gap_chunks), not as a one-'>' declaration
    # comments close at '--' + optional whitespace + '>' (CPython's
    # _commentclose), not only at a literal '-->'
    r"|<!--.*?--\s*>|<!(?!--)[^>]*>|<\?[^>]*>|</[^a-zA-Z>][^>]*>|</>",
    re.DOTALL,
)
# html.parser's CDATA_CONTENT_ELEMENTS: raw-text scan, no nested parsing.
# The close pattern is stdlib's set_cdata_mode one: case-insensitive,
# whitespace allowed around the name, nothing else ('</script x>' and
# '</scriptx>' stay content).
_RAWTEXT_CLOSE = {t: re.compile(rf"</\s*{t}\s*>", re.IGNORECASE) for t in ("script", "style")}


# --- failed-start-tag recovery (html.parser semantics) ----------------------
# A '<'+letter that the token regex could NOT complete is what CPython's
# check_for_whole_start_tag calls an incomplete start tag: if the character
# after the (tolerant) name+attrs prefix is a letter, '=', '/' or EOF, the
# parser gives up and emits everything from '<' through the NEXT '>'
# (inclusive; else to the next '<', else just the '<') as data — never
# tokenizing inside. For any other junk character it emits data only through
# the prefix end and resumes there (parse_starttag's end-check failure).
# markup openers the recovery applies to: start tags, and the bogus-comment /
# comment / PI / end-tag families when their construct never completed (a
# completed one would have been a _TOKEN_RE match, never gap text)
_LT_MARKUP = re.compile(r"<[a-zA-Z!?/]")
_STARTTAG_PREFIX = re.compile("<" + _TAGNAME + _ATTRS_TOLERANT)
_CONTINUE_CHARS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/")


def _gap_chunks(html: str, a: int, b: int) -> tuple[list[str], int]:
    """Split the inter-token gap ``html[a:b)`` into data chunks, emulating
    html.parser's incomplete-start-tag recovery. Returns (chunks, resume_pos);
    ``resume_pos > b`` when a swallow extends past the gap (the caller must
    then skip any token matches that start before it)."""
    chunks: list[str] = []
    i = a
    while i < b:
        m = _LT_MARKUP.search(html, i, b)
        if m is None:
            chunks.append(html[i:b])
            return chunks, b
        j0 = m.start()
        if j0 > i:
            chunks.append(html[i:j0])
        if html[j0 + 1].isalpha():
            pm = _STARTTAG_PREFIX.match(html, j0)
            j = pm.end() if pm else j0 + 1
            nxt = html[j : j + 1]
            if not (nxt in _CONTINUE_CHARS or nxt == ""):
                # parse_starttag end-check failure: data through the
                # tolerant prefix only, resume right after
                chunks.append(html[j0:j])
                i = j
                continue
        # incomplete construct: data through the next '>' (inclusive),
        # else to the next '<', else just the '<'
        k = html.find(">", j0 + 1)
        if k == -1:
            k2 = html.find("<", j0 + 1)
            k = k2 if k2 != -1 else j0 + 1
        else:
            k += 1
        chunks.append(html[j0:k])
        i = k
    return chunks, i


# html.parser's attrfind_tolerant, frozen like _TOKEN_RE
_ATTR_RE = re.compile(
    r"((?<=['\"\s/])[^\s/>][^\s/=>]*)"
    r"(\s*=+\s*('[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_ATTR_LEAD = re.compile(r"(?:\s|/(?!>))*")


def parse_attrs(raw: str) -> dict[str, str | None]:
    """A start tag's attributes, parsed as html.parser does. ``raw`` is the
    source between the tag name and ``>``; a valueless attribute maps to
    None and the last duplicate wins."""
    attrs: dict[str, str | None] = {}
    raw = " " + raw  # stands in for the name's last char, which the lookbehind reads
    k = _ATTR_LEAD.match(raw).end()
    while k < len(raw):
        m = _ATTR_RE.match(raw, k)
        if m is None:
            break
        name, rest, value = m.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] in ("'", '"') and value[:1] == value[-1:]:
            value = value[1:-1]
        attrs[name.lower()] = unescape(value) if value else value
        k = m.end()
    return attrs


# open element → the start tags that imply its end (HTML5 implied ends)
_IMPLIED_END = {
    "p": _P_CLOSERS,
    "li": {"li"},
    "dd": {"dd", "dt"},
    "dt": {"dd", "dt"},
    "td": {"td", "th", "tr"},
    "th": {"td", "th", "tr"},
    "tr": {"tr"},
}


def scan(html: str, enter, leave, text) -> None:
    """Tokenize ``html`` into events, in document order:

    * ``enter(tag, depth, raw_attrs)``: an element opens; ``depth`` counts its
      open ancestors and ``raw_attrs`` is the unparsed attribute source;
    * ``leave(tag)``: it closes. Every enter gets exactly one leave — void and
      self-closed elements leave at once, open ones by end tag, implied end or
      end of input;
    * ``text(s)``: a data run, entities decoded. A closed raw-text element
      (script/style) yields its content as one undecoded event.

    The element nesting is that of ``parse_html_stdlib`` (differential-fuzzed).
    Time is linear in the page, except that each unclosed start tag at end of
    input rescans to the end (``html.parser`` does the same)."""
    stack: list[str] = []  # open non-void elements, outermost first
    n_open: dict[str, int] = {}  # per tag name: a stray end tag costs O(1)
    n = len(html)
    pos = 0
    while pos < n:
        # search from pos (not finditer): a raw-text consume can land pos
        # INSIDE a pre-found token, whose tail must then be re-tokenized
        m = _TOKEN_RE.search(html, pos)
        start = m.start() if m is not None else n
        if start > pos:
            chunks, resume = _gap_chunks(html, pos, start)
            for t in chunks:
                text(unescape(t) if "&" in t else t)
            if resume > start:
                pos = resume  # failed-tag swallow consumed this token too
                continue
        if m is None:
            break
        pos = m.end()
        kind = m.lastgroup  # which alternative matched: the group it ends with
        if kind != "selfclose":
            if kind is not None:  # an end tag, "end" or "endname"
                endname = m.group(kind).lower()
                if n_open.get(endname):  # else stray: html.parser ignores it
                    while True:  # close up to the innermost open one
                        t = stack.pop()
                        n_open[t] -= 1
                        leave(t)
                        if t == endname:
                            break
            continue  # else comment / doctype / PI / bogus end tag
        tag, raw_attrs, selfclose = m.group("name", "attrs", "selfclose")
        tag = tag.lower()
        if stack and not selfclose:
            # html.parser runs implied ends in handle_starttag only — an
            # explicit self-closing tag (handle_startendtag) closes nothing
            if tag == "body" and n_open.get("head"):
                while True:
                    t = stack.pop()
                    n_open[t] -= 1
                    leave(t)
                    if t == "head":
                        break
            closers = _IMPLIED_END.get(stack[-1]) if stack else None
            if closers is not None and tag in closers:
                top = stack.pop()
                n_open[top] -= 1
                leave(top)
                if tag == "tr" and top in ("td", "th") and stack and stack[-1] == "tr":
                    stack.pop()
                    n_open["tr"] -= 1
                    leave("tr")
        enter(tag, len(stack), raw_attrs)
        if selfclose or tag in VOID_TAGS:
            # '<style/>' does NOT enter raw-text mode in html.parser
            leave(tag)
            continue
        close = _RAWTEXT_CLOSE.get(tag)
        if close is not None:
            cm = close.search(html, pos)
            if cm is None:
                pos = n  # html.parser drops an unclosed raw-text element's content
            else:
                text(html[pos : cm.start()])
                pos = cm.end()
            leave(tag)
            continue
        stack.append(tag)
        n_open[tag] = n_open.get(tag, 0) + 1
    for t in reversed(stack):
        leave(t)


# ---------------------------------------------------------------------------
# Rendering: DOM → (raw visible text, typed blocks with char spans)
# ---------------------------------------------------------------------------


@dataclass
class Block:
    """One rendered text block — the web analogue of a Textract LAYOUT_*/LINE
    block (block taxonomy observed in the reference golden fixture:
    PAGE/LAYOUT_TEXT/LAYOUT_TABLE/LAYOUT_LIST/LAYOUT_FOOTER/TABLE/CELL/...).

    ``parent`` + per-CELL row/col indices mirror the reference block model's
    ``Relationships``/``RowIndex``/``ColumnIndex`` fields
    (``python_files/outputs/full_response_output.json``; consumed at
    ``python_files/strikethrough_agent.py:194-205``)."""

    tag: str
    depth: int
    start: int = -1  # char span in the raw visible text (start == -1: no text yet)
    end: int = -1
    n_chars: int = 0
    link_chars: int = 0  # chars inside <a> descendants → link_density
    # DIRECT-text runs of this block (nested blocks' text excluded), merged
    # across renderer separators. For a leaf block this is one span equal to
    # (start, end); for a mixed-content container (direct text around a
    # nested block) the nested hull falls in a GAP — the extractor selects
    # per sub-span so nested text is never double-emitted.
    direct_spans: list[tuple[int, int]] = field(default_factory=list)
    struck_spans: list[tuple[int, int]] = field(default_factory=list)
    boiler: bool = False  # nav/header/footer/aside ancestor
    in_table: bool = False
    is_caption: bool = False  # figcaption
    is_heading: bool = False
    is_list_item: bool = False
    parent: "Block | None" = None  # nearest enclosing block element
    row_idx: int | None = None  # CELL-family only (1-based, like Textract)
    col_idx: int | None = None
    row_span: int = 1
    col_span: int = 1
    is_header_cell: bool = False  # <th> → entity_types ['COLUMN_HEADER']

    @property
    def link_density(self) -> float:
        return self.link_chars / self.n_chars if self.n_chars else 0.0

    def text_of(self, raw: str) -> str:
        return raw[self.start : self.end] if self.start >= 0 else ""


# Block-type labelling, mirroring the reference's block taxonomy.
def block_type_of(b: Block) -> str:
    if b.boiler:
        return "LAYOUT_FOOTER" if b.tag in ("footer",) else "LAYOUT_HEADER"
    if b.tag == "caption":
        return "TABLE_TITLE"
    if b.tag in ("td", "th"):
        return "CELL"
    if b.in_table:
        return "LAYOUT_TABLE"
    if b.is_caption:
        return "LAYOUT_FIGURE"
    if b.is_heading:
        return "LAYOUT_SECTION_HEADER"
    if b.is_list_item:
        return "LAYOUT_LIST"
    return "LAYOUT_TEXT"


class _Renderer:
    def __init__(self) -> None:
        self.parts: list[str] = []
        self.length = 0
        self.blocks: list[Block] = []
        self._open: list[Block] = []
        self._pending_newline = False
        self._pending_space = False
        # True once non-struck text has been appended after the last struck
        # append — gates struck-span merging so a visible char between two
        # <del> runs is never swallowed into the struck span
        self._nonstruck_between = True
        # contextual flags carried down the walk
        self._link_depth = 0
        self._struck_depth = 0
        self._boiler_depth = 0
        self._table_depth = 0
        self._caption_depth = 0
        # per-table (row, col) counters; stack supports nested tables
        self._table_rc: list[list[int]] = []
        self._skip_depth = 0  # open SKIP_TAGS elements (scan events only)

    # -- emit helpers --------------------------------------------------------
    def _append(self, s: str) -> None:
        self.parts.append(s)
        self.length += len(s)

    def _sep(self) -> None:
        if self._pending_newline:
            if self.length > 0:
                self._append("\n")
            self._pending_newline = False
            self._pending_space = False
        elif self._pending_space:
            if self.length > 0:
                self._append(" ")
            self._pending_space = False

    def _text(self, raw: str) -> None:
        if not raw:
            return
        words = raw.split()
        collapsed = " ".join(words)
        if raw[0].isspace():
            self._pending_space = True
        if not collapsed:
            return
        self._sep()
        start = self.length
        self._append(collapsed)
        end = self.length
        if raw[-1].isspace():
            self._pending_space = True
        # Count only non-separator characters into n_chars/link_chars. This
        # makes the accounting invariant under text-event segmentation:
        # html.parser splits data at a bogus '<' into several handle_data
        # events while the single-pass tokenizer emits one run — total word
        # chars (and the rendered output) are identical either way, so the
        # hot path and the stdlib-tree oracle agree byte-for-byte AND
        # count-for-count (regression: '<p>'*19 + '<a>< <').
        nch = (end - start) - (len(words) - 1)
        if self._open:
            b = self._open[-1]
            if b.start < 0:
                b.start = start
            b.end = end
            # direct-run bookkeeping: a ≤1-char gap is a renderer separator
            # (merge); ≥2 chars means a nested block's text intervened (a
            # nested block always renders between two separators, so its
            # gap is ≥ 3) → start a new sub-span
            if b.direct_spans and start - b.direct_spans[-1][1] <= 1:
                b.direct_spans[-1] = (b.direct_spans[-1][0], end)
            else:
                b.direct_spans.append((start, end))
            b.n_chars += nch
            if self._link_depth > 0:
                b.link_chars += nch
            if self._struck_depth > 0:
                if (
                    b.struck_spans
                    and b.struck_spans[-1][1] >= start - 1
                    and not self._nonstruck_between
                ):
                    # merge with the preceding struck run: the ≤1-char gap is
                    # a renderer-emitted separator, never visible user text
                    # (the _nonstruck_between gate guarantees that —
                    # regression: <del>x</del>y<del>z</del> keeps 'y')
                    b.struck_spans[-1] = (b.struck_spans[-1][0], end)
                else:
                    b.struck_spans.append((start, end))
                self._nonstruck_between = False
            else:
                self._nonstruck_between = True

    # -- element enter/leave (shared by the tree walk and the scan sink) -----
    def enter(self, tag: str, depth: int, attrs: str | dict) -> None:
        if tag in BLOCK_TAGS:
            self._pending_newline = True
            blk = Block(
                tag=tag,
                depth=depth,
                boiler=self._boiler_depth > 0 or tag in BOILER_TAGS,
                in_table=self._table_depth > 0 or tag in TABLE_TAGS,
                is_caption=self._caption_depth > 0 or tag == "figcaption",
                is_heading=tag in HEADING_TAGS,
                is_list_item=tag == "li",
                parent=self._open[-1] if self._open else None,
            )
            if tag == "table":
                self._table_rc.append([0, 0])
            elif tag == "tr" and self._table_rc:
                rc = self._table_rc[-1]
                rc[0] += 1
                rc[1] = 0
            elif tag in ("td", "th") and self._table_rc:
                rc = self._table_rc[-1]
                if rc[0] == 0:  # cell outside a <tr> — imply row 1
                    rc[0] = 1
                rc[1] += 1
                blk.row_idx, blk.col_idx = rc[0], rc[1]
                blk.is_header_cell = tag == "th"
                if isinstance(attrs, str):  # scan's raw source; the tree walk passes a dict
                    attrs = parse_attrs(attrs)
                if attrs:
                    try:
                        blk.row_span = max(int(attrs.get("rowspan", 1)), 1)
                        blk.col_span = max(int(attrs.get("colspan", 1)), 1)
                    except (TypeError, ValueError):  # valueless, or not a number
                        pass
            self.blocks.append(blk)
            self._open.append(blk)
        if tag == "a":
            self._link_depth += 1
        elif tag in STRUCK_TAGS:
            self._struck_depth += 1
        elif tag in BOILER_TAGS:
            self._boiler_depth += 1
        if tag in TABLE_TAGS:
            self._table_depth += 1
        elif tag == "figcaption":
            self._caption_depth += 1

    def leave(self, tag: str) -> None:
        if tag == "a":
            self._link_depth -= 1
        elif tag in STRUCK_TAGS:
            self._struck_depth -= 1
        elif tag in BOILER_TAGS:
            self._boiler_depth -= 1
        if tag in TABLE_TAGS:
            self._table_depth -= 1
        elif tag == "figcaption":
            self._caption_depth -= 1
        if tag in BLOCK_TAGS:
            if tag == "table" and self._table_rc:
                self._table_rc.pop()
            self._open.pop()
            self._pending_newline = True

    # -- walk -----------------------------------------------------------------
    def walk(self, el: Element, depth: int = 0) -> None:
        for child in el.children:
            if isinstance(child, str):
                self._text(child)
                continue
            tag = child.tag
            if tag in SKIP_TAGS:
                continue
            if tag == "br":
                self._pending_newline = True
                continue
            self.enter(tag, depth, child.attrs)
            self.walk(child, depth + 1)
            self.leave(tag)

    # -- scan sink: invisible subtrees and <br> are handled here, so the
    #    tokenizer knows nothing about rendering ------------------------------
    def on_enter(self, tag: str, depth: int, raw_attrs: str) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth += 1
        elif self._skip_depth == 0:
            if tag == "br":
                self._pending_newline = True
            else:
                self.enter(tag, depth, raw_attrs)

    def on_leave(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth -= 1
        elif self._skip_depth == 0:
            self.leave(tag)

    def on_text(self, s: str) -> None:
        if self._skip_depth == 0:
            self._text(s)


def render_page(html: str) -> tuple[str, list[Block]]:
    """Tokenize and render in one pass: (raw visible text, blocks-with-text).

    Blocks that collected no text are dropped (the reference likewise keeps
    only blocks that carry Text — WORD/LINE filtering at
    ``training_strikethrough/processing_scripts/training_textract.py:72-78``).
    """
    r = _Renderer()
    scan(html, r.on_enter, r.on_leave, r.on_text)
    raw = "".join(r.parts)
    blocks = [b for b in r.blocks if b.start >= 0 and b.n_chars > 0]
    return raw, blocks


def render(root: Element) -> tuple[str, list[Block]]:
    """``render_page`` over a ``parse_html_stdlib`` tree — the tests' oracle."""
    r = _Renderer()
    r.walk(root)
    raw = "".join(r.parts)
    blocks = [b for b in r.blocks if b.start >= 0 and b.n_chars > 0]
    return raw, blocks


