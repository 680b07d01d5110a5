"""Main-content extraction over a single HTML page — pure function, no Spark.

This is the semantic twin of the reference's pipeline collapsed into one
deterministic pass (its STEP 1 classify → STEP 2 OCR parse → strikethrough
clean → white-out → recombine, per ``/root/reference/python_files/main.py:2-28``):

* DOM parse → typed blocks with char spans  — OCR block extraction analogue
  (``python_files/textract_agent.py:43-98``)
* table/figure region detection             — page classifier analogue
  (``python_files/table_detector_agent.py:64-118``), but deterministic DOM
  heuristics instead of an LLM, so goldens are byte-identical
* struck-text removal with recorded spans   — strikethrough detector analogue
  (``python_files/strikethrough_agent.py:145-210``); removed spans play the
  role of the 119-entry ``bounding_boxes.json`` removal list
* boilerplate classification (text/link-density geometric gates) — the same
  *gate* pattern as the CV detector's line-geometry thresholds
  (``python_files/strikethrough_agent.py:100-127``: span ≥40% width, ≤25%
  height, density ≥0.35 → struck), re-expressed as Boilerpipe-style
  link-density / word-count thresholds
* span excision → extracted text            — white-out analogue
  (``python_files/white_out_manager.py:27-34``); like a white-out bbox, an
  excised span absorbs one adjoining separator so the result reads clean

Span bookkeeping follows SURVEY.md §7: spans are computed against the *raw*
visible text and the extracted text is derived from spans — one source of
truth, never mutate-then-measure.
"""

from __future__ import annotations

import codecs
import re
from bisect import bisect_left
from dataclasses import dataclass, field

from ocr_machine_spark.core.htmlparse import block_type_of, parse_attrs, render_page, scan

# ---------------------------------------------------------------------------
# Charset sniffing (WHATWG-style, simplified). A real Common-Crawl corpus is a
# meaningful fraction non-UTF-8 (windows-125x, shift_jis, gbk, iso-8859-x);
# decoding those as UTF-8 silently mojibakes them into training data — the
# same silent-corruption class as the round-3 nested-text duplication. The
# reference's per-page input-tolerance pattern
# (``python_files/table_detector_agent.py:193-206``) maps here to: sniff,
# decode with the declared charset, never raise, record what was used.
# Precedence: BOM → declared charset in the first 1024 bytes (the spec window
# for <meta charset> / http-equiv / <?xml encoding?>) → UTF-8 fallback.
# ---------------------------------------------------------------------------

_SNIFF_BYTES = 1024
# matches both <meta charset="..."> and
# <meta http-equiv="Content-Type" content="text/html; charset=...">
_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]{0,512}?charset\s*=\s*["']?([A-Za-z0-9._:\-]+)""", re.IGNORECASE
)
_XML_ENC_RE = re.compile(
    rb"""^<\?xml[^>]{0,256}?encoding\s*=\s*["']([A-Za-z0-9._:\-]+)["']""", re.IGNORECASE
)

# WHATWG maps the latin-1 family to windows-1252 (a strict superset on the
# bytes real pages actually emit — 0x80-0x9F are curly quotes/dashes there,
# C1 controls in strict iso-8859-1)
_CHARSET_ALIASES = {
    "iso-8859-1": "windows-1252",
    "latin-1": "windows-1252",
    "latin1": "windows-1252",
    "l1": "windows-1252",
    "us-ascii": "windows-1252",
    "ascii": "windows-1252",
}


def sniff_charset(data: bytes) -> str:
    """Codec name to decode ``data`` with (always a valid Python codec).

    Returned names are ``codecs.lookup(...).name``-normalized (e.g. a
    ``windows-1252`` declaration reports ``cp1252``) so the recorded charset
    is one canonical string per encoding. BOM'd UTF-16/32 return the
    BOM-consuming codec ("utf-16"/"utf-32", which strip the BOM on decode —
    the -le/-be variants would leak U+FEFF into the text).
    """
    if data.startswith(codecs.BOM_UTF8):
        return "utf-8-sig"
    # utf-32-le's BOM starts with utf-16-le's — test the wider one first
    if data.startswith(b"\xff\xfe\x00\x00") or data.startswith(b"\x00\x00\xfe\xff"):
        return "utf-32"
    if data.startswith(codecs.BOM_UTF16_LE) or data.startswith(codecs.BOM_UTF16_BE):
        return "utf-16"
    head = bytes(data[:_SNIFF_BYTES])
    m = _META_CHARSET_RE.search(head) or _XML_ENC_RE.match(head)
    if m:
        label = m.group(1).decode("ascii", "replace").strip().lower()
        label = _CHARSET_ALIASES.get(label, label)
        try:
            info = codecs.lookup(label)
        except LookupError:
            return "utf-8"  # unknown label → fallback, never raise
        # an ASCII-visible declaration cannot truthfully declare a BOM-less
        # UTF-16/32 document (WHATWG: such a claim is ignored)
        if info.name.startswith(("utf-16", "utf-32")):
            return "utf-8"
        return info.name
    return "utf-8"

# Classification gates (deterministic constants — the graft's DPI-ladder-style
# fidelity knobs live here, cf. BASELINE.md "Render DPI ladder").
MAX_LINK_DENSITY = 0.35
MIN_CONTENT_WORDS = 5

KIND_CONTENT = "content"
KIND_TABLE = "table"
KIND_FIGURE_CAPTION = "figure_caption"

REASON_STRUCK = "struck"
REASON_BOILERPLATE = "boilerplate"
REASON_LINK_FARM = "link_farm"
REASON_SHORT = "short"


@dataclass
class ExtractResult:
    ok: bool
    extracted_text: str = ""
    # kept spans into raw text: (start, end, kind)
    spans: list[tuple[int, int, str]] = field(default_factory=list)
    # removed spans: (start, end, reason)
    removed_spans: list[tuple[int, int, str]] = field(default_factory=list)
    raw_text: str = ""
    blocks: list[dict] = field(default_factory=list)
    has_table: bool = False
    has_figure: bool = False
    n_blocks: int = 0
    n_content_blocks: int = 0
    chars_in: int = 0
    chars_out: int = 0
    charset: str | None = None  # codec the html bytes were decoded with
    error: str | None = None


def _expand_span(raw: str, start: int, end: int) -> tuple[int, int]:
    """Widen an excision span to absorb one adjoining separator char, so that
    removing it never leaves a doubled space (white-out margin analogue)."""
    if start > 0 and raw[start - 1] == " " and (end >= len(raw) or raw[end] in " \n"):
        return start - 1, end
    # absorb a trailing space only when the span begins at a boundary —
    # if visible text immediately precedes the span, that text still needs
    # the space to separate it from what follows the excision
    if end < len(raw) and raw[end] == " " and (start == 0 or raw[start - 1] in " \n"):
        return start, end + 1
    return start, end


def _excise(text: str, base: int, spans: list[tuple[int, int]]) -> str:
    """Remove [start,end) sub-spans (absolute coords, ``base`` = block start)."""
    if not spans:
        return text
    out = []
    pos = 0
    for s, e in spans:
        s, e = s - base, e - base
        s = max(s, pos)
        if s > pos:
            out.append(text[pos:s])
        pos = max(pos, e)
    out.append(text[pos:])
    return "".join(out)


def extract_one(html: bytes | str | None, want_blocks: bool = False) -> ExtractResult:
    """Extract main content from one page's HTML bytes.

    Never raises: malformed input yields ``ok=False`` with the error recorded,
    mirroring the reference's per-page try/except
    (``python_files/table_detector_agent.py:193-206``).
    """
    charset: str | None = None
    try:
        if html is None:
            raise ValueError("html is null")
        if isinstance(html, (bytes, bytearray)):
            if len(html) == 0:
                raise ValueError("html is empty")
            b = bytes(html)
            charset = sniff_charset(b)
            # errors="replace": a declared-charset page with stray bad bytes
            # (truncation, bit rot) still decodes totally — never raise
            text_html = b.decode(charset, errors="replace")
        else:
            if not html:
                raise ValueError("html is empty")
            text_html = html
        raw, blocks = render_page(text_html)
    except Exception as exc:  # noqa: BLE001 — survive any malformed page
        return ExtractResult(ok=False, charset=charset, error=f"{type(exc).__name__}: {exc}")

    kept_parts: list[tuple[int, str]] = []  # (start, cleaned) — sorted at the end
    spans: list[tuple[int, int, str]] = []
    removed: list[tuple[int, int, str]] = []
    has_table = False
    has_figure = False
    block_rows: list[dict] = []
    content_blocks = 0  # BLOCKS that reached the output (a mixed-content
    # container contributes several spans but is one content block)

    for b in blocks:
        # selection operates on the block's DIRECT-text runs (nested blocks'
        # text falls in the gaps between runs and is selected by its own
        # block) — a mixed-content container never re-emits nested text, and
        # its spans/removed_spans never overlap a nested block's. For a leaf
        # block there is exactly one run, (start, end) — unchanged behavior.
        subs = b.direct_spans or [(b.start, b.end)]
        n_words = sum(len(raw[s:e].split()) for s, e in subs)

        # -- gate ladder -------------------------------------------------
        kind: str | None = None
        reason: str | None = None
        if b.boiler:
            reason = REASON_BOILERPLATE
        elif b.in_table:
            kind = KIND_TABLE
            has_table = True
        elif b.is_caption:
            kind = KIND_FIGURE_CAPTION
            has_figure = True
        elif b.link_density > MAX_LINK_DENSITY:
            reason = REASON_LINK_FARM
        elif n_words < MIN_CONTENT_WORDS and not b.is_heading:
            reason = REASON_SHORT
        else:
            kind = KIND_CONTENT

        survived = False
        if reason is not None:
            removed.extend((s, e, reason) for s, e in subs)
        else:
            struck = sorted(b.struck_spans)
            for s, e in subs:
                st = [(max(ss, s), min(se, e)) for ss, se in struck if ss < e and se > s]
                # fully-struck run → removed outright
                if len(st) == 1 and st[0][0] <= s and st[0][1] >= e:
                    removed.append((s, e, REASON_STRUCK))
                    continue
                # partially-struck: excise struck sub-spans, record them
                expanded = []
                for ss, se in st:
                    es, ee = _expand_span(raw, ss, se)
                    es, ee = max(es, s), min(ee, e)
                    expanded.append((es, ee))
                    removed.append((es, ee, REASON_STRUCK))
                cleaned = _excise(raw[s:e], s, expanded)
                if not cleaned.strip():
                    continue
                kept_parts.append((s, cleaned))
                spans.append((s, e, kind))
                survived = True
        if survived:
            content_blocks += 1

        if want_blocks:
            # lines ≈ 80-char wrap — Boilerpipe's text-density denominator
            n_lines = max(1, (b.n_chars + 79) // 80)
            block_rows.append(
                {
                    "block_type": block_type_of(b),
                    "tag": b.tag,
                    "depth": b.depth,
                    "start": b.start,
                    "end": b.end,
                    "text": b.text_of(raw),
                    "n_chars": b.n_chars,
                    "n_words": n_words,
                    "link_density": round(b.link_density, 6),
                    "text_density": round(n_words / n_lines, 6),
                    # is_content reflects what actually reached the output
                    # (an excised-to-empty block is NOT content)
                    "is_content": survived,
                    "kind": kind,
                    "reason": reason,
                    "row_idx": b.row_idx,
                    "col_idx": b.col_idx,
                    "row_span": b.row_span if b.row_idx is not None else None,
                    "col_span": b.col_span if b.row_idx is not None else None,
                    "entity_types": ["COLUMN_HEADER"] if b.is_header_cell else [],
                    "_block": b,  # identity for parent/child resolution below
                }
            )

    # document reading order = span order (O4): a nested kept block renders
    # BETWEEN its parent's direct runs, and block order alone would put it
    # after — sort by start (disjoint spans, so start is a total order)
    kept_parts.sort(key=lambda t: t[0])
    spans.sort(key=lambda t: (t[0], t[1]))
    removed.sort(key=lambda t: (t[0], t[1]))
    if block_rows:
        # resolve the Relationships graph (reference block model: parent→child
        # ids, ``strikethrough_agent.py:194-205``): reparent through dropped
        # text-less blocks to the nearest surviving ancestor
        seq_of = {id(r["_block"]): i for i, r in enumerate(block_rows)}
        children: dict[int, list[int]] = {}
        for i, r in enumerate(block_rows):
            p = r["_block"].parent
            while p is not None and id(p) not in seq_of:
                p = p.parent
            r["parent_seq"] = seq_of[id(p)] if p is not None else None
            if r["parent_seq"] is not None:
                children.setdefault(r["parent_seq"], []).append(i)
        for i, r in enumerate(block_rows):
            r["seq"] = i
            r["child_seqs"] = children.get(i, [])
            del r["_block"]

    extracted = "\n".join(t for _, t in kept_parts)
    return ExtractResult(
        ok=True,
        extracted_text=extracted,
        spans=spans,
        removed_spans=removed,
        raw_text=raw,
        blocks=block_rows,
        has_table=has_table,
        has_figure=has_figure,
        n_blocks=len(blocks),
        n_content_blocks=content_blocks,
        chars_in=len(raw),
        chars_out=len(extracted),
        charset=charset,
    )


# ---------------------------------------------------------------------------
# Outlink extraction — the crawl-side link-graph feed. The reference's
# per-page flow has no link stage (its documents are scanned PDFs); this is
# the webgraph extension a Common-Crawl-style corpus needs: every <a href>
# in document order, anchor text as rendered, href resolved against the
# page URL. Feeds operators.graphs.host_pagerank.
# ---------------------------------------------------------------------------

# raw text one anchor keeps, before the whitespace collapse: nested unclosed
# anchors would otherwise each carry the rest of the page (quadratic output)
ANCHOR_TEXT_CAP = 4096

_SCHEME_AUTH_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*:)//([^/?#]*)")
_HAS_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def resolve_href(base_url: str, href: str) -> str | None:
    """Resolve ``href`` against ``base_url`` (simplified RFC 3986 subset,
    documented spec — the golden generator reproduces it by construction):

    * absolute with scheme → unchanged if http(s), else dropped (mailto:,
      javascript:, tel: … are not crawlable links);
    * protocol-relative ``//host/…`` → base scheme + href;
    * root-relative ``/…`` → base ``scheme://authority`` + href;
    * query-relative ``?page=2`` → base path kept verbatim (filename
      included), query replaced (RFC 3986 §5.3 merge — ubiquitous
      pagination markup);
    * fragment-only ``#…`` and empty → dropped (self-reference);
    * path-relative ``x/y`` → resolved against the base path's directory
      (no ``.``/``..`` normalization — crawl frontiers canonicalize later,
      see operators.urls.canonical_url).

    Returns None for dropped links.
    """
    if not href or href.startswith("#"):
        return None
    m = _SCHEME_AUTH_RE.match(base_url)
    if m is None:
        return None  # base itself unparseable: no resolution possible
    scheme, auth = m.group(1), m.group(2)
    hm = _HAS_SCHEME_RE.match(href)
    if hm:
        # RFC 3986 §3.1: schemes are case-insensitive — 'HTTP://host/x' is a
        # valid crawlable link. Compare the scheme lowercased but keep the
        # href itself verbatim (canonicalization happens downstream). The
        # '//' authority is still required: 'https:foo.html' (an authoring
        # typo browsers resolve relatively) has no host and would feed
        # empty-host junk into the link graph.
        if hm.group(0).lower() in ("http:", "https:") and href[hm.end():hm.end() + 2] == "//":
            return href
        return None
    if href.startswith("//"):
        return f"{scheme}{href}"
    if href.startswith("/"):
        return f"{scheme}//{auth}{href}"
    if href.startswith("?"):
        full_path = base_url[m.end() :].split("?", 1)[0].split("#", 1)[0] or "/"
        return f"{scheme}//{auth}{full_path}{href}"
    base_path = base_url[m.end() :].split("?", 1)[0].split("#", 1)[0]
    base_dir = base_path[: base_path.rfind("/") + 1] or "/"
    return f"{scheme}//{auth}{base_dir}{href}"


def outlinks_one(html: bytes | str | None, base_url: str) -> list[tuple[str, str]]:
    """One page's HTML → [(resolved_href, anchor_text)] in document order.

    Every ``<a>`` with a resolvable href counts, nested ones included. Its
    anchor text is the text inside it with one space at each element
    boundary, whitespace-collapsed — so ``<a>p<script>q</script>r</a>`` gives
    "p q r", however the tokenizer happens to chunk a text run. Only the
    first ``ANCHOR_TEXT_CAP`` chars of that raw text are kept, so each anchor
    costs O(cap) however deeply anchors nest.

    Same decode path as extract_one (charset sniff, errors="replace");
    malformed pages yield [] rather than raising — a page with no parseable
    links simply contributes nothing to the link graph (the extraction gate
    accounts for the failure itself).
    """
    out: list[tuple[str, str]] = []
    anchors: list[tuple[int, int]] = []  # per open <a>: (slot in out or -1, start in runs)
    runs: list[str] = []  # text inside open anchors; " " marks an element boundary
    ends = [0]  # ends[i]: chars in runs[:i]

    def push(s: str) -> None:
        runs.append(s)
        ends.append(ends[-1] + len(s))

    def enter(tag: str, depth: int, raw_attrs: str) -> None:
        if anchors:
            push(" ")
        if tag == "a":
            href = resolve_href(base_url, parse_attrs(raw_attrs).get("href", ""))
            slot = -1
            if href is not None:
                slot = len(out)  # reserved now, so links stay in document order
                out.append((href, ""))
            anchors.append((slot, len(runs)))

    def leave(tag: str) -> None:
        if tag == "a":
            slot, start = anchors.pop()
            if slot >= 0:
                # the runs that hold the anchor's first ANCHOR_TEXT_CAP chars;
                # no run is longer than the cap, so the join is O(cap)
                stop = bisect_left(ends, ends[start] + ANCHOR_TEXT_CAP, start)
                raw = "".join(runs[start:stop])[:ANCHOR_TEXT_CAP]
                out[slot] = (out[slot][0], " ".join(raw.split()))
            if not anchors:
                runs.clear()
                del ends[1:]
        if anchors:
            push(" ")

    def text(s: str) -> None:
        if anchors:
            push(s[:ANCHOR_TEXT_CAP])  # no anchor keeps more of one run

    try:
        if html is None:
            return []
        if isinstance(html, (bytes, bytearray)):
            if len(html) == 0:
                return []
            b = bytes(html)
            text_html = b.decode(sniff_charset(b), errors="replace")
        else:
            text_html = html
        scan(text_html, enter, leave, text)
    except Exception:  # noqa: BLE001 — survive any malformed page
        return []
    return out
