"""Seeded inputs for the engine benchmark.

Every input is a pure function of ``seed`` and a size, so two runs with the
same seed see byte-identical inputs. Tables the benchmark writes are parquet
with one file per core, the shape a lake table has, so scans are cores-wide.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_machine_spark.fixtures import make_page
from ocr_machine_spark.sources.pages import generate_goldens, generate_pages

# ---------------------------------------------------------------------------
# pages (extraction)
# ---------------------------------------------------------------------------


def write_pages(spark, n: int, seed: int, path: str, files: int) -> None:
    """``sources.pages.generate_pages`` fixture pages as ``files`` parquet files."""
    generate_pages(spark, n, seed=seed, partitions=files).write.mode("overwrite").parquet(path)


def golden_map(spark, n: int, seed: int, files: int) -> dict:
    """url → (extracted_text, spans, removed_spans), computed by construction
    (``sources.pages.generate_goldens``, never by the extractor)."""
    tbl = (
        generate_goldens(spark, n, seed=seed, partitions=files)
        .select("url", "extracted_text", "spans", "removed_spans")
        .toArrow()
    )
    return {
        r["url"]: (r["extracted_text"], r["spans"], r["removed_spans"])
        for r in tbl.to_pylist()
    }


def _body(html: bytes, charset: str) -> str:
    s = html.decode(charset or "utf-8", errors="replace")
    a = s.find("<body>")
    b = s.rfind("</body>")
    return s[a + len("<body>"): b if b > a else len(s)]


def _hostile(rng: random.Random, family: str, filler: str) -> str:
    """One page of a hostile family, sized so one ``extract_one`` call stays
    well under half a second on the unoptimised tokenizer."""
    if family == "deep_nesting":
        n = rng.randint(6000, 9000)
        return "<div>" * n + filler + "</div>" * n
    if family == "stray_end_tags":
        # quadratic on the seed tokenizer: n=2500 costs about 0.15 s
        n = rng.randint(2000, 2500)
        return filler + "<span>" * n + "</b>" * n
    if family == "unclosed_raw_text":
        return filler + "<script>" + "x<y && z " * rng.randint(20000, 60000)
    if family == "huge_attributes":
        n = rng.randint(8000, 20000)
        return "<div " + " ".join(f'a{i}="v{i}"' for i in range(n)) + ">" + filler + "</div>"
    if family == "entity_flood":
        return "<p>" + "&amp;&#169;&lt; word " * rng.randint(10000, 40000) + "</p>" + filler
    raise ValueError(family)


HOSTILE_FAMILIES = (
    "deep_nesting",
    "stray_end_tags",
    "unclosed_raw_text",
    "huge_attributes",
    "entity_flood",
)


def large_pages(n: int, seed: int, lo_kb: int = 100, hi_kb: int = 400) -> list[tuple[str, bytes]]:
    """``n`` pages of ``lo_kb``–``hi_kb`` KB, each the concatenated bodies of
    seeded fixture pages, plus one page of every hostile family. → [(url, html)]."""
    rng = random.Random(f"large:{seed}")
    out = []
    k = 0
    for i in range(n):
        target = rng.randint(lo_kb, hi_kb) * 1000
        parts, size = [], 0
        while size < target:
            p = make_page(k, seed)
            k += 1
            body = _body(p.html, p.charset)
            parts.append(body)
            size += len(body)
        html = "<html><head><title>t</title></head><body>" + "".join(parts) + "</body></html>"
        out.append((f"https://large.example.com/{seed}/{i}", html.encode("utf-8")))
    filler = _body(make_page(k, seed).html, "utf-8")
    for fam in HOSTILE_FAMILIES:
        html = "<html><body>" + _hostile(rng, fam, filler) + "</body></html>"
        out.append((f"https://hostile.example.com/{seed}/{fam}", html.encode("utf-8")))
    return out


# ---------------------------------------------------------------------------
# documents (curation) and query tables
# ---------------------------------------------------------------------------

# Copies of the repository's sf0.1 test tables (seed 42) that the benchmark
# reads: ``documents`` and ``embeddings`` whole, ``orders`` reduced to the two
# columns ``ntile_price_bands`` reads. The benchmark reads only files inside
# the repository, so the tables travel with it.
SF_QUERIES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

# Span dedup excises every run of >= 8 words that occurs earlier in the
# corpus, so a copy whose shared text comes in longer runs never reaches the
# fingerprint or near-dedup rung: span dedup has already emptied it. A copy
# reaches those rungs only when its shared text comes in pieces shorter than
# that, split by runs span dedup does remove.
SPAN_MIN = 8
PIECE = SPAN_MIN - 1
NEAR_MIN_WORDS = 50  # a one-word edit keeps word 3-gram Jaccard near 0.88
_NAV_WORDS = (
    "home about contact privacy terms cookies accept subscribe newsletter login "
    "signup share menu search next previous related popular trending sponsored "
    "follow copyright reserved rights sitemap help careers press archive"
).split()


def _grams(words: list[str]) -> list[tuple[str, ...]]:
    low = [w.lower() for w in words]
    return [tuple(low[i:i + SPAN_MIN]) for i in range(len(low) - SPAN_MIN + 1)]


def _spliced(rng: np.random.Generator, words: list[str], nav: list[str]) -> str:
    """``words`` in pieces of PIECE words with a fresh navigation run of 8-12
    words between pieces, each run appended to ``nav``. Once span dedup
    removes the runs, the text left is ``words`` again."""
    out = []
    for a in range(0, len(words), PIECE):
        if a:
            run = " ".join(rng.choice(_NAV_WORDS, int(rng.integers(SPAN_MIN, SPAN_MIN + 5))))
            nav.append(run)
            out.append(run)
        out.append(" ".join(words[a:a + PIECE]))
    return " ".join(out)


def documents(n: int, seed: int) -> tuple[pa.Table, list[tuple[int, int]]]:
    """A seeded sample of ``n`` sf0.1 documents, ids a seeded permutation of
    1..N, plus planted copies of one in fifty of them for each dedup rung:
    exact copies for the fingerprint rung and one-word edits for the near
    rung, both spliced with navigation runs (``_spliced``). A site template
    page, doc_id 0, holds every navigation run first, so span dedup removes
    the runs from the copies. Copy sources are documents of 20-80 words (the
    Gopher word-count gate) whose every 8-word run is unique in the sample,
    so span dedup leaves them whole.

    → (table, exact pairs as (source id, copy id))."""
    rng = np.random.default_rng(seed)
    src = pq.read_table(os.path.join(SF_QUERIES, "documents.parquet"))
    rows = src.take(np.sort(rng.choice(src.num_rows, n, replace=False))).to_pylist()
    words = [r["text"].split() for r in rows]
    seen: dict[tuple[str, ...], int] = {}
    for ws in words:
        for g in _grams(ws):
            seen[g] = seen.get(g, 0) + 1
    whole = [i for i, ws in enumerate(words) if all(seen[g] == 1 for g in _grams(ws))]
    k = n // 50
    exact = rng.choice([i for i in whole if 20 <= len(words[i]) <= 80], k, replace=False)
    near = rng.choice([i for i in whole if NEAR_MIN_WORDS <= len(words[i]) <= 80 and i not in set(exact)],
                      k, replace=False)
    vocab = sorted({w for ws in words for w in ws})
    nav: list[str] = []
    copies = [(int(i), _spliced(rng, words[i], nav)) for i in exact]
    for i in near:
        ws = list(words[i])
        j = int(rng.integers(0, len(ws)))
        ws[j] = str(rng.choice([w for w in vocab if w.lower() != ws[j].lower()]))
        copies.append((int(i), _spliced(rng, ws, nav)))
    ids = 1 + rng.permutation(n + len(copies)).astype(np.int64)
    template = "\n".join(nav)
    out = [{**rows[0], "doc_id": 0, "text": template, "n_chars": len(template)}]
    out += [{**r, "doc_id": int(ids[i])} for i, r in enumerate(rows)]
    for c, (i, text) in enumerate(copies):
        out.append({**rows[i], "doc_id": int(ids[n + c]), "text": text, "n_chars": len(text)})
    pairs = [(int(ids[i]), int(ids[n + c])) for c, (i, _) in enumerate(copies[:k])]
    return pa.Table.from_pylist(out, schema=src.schema), pairs


def write_table(tbl: pa.Table, path: str, files: int) -> None:
    """Write ``tbl`` as a directory of ``files`` parquet files."""
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // files)
    for k in range(files):
        pq.write_table(tbl.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))
