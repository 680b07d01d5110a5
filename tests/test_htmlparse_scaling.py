"""Linear-time guard for the HTML tokenizer and both of its sinks.

No page may stall a task: every hostile family below must cost time linear
in the page through ``render_page`` and ``outlinks_one``. For each family,
min-of-3 time(4n) / time(n) must stay ≤ 8 (linear gives ~4, quadratic ~16).
n is chosen so time(n) is at least ~5 ms on a 4-core x86 host, well above
timer noise. Known exception, not covered here: a long run of unclosed start
tags at end of input ("<a " * n) is quadratic in html.parser itself, which
the tokenizer mirrors.
"""

import gc
import time

import pytest

from ocr_machine_spark.core.extract import outlinks_one
from ocr_machine_spark.core.htmlparse import render_page

MAX_RATIO = 8.0


def _attr_list(n: int) -> str:
    # fixed-width names, so the 4n page is exactly 4x longer
    return " ".join(f"a{i:06d}='v'" for i in range(n))


# family → (page builder, n)
FAMILIES = {
    "deep_nesting": (lambda n: "<div><b>" * n + "x" + "</b></div>" * n, 1000),
    "stray_end_tags": (lambda n: "<span>" * n + "</b>" * n, 2000),
    "unclosed_script": (lambda n: "<p>t</p><script>" + "if (a<b) {x='</div>'}\n" * n, 50000),
    "huge_attrs_div": (lambda n: f"<div {_attr_list(n)}>x</div>", 8000),
    # a cell, so the renderer's rowspan/colspan attribute parse runs
    "huge_attrs_td": (
        lambda n: f"<table><tr><td {_attr_list(n)} colspan=2>x</td></tr></table>",
        8000,
    ),
    "entity_flood": (
        lambda n: "<p><a href=/x>" + "&amp;&lt;&#x41;&eacute; " * n + "</a></p>",
        2000,
    ),
    # every anchor stays open, so each one's text spans the rest of the page
    "nested_unclosed_anchors": (lambda n: "<a href=/x>w " * n, 2000),
}

SINKS = {
    "render_page": render_page,
    "outlinks_one": lambda html: outlinks_one(html, "https://h.example/"),
}


def _best_of_3(fn, html: str) -> float:
    gc.collect()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        fn(html)
        best = min(best, time.perf_counter() - t0)
    return best


@pytest.mark.parametrize("sink", sorted(SINKS))
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_linear_time(family, sink):
    build, n = FAMILIES[family]
    fn = SINKS[sink]
    small, large = build(n), build(4 * n)
    t_small = _best_of_3(fn, small)
    t_large = _best_of_3(fn, large)
    ratio = t_large / t_small
    assert ratio <= MAX_RATIO, (
        f"{family} via {sink}: time(4n)/time(n) = {ratio:.1f} "
        f"({t_small * 1e3:.1f} ms → {t_large * 1e3:.1f} ms, {len(large)} chars)"
    )
