"""The Gopher signals against a pure-Python reference.

``repetition_stats`` and ``gopher_filter`` compute every signal inside the
row with array expressions; the reference below counts the same things with
``Counter`` over words, n-grams and lines. It reads Spark's ``norm_text`` and
the raw text, so normalisation is not under test here, only the counting.
"""

import math
from collections import Counter

from hypothesis import example, given, settings
from hypothesis import strategies as st

from ocr_machine_spark.functions import norm_text
from ocr_machine_spark.operators.textstats import GOPHER_DEFAULTS, gopher_filter, repetition_stats


def _e4(x: float) -> int:
    return math.floor(x * 10000.0 + 0.5)


def _reference(tx: str | None, raw: str | None) -> tuple[dict, str]:
    """→ (every repetition_stats column but doc_id, the reasons string)."""
    ws = tx.split(" ") if tx else []
    n = len(ws)

    def grams(k):
        return [tuple(ws[i : i + k]) for i in range(n - k + 1)]

    def top(k):
        c = Counter(grams(k))
        return max(c.values(), default=0), sum(c.values())

    def ratio(a, b):
        return _e4(a / b) if b else 0

    (t2, n2), (t3, n3), (t4, n4) = top(2), top(3), top(4)
    c5 = Counter(grams(5))
    covered = {p + j for p, g in enumerate(grams(5)) if c5[g] > 1 for j in range(5)}
    lines = [ln for ln in (raw or "").split("\n") if ln]
    s = {
        "n_words": None if tx is None else n,
        "dup_word_frac_e4": _e4(1.0 - len(set(ws)) / n) if n else 0,
        "top_bigram_n": t2,
        "top_bigram_share_e4": ratio(t2, n2),
        "top_3gram_share_e4": ratio(t3, n3),
        "top_4gram_share_e4": ratio(t4, n4),
        "n_lines": len(lines),
        "dup_line_frac_e4": ratio(len(lines) - len(set(lines)), len(lines)),
        "dup_5gram_char_frac_e4": ratio(sum(len(ws[q]) for q in covered), sum(map(len, ws))),
    }
    mwl = _e4((len(tx) - (n - 1)) / n) if n else 0
    g = GOPHER_DEFAULTS
    rules = [
        ("too_few_words", tx is not None and n < g["min_words"]),
        ("too_many_words", tx is not None and n > g["max_words"]),
        ("mean_word_len", not g["min_mean_word_len_e4"] <= mwl <= g["max_mean_word_len_e4"]),
        ("dup_words", s["dup_word_frac_e4"] > g["max_dup_word_frac_e4"]),
        ("dup_lines", s["dup_line_frac_e4"] > g["max_dup_line_frac_e4"]),
        ("top_bigram", s["top_bigram_share_e4"] > g["max_top_bigram_share_e4"]),
        ("dup_5grams", s["dup_5gram_char_frac_e4"] > g["max_dup_5gram_char_frac_e4"]),
    ]
    return s, ",".join(name for name, failed in rules if failed)


# a small vocabulary so words, n-grams and lines repeat; non-ASCII case pairs
# (İ lowers to two characters, ß has no single-character upper case)
_WORD = st.sampled_from(["a", "b", "ab", "the", "x", "İ", "i̇", "ß", "SS", "ss", "Straße", "zz9"])
_SEP = st.sampled_from([" ", "  ", "\t", "\x0b", "\f", "\r\n", "\n", "\n\n", " \n "])


@st.composite
def _document(draw):
    kind = draw(st.integers(0, 3))
    if kind == 0:
        return draw(st.sampled_from([None, "", " ", "\t\x0b\r\n", "a", "a b c d"]))
    words = draw(st.lists(_WORD, max_size=60))
    if kind == 2:  # a short run repeated back to back: overlapping 5-grams
        words = words[: draw(st.integers(1, 7))] * draw(st.integers(2, 6))
    seps = draw(st.lists(_SEP, min_size=len(words), max_size=len(words)))
    text = draw(st.sampled_from(["", " ", "\n"])) + "".join(w + s for w, s in zip(words, seps))
    return text + "\n" + text if kind == 3 else text  # kind 3: repeated lines


@settings(max_examples=20, deadline=None)
@given(st.lists(_document(), min_size=1, max_size=25))
@example(
    [
        None,
        "",
        " \t\x0b\r\n ",
        "a b c d",
        "İSTANBUL ß straße STRASSE",
        "a b c d e a b c d e a b c d e",
        "x y z w v x y z w v q",
        "l1\nl1\n\nl2\r\nl1\r\n",
        "a a a a a a a a a a",
    ]
)
def test_gopher_signals_match_python_reference(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    stats = {r["doc_id"]: r.asDict() for r in repetition_stats(docs).collect()}
    decisions = {r["doc_id"]: r for r in gopher_filter(docs).collect()}
    inputs = docs.select("doc_id", norm_text("text").alias("tx"), "text").collect()
    assert len(stats) == len(decisions) == len(texts)
    for doc_id, tx, raw in inputs:
        want, reasons = _reference(tx, raw)
        got = stats[doc_id]
        assert got.pop("doc_id") == doc_id
        assert got == want, (raw, tx)
        dec = decisions[doc_id]
        assert (dec["n_words"], dec["reasons"], dec["keep"]) == (want["n_words"], reasons, reasons == ""), raw
