"""Text-analysis operators for training-data pipelines — all JVM-side
expressions (no Python on the hot path): token counting, quality scoring,
language-ID heuristic, document fingerprinting.

These are first-class components for the 100 TB pipeline (task brief): each
has an exact ANSI-SQL twin in ``__spark_entry__.oracle_sql`` so correctness is
DuckDB-checked, and each is a narrow projection over ``documents``/pages so
Catalyst prunes the scan to the columns used.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_machine_spark.functions import fixed_point, norm_text, token_count, word_shingles

# tiny marker-word lists for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ["the", "a", "and", "of"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "les", "et"],
    "es": ["el", "los", "las", "y"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def _count_word(ws_col, word: str):
    # exact whole-word occurrence count over the pre-split token array —
    # counts adjacent repeats correctly (' the the ' → 2), unlike the
    # replace()-based length delta which does not rescan its own output
    return F.size(F.filter(ws_col, lambda x: x == F.lit(word))).cast("long")


# BPE-ish pre-tokenizer (GPT-2-style word/digit/punct split, simplified to a
# pattern both Spark (Java regex) and DuckDB (RE2) interpret identically):
# letter runs, single digits, single non-alnum-non-space marks.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics: whitespace tokenizer + BPE-ish regex
    pre-tokenizer (task brief: 'token counting (whitespace + a BPE-ish
    regex)'). Both are JVM regex expressions — no Python."""
    t = norm_text("text")
    toks = token_count(t)
    return docs.select(
        "doc_id",
        toks.alias("n_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), 0)).cast("long").alias("n_bpe_tokens"),
        F.length(t).cast("long").alias("n_chars_norm"),
        # NULL (not a phantom ratio) for zero-token docs, both engines
        F.when(toks > 0, fixed_point(F.length(t) / toks)).alias("avg_token_len_e4"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Deterministic quality gates: length, stopword ratio, mean token length
    — the text twin of the reference's geometric quality gates
    (``python_files/strikethrough_agent.py:100-127``)."""
    t = norm_text("text")
    # split once, count many: one array projection feeds all word counters
    d = docs.select("doc_id", t.alias("tx"), F.split(t, " ").alias("ws"))
    toks = F.when(F.col("tx") == "", F.lit(0)).otherwise(F.size("ws")).cast("long")
    stop_hits = None
    for w in STOPWORDS:
        c = _count_word(F.col("ws"), w)
        stop_hits = c if stop_hits is None else stop_hits + c
    stop_ratio = F.when(toks > 0, stop_hits / toks)  # NULL for empty docs
    len_score = F.least(F.length("tx") / F.lit(500.0), F.lit(1.0))
    score = len_score * F.lit(0.5) + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.5)
    return d.select(
        "doc_id",
        toks.alias("n_tokens"),
        fixed_point(stop_ratio).alias("stop_ratio_e4"),
        fixed_point(score).alias("quality_e4"),
    )


def lang_guess(docs: DataFrame) -> DataFrame:
    """Marker-word language scorer; deterministic argmax tiebreak by language
    code. (Heuristic n-gram lang-ID per task brief — scored per language,
    winner-take-all.)"""
    t = norm_text("text")
    d = docs.select("doc_id", t.alias("tx"), F.split(t, " ").alias("ws"))
    toks = F.when(F.col("tx") == "", F.lit(0)).otherwise(F.size("ws")).cast("long")
    cols = []
    for lang in sorted(LANG_MARKERS):
        hits = None
        for w in LANG_MARKERS[lang]:
            c = _count_word(F.col("ws"), w)
            hits = c if hits is None else hits + c
        # 0.0 (not NULL) for zero-token docs: every language ties at 0 and
        # the asc tiebreak picks the same winner on both engines; NULL text
        # stays NULL (explicit == 0 branch, no otherwise catch-all)
        score = F.when(toks > 0, hits / toks).when(toks == 0, F.lit(0.0))
        cols.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # argmax with (score desc, lang asc) tiebreak via array_max over structs:
    # struct comparison is lexicographic, so negate... simpler: greatest of
    # structs puts highest score first; ties broken by lang DESC — invert lang
    # by using array_sort and taking the last element with explicit comparator.
    arr = F.array(*cols)
    best = F.array_sort(
        arr,
        lambda x, y: F.when(x["score"] < y["score"], F.lit(-1))
        .when(x["score"] > y["score"], F.lit(1))
        .otherwise(  # equal scores → later lang code sorts first → asc wins
            F.when(x["lang"] > y["lang"], F.lit(-1)).when(x["lang"] < y["lang"], F.lit(1)).otherwise(F.lit(0))
        ),
    )[len(cols) - 1]
    return d.select(
        "doc_id",
        best["lang"].alias("pred_lang"),
        fixed_point(best["score"]).alias("lang_score_e4"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over normalized text (the cheap global
    fingerprint; MinHash/SimHash in operators.dedup are the near-dup ones)."""
    return docs.select("doc_id", F.md5(norm_text("text")).alias("fp"))


# 2^50: keeps every fold step overflow-free in signed-64 on BOTH engines
# (acc < 2^50 ⇒ acc*31 < 2^55; + word hash < 2^60 ⇒ sum < 2^61) — DuckDB
# ERRORS on BIGINT overflow where the JVM wraps, so the rolling recurrence
# must never leave the shared exact range.
_ROLL_MOD = 1 << 50


def _md5_int60(col) -> F.Column:
    """First 15 md5 hex digits as a BIGINT (< 2^60) — the shared
    engine-portable string hash (Spark ``conv`` ≡ DuckDB ``0x``-cast); used
    by rolling/winnowing fingerprints and stratified sampling."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def rolling_fingerprint(docs: DataFrame) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint (task brief: "document
    fingerprinting (rolling hash)") — a Rabin-Karp-style word-level Horner
    fold: ``h = fold(words, 0, (acc, w) -> (acc·31 + H(w)) mod 2^50)`` with
    ``H(w)`` = the first 15 md5 hex digits as an integer (< 2^60, computable
    identically in Spark ``conv`` and DuckDB ``0x``-cast). Unlike the md5
    fingerprint it is incremental — a prefix's hash is reusable when
    documents are extended, the property streaming ingest wants — and unlike
    bag-of-words hashes it distinguishes word order. Pure JVM expressions;
    per-row cost O(words)."""
    words = F.split(norm_text("text"), " ")
    h = F.aggregate(
        F.transform(words, _md5_int60),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + x) % F.lit(_ROLL_MOD),
    )
    return docs.select("doc_id", h.alias("roll_fp"), token_count(norm_text("text")).alias("n_words"))


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    *,
    stratum: str = "lang",
    key: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling — the data-mixing primitive a
    training pipeline needs (per-language/per-source mixture weights):
    a row is kept iff the integer of its key's first 15 md5 hex digits
    (uniform in [0, 2^60)) falls below ``rate·2^60`` for its stratum.

    No RNG anywhere: the sample is a pure function of (key, rates), so it is
    identical across engines, runs, partitionings and cluster sizes — and
    monotone in the rate (raising a stratum's rate only ADDS documents,
    which keeps incremental corpus rebuilds superset-stable). Thresholds are
    folded to exact BIGINT literals driver-side; the filter is one JVM
    expression, pushable to the scan."""
    h = _md5_int60(F.col(key).cast("string"))
    thr = F.lit(int(default_rate * (1 << 60)))
    for s, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum) == s, F.lit(int(rate * (1 << 60)))).otherwise(thr)
    return docs.filter(h < thr)


def winnow_fingerprints(docs: DataFrame, k: int = 3, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the standard local-fingerprint scheme): hash every word k-gram, slide a
    w-window over the hash sequence, keep the minimum of each window, emit
    the distinct selected hashes per document as (doc_id, fp) rows. Any two
    documents sharing a run of ≥ w+k-1 words are GUARANTEED to share a
    fingerprint — the recall property MinHash only gives probabilistically —
    while storing ~2/(w+1) of the shingle hashes.

    Short docs: fewer than w shingles → one window over what exists (the
    common totality convention); fewer than k words → no fingerprints.
    Pure JVM array expressions (transform/slice/array_min), hash =
    md5-prefix integer — both engines compute identical BIGINTs, so the
    DuckDB twin replays the algorithm directly. Per-row cost O(words·w);
    no shuffle until the consumer aggregates.

    The shingle-hash array is materialized as its OWN projection before the
    window transform: an expression referenced inside a higher-order-function
    lambda is re-evaluated per lambda invocation (no common-subexpression
    elimination across HOF boundaries), so inlining ``sh`` made the md5 of
    every shingle recompute once PER WINDOW — O(words²·md5) per row,
    measured 295 s for the sf0.1 corpus vs ~2 s materialized (round-4 bench
    promotion caught it). A column reference is evaluated once per row."""
    # compose the engine-wide shingle builder (shares its sequence(1,0)-
    # descends guard) with the shared portable hash
    sh_expr = F.transform(word_shingles(norm_text("text"), k), _md5_int60)
    sh = F.col("__sh")
    n_sh = F.size(sh)
    fps = F.when(
        n_sh >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_sh - (w - 1), F.lit(1))),
                lambda i: F.array_min(F.slice(sh, i, w)),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    return (
        docs.select("doc_id", sh_expr.alias("__sh"))
        .select("doc_id", F.explode(fps).alias("fp"))
    )


# PII patterns — shared RE2/Java-regex-safe subset (no backrefs, no lookarounds)
# so Spark and DuckDB compile the IDENTICAL automaton. The redaction is the
# text twin of the reference's white-out removal (white_out_manager.py:27-34):
# find spans, excise, keep counts for audit.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+[0-9][0-9()\\- ]{7,}[0-9]"


def pii_scrub(docs: DataFrame, text: str = "text") -> DataFrame:
    """Deterministic PII redaction over a text column: count and replace
    email/phone matches (the standard pre-training scrub pass). Pure JVM
    regexp expressions — one scan, no shuffle, pushable upstream of any
    keyed stage. Patterns restricted to the RE2∩Java subset so the DuckDB
    twin matches byte-for-byte."""
    t = F.col(text)
    redacted = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0)).cast("long").alias("n_phones"),
        (F.length(t) - F.length(redacted)).cast("long").alias("chars_delta"),
        F.md5(redacted).alias("redacted_fp"),
    )


def _shingles_sql(ws: str, k: int) -> str:
    """SQL form of ``functions.word_shingles`` over a word-array column: k−1
    shifted slices zipped, each slice outside the lambda, so O(k·words)."""
    cur = ws
    for j in range(1, k):
        tail = f"slice({ws}, {j + 1}, greatest(size({ws}) - {j}, 0))"
        cur = f"zip_with({cur}, {tail}, (a, b) -> concat(a, ' ', b))"
    return f"CASE WHEN size({ws}) >= {k} THEN slice({cur}, 1, size({ws}) - {k - 1}) ELSE array() END"


def _top_count_sql(g: str) -> str:
    """Count of the most frequent element of the sorted array ``g`` (0 when
    empty): one walk that tracks the current run of equal neighbours."""
    run = "IF(x = acc.prev, acc.run + 1, 1L)"
    return (
        f"aggregate({g}, named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'top', 0L), "
        f"(acc, x) -> named_struct('prev', x, 'run', {run}, 'top', greatest(acc.top, {run})), "
        "acc -> acc.top)"
    )


def _repetition(docs: DataFrame, text: str) -> DataFrame:
    """Every Gopher signal of ``repetition_stats`` plus ``mwl_e4``, as
    narrow projections over each row's own arrays: no explode, no shuffle,
    O(words log words) per row.

    Each projection materialises what the next one's lambdas read: an
    expression inside a lambda is re-evaluated per element (the
    ``winnow_fingerprints`` lesson), a column reference is not. Catalyst
    merges two projections when the later one reads each costly column only
    once, so every array materialised here is read at least twice
    (``tests/test_textstats_scaling.py`` guards the result). The
    array stages are SQL text, parsed once in the JVM: built as Python
    ``Column`` lambdas, the same stages took 0.57 s of driver time per call
    against 0.14 s (sf0.1 documents, 4-core x86 host)."""
    raw = F.coalesce(F.col(text), F.lit(""))
    # normalise and split once per row
    w = docs.select(
        "doc_id",
        norm_text(text).alias("tx"),
        F.filter(F.split(raw, "\n"), lambda x: x != F.lit("")).alias("lines"),
    ).selectExpr("doc_id", "tx", "split(tx, ' ') AS ws", "lines")
    # word lengths, sorted 2/3/4-grams, and each 5-gram with its 0-based
    # position sorted by (gram, position), so repeats are neighbours
    w = w.selectExpr(
        "doc_id", "tx", "ws", "lines",
        "transform(ws, x -> CAST(length(x) AS BIGINT)) AS wl",
        *(f"sort_array({_shingles_sql('ws', n)}) AS g{n}" for n in (2, 3, 4)),
        f"sort_array(transform({_shingles_sql('ws', 5)}, (g, i) -> named_struct('g', g, 'p', i))) AS s5",
    )
    # eq5[j]: the j-th sorted 5-gram equals the next one (false for the last)
    w = w.selectExpr(
        "*", "zip_with(s5, slice(s5, 2, size(s5)), (a, b) -> coalesce(a.g = b.g, false)) AS eq5"
    )
    # a 5-gram is repeated when it equals either neighbour; it covers words
    # p+1..p+5, each counted once
    rep = "zip_with(eq5, concat(array(false), eq5), (a, b) -> a OR b)"
    pos = f"filter(zip_with(s5, {rep}, (x, r) -> IF(r, x.p, NULL)), p -> p IS NOT NULL)"
    covered = f"array_distinct(flatten(transform({pos}, p -> sequence(p + 1, p + 5))))"
    # split('') is [''], a phantom token: empty text has no words
    # (functions.token_count)
    w = w.selectExpr(
        "doc_id", "tx",
        "CAST(IF(tx = '', 0, size(ws)) AS BIGINT) AS n_words",
        "CAST(IF(tx = '', 0, size(array_distinct(ws))) AS BIGINT) AS n_distinct",
        "IF(tx = '', 0L, aggregate(wl, 0L, (a, x) -> a + x)) AS n_word_chars",
        f"aggregate({covered}, 0L, (a, q) -> a + element_at(wl, q)) AS cov_chars",
        *(f"{_top_count_sql(f'g{n}')} AS top{n}" for n in (2, 3, 4)),
        *(f"size(g{n}) AS tot{n}" for n in (2, 3, 4)),
        "CAST(size(lines) AS BIGINT) AS n_lines",
        "size(array_distinct(lines)) AS n_distinct_lines",
    )
    n_words = F.col("n_words")
    dup_frac = F.when(n_words > 0, 1.0 - F.col("n_distinct") / n_words).otherwise(F.lit(0.0))

    def share(top: str, tot: str):
        return F.when(F.col(tot) > 0, F.col(top) / F.col(tot)).otherwise(F.lit(0.0))

    dup_line_frac = F.when(
        F.col("n_lines") > 0,
        (F.col("n_lines") - F.col("n_distinct_lines")) / F.col("n_lines"),
    ).otherwise(F.lit(0.0))
    dup5_char_frac = F.when(
        F.col("n_word_chars") > 0, F.col("cov_chars") / F.col("n_word_chars")
    ).otherwise(F.lit(0.0))
    # mean word length: single-space normalization makes chars =
    # length - (n_words - 1) an identity, so this is exact integer input
    mwl = F.when(
        n_words > 0, fixed_point((F.length("tx") - (n_words - F.lit(1))) / n_words)
    ).otherwise(F.lit(0))
    return w.select(
        "doc_id",
        "n_words",
        fixed_point(dup_frac).alias("dup_word_frac_e4"),
        F.coalesce("top2", F.lit(0)).alias("top_bigram_n"),
        fixed_point(share("top2", "tot2")).alias("top_bigram_share_e4"),
        fixed_point(share("top3", "tot3")).alias("top_3gram_share_e4"),
        fixed_point(share("top4", "tot4")).alias("top_4gram_share_e4"),
        "n_lines",
        fixed_point(dup_line_frac).alias("dup_line_frac_e4"),
        fixed_point(dup5_char_frac).alias("dup_5gram_char_frac_e4"),
        mwl.alias("mwl_e4"),
    )


def repetition_stats(docs: DataFrame, text: str = "text") -> DataFrame:
    """Gopher repetition quality signals — the COMPLETE §A1.1 rule set
    (Rae et al. 2021, the published webtext-curation rules): duplicate-word
    fraction, duplicate-LINE fraction (lines = the raw text split on
    newlines, empty lines dropped; a "duplicate" is every occurrence after
    a line's first, the standard counting), the share of all word n-grams
    taken by the single most frequent n-gram for n = 2, 3, 4, and the
    fraction of word characters covered by any 5-gram that occurs more than
    once in the document (overlap-merged: each covered word position counts
    its characters once). High values flag boilerplate/spam for removal
    before training.

    Shape: every signal is a function of one document, so it is computed
    inside the row, in native JVM expressions over the row's arrays:
    distinct words and lines by ``array_distinct``, each top n-gram count
    by one walk over the sorted n-grams, repeated 5-grams as equal
    neighbours in the (gram, position)-sorted array. One scan, no explode,
    no shuffle and no join; O(words log words) per row, so no document
    length stalls a task. Text twin of the reference's density/noise gates
    (``python_files/strikethrough_agent.py:100-127``)."""
    return _repetition(docs, text).drop("mwl_e4")


# Gopher-rule thresholds (Rae et al. 2021 §A1.1 structure; values adapted to
# this corpus' scale — the paper's 50-word minimum would reject the whole
# synthetic table. All fractions are e4 fixed-point so the keep/drop decision
# compares INTEGERS on both engines — no float-boundary divergence).
GOPHER_DEFAULTS = {
    "min_words": 20,
    "max_words": 80,
    "min_mean_word_len_e4": 30_000,  # 3.0 chars
    "max_mean_word_len_e4": 100_000,  # 10.0 chars
    "max_dup_word_frac_e4": 6_000,
    "max_dup_line_frac_e4": 3_000,
    "max_top_bigram_share_e4": 1_200,
    "max_dup_5gram_char_frac_e4": 2_000,
}

# (rule name, e4-integer predicate builder) in FIXED order — the reasons
# string is the comma-join of failed rules in this order on both engines
_GOPHER_RULES = [
    ("too_few_words", lambda s, c: s["n_words"] < c["min_words"]),
    ("too_many_words", lambda s, c: s["n_words"] > c["max_words"]),
    (
        "mean_word_len",
        lambda s, c: (s["mwl_e4"] < c["min_mean_word_len_e4"])
        | (s["mwl_e4"] > c["max_mean_word_len_e4"]),
    ),
    ("dup_words", lambda s, c: s["dup_word_frac_e4"] > c["max_dup_word_frac_e4"]),
    ("dup_lines", lambda s, c: s["dup_line_frac_e4"] > c["max_dup_line_frac_e4"]),
    ("top_bigram", lambda s, c: s["top_bigram_share_e4"] > c["max_top_bigram_share_e4"]),
    (
        "dup_5grams",
        lambda s, c: s["dup_5gram_char_frac_e4"] > c["max_dup_5gram_char_frac_e4"],
    ),
]


def gopher_filter(docs: DataFrame, text: str = "text") -> DataFrame:
    """The curation DECISION the repetition stats exist for: apply the
    complete Gopher rule set and emit (doc_id, n_words, keep, reasons) —
    ``reasons`` is the comma-joined list of failed rules in fixed order
    (empty when kept), the audit trail a production filter pass writes next
    to its drop decisions.

    Mean word length is exact integer arithmetic on the normalized text
    (chars = length - (n_words-1), single-space normalization makes that an
    identity); every other signal is the e4 fixed-point output of
    ``repetition_stats``, so each threshold comparison is BIGINT vs BIGINT —
    byte-identical decisions on Spark and the SQL twin. The rules read the
    same one-scan projection as ``repetition_stats``: no join, no shuffle."""
    s = _repetition(docs, text)
    reason_cols = [
        F.when(pred(s, GOPHER_DEFAULTS), F.lit(name)) for name, pred in _GOPHER_RULES
    ]
    reasons = F.concat_ws(",", *reason_cols)  # concat_ws skips NULLs
    return s.select(
        "doc_id",
        "n_words",
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 8,
    *,
    text: str = "text",
    bench_text: str = "text",
) -> DataFrame:
    """Train/test DECONTAMINATION — the published pre-training hygiene pass
    (GPT-3 appendix C / PaLM §7 style): flag every training document that
    shares any word ``k``-gram with a benchmark/eval corpus, so evaluation
    prompts can be excised from the training set.

    Shape: both sides shingle to distinct k-grams (JVM array expressions),
    the benchmark side — eval suites are tiny next to a 100 TB corpus — is
    deduped and BROADCAST, so the probe is a map-side hash join over the
    exploded training shingles: no shuffle of training data at all; the only
    aggregation is the per-doc hit count, keyed on doc_id.

    → (doc_id, n_hits, contaminated). ``n_hits`` counts the doc's DISTINCT
    shingles that appear in the benchmark (not occurrence multiplicity), so
    a doc repeating one leaked prompt scores the same as one containing it
    once — the decision signal, not a frequency."""
    d_sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(norm_text(text), k))).alias("sh"),
    )
    b_sh = (
        bench.select(
            F.explode(F.array_distinct(word_shingles(norm_text(bench_text), k))).alias("sh")
        )
        .distinct()
    )
    hits = d_sh.join(F.broadcast(b_sh), "sh").groupBy("doc_id").agg(
        F.count("*").alias("n_hits")
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def rarity_stats(docs: DataFrame, text: str = "text", rare_threshold: int = 2) -> DataFrame:
    """Corpus-RELATIVE quality signals — the exact-arithmetic form of
    CCNet-style LM filtering: how typical is each document's vocabulary of
    the corpus it sits in? Per document: the mean corpus term-frequency of
    its word occurrences and the fraction of occurrences whose word appears
    at most ``rare_threshold`` times corpus-wide (OOV/noise proxy). Unlike a
    log-prob score these are exact integer ratios (no transcendental whose
    last-ulp varies between engines), so the fixed-point gate is stable.

    Shape: one explode of word occurrences, one count aggregation keyed on
    the word (the corpus model — built in the same plan, no driver round
    trip), one shuffle join back on the word, one per-doc aggregation.
    Every stage is keyed partial-agg work; nothing is collected. At 100 TB
    the word-keyed stages are the classic skewed-key shape ('the' is a
    mega-key) — partial aggregation collapses each map task's occurrences
    before the shuffle, so the hot key ships one row per task, not one per
    occurrence."""
    tx = norm_text(text)
    ws = F.filter(F.split(tx, " "), lambda x: x != F.lit(""))
    words = docs.select("doc_id", F.explode(ws).alias("w"))
    corpus = words.groupBy("w").agg(F.count("*").alias("cf"))
    per_doc = (
        words.join(corpus, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("cf").alias("sum_cf"),
            F.sum((F.col("cf") <= rare_threshold).cast("long")).alias("n_rare"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
            F.when(
                F.col("n_words") > 0, fixed_point(F.col("sum_cf") / F.col("n_words"))
            ).otherwise(F.lit(0)).alias("mean_corpus_tf_e4"),
            F.when(
                F.col("n_words") > 0, fixed_point(F.col("n_rare") / F.col("n_words"))
            ).otherwise(F.lit(0)).alias("rare_word_frac_e4"),
        )
    )


def passage_overlap_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    *,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Passage-overlap detection (the MOSS use of winnowing fingerprints,
    Schleimer et al. SIGMOD'03 §5): pairs of documents sharing at least
    ``min_shared`` selected fingerprints — the cheap detector for COPIED
    PASSAGES (shared runs ≥ w+k-1 words are guaranteed to share a
    fingerprint), sitting between exact dedup (whole-document) and MinHash
    (whole-document similarity) in the dedup ladder.

    Scale guard: a boilerplate passage shared by many documents makes its
    fingerprint a hot pairing key (quadratic pairs within the group — the
    same shape as an LSH mega-bucket). ``max_df`` drops fingerprints whose
    document frequency exceeds the cap BEFORE pairing — boilerplate that
    common is dedup-by-boilerplate-removal territory, not pairing
    territory.

    Plan shape: the naive formulation (df-count join + fp self-equi-join)
    recomputes the winnowing projection — the dominant per-row cost — once
    per branch (4× observed in the physical plan). Instead the doc list is
    grouped per fp ONCE (``collect_list`` — bounded by ``max_df`` when
    capped, and the list size IS the document frequency, so the cap is a
    plain size filter, no separate count), pairs are generated in-row from
    the sorted list (O(df²) per fp, ≤ max_df² — the same pair volume the
    self-join would shuffle, without re-scanning the corpus), then one
    pair-keyed count. Total: ONE winnow pass over the corpus and two
    shuffles (fp, then (a,b)); no cartesian, no recompute. With
    ``max_df=None`` a hot fingerprint makes its group's in-row pair array
    quadratic — same caveat as any uncapped pairing tier; cap in
    production."""
    # winnow_fingerprints emits per-doc DISTINCT fps already (array_distinct
    # before the explode) — no extra distinct shuffle needed
    fps = winnow_fingerprints(docs, k=k, w=w)
    grouped = fps.groupBy("fp").agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    if max_df is not None:
        grouped = grouped.filter(F.size("ds") <= max_df)
    # all ordered pairs (ds[i], ds[j]) with i < j, generated in-row: the
    # list is sorted, so slicing past position i keeps a < b by construction
    pairs = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + 2, F.size("ds") - i - 1),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def source_quota_sample(
    docs: DataFrame, cap: int, *, stratum: str = "source", key: str = "doc_id"
) -> DataFrame:
    """Per-domain quota downsampling — the "no host may dominate the
    corpus" curation rule (the webtext twin of the reference's per-batch
    size caps, ``python_files/textract_cleanup.py:61-77``): keep at most
    ``cap`` documents per stratum, selected by the engine-portable md5 rank
    of the key (ties broken by the key itself), so the kept set is a pure
    function of (stratum, key, cap) — stable across runs, partitionings and
    cluster sizes, and monotone in ``cap`` (raising the quota only ADDS
    documents, keeping incremental corpus rebuilds superset-stable).

    Scale shape: one window ``row_number() OVER (PARTITION BY stratum
    ORDER BY h, key)`` + ``<= cap`` filter. Spark ≥3.5's
    InferWindowGroupLimit inserts a partial per-partition top-``cap`` BELOW
    the shuffle, so a mega-host (the exact skew this op exists to curb)
    ships at most ``cap`` rows per upstream partition instead of its whole
    row set — the dominant key never concentrates on one reducer."""
    h = _md5_int60(F.col(key).cast("string"))
    w = Window.partitionBy(stratum).orderBy(h.asc(), F.col(key).asc())
    return (
        docs.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= cap)
        .drop("__r")
    )


# packs (doc_id, line position) into one orderable BIGINT for the keeper
# min — cross-engine (DuckDB has no struct min); bounds documented below
LINE_POS_MOD = 1 << 20


def line_dedup(docs: DataFrame, text: str = "text") -> DataFrame:
    """CCNet-style cross-corpus line deduplication (Wenzek et al., LREC 2020
    §3.1 — "we deduplicate paragraphs" — the line-granular form of C4's
    repeated-span removal): every distinct line (case-insensitive,
    whitespace-trimmed hash) keeps exactly its FIRST corpus-wide occurrence
    — minimum (doc_id, position) — and all later copies are removed; each
    document's text is reassembled from its surviving lines in original
    order. Blank lines are dropped outright; documents with no non-blank
    lines produce no row. Returns (doc_id, n_lines, n_kept, text_dedup)
    with n_lines counting the doc's non-blank lines.

    This is the boilerplate killer exact whole-document dedup cannot be:
    navigation chrome, cookie banners and shared footers repeat across
    MILLIONS of pages whose documents are otherwise unique.

    Scale shape: posexplode lines → partial-agg min(packed occurrence key)
    per line hash — the map-side combine collapses a million-copy
    boilerplate line to one candidate per upstream partition BEFORE the
    shuffle — → equi-join back on the hash (keeper side is one row per
    DISTINCT line) → per-doc reassembly (collect_list + in-row sort). Two
    shuffles (line hash, doc_id); no window over the hot hash key anywhere.
    The keeper branch re-parses the corpus (Catalyst materializes no CTE
    without an explicit cache barrier) — a deliberate trade: ``min(okey)
    OVER (PARTITION BY h)`` would parse once but has NO map-side combine,
    shipping every copy of a hot boilerplate line to one reducer; the
    partial-agg branch collapses them to one candidate per upstream
    partition, and parse cost is per-row compute that scales out while a
    skewed reducer does not. The packed key is doc_id·2^20 + pos: valid for
    doc_id < 2^43 and < 2^20 lines per document (a >1M-line "document"
    belongs in the too-long quality gate, not here)."""
    raw = F.coalesce(F.col(text), F.lit(""))
    lines = (
        docs.select("doc_id", F.posexplode(F.split(raw, "\n")).alias("pos", "line"))
        .filter(F.trim("line") != "")
        .select(
            "doc_id",
            "pos",
            "line",
            F.md5(F.lower(F.trim("line"))).alias("h"),
            (F.col("doc_id") * F.lit(LINE_POS_MOD) + F.col("pos")).alias("okey"),
        )
    )
    keep = lines.groupBy("h").agg(F.min("okey").alias("keep_key"))
    j = lines.join(keep, "h").withColumn("kept", F.col("okey") == F.col("keep_key"))
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("kept"), F.struct("pos", "line")))
                ),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("text_dedup"),
    )


def span_dedup(
    docs: DataFrame,
    min_len: int = 8,
    text: str = "text",
    *,
    preserve_case: bool = False,
) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — ExactSubstr): corpus-wide
    removal of duplicated runs of ≥ ``min_len`` consecutive words, keeping
    exactly the FIRST corpus occurrence of each duplicated run. The paper
    builds a suffix array; this is the relational re-expression at word
    granularity: every ``min_len``-gram occurring at more than one
    (doc, position) corpus-wide is a duplicate witness, every non-first
    witness excises its ``min_len`` word positions, overlapping excisions
    merge by position-set union, and each document's surviving words
    reassemble in original order. The ≥-guarantee matches the paper's: a
    duplicated run of length R ≥ min_len is covered by R−min_len+1
    duplicated grams, so the whole run (not just one gram) is excised at
    every non-first site.

    Tokenization is the engine's norm_text whitespace convention (the
    winnowing/Jaccard convention — spans are word-aligned, not byte-aligned;
    a byte-exact variant would key on char offsets the same way). First
    occurrence = minimum packed key doc_id·2^20 + pos (line_dedup's packing,
    same < 2^43 docs / < 2^20 words bounds). Documents whose normalized
    text is empty produce no row; a document fully covered by later-site
    duplicates keeps n_kept = 0 and text_dedup = ''.

    Returns (doc_id, n_words, n_kept, text_dedup).

    Scale shape (the line_dedup pattern, one level down): grams key on
    md5(gram) — the partial agg's map-side combine collapses a
    million-copy boilerplate gram to one candidate per upstream partition
    BEFORE the shuffle; the join back ships gram rows (corpus word count,
    ~min_len× smaller than the paper's suffix-array traffic since only
    gram STARTS travel); position explosion is bounded by doc length via
    the distinct. Three shuffles (gram hash, position distinct, doc
    reassembly). The gram array is materialized as its own projection
    before the HOF transform (the winnow_fingerprints O(words²) lesson).

    ``preserve_case=True`` (the curation-rewrite mode): matching stays
    case-insensitive (grams hash the lowercased words — identical witness
    sets), but the reassembled text keeps the original word casing
    (whitespace still collapses — positions must align with the match
    tokenization). The gated default reassembles normalized (lowercased)
    words, the engine-wide norm_text policy.

    Reference twin: the reference removes repeated strikethrough regions
    once detected (white_out_manager.py:27-34 span excision); this is the
    corpus-scale text form of remove-span-keep-rest.
    """
    collapsed = F.trim(
        F.regexp_replace(F.coalesce(F.col(text), F.lit("")), r"\s+", " ")
    )
    tx = collapsed if preserve_case else F.lower(collapsed)
    base = docs.select("doc_id", tx.alias("tx")).filter(F.col("tx") != "")
    w = base.select("doc_id", F.split("tx", " ").alias("ws"))
    words = w.select(
        "doc_id", F.posexplode("ws").alias("wpos", "word")
    )
    n = F.size("ws")
    gram_arr = F.when(
        n >= min_len,
        F.transform(
            F.sequence(F.lit(1), n - (min_len - 1)),
            # lower() INSIDE the hash: witness identity is case-insensitive
            # in both modes (a no-op when tx is already lowercased)
            lambda i: F.md5(
                F.lower(F.array_join(F.slice(F.col("ws"), i, min_len), " "))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = w.select("doc_id", F.posexplode(gram_arr).alias("p", "gh")).select(
        "doc_id",
        "p",
        "gh",
        (F.col("doc_id") * F.lit(LINE_POS_MOD) + F.col("p")).alias("okey"),
    )
    agg = grams.groupBy("gh").agg(
        F.count("*").alias("cnt"), F.min("okey").alias("keep_key")
    )
    flagged = grams.join(agg, "gh").filter(
        (F.col("cnt") > 1) & (F.col("okey") != F.col("keep_key"))
    )
    rm = (
        flagged.select(
            "doc_id", F.explode(F.sequence("p", F.col("p") + (min_len - 1))).alias("wpos")
        )
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    j = words.join(rm, ["doc_id", "wpos"], "left")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.col("dup").isNull().cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("dup").isNull(), F.struct("wpos", "word"))
                    )
                ),
                lambda x: x["word"],
            ),
            " ",
        ).alias("text_dedup"),
    )


# ---------------------------------------------------------------------------
# Byte-level BPE tokenizer (Sennrich et al. 2016; GPT-2's byte-level form)
# ---------------------------------------------------------------------------

# Committed merge table, trained by construction from the sf0.001 documents
# corpus with train_bpe_merges(n_merges=24) — the tokenizer's "vocab file"
# (tests pin committed == retrained). Chain-safe by training (see
# _run_merge_loop / validate_merges_for_chain: one unsafe pair displaced).
# The fixture corpus is pure ASCII, so characters ≡ UTF-8 bytes and the
# char-granular alphabet IS byte-level.
BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"), ("a", "n"), ("c", "an"),
    ("s", "can"), ("c", "o"), ("co", "lu"), ("colu", "m"), ("colum", "n"),
    ("d", "ow"), ("in", "dow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("s", "ort"), ("par", "t"),
]

# token separator inside a word: U+0001 never occurs in normalized corpus
# text (bpe_tokens strips any stray occurrence before delimiting)
BPE_SEP = "\x01"


def _run_merge_loop(words, n_merges: int, *, chain_safe: bool = True) -> list[tuple[str, str]]:
    """The BPE training loop proper, over a word-frequency Counter keyed by
    token tuples: repeatedly merge the most frequent adjacent pair (ties →
    lexicographically smallest pair — deterministic). Shared by the local
    and the distributed trainer so the two can never diverge (their only
    difference is how the Counter is built).

    ``chain_safe`` (default, the engine's tokenizer contract): skip any
    candidate pair whose LEFT part is a proper suffix of an existing merge
    output — the one table shape the replace-chain application cannot
    apply exactly (see validate_merges_for_chain; on the fixture corpus
    the constraint displaces exactly one of 24 merges). The affected pairs
    are rare by construction: picking them would require a frequent pair
    whose left token is simultaneously the tail of another frequent merge."""
    from collections import Counter

    merges: list[tuple[str, str]] = []
    outputs: list[str] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for toks, c in words.items():
            for i in range(len(toks) - 1):
                pairs[(toks[i], toks[i + 1])] += c
        if not pairs:
            break
        best = None
        for (a, b), _c in sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0])):
            if chain_safe and any(t != a and t.endswith(a) for t in outputs):
                continue
            best = (a, b)
            break
        if best is None:
            break
        merges.append(best)
        outputs.append(best[0] + best[1])
        new: Counter = Counter()
        for toks, c in words.items():
            out: list[str] = []
            i = 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == best[0] and toks[i + 1] == best[1]:
                    out.append(toks[i] + toks[i + 1])
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            new[tuple(out)] += c
        words = new
    return merges


def train_bpe_merges(texts, n_merges: int = 24) -> list[tuple[str, str]]:
    """Standard BPE training (Sennrich et al. 2016 §3.2) over norm_text-
    normalized, whitespace-pretokenized words. Driver-side by design —
    this derives the committed BPE_MERGES constant from the fixture corpus,
    the way a production pipeline ships a trained vocab file; see
    ``train_bpe_merges_spark`` for the distributed word-count front end."""
    import re
    from collections import Counter

    words: Counter = Counter()
    for t in texts:
        n = re.sub(r"\s+", " ", (t or "").lower()).strip()
        if n:
            words.update(tuple(w) for w in n.split(" "))
    return _run_merge_loop(words, n_merges)


def validate_merges_for_chain(merges: list[tuple[str, str]]) -> None:
    """Reject a merge table the replace-chain application cannot apply
    EXACTLY. The chain matches ``a␁b␁`` → ``ab␁``: the trailing separator
    anchors the RIGHT side (b must be a complete token), but the left side
    is unanchored — if some other token ``xa`` (a proper supersuffix of
    ``a``) can exist when merge (a, b) applies, the pattern would also
    match inside ``xa␁b␁`` and merge a suffix of ``xa`` (the reference
    encoder checks whole-token pairs and would not). A table is chain-safe
    iff no token derivable BEFORE merge i (alphabet chars or an earlier
    merge's output) ends with merge i's left part, other than that part
    itself. Single chars can't collide with the (single-char) alphabet, so
    only earlier merge OUTPUTS need checking. Legitimately trained tables
    essentially always satisfy this (the committed one provably does — a
    pytest pins it); a hand-built table that does not must fail loudly
    here, never tokenize wrong."""
    outputs: list[str] = []
    for i, (a, b) in enumerate(merges):
        bad = [t for t in outputs if t != a and t.endswith(a)]
        if bad:
            raise ValueError(
                f"merge table is not replace-chain-safe: merge {i} ({a!r},{b!r}) "
                f"— earlier token(s) {bad} end with {a!r}; the chain would "
                "merge inside them"
            )
        outputs.append(a + b)


def train_bpe_merges_spark(
    docs: DataFrame,
    n_merges: int = 24,
    *,
    text: str = "text",
    max_vocab: int = 1 << 20,
) -> list[tuple[str, str]]:
    """The 100-TB form of ``train_bpe_merges``: BPE training needs only the
    WORD-FREQUENCY table, never the corpus — so the distributed part is one
    word-keyed count aggregation (map-side combine collapses every repeated
    word before the shuffle) and the merge loop itself runs driver-side on
    the counted vocabulary, exactly like the local trainer (ties break to
    the lexicographically smallest pair — deterministic for a given corpus
    on any partitioning).

    ``max_vocab`` bounds driver memory: only the most frequent distinct
    words are kept (count desc, word asc — a deterministic truncation; real
    tokenizer pipelines do the same). At the default 2^20 the collected
    table is a few tens of MB; pair statistics over the tail it drops are
    negligible by construction (each dropped word is rarer than every kept
    one).

    Equivalence with the local trainer on an untruncated vocabulary is
    pytest-pinned (tests/test_bpe.py)."""
    tx = norm_text(F.coalesce(F.col(text), F.lit("")))
    counts = (
        docs.select(F.explode(F.split(tx, " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(max_vocab)
        .collect()
    )
    from collections import Counter

    words: Counter = Counter({tuple(r["w"]): int(r["c"]) for r in counts})
    return _run_merge_loop(words, n_merges)


def bpe_token_col(text_col, merges: list[tuple[str, str]] | None = None):
    """Normalized text column → BPE-delimited column: every token is
    followed by one BPE_SEP, words separated by spaces ('scan ab' →
    'scan␁ a␁b␁' under BPE_MERGES). Token count = number of separators.

    The merge loop compiles to a chain of literal ``replace()`` expressions
    — pure JVM, whole-stage-codegen, zero Python. This is exactly GPT-2's
    algorithm: applying merges in ascending rank order with leftmost
    non-overlapping continue-after-replacement scans is equivalent to the
    repeat-min-rank-pair loop, because (a) a pair involving a merge's
    output token always has a HIGHER rank than the merge that created the
    token (training counted it only after the token existed), and (b)
    replacing a␁b␁ with ab␁ can never create a new occurrence of the same
    pattern. The pattern is TERMINATED (``a␁b␁``, not ``a␁b``): without
    the trailing separator it would match any next token merely STARTING
    with b and merge across the token boundary (review round 6 — 689/200k
    random words mismatched). The left side is validated instead of
    anchored (a leading separator would break adjacent-run merging:
    continue-after scanning consumes the shared boundary) — see
    ``validate_merges_for_chain``. Property-tested against the reference
    min-rank encoder in tests/test_bpe.py incl. 200k random words.
    """
    if merges is None:
        merges = BPE_MERGES
    validate_merges_for_chain(merges)
    # strip stray separators, then delimit: every non-space char gets one
    # trailing SEP (capture-group replacement — RE2 and Java agree; no
    # lookarounds, which RE2 lacks)
    s = F.regexp_replace(
        F.replace(text_col, F.lit(BPE_SEP), F.lit("")),
        "([^ ])",
        "$1" + BPE_SEP,
    )
    for a, b in merges:
        s = F.replace(s, F.lit(a + BPE_SEP + b + BPE_SEP), F.lit(a + b + BPE_SEP))
    return s


def bpe_tokens(docs: DataFrame, merges: list[tuple[str, str]] | None = None,
               text: str = "text") -> DataFrame:
    """Per-document byte-level BPE tokenization over the committed merge
    table → (doc_id, n_words, n_bpe_tokens, bpe_text). ``bpe_text`` is the
    full delimited token stream (U+0001 after each token), so a value gate
    certifies every token boundary, not just counts; ``n_bpe_tokens`` is
    the separator count (each token carries exactly one).

    This supplies the REAL subword ids/counts that sequence packing needs —
    feed ``bpe_token_count(...)`` into ``pack_plan(counter=...)``. Scale
    shape: per-row JVM string expressions only, no shuffle; cost is
    O(len · merges) per row with codegen'd literal scans."""
    tx = norm_text(F.coalesce(F.col(text), F.lit("")))
    s = bpe_token_col(tx, merges)
    n_bpe = (F.length(s) - F.length(F.replace(s, F.lit(BPE_SEP), F.lit("")))).cast("long")
    return docs.select(
        "doc_id",
        token_count(tx).alias("n_words"),
        n_bpe.alias("n_bpe_tokens"),
        s.alias("bpe_text"),
    )


def bpe_vocab(merges: list[tuple[str, str]] | None = None) -> dict[str, int]:
    """Token → id map (GPT-2's scheme): byte values 0-255 are the base
    alphabet, merge outputs take 256+rank. Only multi-char entries are
    listed (single-char tokens ARE their byte value); the fixture corpus is
    ASCII so char ids ≡ byte ids — a full byte-level base would remap
    multi-byte chars upstream (documented boundary, same as bpe_tokens)."""
    if merges is None:
        merges = BPE_MERGES
    return {a + b: 256 + i for i, (a, b) in enumerate(merges)}


def bpe_token_ids(docs: DataFrame, merges: list[tuple[str, str]] | None = None,
                  text: str = "text") -> DataFrame:
    """Per-document subword IDS — what a training loader actually consumes:
    (doc_id, n_bpe_tokens, ids array<int>) with ids in document order
    (word boundaries are not tokens — the whitespace pre-tokenizer's
    convention). Pure JVM: the replace-chain stream splits on the
    separator and each token maps via a tiny broadcast map literal
    (merge outputs) or ``ascii()`` (single chars ≡ byte ids)."""
    if merges is None:
        merges = BPE_MERGES
    tx = norm_text(F.coalesce(F.col(text), F.lit("")))
    s = bpe_token_col(tx, merges)
    # every token carries one trailing SEP; dropping spaces first makes the
    # stream one SEP-terminated token list, so split yields tokens + one
    # trailing '' element
    toks = F.split(F.replace(s, F.lit(" "), F.lit("")), BPE_SEP)
    toks = F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
    vocab = bpe_vocab(merges)
    id_map = F.create_map(
        *[F.lit(x) for kv in vocab.items() for x in kv]
    )
    # single-char tokens map through their codepoint ONLY below 256 (the
    # byte-alphabet boundary): merge outputs take ids 256+rank, so a
    # preserved non-ASCII char (e.g. 'ā' = 257) would silently collide
    # with a merge id. Out-of-range chars emit NULL instead of an
    # ambiguous id (ADVICE r6); a full byte-level base would remap
    # multi-byte chars upstream (documented boundary, see bpe_vocab).
    ids = F.transform(
        toks,
        lambda t: F.when((F.length(t) == 1) & (F.ascii(t) < 256), F.ascii(t))
        .when(F.length(t) > 1, F.element_at(id_map, t))
        .cast("int"),
    )
    return docs.select(
        "doc_id",
        F.size(ids).cast("long").alias("n_bpe_tokens"),
        ids.alias("ids"),
    )


def bpe_token_count(text_col, merges: list[tuple[str, str]] | None = None):
    """BPE token count of a raw text column — the counter expression for
    pack_plan(counter=...): packing bins then measure REAL subword tokens,
    not whitespace words."""
    tx = norm_text(F.coalesce(text_col, F.lit("")))
    s = bpe_token_col(tx, merges)
    return (F.length(s) - F.length(F.replace(s, F.lit(BPE_SEP), F.lit("")))).cast("long")


def pack_plan(
    docs: DataFrame,
    budget: int = 2048,
    part_col: str = "source",
    counter=None,
    occupies_span=None,
) -> DataFrame:
    """Training-sequence packing plan — GPT-style "concatenate and chop"
    (Brown et al. 2020 §2.3: documents are concatenated in order and split
    into context-length sequences; T5/LLaMA pipelines pack the same way):
    within each shard (``part_col``), documents are laid out end-to-end in
    deterministic doc_id order and cut into ``budget``-token bins; a
    document straddling a cut spans consecutive bins.

    → (doc_id, part, n_tokens, tok_offset, bin_first, bin_last): everything
    a loader needs to materialize any bin. Zero-token documents are
    excluded (they occupy no span). All arithmetic is exact BIGINT —
    running sums and ``div``, no doubles — so the oracle gate is
    engine-stable at any corpus size.

    Scale shape: ONE shuffle keyed on the shard column; the prefix sum is a
    per-shard running window (sort-based, spills fine). Shard sizes bound
    the window work — the production partition key is a bounded ingest
    shard (file/WARC id), so no global single-partition sequence exists
    anywhere. Cross-shard bin ids are (part, bin) pairs by design: packing
    never needs a global sequence number.

    ``counter``: the per-document token-count expression — defaults to the
    whitespace token_count; pass ``bpe_token_count(F.col('text'))`` to pack
    by REAL subword tokens (what a training loader actually bins on).

    ``occupies_span``: optional CHEAP predicate equivalent to
    ``counter > 0`` (r7, guide §6 "filters applied to derived columns do
    not push down"): the zero-token exclusion spelled over the counter
    column forces the optimizer to push the whole counter expression into
    a Filter — for the BPE replace chain that is a 24-deep tree that falls
    out of whole-stage codegen and re-evaluates interpreted per row
    (measured 0.5s → 6.9s on the sf1.0 projection; under a pruning
    ``count()`` the window is elided and the chain runs ONLY as that
    interpreted predicate). A tokenizer emits ≥1 token exactly when the
    normalized text is non-empty, so the caller can supply e.g.
    ``norm_text(col) != ''`` — same surviving rows, and the predicate
    pushes to the scan while the counter evaluates once in the projection.
    Filtering BEFORE the window is value-identical either way: a
    zero-token document adds 0 to every running sum."""
    t = counter if counter is not None else token_count(
        norm_text(F.coalesce(F.col("text"), F.lit("")))
    )
    pred = occupies_span if occupies_span is not None else (t > 0)
    d = docs.filter(pred).select(
        "doc_id", F.col(part_col).alias("part"), t.alias("n_tokens")
    )
    w = (
        Window.partitionBy("part")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.select("doc_id", "part", "n_tokens", F.sum("n_tokens").over(w).alias("cum"))
    return d.select(
        "doc_id",
        "part",
        "n_tokens",
        (F.col("cum") - F.col("n_tokens")).alias("tok_offset"),
        F.expr(f"(cum - n_tokens) div {int(budget)}").alias("bin_first"),
        F.expr(f"(cum - 1) div {int(budget)}").alias("bin_last"),
    )


def bloom_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 8,
    *,
    m_bits: int = 1 << 20,
    n_hashes: int = 3,
    text: str = "text",
    bench_text: str = "text",
) -> DataFrame:
    """Bloom-filter decontamination — the 100-TB form of
    ``benchmark_contamination``. The exact pass broadcasts the benchmark's
    raw shingle STRINGS; for a large eval suite that broadcast is GBs and
    every probe is a string hash-join. This tier compresses the benchmark
    side to an exact-deterministic Bloom bitmap (``m_bits``/8 bytes — 128 KiB
    for the default 2^20 — regardless of benchmark size) and probes with
    pure JVM bit math, trading a spec-fixed false-positive rate
    (~(nh/m)^h, ZERO false negatives) for a constant-size broadcast.

    Build: benchmark shingles → ``n_hashes`` positions each (non-overlapping
    8-hex-digit md5 slices mod ``m_bits`` — the engine-portable hash family,
    see ``_md5_int60``) → 32-bit words keyed by ``pos >> 5``, OR-folded with
    ``bit_or``. Words are 32-bit (bit = pos & 31) although stored in BIGINT:
    DuckDB ERRORS on ``1::BIGINT << 63`` where the JVM wraps, so the shared
    exact range caps the shift at 31.

    Probe: ``n_hashes`` BROADCAST left joins on the word index (map-side; a
    missing word means the bit is 0) + one conjunction of
    ``(word >> bit) & 1`` tests; the ONLY shuffle in the whole plan is the
    final per-doc hit count — strictly the exact tier's shuffle shape with
    the string join replaced by bit probes.

    → (doc_id, n_bloom_hits, bloom_flagged). No false negatives:
    ``n_bloom_hits ≥ n_hits`` and ``bloom_flagged ⊇ contaminated`` row-wise
    vs ``benchmark_contamination`` (pinned by tests). Reference twin: the
    corpus-hygiene pass of SURVEY.md §2's curation tier.
    """

    # md5 yields 32 hex chars = at most FOUR non-overlapping 8-char slices;
    # a fifth would substring past the end, Spark conv('') returns NULL, and
    # every probe would silently evaluate false — a total false-negative
    # result from an operator whose contract is zero false negatives.
    if not 1 <= n_hashes <= 4:
        raise ValueError("n_hashes must be in [1, 4] (md5 provides 4 disjoint 32-bit slices)")
    if m_bits < 32 or m_bits > 1 << 32:
        raise ValueError("m_bits must be in [32, 2^32] (32-bit hash slices index the bitmap)")

    def _positions(sh) -> list[F.Column]:
        return [
            (F.conv(F.substring(F.md5(sh), 1 + 8 * j, 8), 16, 10).cast("long") % m_bits)
            for j in range(n_hashes)
        ]

    b_sh = (
        bench.select(
            F.explode(F.array_distinct(word_shingles(norm_text(bench_text), k))).alias("sh")
        )
        .distinct()
    )
    bitmap = (
        b_sh.select(F.explode(F.array(*_positions(F.col("sh")))).alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 5).alias("word_idx"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.col("pos").bitwiseAND(F.lit(31)).cast("int")
            ).alias("bit_v"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit_v").alias("word"))
    )

    probe = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(norm_text(text), k))).alias("sh"),
    )
    conds = []
    for j, pj in enumerate(_positions(F.col("sh"))):
        probe = probe.withColumn(f"_w{j}", F.shiftright(pj, 5)).withColumn(
            f"_b{j}", pj.bitwiseAND(F.lit(31))
        )
        bm_j = bitmap.select(
            F.col("word_idx").alias(f"_w{j}"), F.col("word").alias(f"_word{j}")
        )
        probe = probe.join(F.broadcast(bm_j), f"_w{j}", "left")
        conds.append(
            F.call_function(
                "shiftright",
                F.coalesce(F.col(f"_word{j}"), F.lit(0).cast("long")),
                F.col(f"_b{j}").cast("int"),
            ).bitwiseAND(F.lit(1))
            == 1
        )
    all_set = conds[0]
    for c in conds[1:]:
        all_set = all_set & c
    hits = probe.groupBy("doc_id").agg(
        F.sum(all_set.cast("int")).cast("long").alias("n_bloom_hits")
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bloom_hits"), F.lit(0)).cast("long").alias("n_bloom_hits"),
            (F.coalesce(F.col("n_bloom_hits"), F.lit(0)) > 0).alias("bloom_flagged"),
        )
    )
