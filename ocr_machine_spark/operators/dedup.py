"""Deduplication operators for web-scale training-data pipelines.

Four tiers, cheapest-first — at 10^12 rows you run them in this order and
each tier prunes the next tier's input:

1. exact        — md5-groupBy, one shuffle on a 32-byte key
2. ngram-jaccard — exact set similarity on word shingles (quadratic in the
                   candidate set; used to *verify* candidates, or standalone
                   at small scale). DuckDB-oracle-checked.
3. minhash-LSH  — banded MinHash over each document's shingle-hash array,
                   built once per row in one projection (no explode, no
                   shuffle); candidate pairs only ever meet inside a
                   band-bucket shuffle, never a cross join. Verified by
                   tier 2's exact Jaccard, counted in the row as the
                   intersection of the pair's two hash arrays.
4. simhash      — 64-bit near-dup signature, pure JVM expressions (explode
                   distinct words → codegen'd bit-vote sums; map-side partial
                   agg keeps the shuffle at one row per doc).

All hash choices are deterministic (xxhash64 with per-permutation key mixing,
no RNG at runtime), so dedup keeps the engine's re-run byte-identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_machine_spark.functions import fixed_point, norm_text, word_shingles


def dedup_exact(docs: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Exact dedup: keep the smallest key per content hash.
    One groupBy on md5 — map-side partial agg, broadcast-free."""
    return (
        docs.select(F.col(key), F.md5(norm_text(text)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(key).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def jaccard_pairs(
    docs: DataFrame,
    *,
    k: int = 3,
    threshold: float = 0.2,
    key: str = "doc_id",
    text: str = "text",
    max_docs: int | None = 100_000,
) -> DataFrame:
    """N-gram Jaccard similar pairs (a < b, J ≥ threshold), exact up to
    64-bit shingle-hash collisions: the pairs are counted on xxhash64
    shingle keys, so two different shingles of two documents that share a
    hash count as one shared shingle.

    Shape: shingle-explode → self-equi-join on the shingle hash
    (sort-merge/shuffled hash — never a cross join) → per-pair intersection
    count → J = |∩| / (|A|+|B|−|∩|).

    THIS IS THE EXACT TIER: cost is quadratic in co-shingle pairs, so
    standalone use is for small/candidate-restricted corpora only — at web
    scale it is the *verify* stage of ``minhash_dedup_pairs``, never a
    standalone sweep (the same O(items²) trap as the reference's per-word ×
    per-page scan, strikethrough_agent.py). ``max_docs`` enforces the
    contract: a corpus above it raises rather than silently launching a
    quadratic job (one cheap count vs hours of shuffle); pass ``None`` only
    when the input is already a bounded candidate set.
    """
    if max_docs is not None:
        n_docs = docs.count()
        if n_docs > max_docs:
            raise ValueError(
                f"jaccard_pairs is the exact O(n²) tier ({n_docs} docs > max_docs={max_docs}); "
                "use minhash_dedup_pairs (LSH candidates + this verify) at scale, "
                "or pass max_docs=None for a bounded candidate set."
            )
    # join on the 8-byte shingle hash, not the shingle string (guide §2.3
    # "narrower types"; same 64-bit reduction minhash_signatures already
    # applies to shingles): the string key made the self-join sort/compare
    # variable-length text — measured 17.5s → 10.7s with long keys + hash
    # join at sf1.0. Hashing happens AFTER the per-doc string distinct, so
    # set sizes are exact; a cross-doc xxhash64 collision (~|shingles|²/2⁶⁵)
    # is the same accepted class as every other xxhash64 key in the engine.
    sh = (
        docs.select(F.col(key), F.explode(word_shingles(F.col(text), k)).alias("s"))
        .distinct()
        .select(F.col(key), F.xxhash64("s").alias("s"))
        .cache()
    )
    sizes = sh.groupBy(key).agg(F.count("*").alias("n"))
    a = sh.select(F.col(key).alias("a"), "s")
    b = sh.select(F.col(key).alias("b"), "s")
    # Pair counting is the dominant stage: on a dense shared vocabulary the
    # co-shingle pair set is ~O(sum_s df(s)^2) instances over almost as many
    # DISTINCT (a,b) groups (multiplicity ≈ 1.1 measured at sf1.0 — 128M
    # instances, 114M groups), so the default partial-aggregate-then-shuffle
    # plan builds two multi-million-entry hash tables per task and spills
    # (~270 MB/stage, ~570 s CPU total measured). Repartitioning the raw
    # pair instances by (a, b) FIRST (guide §2.5 two-level-agg inverse:
    # here the partial agg is the pathology, not the cure) moves the one
    # unavoidable shuffle to the cheap narrow rows and lets both aggregate
    # steps run post-exchange on ~|pairs|/P-entry tables that stay in
    # memory. P scales with the cluster (defaultParallelism), not a local
    # constant.
    pair_parts = docs.sparkSession.sparkContext.defaultParallelism * 8
    inter = (
        a.join(b, "s")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .repartition(pair_parts, "a", "b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(key).alias("a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(key).alias("b"), F.col("n").alias("n_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    # sizes is O(docs) rows of two ints — broadcast both probes so the huge
    # inter table is never shuffled again (guide §3.1)
    return (
        inter.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .withColumn("jaccard_e4", fixed_point(jac))
        .filter(jac >= F.lit(threshold))
        .select("a", "b", "inter", "jaccard_e4")
    )


def _minhash_frame(docs: DataFrame, k: int, n_hashes: int, key: str, text: str) -> DataFrame:
    """``(key, hs, sig)``, one row per document with at least one shingle.

    ``hs`` is the document's distinct shingles, each hashed once with
    xxhash64; the distinct is taken on the strings, so set sizes are exact.
    ``sig[i]`` is the min over ``hs`` of ``xxhash64(h, i)``: permutation i
    re-hashes the 8-byte shingle hash with its index instead of re-scanning
    the shingle text. (ANSI mode note: a classic a*h+b universal mix
    overflows — Spark 4 throws on long overflow — so the mix is itself
    xxhash64.)

    ``hs`` reaches the signature lambda as a column: Catalyst collapses a
    projection into a consumer that reads the column only once, and inside
    the lambda the whole shingle build would then run once per permutation.
    The ``size(hs) > 0`` guard is the second read that keeps it materialised
    (the rule ``textstats._repetition`` documents)."""
    hs = F.transform(F.array_distinct(word_shingles(F.col(text), k)), lambda s: F.xxhash64(s))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(F.transform(F.col("hs"), lambda h: F.xxhash64(h, i))),
    )
    # fewer than k words → no shingle → no row: an all-NULL signature would
    # put every such document in one LSH bucket. Filtered on the word count
    # in front of the projection; a filter on size(hs) would be pushed below
    # it and rebuild the shingles.
    return (
        docs.filter(F.size(F.split(F.col(text), " ")) >= k)
        .select(F.col(key), hs.alias("hs"))
        .select(key, "hs", F.when(F.size("hs") > 0, sig).alias("sig"))
    )


def minhash_signatures(
    docs: DataFrame, *, k: int = 3, n_hashes: int = 32, key: str = "doc_id", text: str = "text"
) -> DataFrame:
    """MinHash signature per document, ``(key, sig)`` with ``sig`` an
    ``n_hashes``-long array of longs: one narrow projection per row over the
    document's shingle-hash array (see :func:`_minhash_frame`), no explode
    and no shuffle. Documents with fewer than ``k`` words get no row."""
    return _minhash_frame(docs, k, n_hashes, key, text).select(key, "sig")


def lsh_candidate_pairs(
    sig: DataFrame, *, bands: int = 8, rows_per_band: int = 4, key: str = "doc_id"
) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any full band become a
    candidate pair. The shuffle key is (band, bucket-hash) — skew-free, no
    cross join, exactly the shape that survives 1000 executors."""
    banded = sig.select(
        F.col(key),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda band: F.struct(
                    band.alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.transform(
                            F.slice(F.col("sig"), band * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ))
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(F.col(key), F.col("bb.band"), F.col("bb.bucket"))
    # explicit repartition on the bucket key (r7): the banded rows are a few
    # MB, so AQE's byte-based coalescing packs this O(bucket²)-compute join
    # into a handful of tasks; defaultParallelism-sized hash partitioning is
    # cluster-adaptive and pins the parallelism the compute needs
    dp = sig.sparkSession.sparkContext.defaultParallelism
    x = banded.select(F.col(key).alias("a"), "band", "bucket").repartition(dp, "band", "bucket")
    y = banded.select(F.col(key).alias("b"), "band", "bucket").repartition(dp, "band", "bucket")
    return (
        x.join(y, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    *,
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.2,
    key: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """LSH candidates → exact-Jaccard verification on the candidates only.

    Each document's shingle-hash array and signature are built once, in one
    projection, and materialised: O(docs) rows of (key, hs, 32 longs) — at
    10^12 docs persist to a table instead. The band-bucket self-join reads
    ``sig``; each candidate pair then joins its two ``hs`` arrays and counts
    the intersection in the row, J = |∩| / (|A|+|B|−|∩|), exact up to 64-bit
    shingle-hash collisions (the ``jaccard_pairs`` contract)."""
    frame = _minhash_frame(docs, k, n_hashes, key, text).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(
        frame.select(key, "sig"), bands=bands, rows_per_band=n_hashes // bands, key=key
    )
    inter = F.size(F.array_intersect("ha", "hb"))
    jac = inter / (F.size("ha") + F.size("hb") - inter)
    return (
        cand.join(frame.select(F.col(key).alias("a"), F.col("hs").alias("ha")), "a")
        .join(frame.select(F.col(key).alias("b"), F.col("hs").alias("hb")), "b")
        .withColumn("jaccard_e4", fixed_point(jac))
        .filter(jac >= F.lit(threshold))
        .select("a", "b", "jaccard_e4")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Each node's larger neighbours point to the node's smallest
    neighbourhood id (itself included)."""
    nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("u", "mn").alias("m"))
    return (
        nbrs.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Each node and its smaller neighbours point to the smallest of them."""
    o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    m = o.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("u", "mn").alias("m"))
    return (
        o.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _is_star_forest(e: DataFrame) -> bool:
    """Exact test, no hash: every node has at most one out-edge, and no node
    has both an out-edge and an in-edge."""
    deg = e.select(F.col("u").alias("n"), F.lit(1).alias("o"), F.lit(0).alias("i")).union(
        e.select(F.col("v").alias("n"), F.lit(0).alias("o"), F.lit(1).alias("i"))
    )
    bad = (
        deg.groupBy("n")
        .agg(F.sum("o").alias("o"), F.sum("i").alias("i"))
        .filter((F.col("o") > 1) | ((F.col("o") > 0) & (F.col("i") > 0)))
    )
    return bad.isEmpty()


def dedup_clusters_star(docs: DataFrame, pairs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Resolve near-dup PAIRS into clusters and a keep-list: every doc maps
    to its connected component's minimum id (``rep``), ``keep = (doc ==
    rep)``; a doc in no pair is its own component.

    Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    O(log² n) rounds on any graph, where min-label propagation needs
    component-diameter rounds (an adversarial 10^6-long near-dup chain =
    10^6 shuffles there, ~20 here). Per round both steps are one groupBy +
    one join on the edge key, and lineage is truncated every round
    (localCheckpoint) so plans stay flat.

    Termination: every edge points from a larger id to a smaller one (the
    input is oriented that way, and both steps keep it). Once each node has
    at most one out-edge and none has both an out- and an in-edge, the edge
    set is a star forest whose centres are the component minima: a fixpoint
    of both steps, with edges ``(node, component_min)``. The loop tests for
    that state exactly before each round, so an input that is already a
    star forest (disjoint near-dup pairs) runs no round. Deterministic: pure
    min arithmetic, no partitioning sensitivity.
    """
    edges = (
        pairs.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    while not _is_star_forest(edges):
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        # release the previous round's checkpoint once the new one is live
        edges.unpersist()
        edges = nxt
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("rep"))
    ids = docs.select(F.col(key).alias("node")).distinct()
    return (
        ids.join(labels, "node", "left")
        .select(
            F.col("node").alias(key),
            F.coalesce("rep", F.col("node")).alias("rep"),
            (F.coalesce("rep", F.col("node")) == F.col("node")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash — pure JVM expressions (no Python, no shuffle)
# ---------------------------------------------------------------------------
#
# Hash spec (v2, round 2): word hash = xxhash64(word) over the DISTINCT words
# of the whitespace-normalized lowercase text; bit j of the signature is set
# iff strictly more than half the distinct words have bit j set (votes > 0,
# ties → 0). Deterministic across runs/partitionings; computed entirely
# per-row in whole-stage codegen — zero Python, zero shuffle (the round-1
# per-word hashlib.md5 loop inside mapInPandas is gone).


def simhash(docs: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """64-bit SimHash per document (unique-word voting, xxhash64 bit hashes).
    Near-dup pairs = signatures within small Hamming distance; pair generation
    buckets on 16-bit chunks (pigeonhole: dist ≤ 3 ⇒ one of 4 chunks equal).

    Shape: explode distinct words → 64 codegen'd bit-count sums grouped by
    doc. Partial (map-side) aggregation collapses each doc to one 65-long row
    before the shuffle, so shuffle volume is O(docs), not O(words) — and the
    whole operator is whole-stage-codegen JVM (interpreted higher-order
    lambdas and per-word Python both benchmarked 10-30× slower)."""
    # explode_outer over the ''-purged word array keeps empty/null-text docs
    # as one null-word row, so no restore-join is needed afterwards — one
    # fewer join/exchange in the plan. The null row must contribute NOTHING:
    # Spark's xxhash64(NULL) returns the SEED (42), not NULL, so the hash is
    # gated on w IS NOT NULL (else an empty doc would get signature 42 and
    # n=1 — spec says empty/null text -> signature 0), and n counts w, not *.
    words = F.array_remove(F.array_distinct(F.split(norm_text(F.col(text)), " ")), "")
    w = docs.select(F.col(key).alias("doc_id"), F.explode_outer(words).alias("w"))
    h = F.when(F.col("w").isNotNull(), F.xxhash64("w"))
    # lane packing: sum m accumulates bits m and m+32 of every word hash in
    # one long (32-bit lanes at bit 0 and bit 32), halving the aggregate
    # count to 32. Lane overflow needs 2^32 distinct words in one doc —
    # impossible (a doc's distinct vocabulary is bounded far below that).
    lane_mask = F.lit((1 << 32) | 1).cast("long")
    votes = w.groupBy("doc_id").agg(
        F.count("w").alias("n"),
        *[F.sum(F.shiftright(h, m).bitwiseAND(lane_mask)).alias(f"s{m}") for m in range(32)],
    )
    lo32 = F.lit(0xFFFFFFFF).cast("long")
    sim = F.lit(0).cast("long")
    for j in range(64):
        cnt = (
            F.col(f"s{j}").bitwiseAND(lo32)
            if j < 32
            else F.shiftright(F.col(f"s{j - 32}"), 32)
        )
        bit = F.lit(-(2**63) if j == 63 else (1 << j)).cast("long")
        sim = sim.bitwiseOR(
            F.when(cnt * 2 > F.col("n"), bit).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs by 16-bit chunk equality (4 chunks ⇒ any pair with
    Hamming ≤ 3 shares a chunk), verified by exact popcount.

    The pairing runs in SIGNATURE space, not document space (r7, guide §2.5
    hot keys / §8 "decide with small rows"): near-dup corpora concentrate
    thousands of documents onto identical signatures (sf1.0 fixture: one
    2,525-doc cluster), and a doc-level chunk-bucket self-join re-derives
    that cluster's quadratic candidate set once per chunk — 4×n² join
    instances through one hot (chunk, value) reducer. Every decision here
    is a pure function of the signature, so:

    1. the chunk-bucket self-join runs over DISTINCT signatures (each
       mega-cluster is ONE row; first-match chunk dedup — a pair is kept
       only where all earlier chunks differ, locally checkable since both
       signatures ride the row — keeps each signature pair exactly once
       with no wide distinct shuffle), verified by exact popcount;
    2. qualifying signature pairs expand back to document pairs through two
       joins against the (doc_id, simhash) membership table — disjoint
       clusters, so each unordered doc pair appears exactly once, ordered
       with least/greatest;
    3. identical-signature pairs (Hamming 0 — the dominant near-dup output)
       never enter the join at all: they come from one membership self-join
       on the signature value.

    Output rows are identical to the doc-level formulation; only the
    candidate volume changes (sf1.0: 30M+ hot-bucket join instances → 132k
    signature-chunk rows)."""
    members = sig.select("doc_id", "simhash")
    sigs = members.select("simhash").distinct()
    chunks = sigs.select(
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("c"), F.shiftright("simhash", 16 * c).bitwiseAND(F.lit(0xFFFF)).alias("v"))
                for c in range(4)
            ])
        ).alias("ch"),
    ).select("simhash", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    # Grid-salted self-join (guide §2.5 "salt the key"): a popular 16-bit
    # chunk value still buckets thousands of DISTINCT signatures (sf1.0:
    # max bucket 2,440 sigs → 6M of the 45M join instances in one key), and
    # AQE's byte-based coalescing sees only the tiny chunk rows — it packed
    # the whole O(n²)-compute join into 3 tasks. Each side gets a
    # deterministic salt g(sig) = xxhash64(sig) mod G and is exploded G
    # ways on the OTHER side's salt, so a signature pair meets exactly once
    # — at (c, v, g(sa), g(sb)) — and a hot bucket splits into G² cells.
    # The explicit repartition on the salted key (defaultParallelism-sized,
    # cluster-adaptive) pins the parallelism AQE would coalesce away.
    g = 8
    dp = sig.sparkSession.sparkContext.defaultParallelism
    grid = F.explode(F.array(*[F.lit(i) for i in range(g)]))
    a = (
        chunks.select(F.col("simhash").alias("sa"), "c", "v")
        .withColumn("ga", F.pmod(F.xxhash64("sa"), F.lit(g)))
        .withColumn("gb", grid)
    )
    b = (
        chunks.select(F.col("simhash").alias("sb"), "c", "v")
        .withColumn("gb", F.pmod(F.xxhash64("sb"), F.lit(g)))
        .withColumn("ga", grid)
    )

    def _chunk(col: str, c: int) -> F.Column:
        return F.shiftright(col, 16 * c).bitwiseAND(F.lit(0xFFFF))

    # joined at chunk c ⇒ require chunks 0..c-1 to differ (first match wins)
    first_match = F.lit(True)
    for cp in range(3):
        first_match = first_match & ~(
            (F.col("c") > cp) & (_chunk("sa", cp) == _chunk("sb", cp))
        )
    # long, not int: result-type parity with the DuckDB twin's BIGINT cast
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    sig_pairs = (
        a.repartition(dp, "c", "v", "ga", "gb")
        .join(b.repartition(dp, "c", "v", "ga", "gb"), ["c", "v", "ga", "gb"])
        .filter((F.col("sa") < F.col("sb")) & first_match)
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("sa", "sb", "hamming")
    )
    ma = members.select(F.col("simhash").alias("sa"), F.col("doc_id").alias("da"))
    mb = members.select(F.col("simhash").alias("sb"), F.col("doc_id").alias("db"))
    cross = (
        sig_pairs.join(ma, "sa")
        .join(mb, "sb")
        .select(
            F.least("da", "db").alias("a"),
            F.greatest("da", "db").alias("b"),
            "hamming",
        )
    )
    within = (
        members.select(F.col("simhash").alias("s"), F.col("doc_id").alias("a"))
        .join(members.select(F.col("simhash").alias("s"), F.col("doc_id").alias("b")), "s")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(0).cast("long").alias("hamming"))
    )
    return cross.union(within)
