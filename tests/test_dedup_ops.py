"""Unit tests for the dedup operators: near-dup pairs → components →
keep-list, MinHash signatures, SimHash and the ANN similarity tiers."""

import random

import pytest

from ocr_machine_spark.operators import dedup as D
from ocr_machine_spark.operators.dedup import dedup_clusters_star


def _components(nodes, pairs):
    """Reference: union-find where the smaller root always wins, so each
    root is its component's minimum. node → (rep, keep)."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: (find(n), find(n) == n) for n in nodes}


def _star(spark, nodes, pairs, keytype="long"):
    docs = spark.createDataFrame([(n,) for n in nodes], f"doc_id {keytype}")
    pdf = spark.createDataFrame(pairs, f"a {keytype}, b {keytype}")
    return {r["doc_id"]: (r["rep"], r["keep"]) for r in dedup_clusters_star(docs, pdf).collect()}


def test_dedup_clusters_chain_and_isolated(spark):
    # chain 1-2-3 (transitive: 3 never pairs with 1 directly), pair 4-5, isolated 6
    assert _star(spark, range(1, 7), [(1, 2), (2, 3), (4, 5)]) == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        4: (4, True),
        5: (4, False),
        6: (6, True),
    }


def test_dedup_clusters_star_equivalence(spark):
    """large-star/small-star components == union-find on adversarial
    shapes: a chain, a clique, a reversed chain, two bridged stars, and
    isolated nodes."""
    nodes = range(40)
    chain = [(i, i + 1) for i in range(0, 12)]                 # 0..12 chain
    rev_chain = [(i + 1, i) for i in range(13, 19)]            # edges given b<a
    clique = [(a, b) for a in range(20, 25) for b in range(a + 1, 25)]
    bridged = [(30, 31), (30, 32), (33, 34), (33, 35), (32, 33)]
    pairs = chain + rev_chain + clique + bridged
    star = _star(spark, nodes, pairs)
    assert star == _components(nodes, pairs)
    # spot-check the contract directly
    assert star[12] == (0, False) and star[0] == (0, True)
    assert star[35] == (30, False)
    assert star[39] == (39, True)


def _zigzag(n):
    order = [x for i in range(n // 2) for x in (i, n - 1 - i)]
    return list(zip(order, order[1:]))


def _random_graph(seed, n=60):
    rng = random.Random(seed)
    # self-loops and repeated pairs included: both must be harmless
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(n // 2, 2 * n))]


GRAPHS = {
    "chain64": (64, [(i, i + 1) for i in range(63)]),
    "reversed_chain64": (64, [(i + 1, i) for i in range(63)]),
    "zigzag64": (64, _zigzag(64)),
    **{f"random{seed}": (60, _random_graph(seed)) for seed in range(4)},
}


@pytest.mark.parametrize("keytype", ["long", "string"])
@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_dedup_clusters_star_rounds_match_union_find(spark, graph, keytype):
    """The round path against union-find: chains, a zigzag and seeded
    random graphs that need several rounds, with long and string keys
    (string order differs from numeric order, so the minima move)."""
    n, pairs = GRAPHS[graph]
    key = int if keytype == "long" else (lambda i: f"h{i}")
    nodes = [key(i) for i in range(n)]
    pairs = [(key(a), key(b)) for a, b in pairs]
    assert _star(spark, nodes, pairs, keytype) == _components(nodes, pairs)


def test_dedup_clusters_star_round_counts(spark, monkeypatch):
    """The 64-node chain needs ≥ 3 rounds, so the cases above exercise the
    loop itself; an input that is already a star forest at its minima (the
    disjoint pairs of a near-dup rung) runs none."""
    rounds = []
    small_star = D._small_star
    monkeypatch.setattr(D, "_small_star", lambda e: rounds.append(1) or small_star(e))
    n, pairs = GRAPHS["chain64"]
    assert _star(spark, range(n), pairs) == _components(range(n), pairs)
    assert len(rounds) >= 3, len(rounds)
    rounds.clear()
    pairs = [(0, 1), (2, 0), (0, 3), (10, 11), (21, 20), (20, 22)]
    assert _star(spark, range(25), pairs) == _components(range(25), pairs)
    assert rounds == []


def test_dedup_clusters_star_partitioning_invariant(spark):
    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 18, 2)] + [(1, 3), (17, 19)], "a long, b long"
    )
    a = dedup_clusters_star(docs, pairs).orderBy("doc_id").collect()
    b = dedup_clusters_star(docs.repartition(7), pairs.repartition(3)).orderBy("doc_id").collect()
    assert a == b


def test_dedup_clusters_partitioning_invariant(spark):
    """Repartitioning must not change the components when the graph needs
    several rounds: a zigzag and a seeded random graph, spread over odd
    partition counts, with long and string keys, against union-find."""
    edges = _zigzag(32) + [(a + 32, b + 32) for a, b in _random_graph(1, 32)]
    for keytype, key in (("long", int), ("string", lambda i: f"h{i}")):
        nodes = [key(i) for i in range(64)]
        pairs = [(key(a), key(b)) for a, b in edges]
        docs = spark.createDataFrame([(v,) for v in nodes], f"doc_id {keytype}")
        pdf = spark.createDataFrame(pairs, f"a {keytype}, b {keytype}")
        a = dedup_clusters_star(docs, pdf).orderBy("doc_id").collect()
        b = dedup_clusters_star(docs.repartition(7), pdf.repartition(3)).orderBy("doc_id").collect()
        assert a == b, keytype
        assert {r["doc_id"]: (r["rep"], r["keep"]) for r in b} == _components(nodes, pairs), keytype


def test_minhash_skips_docs_without_a_shingle(spark):
    """A document with fewer than k words has no shingle, so no signature
    row: an all-NULL signature would put every such document in one LSH
    bucket and pair them all."""
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "two words"), (4, "one two three"), (5, "one two three"),
         (6, "x y"), (7, "x y")],
        "doc_id long, text string",
    )
    assert [r["doc_id"] for r in D.minhash_signatures(docs).orderBy("doc_id").collect()] == [4, 5]
    assert [tuple(r) for r in D.minhash_dedup_pairs(docs, threshold=0.8).collect()] == [(4, 5, 10000)]


def test_simhash_empty_doc_signature_is_zero(spark):
    """Spec (sources/dedup_golden.py): empty/NULL/whitespace text -> signature
    0. Regression: Spark's xxhash64(NULL) returns the SEED (42), so the
    explode_outer null-word row used to vote with the bits of 42 and empty
    docs got signature 42 — diverging from the golden twin."""
    from ocr_machine_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   "), (4, "real words here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert out[1] == 0 and out[2] == 0 and out[3] == 0
    assert out[4] != 0
    # and the golden twin agrees on the empty cases
    from ocr_machine_spark.sources.dedup_golden import simhash_py

    cache = {}
    assert simhash_py("", cache) == 0 and simhash_py(None, cache) == 0
    assert simhash_py("real words here", cache) == out[4]


def test_similarity_ops_survive_null_and_ragged_vectors(spark):
    """One corrupt row must degrade to "excluded", never "job dead": under
    ANSI mode (pyspark >= 4 default) an unguarded element_at past a short
    vector's end throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT, and a NULL/ragged
    vector crashes the np.vstack Arrow stages. _valid_vecs gates every
    scoring path."""
    import numpy as np

    from ocr_machine_spark.operators.similarity import (
        ann_topk_ivf,
        ann_topk_lsh,
        cosine_topk,
        embedding_dup_pairs,
        ivf_train,
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)]
    rows.append((20, None))  # NULL vector
    rows.append((21, [1.0, 2.0]))  # short vector
    rows.append((22, [0.0] * 12))  # long vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    topk = cosine_topk(emb, [0, 1], k=3).collect()
    assert len(topk) == 6
    bad = {20, 21, 22}
    assert not ({r["neighbor_id"] for r in topk} & bad)

    lsh = ann_topk_lsh(emb, [0], k=3, dim=8).collect()
    assert not ({r["neighbor_id"] for r in lsh} & bad)

    ivf = ann_topk_ivf(emb, [0], k=3, n_cells=4, n_probe=4).collect()
    assert not ({r["neighbor_id"] for r in ivf} & bad)

    # corrupt rows INSIDE the centroid-seed id range (id < n_cells/k) must be
    # excluded from the seed, not crash the driver or poison the quantizer dim
    poisoned = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0])]
        + [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(2, 12)],
        "vec_id long, embedding array<double>",
    )
    ivf2 = ann_topk_ivf(poisoned, [5], k=3, n_cells=4, n_probe=4).collect()
    assert ivf2 and not ({r["neighbor_id"] for r in ivf2} & {0, 1})
    stats2 = ivf_train(poisoned, k=4, iters=1).collect()
    assert sum({r["cell"]: r["n"] for r in stats2}.values()) == 10

    pairs = embedding_dup_pairs(emb, threshold=-1.0).collect()
    assert not ({r["a"] for r in pairs} | {r["b"] for r in pairs}) & bad

    stats = ivf_train(emb, k=4, iters=1).collect()
    # 22 valid 8-dim vectors (ids 0..19 plus none of the bad ones) -> the
    # per-cell member counts must total 20
    assert sum({r["cell"]: r["n"] for r in stats}.values()) == 20


def test_ann_recall_floors(spark):
    """Recall contract (VERDICT r4, floors raised r5): the approximate ANN
    paths are oracled against their own candidate specs, which certifies the
    mechanism but not the quality — this pins recall@10 vs the exact
    cosine_topk answer on the sf0.01 embeddings, so a future quantizer/
    banding change can't silently trade recall for speed. Floors sit at
    measured-minus-margin (measured at rounds 4-5: banded LSH 0.88, IVF
    n_probe=4 0.92; floors 0.80/0.85), so even a few-point regression fails
    CI — the original 0.5/0.7 floors would have admitted a 30-point drop.
    The measured values are printed (``-s``) so drift is visible, not only
    on floor breach. This gate is what exposed the original single-bucket
    ann_topk_lsh at 0.00 recall@10 and forced the banded redesign."""
    from ocr_machine_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]

    def pairs(df):
        return {(r["qid"], r["neighbor_id"]) for r in df.collect()}

    exact = pairs(S.cosine_topk(emb, qids, k=10, dim=64))
    assert len(exact) == 50
    lsh = pairs(S.ann_topk_lsh(emb, qids, k=10, dim=64))
    ivf = pairs(S.ann_topk_ivf(emb, qids, k=10, n_cells=16, n_probe=4))
    pq = pairs(S.ann_topk_pq(emb, qids, k=10, m=8, n_codes=16, rerank=100, dim=64))
    lsh_recall = len(lsh & exact) / len(exact)
    ivf_recall = len(ivf & exact) / len(exact)
    pq_recall = len(pq & exact) / len(exact)
    print(f"recall@10 — lsh: {lsh_recall:.3f}, ivf: {ivf_recall:.3f}, pq: {pq_recall:.3f}")
    assert lsh_recall >= 0.80, f"LSH recall regressed below measured-minus-margin: {lsh_recall}"
    assert ivf_recall >= 0.85, f"IVF recall regressed below measured-minus-margin: {ivf_recall}"
    assert pq_recall >= 0.80, f"PQ recall regressed below measured-minus-margin: {pq_recall}"


def test_modal_seed_len_tie_prefers_longer(spark):
    """Seed-dim tie-break: corruption truncates, so an even split between a
    truncated and an intact seed length must pick the LONGER one (review fix
    r4 — the smaller-dim tie-break let one corrupt row filter out the whole
    valid corpus)."""
    from ocr_machine_spark.operators.similarity import _modal_len, ivf_train

    assert _modal_len([(0, [1.0, 2.0]), (1, [0.0] * 8)]) == 8
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0])] + [(i, [float(i + j) for j in range(8)]) for i in range(1, 8)],
        "vec_id long, embedding array<double>",
    )
    stats = ivf_train(emb, k=2, iters=1).collect()  # seed ids {0 truncated, 1 intact}
    assert sum({r["cell"]: r["n"] for r in stats}.values()) == 7  # all 8-dim rows


def test_simhash_near_pairs_matches_bruteforce(spark):
    """r7: pairing moved to signature space (distinct sigs through the
    grid-salted chunk join + membership expansion) — pin the output against
    a brute-force O(n²) Hamming scan on a set that exercises every branch:
    identical-signature clusters (within pairs), near-signature clusters
    (cross expansion), multi-chunk agreement (first-match dedup), and
    far-apart signatures (no pair)."""
    from ocr_machine_spark.operators.dedup import simhash_near_pairs

    sigs = []
    base = 0x123456789ABCDEF0
    for i in range(6):          # identical-sig cluster of 6
        sigs.append((i, base))
    for i in range(6, 10):      # hamming 1..2 neighbours (agree on 3 chunks)
        sigs.append((i, base ^ (1 << (i - 6))))
    sigs.append((10, base ^ 0b11 ^ (1 << 16)))   # hamming 3, two chunks differ
    sigs.append((11, base ^ 0b1111))             # hamming 4 — excluded
    for i in range(12, 20):     # far-apart noise
        sigs.append((i, (i * 0x9E3779B97F4A7C15) & 0x7FFFFFFFFFFFFFFF))
    sig_df = spark.createDataFrame(sigs, "doc_id long, simhash long")

    def ham(x, y):
        return bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")

    def shares_chunk(x, y):
        return any(((x >> (16 * c)) & 0xFFFF) == ((y >> (16 * c)) & 0xFFFF) for c in range(4))

    expect = {
        (a, b): ham(sa, sb)
        for (a, sa) in sigs
        for (b, sb) in sigs
        if a < b and shares_chunk(sa, sb) and ham(sa, sb) <= 3
    }
    got = {(r["a"], r["b"]): r["hamming"] for r in simhash_near_pairs(sig_df).collect()}
    assert got == expect
    # exactly-once: no duplicate (a, b) rows survived the first-match dedup
    rows = simhash_near_pairs(sig_df).collect()
    assert len(rows) == len(got)
    # partitioning invariance of the salted join
    got2 = {(r["a"], r["b"]): r["hamming"]
            for r in simhash_near_pairs(sig_df.repartition(7)).collect()}
    assert got2 == expect
