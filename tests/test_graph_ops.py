"""Unit tests for operators.graphs.host_pagerank (exact-integer PageRank).

The oracle-parity replay already pins the gated query bit-for-bit against
DuckDB; these tests pin the OPERATOR's semantic invariants on hand-built
graphs where the right answer is checkable by eye, plus the partitioning
invariance that makes the exact-arithmetic claim meaningful."""

import pytest
from pyspark.sql import functions as F

from ocr_machine_spark.operators.graphs import PAGERANK_SCALE, host_pagerank, simple_edges


def _edges(spark, pairs):
    return spark.createDataFrame([(s, d) for s, d in pairs], "src string, dst string")


def _ranks(df):
    return {r["node"]: r["rank_e9"] for r in df.collect()}


def test_simple_edges_drops_loops_and_multi(spark):
    e = _edges(spark, [("a", "b"), ("a", "b"), ("a", "a"), ("b", "c")])
    rows = {(r["src"], r["dst"]) for r in simple_edges(e).collect()}
    assert rows == {("a", "b"), ("b", "c")}


def test_pagerank_star_hub_dominates(spark):
    # four spokes all link to the hub; hub links back to one spoke
    e = _edges(spark, [(f"s{i}", "hub") for i in range(4)] + [("hub", "s0")])
    out = host_pagerank(e, n_iters=5)
    ranks = _ranks(out)
    assert max(ranks, key=ranks.get) == "hub"
    # spokes without inlinks all sit at the teleport floor, equal by symmetry
    assert ranks["s1"] == ranks["s2"] == ranks["s3"]
    assert ranks["hub"] > ranks["s0"] > ranks["s1"]
    degs = {r["node"]: r["out_degree"] for r in out.collect()}
    assert degs == {"hub": 1, "s0": 1, "s1": 1, "s2": 1, "s3": 1}


def test_pagerank_two_cycle_is_stationary(spark):
    # a <-> b: perfectly symmetric, rank stays at the uniform fixed point
    # (up to the deterministic integer-floor loss, identical per node)
    e = _edges(spark, [("a", "b"), ("b", "a")])
    r1 = _ranks(host_pagerank(e, n_iters=1))
    r5 = _ranks(host_pagerank(e, n_iters=5))
    assert r1["a"] == r1["b"]
    assert r5["a"] == r5["b"]
    assert r5["a"] <= PAGERANK_SCALE // 2


def test_pagerank_mass_bounded(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")])
    total = sum(_ranks(host_pagerank(e, n_iters=5)).values())
    assert 0 < total <= PAGERANK_SCALE


def test_pagerank_dangling_node_keeps_teleport_rank(spark):
    # c has no outlinks (dangling); its mass is dropped by spec, but c
    # itself still accumulates rank from a and the teleport term
    e = _edges(spark, [("a", "c"), ("b", "c")])
    out = host_pagerank(e, n_iters=3)
    ranks = _ranks(out)
    degs = {r["node"]: r["out_degree"] for r in out.collect()}
    assert degs["c"] == 0
    assert ranks["c"] > ranks["a"] == ranks["b"]


def test_pagerank_partitioning_invariance(spark):
    # exact BIGINT arithmetic ⇒ the result must not depend on input layout
    pairs = [(f"n{i % 13}", f"n{(i * 7 + 3) % 13}") for i in range(200)]
    e = _edges(spark, pairs)
    a = _ranks(host_pagerank(e, n_iters=4))
    b = _ranks(host_pagerank(e.repartition(17, F.col("dst")), n_iters=4))
    assert a == b


def test_pagerank_beta_bounds(spark):
    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError, match="beta_pct"):
        host_pagerank(e, beta_pct=101)


def test_linkgraph_job_end_to_end(spark, tmp_path):
    """pages → outlinks → host edges → ranks as the production job runs it:
    intra-host links dropped, cross-host mega-hub ranks on top, re-run
    byte-identical (idempotence by pure function)."""
    from ocr_machine_spark.plans.linkgraph import run_linkgraph
    from ocr_machine_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 400, partitions=4)
    out = str(tmp_path / "lg")
    s1 = run_linkgraph(spark, pages, out, run_id="t1", n_iters=3)
    assert s1["n_links"] > 0 and s1["n_edges"] > 0 and s1["n_hosts"] > 0
    # the fixture's mega-hosts absorb ~half of all external links → the top
    # rank must be one of them
    assert s1["top_host"].startswith("big")
    edges = {
        (r["src_host"], r["dst_host"])
        for r in spark.read.parquet(f"{out}/edges").collect()
    }
    assert all(s != d and d != "" for s, d in edges)
    ranks1 = sorted(
        (r["node"], r["out_degree"], r["rank_e9"])
        for r in spark.read.parquet(f"{out}/ranks").collect()
    )
    s2 = run_linkgraph(spark, pages, out, run_id="t2", n_iters=3)
    ranks2 = sorted(
        (r["node"], r["out_degree"], r["rank_e9"])
        for r in spark.read.parquet(f"{out}/ranks").collect()
    )
    assert s1["n_links"] == s2["n_links"] and ranks1 == ranks2


def test_anchor_text_index_semantics_and_plan(spark):
    """Anchor index: per-target top-j terms by tf with (tf desc, term asc)
    total order; and the rank<=j filter must compile to a partial
    WindowGroupLimit below the target exchange and the final one above it,
    so a mega-target pre-prunes below the exchange (the 100-TB shape)."""
    from ocr_machine_spark.operators.graphs import anchor_text_index

    rows = [
        ("a", "/x", "Click  HERE"),
        ("b", "/x", "click here"),
        ("c", "/x", "best site ever"),
        ("d", "/x", "here"),
        ("e", "/y", "only one"),
        ("f", "/y", ""),
    ]
    links = spark.createDataFrame(rows, "url string, href string, anchor string")
    out = anchor_text_index(links, j=2)
    got = {(r["target"], r["rank"]): (r["term"], r["tf"]) for r in out.collect()}
    # /x terms: here=3, click=2, best=1, site=1, ever=1 → top-2 = here, click
    assert got[("/x", 1)] == ("here", 3)
    assert got[("/x", 2)] == ("click", 2)
    # /y: one=1, only=1 → tf tie broken by term asc
    assert got[("/y", 1)] == ("one", 1)
    assert got[("/y", 2)] == ("only", 1)
    assert len(got) == 4

    lines = out._jdf.queryExecution().executedPlan().toString().splitlines()

    def at(*needles):
        return next(i for i, line in enumerate(lines) if all(n in line for n in needles))

    final = at("WindowGroupLimit", "Final")
    exchange = at("Exchange hashpartitioning(target#")
    partial = at("WindowGroupLimit", "Partial")
    assert final < exchange < partial, "\n".join(lines)


def test_host_components_string_keys(spark):
    """The star CC engine is key-type generic: on string hosts, each
    by-construction ring resolves to one component whose rep is the
    lexicographic minimum."""
    from ocr_machine_spark.operators.dedup import dedup_clusters_star

    # two rings + one isolated host
    pairs = spark.createDataFrame(
        [("a2", "a0"), ("a0", "a1"), ("a1", "a2"), ("b1", "b0")],
        "a string, b string",
    )
    hosts = spark.createDataFrame(
        [("a0",), ("a1",), ("a2",), ("b0",), ("b1",), ("solo",)], "host string"
    )
    got = {r["host"]: (r["rep"], r["keep"]) for r in
           dedup_clusters_star(hosts, pairs, key="host").collect()}
    assert got == {
        "a0": ("a0", True), "a1": ("a0", False), "a2": ("a0", False),
        "b0": ("b0", True), "b1": ("b0", False),
        "solo": ("solo", True),
    }
