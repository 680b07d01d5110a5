"""Link-graph analytics — host-level PageRank for crawl curation.

A webtext pipeline ranks hosts by link authority before spending budget on
them (Common Crawl publishes exactly this artifact: host-level ranks over
the crawl's webgraph); the reference's per-document flow has no corpus
graph stage, so this is the Spark-native extension of its curation role
(reference twin: the corpus-level batch sweep in
``python_files/batch_ocr_textract.py`` is the closest whole-corpus pass).

The rank itself is computed in EXACT BIGINT arithmetic so the result is
bit-identical across engines and independent of aggregation order — the
same convention every oracled operator here follows (no floats, no
transcendentals):

    r_0(v)     = SCALE div N
    S_t(v)     = sum over distinct edges (u, v) of  r_t(u) div odeg(u)
    r_{t+1}(v) = ((100 - beta) * (SCALE div N) + beta * S_t(v)) div 100

with ``div`` = integral division on nonnegative BIGINTs (Spark ``div`` and
DuckDB ``//`` agree there), SCALE = 10^9, beta the damping percentage.
Self-loops are dropped and multi-edges collapse to one (simple directed
graph); dangling-node mass is NOT redistributed (documented spec — ranks
need not sum to SCALE, which matches how host-rank lists are actually
consumed: by relative order, not by probability mass).

Scale shape (100 TB): the edge list is materialized once (localCheckpoint —
one barrier) joined with out-degrees; each iteration is one shuffle join of
the rank table against the edges on ``src`` plus one groupBy on ``dst``.
The rank/node tables are O(hosts) — orders of magnitude smaller than the
edge list — so the per-iteration cost is the standard PageRank trade. The
driver sees exactly one scalar (N = node count, needed as a literal in the
teleport term); everything else stays distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGERANK_SCALE = 10**9


def simple_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Collapse an edge list to the simple directed graph the rank spec is
    defined over: named columns only, self-loops dropped, multi-edges
    deduplicated (one shuffle on (src, dst))."""
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def host_pagerank(
    edges: DataFrame,
    *,
    n_iters: int = 5,
    beta_pct: int = 85,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Exact-integer PageRank over (src, dst) edges → (node, out_degree,
    rank_e9), with rank_e9 = r_{n_iters} under the module-docstring spec.

    ``beta_pct`` is the damping factor as an integer percentage (85 = the
    classic 0.85) — kept integral so the teleport term stays exact.
    """
    if not 0 <= beta_pct <= 100:
        raise ValueError(f"beta_pct must be in [0, 100], got {beta_pct}")
    e = simple_edges(edges)
    odeg = e.groupBy("src").agg(F.count("*").alias("odeg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Materialize the two reused inputs once: the edge+degree table feeds
    # every iteration's join and the node table anchors every left join —
    # without the barrier each reference would re-derive them from source
    # (n_iters redundant scans of the raw edges at 100 TB).
    ed = e.join(odeg, "src").select("src", "dst", "odeg").localCheckpoint()
    nodes = nodes.localCheckpoint()
    n = nodes.count()  # the one driver scalar (teleport literal)
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("out_degree"),
            F.lit(0).cast("long").alias("rank_e9"),
        )
    r0 = scale // n
    base = (100 - beta_pct) * r0
    r = nodes.select("node", F.lit(r0).cast("long").alias("rank_e9"))
    for _ in range(n_iters):
        s = (
            ed.join(r, ed["src"] == r["node"])
            .select(ed["dst"].alias("node"), F.expr("rank_e9 div odeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        r = nodes.join(s, "node", "left").select(
            "node",
            F.expr(
                f"CAST((({base} + {beta_pct} * coalesce(s, CAST(0 AS BIGINT))) div 100) AS BIGINT)"
            ).alias("rank_e9"),
        )
    # out_degree for the result comes from the CHECKPOINTED table, not the
    # original `odeg` lineage — that column would re-scan the raw edges and
    # repeat the distinct+degree shuffles a second time at 100 TB (the exact
    # re-derivation the barrier above exists to prevent).
    odeg_ck = ed.groupBy("src").agg(F.max("odeg").alias("odeg"))
    return (
        nodes.join(odeg_ck, nodes["node"] == odeg_ck["src"], "left")
        .join(r, "node")
        .select(
            "node",
            F.coalesce(F.col("odeg"), F.lit(0)).cast("long").alias("out_degree"),
            "rank_e9",
        )
    )


def anchor_text_index(
    outlinks: DataFrame,
    j: int = 3,
    *,
    target: str = "href",
    anchor: str = "anchor",
) -> DataFrame:
    """Incoming-anchor-text index — the web-scale training signal attached
    to a TARGET url: the texts other pages use to link to it (search
    engines and LLM-data pipelines both consume this as a description of
    the target written by third parties).

    → (target, term, tf, rank): the top-``j`` normalized anchor terms per
    target by term frequency across ALL inlinks, rank 1-based with
    (tf DESC, term ASC) total order — deterministic under any partitioning.

    Scale shape: one (target, term) partial-count agg (map-side combine
    collapses hot nav terms before the shuffle), then a row_number window
    whose ``rank <= j`` filter Spark rewrites into WindowGroupLimit — the
    partial top-j runs BELOW the exchange (WindowGroupLimit asserted in
    tests/test_graph_ops.py::test_anchor_text_index_semantics_and_plan),
    so a mega-target (every page linking to one homepage) ships at most j
    rows per upstream partition, never its full inlink term stream. Deliberately NO whole-partition aggregate
    (e.g. a per-target term total) rides the same window: an unbounded
    frame would force every row through the exchange and defeat the
    group-limit pushdown — totals belong in a separate aggregation.
    """
    from pyspark.sql import Window

    from ocr_machine_spark.functions import norm_text

    terms = outlinks.select(
        F.col(target).alias("target"),
        F.explode(F.split(norm_text(anchor), " ")).alias("term"),
    ).filter(F.col("term") != "")
    counts = terms.groupBy("target", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    w = Window.partitionBy("target").orderBy(F.col("tf").desc(), F.col("term"))
    return (
        counts.select(
            "target", "term", "tf", F.row_number().over(w).cast("long").alias("rank")
        )
        .filter(F.col("rank") <= j)
    )
