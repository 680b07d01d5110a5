"""Physical-plan quality gates — the 100×-scale discipline, asserted in CI.

These tests read `.explain`/optimizedPlan output and fail if a scan stops
pruning or a broadcast stops broadcasting. They encode SURVEY.md §4: what
Catalyst gives for free must stay free.
"""

import pyspark.sql.functions as F
import pytest

from ocr_machine_spark.operators.extraction import extract_pages
from ocr_machine_spark.sources.pages import generate_pages

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pages") / "pages")
    generate_pages(spark, 50, partitions=2).write.parquet(p)
    return p


def test_extraction_scan_prunes_columns(spark, pages_path):
    """The extraction UDF must only read (url, html) from the lake — never
    text/lang/warc_ts (ReadSchema check; at 100 TB `text` is half the bytes)."""
    df = extract_pages(spark.read.parquet(pages_path))
    plan = _physical(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "url" in read_schema and "html" in read_schema
    assert "text" not in read_schema and "lang" not in read_schema and "warc_ts" not in read_schema


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") < 5).select("l_orderkey", "l_quantity")
    plan = _physical(df)
    assert "PushedFilters: [" in plan and "LessThan(l_quantity,5" in plan.replace(" ", "")


def test_broadcast_join_is_broadcast(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")
    df = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).groupBy("p_brand").count()
    assert "BroadcastHashJoin" in _physical(df)


def test_semi_join_stays_semi(spark):
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    df = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    assert "LeftSemi" in _physical(df)


def test_bm25_lengths_side_is_semi_joined(spark):
    """The BM25 doc-length branch must be restricted to hit docs via a
    left-semi on the filtered postings BEFORE the scoring join — otherwise
    the full-corpus (doc_id, dl) projection shuffles to serve a handful of
    hits (round-5 watch item)."""
    from ocr_machine_spark.operators.search import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = bm25_topk(docs, ["the", "data"], k=5)
    assert "LeftSemi" in _physical(df)


def test_partial_aggregation_before_shuffle(spark):
    """groupBy must do map-side partial aggregation (HashAggregate appears
    both below and above the exchange)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = _physical(df)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_simhash_is_jvm_side(spark):
    """SimHash signatures must be pure JVM expressions (round-2 fix: the
    round-1 signature UDF ran per-word Python inside mapInPandas)."""
    from ocr_machine_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _physical(simhash(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "mapinpandas" not in plan.lower()
    assert plan.count("HashAggregate") >= 2  # map-side partial bit-votes


def test_gopher_signals_have_no_exchange(spark):
    """Every Gopher signal is a function of one document, so the stats and
    the decision are narrow projections over the scan: no shuffle and no
    broadcast (AQE off, so the static plan is the one checked)."""
    from ocr_machine_spark.operators.textstats import gopher_filter, repetition_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for df in (gopher_filter(docs), repetition_stats(docs)):
            assert "Exchange" not in _physical(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_minhash_signatures_have_no_exchange(spark):
    """A MinHash signature is a function of one document: one narrow
    projection over the scan, no shuffle (AQE off, so the static plan is the
    one checked). The signature lambda reads the materialised shingle-hash
    column ``hs``: inlined, the whole shingle build (split, zip_with) would
    run once per permutation."""
    from ocr_machine_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert "Exchange" not in _physical(minhash_signatures(docs))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    plan = _optimized(minhash_signatures(docs))
    sig_line = next(line for line in plan.splitlines() if "array_min" in line)
    assert "hs#" in sig_line
    assert "zip_with" not in sig_line and "split(" not in sig_line


def test_embedding_dup_pairs_never_cross_joins(spark):
    """The embedding dedup tier must meet candidates in a bucket equi-join —
    no CartesianProduct / BroadcastNestedLoopJoin anywhere in the plan."""
    from ocr_machine_spark.operators.similarity import embedding_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _physical(embedding_dup_pairs(emb, threshold=0.9, dim=64))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_topk_is_group_limited_below_the_exchange(spark):
    """The IVF search's per-query top-k must pre-prune to k rows per query
    on the map side: a partial WindowGroupLimit below the qid exchange and
    the final one above it. This is what bounds a query whose probed cells
    hold most of the corpus (a skewed cell) without a salted re-rank."""
    from ocr_machine_spark.operators.similarity import ann_topk_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    lines = _physical(ann_topk_ivf(emb, [0, 1, 2, 3, 4], k=10, n_cells=16, n_probe=4)).splitlines()

    def at(*needles):
        return next(i for i, line in enumerate(lines) if all(n in line for n in needles))

    final = at("WindowGroupLimit", "Final")
    exchange = at("Exchange hashpartitioning(qid#")
    partial = at("WindowGroupLimit", "Partial")
    assert final < exchange < partial, "\n".join(lines)


def test_asof_join_has_no_join_blowup(spark):
    """The as-of query is a single window over a union — no join node at all
    (round-2 fix for the per-user cross-product shape)."""
    import __spark_entry__ as E

    plan = _physical(E.queries()["asof_purchase_before_click"](spark, SF))
    assert "Join" not in plan
    assert "Window" in plan


def test_iceberg_sink_dispatch(spark):
    """write path picks Iceberg writeTo iff a catalog is configured AND a
    table id is given; parquet otherwise."""
    from ocr_machine_spark.plans.lineage import choose_sink, iceberg_catalog

    assert iceberg_catalog(spark) is None  # sandbox: no runtime jar
    assert choose_sink(spark, "cat.db.tbl") == "parquet"  # no catalog → fallback
    assert choose_sink(spark, None) == "parquet"
    spark.conf.set("spark.sql.catalog.icetest", "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert iceberg_catalog(spark) == "icetest"
        assert choose_sink(spark, "icetest.db.tbl") == "iceberg"
        assert choose_sink(spark, None) == "parquet"  # path sink stays parquet
    finally:
        spark.conf.unset("spark.sql.catalog.icetest")


def test_no_cross_join_in_any_query(spark):
    """No queries() plan may contain a CartesianProduct or
    BroadcastNestedLoopJoin — the 100 TB kill-switch check across the whole
    driver contract (a theta join that slips into a cross product is the
    single fastest way to die at scale)."""
    import __spark_entry__ as E

    # a nested-loop join is legitimate ONLY against a provably tiny side:
    # - ann_cosine_topk: brute-force baseline BY DESIGN — BNLJ vs a 5-row
    #   broadcast query side; output is n×5, the scan streams once
    # - blocks_integrity: crossJoin of two 1-row global aggregates
    # - doc_bm25_topk: corpus stats (N, Σdl) are a ONE-ROW global aggregate
    #   cross-joined onto the query-term hits — a scalar broadcast, not a
    #   data-sized side
    # - model_train_eval: the best-checkpoint flag attaches a ONE-ROW
    #   min-struct aggregate onto the epochs+1-row metrics relation — the
    #   same scalar-stat-attach shape as bm25's corpus stats
    TINY_SIDE_OK = {
        "ann_cosine_topk", "blocks_integrity", "doc_bm25_topk", "model_train_eval",
    }

    for name, fn in E.queries().items():
        if name == "streaming_host_totals":
            continue  # executes a stream on call; covered by streaming tests
        plan = _physical(fn(spark, SF))
        if name in TINY_SIDE_OK:
            continue
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_no_python_udf_in_relational_queries(spark):
    """The relational query surface must stay JVM-side (no BatchEvalPython /
    ArrowEvalPython nodes — row-at-a-time Python is banned on these paths)."""
    import __spark_entry__ as E

    relational = [
        "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
        "broadcast_brand_agg", "window_top_orders", "sessionize_events",
        "jaccard_pairs_3gram", "minhash_lsh_pairs", "doc_lang_guess",
        "doc_quality", "ann_cosine_topk",
    ]
    qs = E.queries()
    for name in relational:
        plan = _physical(qs[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "mapInPandas" not in plan.lower(), name


def test_no_single_partition_window_in_any_query(spark):
    """A Window over an Exchange SinglePartition is the all-rows-through-one-
    task shape (global ntile/rank with no PARTITION BY) — banned repo-wide;
    ntile_price_bands was the last one (replaced by ranking.ntile_global).
    Scalar aggregates still legitimately finish on a SinglePartition exchange
    (tiny partial-agg output), so the check targets Window specifically."""
    import __spark_entry__ as E

    for name, fn in E.queries().items():
        if name.startswith("streaming_"):
            continue  # executes a stream on call; covered by streaming tests
        lines = _physical(fn(spark, SF)).splitlines()
        for i, line in enumerate(lines):
            if "Window" not in line or "WindowGroupLimit" in line:
                continue
            # the window's child exchange appears within the next few lines
            below = "\n".join(lines[i + 1 : i + 4])
            assert "Exchange SinglePartition" not in below, (name, line)
