"""Spark extraction operators — the hot path of the engine.

One Arrow-native ``mapInArrow`` stage carries the whole per-page pipeline
(parse → block scoring → noise removal → consolidated text), exactly one
JVM↔Python round-trip per batch and zero pandas on the hot path — the structural fix for the reference's
O(words×pages) re-render pathology (``python_files/strikethrough_agent.py:40``
re-renders the whole PDF per word) and its row-at-a-time network calls
(``python_files/table_detector_agent.py:188-206``). There is **zero
row-at-a-time Python UDF dispatch**: Python runs once per Arrow batch.

Scale notes (100 TB / 10^12 rows):
* input is pruned to ``(url, html)`` before the UDF — Catalyst pushes the
  projection into the parquet/Iceberg scan so ``text`` (often as large as
  ``html``) is never read;
* the default extraction path is SHUFFLE-FREE: parquet/Iceberg scan splits
  are byte-uniform (``maxPartitionBytes``), and a per-row map has no key
  skew, so ``mapInArrow`` runs directly on the scan partitions. Pass
  ``partitions=`` to opt into ``repartition_salted`` when the input layout
  genuinely needs re-spreading (e.g. few giant files, duplicate-url runs);
  the salt affects placement only, never content, so per-url output stays
  byte-identical under any partitioning (SURVEY.md §7 "hard parts: skew").
  KEYED stages (reassembly by url, host aggregations) must NOT salt their
  shuffle key directly — skew there takes the two-phase
  salted-partial-aggregation pattern;
* the extraction job stays shuffle-free through its write:
  ``plans.lineage.write_bucketed`` sorts each task's rows by bucket and
  writes one file per task into the run's directory;
* blocks are exploded only by the analysis layer (``extract_blocks``), never
  on the main extraction path — at 10^12 rows a block explode is ~100× row
  amplification.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ocr_machine_spark.core.extract import extract_one

# ---------------------------------------------------------------------------
# Schemas (input contract per BASELINE.json:input_hint)
# ---------------------------------------------------------------------------

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

SPAN_TYPE = StructType(
    [
        StructField("start", LongType(), False),
        StructField("end", LongType(), False),
        StructField("kind", StringType(), False),
    ]
)

REMOVED_SPAN_TYPE = StructType(
    [
        StructField("start", LongType(), False),
        StructField("end", LongType(), False),
        StructField("reason", StringType(), False),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("extracted_text", StringType(), True),
        StructField("spans", ArrayType(SPAN_TYPE), True),
        StructField("removed_spans", ArrayType(REMOVED_SPAN_TYPE), True),
        StructField("has_table", BooleanType(), True),
        StructField("has_figure", BooleanType(), True),
        StructField("n_blocks", IntegerType(), True),
        StructField("n_content_blocks", IntegerType(), True),
        StructField("chars_in", LongType(), True),
        StructField("chars_out", LongType(), True),
        StructField("bytes_html", LongType(), True),
        StructField("charset", StringType(), True),
        StructField("ok", BooleanType(), False),
        StructField("error", StringType(), True),
    ]
)

BLOCKS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("block_id", StringType(), False),
        StructField("block_type", StringType(), False),
        StructField("tag", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("text", StringType(), True),
        StructField("start", LongType(), False),
        StructField("end", LongType(), False),
        StructField("n_chars", IntegerType(), False),
        StructField("n_words", IntegerType(), False),
        StructField("link_density", DoubleType(), False),
        StructField("text_density", DoubleType(), False),
        StructField("is_content", BooleanType(), False),
        StructField("kind", StringType(), True),
        StructField("reason", StringType(), True),
        StructField("parent_id", StringType(), True),
        StructField("child_ids", ArrayType(StringType()), False),
        StructField("row_idx", IntegerType(), True),
        StructField("col_idx", IntegerType(), True),
        StructField("row_span", IntegerType(), True),
        StructField("col_span", IntegerType(), True),
        StructField("entity_types", ArrayType(StringType()), False),
    ]
)


# ---------------------------------------------------------------------------
# Partitioning / skew (north_rule: explicit handling, not AQE-only)
# ---------------------------------------------------------------------------


def repartition_salted(df: DataFrame, n_partitions: int, key: str = "url", salt_buckets: int = 64) -> DataFrame:
    """Explicit hash repartition on ``key`` with a row-varying salt, for MAP
    stages (per-row extraction): even when many rows share one ``key`` value
    (duplicate crawls of a url, a mega-host), the salt spreads them across
    ``salt_buckets`` sub-partitions. Placement only — per-url RESULTS are
    byte-identical under any placement (CI-asserted). The salt must still be
    DETERMINISTIC per row: a non-deterministic one (rand(),
    monotonically_increasing_id()) re-derives differently when a map task is
    recomputed after a shuffle-fetch failure — routine at 100 TB — and routes
    rows to reducers that already fetched their output, silently dropping or
    duplicating rows (the SPARK-23207 round-robin-repartition failure class).
    So the salt is content-derived: a hash over every column (payload columns
    truncated to a 256-byte prefix — hashing megabytes per row in the
    shuffle-write path would be pure bandwidth waste; a prefix separates
    different-content duplicates just as well) varies across duplicate-``key``
    rows, while a pure function of the key alone would be a no-op (it induces
    the key's own partition classes). Prefix-identical duplicate rows share a
    salt — placement skew only to the extent of true duplicates, which a
    crawl dedupes upstream anyway. Keyed AGGREGATION stages must not use this
    (salting breaks co-location); they need the two-phase salted-partial-agg
    pattern instead. Columns whose types ``xxhash64`` cannot hash (maps, and
    anything containing one) are SKIPPED as salt inputs — they still ride the
    shuffle, they just don't contribute entropy (ADVICE r4 #3; before this a
    MapType column failed the whole repartition at analysis time). Analogue
    of the reference's fixed-size chunk split for API limits
    (``run_textract.py:8-31``), done logically."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StringType, StructType

    def hashable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return hashable(dt.elementType)
        if isinstance(dt, StructType):
            return all(hashable(f.dataType) for f in dt.fields)
        return True

    parts = []
    for f in df.schema.fields:
        if not hashable(f.dataType):
            continue
        c = F.col(f.name)
        parts.append(c.substr(1, 256) if isinstance(f.dataType, (BinaryType, StringType)) else c)
    # all-unhashable schema: fall back to the key alone (placement = the
    # key's own classes — degraded but valid, and such a schema has no
    # row-distinguishing hashable content to salt with anyway)
    salt = F.pmod(F.xxhash64(*parts), F.lit(salt_buckets)) if parts else F.lit(0)
    return df.repartition(n_partitions, F.xxhash64(F.col(key)), salt)


def with_bucket(df: DataFrame, n_buckets: int, key: str = "url") -> DataFrame:
    """Deterministic bucket id for lineage/resume (FIXTURES.md §4)."""
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


# ---------------------------------------------------------------------------
# Extraction operators
# ---------------------------------------------------------------------------


def _extract_batches_arrow(batches):
    """Arrow-native extraction stage (``mapInArrow``): typed pyarrow arrays
    are built directly — no pandas object columns for the nested span
    structs, which measured ~8% faster end-to-end than the mapInPandas
    equivalent and removes pandas from the hot path entirely."""
    import pyarrow as pa

    names = [f.name for f in EXTRACT_SCHEMA.fields]
    for batch in batches:
        # by NAME, not position — a differently-ordered upstream projection
        # must not silently feed urls into the parser
        urls = batch.column(batch.schema.get_field_index("url")).to_pylist()
        htmls = batch.column(batch.schema.get_field_index("html")).to_pylist()
        ext = []
        oks = []
        errs = []
        ht = []
        hf = []
        nb = []
        ncb = []
        ci = []
        co = []
        bh = []
        cs = []
        so = [0]
        ss: list[int] = []
        se: list[int] = []
        sk: list[str] = []
        ro = [0]
        rs: list[int] = []
        re_: list[int] = []
        rr: list[str] = []
        for html in htmls:
            r = extract_one(html)
            ext.append(r.extracted_text if r.ok else None)
            oks.append(r.ok)
            errs.append(r.error)
            ht.append(r.has_table)
            hf.append(r.has_figure)
            nb.append(r.n_blocks)
            ncb.append(r.n_content_blocks)
            ci.append(r.chars_in)
            co.append(r.chars_out)
            bh.append(len(html) if html is not None else 0)
            cs.append(r.charset)
            for a, b, k in r.spans:
                ss.append(a)
                se.append(b)
                sk.append(k)
            so.append(len(ss))
            for a, b, k in r.removed_spans:
                rs.append(a)
                re_.append(b)
                rr.append(k)
            ro.append(len(rs))
        spans = pa.ListArray.from_arrays(
            pa.array(so, pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array(ss, pa.int64()), pa.array(se, pa.int64()), pa.array(sk, pa.string())],
                names=["start", "end", "kind"],
            ),
        )
        rspans = pa.ListArray.from_arrays(
            pa.array(ro, pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array(rs, pa.int64()), pa.array(re_, pa.int64()), pa.array(rr, pa.string())],
                names=["start", "end", "reason"],
            ),
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(urls, pa.string()),
                pa.array(ext, pa.string()),
                spans,
                rspans,
                pa.array(ht, pa.bool_()),
                pa.array(hf, pa.bool_()),
                pa.array(nb, pa.int32()),
                pa.array(ncb, pa.int32()),
                pa.array(ci, pa.int64()),
                pa.array(co, pa.int64()),
                pa.array(bh, pa.int64()),
                pa.array(cs, pa.string()),
                pa.array(oks, pa.bool_()),
                pa.array(errs, pa.string()),
            ],
            names=names,
        )


def extract_pages(pages: DataFrame, *, partitions: int | None = None) -> DataFrame:
    """pages(url, html, ...) → one extraction row per page (1:1, failures kept).

    The projection to (url, html) happens *before* the UDF so the scan never
    reads unused columns (check: ``.explain`` shows ReadSchema with only the
    two fields when reading parquet).
    """
    slim = pages.select("url", "html")
    if partitions:
        slim = repartition_salted(slim, partitions)
    return slim.mapInArrow(_extract_batches_arrow, schema=EXTRACT_SCHEMA)


OUTLINK_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("pos", LongType(), False),
        StructField("href", StringType(), False),
        StructField("anchor", StringType(), False),
    ]
)


def _outlink_batches_arrow(batches):
    """Arrow-native outlink stage: one output row per <a href> in document
    order (pos = per-page anchor index). Pages that fail to parse or carry
    no crawlable links contribute zero rows — the error channel stays with
    extract_pages' ok=false accounting for the same url."""
    import pyarrow as pa

    from ocr_machine_spark.core.extract import outlinks_one

    for batch in batches:
        urls = batch.column(batch.schema.get_field_index("url")).to_pylist()
        htmls = batch.column(batch.schema.get_field_index("html")).to_pylist()
        us: list[str] = []
        ps: list[int] = []
        hs: list[str] = []
        an: list[str] = []
        for url, html in zip(urls, htmls):
            for pos, (href, anchor) in enumerate(outlinks_one(html, url)):
                us.append(url)
                ps.append(pos)
                hs.append(href)
                an.append(anchor)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(us, pa.string()),
                pa.array(ps, pa.int64()),
                pa.array(hs, pa.string()),
                pa.array(an, pa.string()),
            ],
            names=["url", "pos", "href", "anchor"],
        )


def extract_outlinks(pages: DataFrame, *, partitions: int | None = None) -> DataFrame:
    """pages(url, html, ...) → (url, pos, href, anchor) per anchor — the
    link-graph feed (aggregate with operators.urls.host_of into host edges
    for operators.graphs.host_pagerank). Same slim-projection discipline as
    extract_pages: the scan reads only (url, html)."""
    slim = pages.select("url", "html")
    if partitions:
        slim = repartition_salted(slim, partitions)
    return slim.mapInArrow(_outlink_batches_arrow, schema=OUTLINK_SCHEMA)


def _blocks_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Block rows per parseable page. CONTRACT: a page whose extraction fails
    yields NO block rows (blocks of an unparsed DOM don't exist) — the error
    channel is ``extract_pages``'s ok=false row for the same url; join
    against it to distinguish "failed to parse" from "zero blocks"."""
    cols = [f.name for f in BLOCKS_SCHEMA.fields]
    for pdf in batches:
        rows = []
        for url, html in zip(pdf["url"].tolist(), pdf["html"].tolist()):
            r = extract_one(html, want_blocks=True)
            if not r.ok:
                continue
            for seq, b in enumerate(r.blocks):
                rows.append(
                    (
                        url,
                        f"{url}#{seq}",  # deterministic id — no uuids (SURVEY §7)
                        b["block_type"],
                        b["tag"],
                        b["depth"],
                        b["text"],
                        b["start"],
                        b["end"],
                        b["n_chars"],
                        b["n_words"],
                        b["link_density"],
                        b["text_density"],
                        b["is_content"],
                        b["kind"],
                        b["reason"],
                        f"{url}#{b['parent_seq']}" if b["parent_seq"] is not None else None,
                        [f"{url}#{c}" for c in b["child_seqs"]],
                        b["row_idx"],
                        b["col_idx"],
                        b["row_span"],
                        b["col_span"],
                        b["entity_types"],
                    )
                )
        yield pd.DataFrame(rows, columns=cols)


def extract_blocks(pages: DataFrame, *, partitions: int | None = None) -> DataFrame:
    """pages → exploded typed block rows (the Textract-block-model analogue,
    SURVEY.md §1.3). Analysis layer only — not on the 10^12-row hot path."""
    slim = pages.select("url", "html")
    if partitions:
        slim = repartition_salted(slim, partitions)
    return slim.mapInPandas(_blocks_batches, schema=BLOCKS_SCHEMA)


REASSEMBLE_SCHEMA = "url string, n_content_blocks int, chars long, first_start long, last_end long"


def reassemble_documents(blocks: DataFrame) -> DataFrame:
    """Grouped-map reassembly: blocks of one url → one consolidated row, in
    span order — the recombiner analogue (``python_files/textract_agent.py:
    119-200`` restores absolute page order after the split). The canonical
    ``groupBy(...).applyInPandas`` shape (SURVEY §2.9 pattern 3); the shuffle
    key is url, so each document reassembles on exactly one executor."""

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        # NO sort: every emitted aggregate is order-free (count/sum/min/max),
        # and reading order is already encoded in the span offsets the
        # renderer assigned — sorting every group would be pure dead work at
        # 10^12×blocks scale. Re-add sort_values("start") only if an
        # order-dependent output (assembled text) is ever emitted.
        kept = pdf[pdf["is_content"]]
        return pd.DataFrame(
            {
                "url": [pdf["url"].iloc[0]],
                "n_content_blocks": [int(len(kept))],
                "chars": [int((kept["end"] - kept["start"]).sum())],
                "first_start": [int(kept["start"].min()) if len(kept) else -1],
                "last_end": [int(kept["end"].max()) if len(kept) else -1],
            }
        )

    return blocks.groupBy("url").applyInPandas(assemble, schema=REASSEMBLE_SCHEMA)


PROFILE_TYPES = ["LAYOUT_TEXT", "LAYOUT_HEADER", "LAYOUT_SECTION_HEADER", "LAYOUT_FIGURE", "CELL"]


def page_profile(blocks: DataFrame) -> DataFrame:
    """Per-page layout enrichment — the C5 analogue (the reference enriches
    each page with orientation/rotation metadata before routing,
    ``python_files/table_detector_agent.py:64-118``); here the enrichment is
    the block-type histogram plus the content-word share, computed
    relationally from the block table. Pure JVM aggregation, one shuffle on
    url."""
    word_sum = F.sum("n_words").cast("long")
    content_words = F.sum(F.when(F.col("is_content"), F.col("n_words")).otherwise(0)).cast("long")
    return blocks.groupBy("url").agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.col("is_content").cast("int")).alias("n_content"),
        *[
            F.sum((F.col("block_type") == t).cast("int")).alias(f"n_{t.lower()}")
            for t in PROFILE_TYPES
        ],
        F.floor(
            (content_words / word_sum) * F.lit(10000.0) + F.lit(0.5)
        ).cast("long").alias("content_word_share_e4"),
    )


def detect_regions(blocks: DataFrame) -> DataFrame:
    """Table/figure region rows per page — the page-classifier analogue
    (``python_files/table_detector_agent.py:140-158`` roll-up), computed
    relationally from the block table instead of per-page LLM calls."""
    return (
        blocks.filter(F.col("block_type").isin("CELL", "TABLE_TITLE", "LAYOUT_FIGURE"))
        .withColumn(
            "region_type",
            F.when(F.col("block_type") == "LAYOUT_FIGURE", F.lit("figure")).otherwise(F.lit("table")),
        )
        .groupBy("url", "region_type")
        .agg(
            F.min("start").alias("start"),
            F.max("end").alias("end"),
            F.count("*").cast("int").alias("n_blocks"),
        )
    )
