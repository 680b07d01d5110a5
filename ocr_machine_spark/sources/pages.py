"""Pages-table source: distributed deterministic generation + lake I/O.

The generator is the scale-out form of the fixture factory — the analogue of
the reference's synthetic-scan factory (``fake_scan.py:287-349``) but executed
as a Spark job: ``spark.range(n)`` → ``mapInPandas`` building each page from
its row index alone (seeded per-row RNG, no sequential state), so generation
parallelises perfectly and any subset of rows is reproducible on any executor.

I/O: parquet by default. When an Iceberg catalog is configured on the session
(spark.sql.catalog.* — the runtime jar is not shipped in this container), the
same frames write through ``df.writeTo(table)`` unchanged; the lineage layer
(ocr_machine_spark.plans.lineage) is the parquet stand-in for Iceberg
snapshot-coupled commits.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ocr_machine_spark.fixtures import make_page
from ocr_machine_spark.operators.extraction import PAGES_SCHEMA

GOLDEN_SCHEMA = (
    "url string, charset string, extracted_text string, "
    "spans array<struct<start:long,end:long,kind:string>>, "
    "removed_spans array<struct<start:long,end:long,reason:string>>, "
    "has_table boolean, has_figure boolean, "
    "blocks array<struct<block_type:string,n_words:long,is_content:boolean,"
    "kind:string,reason:string,start:long,end:long,row_idx:long,col_idx:long,"
    "header:boolean>>"
)


def _page_rows(batches: Iterator[pd.DataFrame], seed: int, golden: bool) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for i in pdf["id"].tolist():
            p = make_page(int(i), seed)
            if golden:
                rows.append(
                    (
                        p.url,
                        p.charset,
                        p.extracted_text,
                        [{"start": s, "end": e, "kind": k} for s, e, k in p.spans],
                        [{"start": s, "end": e, "reason": k} for s, e, k in p.removed_spans],
                        p.has_table,
                        p.has_figure,
                        p.blocks,
                    )
                )
            else:
                rows.append(
                    (
                        p.url,
                        datetime.fromtimestamp(p.warc_ts, tz=timezone.utc).replace(tzinfo=None),
                        p.html,
                        p.text,
                        p.lang,
                    )
                )
        cols = (
            ["url", "charset", "extracted_text", "spans", "removed_spans", "has_table", "has_figure", "blocks"]
            if golden
            else ["url", "warc_ts", "html", "text", "lang"]
        )
        yield pd.DataFrame(rows, columns=cols)


def generate_pages(spark: SparkSession, n: int, seed: int = 42, partitions: int = 32) -> DataFrame:
    """Distributed deterministic pages table: (url, warc_ts, html, text, lang)."""
    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(lambda it: _page_rows(it, seed, golden=False), schema=PAGES_SCHEMA)
    )


def generate_goldens(spark: SparkSession, n: int, seed: int = 42, partitions: int = 32) -> DataFrame:
    """Matching golden expectations, computed by construction (never via the
    extractor) — the committed-oracle role of the reference's
    ``outputs/cleaned_response_output.json`` + ``bounding_boxes.json``."""
    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(lambda it: _page_rows(it, seed, golden=True), schema=GOLDEN_SCHEMA)
    )


def degrade_pages(pages: DataFrame, min_bytes: int = 40) -> DataFrame:
    """Deterministic page degrader — the G2 analogue of the reference's
    scanner-artifact simulator (``fake_scan.py``'s blur/skew/noise ladder,
    re-expressed for web bytes): every page is truncated mid-markup to a
    url-keyed pseudo-random length, yielding unclosed tags, split entities
    and half UTF-8 sequences. Pure JVM expressions (substring on binary).

    Contract under degradation: extraction stays TOTAL — one output row per
    input row, ``ok=false`` with the error recorded rather than an exception
    (tests/test_spark_extraction.py asserts it on this operator's output).
    """
    from pyspark.sql import functions as F  # local: keep module header slim

    n_bytes = F.length(F.col("html"))
    cut = min_bytes + F.pmod(F.xxhash64(F.col("url")), F.greatest(n_bytes - min_bytes, F.lit(1)))
    return pages.withColumn("html", F.col("html").substr(F.lit(1), cut.cast("int")))


def golden_parquet(n: int, seed: int = 42, base_dir: str = "/tmp/ocr_machine_spark_goldens") -> str:
    """Materialize the golden expectations for pages [0, n) as ONE parquet
    file, pure Python (pyarrow, no Spark) — so ``oracle_sql()`` twins can read
    it from DuckDB by absolute path. Built once per (n, seed), then reused;
    the write is atomic (tmp + rename), safe under concurrent callers.

    This is the committed-golden-fixture pattern of the reference
    (``python_files/outputs/full_response_output.json`` +
    ``bounding_boxes.json``): expectations computed by construction, never by
    the extractor, persisted where the checker can read them.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(base_dir, f"goldens_v5_n{n}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(base_dir, exist_ok=True)

    from ocr_machine_spark.fixtures import make_page

    span_t = pa.struct([("start", pa.int64()), ("end", pa.int64()), ("kind", pa.string())])
    rspan_t = pa.struct([("start", pa.int64()), ("end", pa.int64()), ("reason", pa.string())])
    block_t = pa.struct(
        [
            ("block_type", pa.string()),
            ("n_words", pa.int64()),
            ("is_content", pa.bool_()),
            ("kind", pa.string()),
            ("reason", pa.string()),
            ("start", pa.int64()),
            ("end", pa.int64()),
            ("row_idx", pa.int64()),
            ("col_idx", pa.int64()),
            ("header", pa.bool_()),
        ]
    )
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("n_html_bytes", pa.int64()),
            ("charset", pa.string()),
            ("extracted_text", pa.string()),
            ("spans", pa.list_(span_t)),
            ("removed_spans", pa.list_(rspan_t)),
            ("has_table", pa.bool_()),
            ("has_figure", pa.bool_()),
            ("blocks", pa.list_(block_t)),
        ]
    )
    rows = []
    for i in range(n):
        p = make_page(i, seed)
        rows.append(
            {
                "url": p.url,
                "n_html_bytes": len(p.html),
                "charset": p.charset,
                "extracted_text": p.extracted_text,
                "spans": [{"start": s, "end": e, "kind": k} for s, e, k in p.spans],
                "removed_spans": [{"start": s, "end": e, "reason": r} for s, e, r in p.removed_spans],
                "has_table": p.has_table,
                "has_figure": p.has_figure,
                "blocks": p.blocks,
            }
        )
    tbl = pa.Table.from_pylist(rows, schema=schema)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path


def outlink_golden_parquet(n: int, seed: int = 42, base_dir: str = "/tmp/ocr_machine_spark_goldens") -> str:
    """By-construction link-graph goldens for pages [0, n): one row per
    anchor, (url, pos, href, anchor) in document order — nav links then
    farm links, hrefs pre-resolved by the generator (never by the extractor
    under test). Same committed-golden pattern and atomic-write discipline
    as golden_parquet above."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(base_dir, f"outlink_goldens_v2_n{n}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(base_dir, exist_ok=True)

    from ocr_machine_spark.fixtures import make_page

    urls, poss, hrefs, anchors = [], [], [], []
    for i in range(n):
        p = make_page(i, seed)
        for pos, (href, anchor) in enumerate(p.outlinks):
            urls.append(p.url)
            poss.append(pos)
            hrefs.append(href)
            anchors.append(anchor)
    tbl = pa.Table.from_pydict(
        {"url": urls, "pos": poss, "href": hrefs, "anchor": anchors},
        schema=pa.schema(
            [
                ("url", pa.string()),
                ("pos", pa.int64()),
                ("href", pa.string()),
                ("anchor", pa.string()),
            ]
        ),
    )
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path
