"""The traced layer sweep: times calls into each layer's public functions,
from outside, on the benchmark's seeded inputs.

Every traced run measures every layer, so each per-layer metric exists for
each workload: the extraction layers on the ``extract_small`` pages, the
curation rungs on the ``curate_full`` documents, and the heavy query
surfaces on the sf0.1 tables.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pyarrow.parquet as pq

from enginebench import inputs
from enginebench.workloads import N_BUCKETS, expected, table_digest

CORE_SAMPLE = 1000  # pages timed one by one in a single process: 10 beyond the p99
N_LARGE = 8  # 100–400 KB pages next to the five hostile ones

HEAVY_QUERIES = (
    "jaccard_pairs_3gram",
    "simhash_near_pairs",
    "minhash_lsh_pairs",
    "embedding_dup_pairs",
    "host_components",
    "ntile_price_bands",
    "doc_quality_tiers",
    "model_train_eval",
)


def noop(df) -> None:
    """Materialise every column of ``df`` and discard it."""
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _us(xs: list[float]) -> float:
    return statistics.median(xs) * 1e6


def core_layers(pages: list[bytes]) -> dict[str, float]:
    """``core.extract`` and ``core.htmlparse`` timed page by page in this process."""
    from ocr_machine_spark.core.extract import extract_one, sniff_charset
    from ocr_machine_spark.core.htmlparse import render_page

    pc = time.perf_counter
    one, sniff, render, rest = [], [], [], []
    for b in pages:
        t0 = pc()
        extract_one(b)
        t1 = pc()
        text = b.decode(sniff_charset(b), errors="replace")
        t2 = pc()
        render_page(text)
        t3 = pc()
        one.append(t1 - t0)
        sniff.append(t2 - t1)
        render.append(t3 - t2)
        rest.append((t1 - t0) - (t3 - t1))
    return {
        "core.extract_one_us": _us(one),
        "core.extract_one_p99_us": statistics.quantiles(one, n=100)[98] * 1e6,
        "core.extract_one_mean_us": statistics.fmean(one) * 1e6,
        "core.render_us": _us(render),
        "core.render_mb_per_s": sum(map(len, pages)) / sum(render) / 1e6,
        "core.sniff_decode_us": _us(sniff),
        "core.gate_excise_us": _us(rest),
    }


def extraction_layers(spark, sp, pages_path: str, n_pages: int, cores: int, work: str,
                      rest, run_extraction_s: float | None) -> dict[str, float]:
    """Scan, Arrow round trip, ``extract_pages``, bucket write and lineage
    commit of one extraction over ``pages_path``. ``run_extraction_s`` is the
    caller's traced ``run_extraction`` wall, or None to time one here."""
    from ocr_machine_spark.operators.extraction import extract_pages, with_bucket
    from ocr_machine_spark.plans.lineage import run_extraction, write_bucketed

    def slim():
        return spark.read.parquet(pages_path).select("url", "html")

    # materialise the extraction first: it also runs the scan, the Arrow
    # transfer and the extractor once before they are timed
    ext = os.path.join(work, "layer_ext")
    extract_pages(slim()).write.mode("overwrite").parquet(ext)
    with sp.span("sources.scan"):
        noop(slim())
    schema = slim().schema
    with sp.span("arrow.roundtrip"):
        noop(slim().mapInArrow(_identity, schema=schema))
    mark = rest.mark()
    with sp.span("operators.extract_pages"):
        noop(extract_pages(slim()))
    m = rest.python_metrics(mark)
    frame = with_bucket(spark.read.parquet(ext), N_BUCKETS)
    with sp.span("plans.lineage.write_bucketed"):
        write_bucketed(frame, spark, path=os.path.join(work, "layer_wb"))
    if run_extraction_s is None:
        out = os.path.join(work, "layer_run")
        with sp.span("plans.lineage.run_extraction"):
            run_extraction(spark, spark.read.parquet(pages_path), out, run_id="layers", n_buckets=N_BUCKETS)
        run_extraction_s = sp.seconds("plans.lineage.run_extraction")
    files, size = _dir_size(os.path.join(work, "layer_wb"))
    sample = pq.read_table(pages_path, columns=["html"]).column("html").to_pylist()[:CORE_SAMPLE]
    with sp.span("core"):
        m.update(core_layers(sample))
    # base of the overhead share: pages × mean single-process cost / cores
    per_page = m["core.extract_one_mean_us"] * 1e-6
    m.update({
        "sources.scan_s": sp.seconds("sources.scan"),
        "arrow.roundtrip_s": sp.seconds("arrow.roundtrip"),
        "operators.extract_pages_s": sp.seconds("operators.extract_pages"),
        "operators.spark_overhead_frac": 1 - (n_pages * per_page / cores) / sp.seconds("operators.extract_pages"),
        "plans.lineage.run_extraction_s": run_extraction_s,
        "plans.lineage.write_bucketed_s": sp.seconds("plans.lineage.write_bucketed"),
        "plans.lineage.commit_s": run_extraction_s
        - sp.seconds("operators.extract_pages") - sp.seconds("plans.lineage.write_bucketed"),
        "plans.lineage.files_written": files,
        "plans.lineage.bytes_written": size,
    })
    return m


def extraction_table(m: dict[str, float]) -> list[tuple[str, float, float]]:
    """(layer, seconds, share of the ``run_extraction`` wall) for extraction."""
    total = m["plans.lineage.run_extraction_s"]
    rows = [
        ("parquet scan", m["sources.scan_s"]),
        ("JVM->Python Arrow transfer", m["arrow.roundtrip_s"] - m["sources.scan_s"]),
        ("python extraction (core + Arrow build)", m["operators.extract_pages_s"] - m["arrow.roundtrip_s"]),
        ("bucket write", m["plans.lineage.write_bucketed_s"]),
        ("read-back, recount, lineage commit", m["plans.lineage.commit_s"]),
        ("run_extraction total", total),
    ]
    return [(name, s, s / total) for name, s in rows]


def large_layers(spark, sp, seed: int, cores: int, work: str) -> tuple[dict[str, float], int]:
    """Large and hostile pages: per-byte tokenizer cost in one process, then
    ``extract_pages`` over the same pages, each url cross-checked against
    the single-process ``extract_one`` result. → (metrics, failed pages)."""
    from ocr_machine_spark.core.extract import extract_one
    from ocr_machine_spark.operators.extraction import extract_pages

    pages = inputs.large_pages(N_LARGE, seed)
    want, secs = {}, {}
    for url, html in pages:
        t0 = time.perf_counter()
        r = extract_one(html)
        secs[url] = time.perf_counter() - t0
        want[url] = (r.ok, r.extracted_text if r.ok else None, [list(s) for s in r.spans],
                     [list(s) for s in r.removed_spans])
    path = os.path.join(work, "large_pages")
    spark.createDataFrame(pages, "url string, html binary").repartition(cores).write.mode(
        "overwrite").parquet(path)
    with sp.span("operators.extract_pages_large"):
        rows = extract_pages(spark.read.parquet(path)).select(
            "url", "ok", "extracted_text", "spans", "removed_spans").toArrow().to_pylist()
    urls = [r["url"] for r in rows]
    bad = len(want.keys() - set(urls)) + len(urls) - len(set(urls))
    for r in rows:
        got = (r["ok"], r["extracted_text"], [list(s.values()) for s in r["spans"]],
               [list(s.values()) for s in r["removed_spans"]])
        bad += got != want.get(r["url"])
    large = [(u, h) for u, h in pages if "//large." in u]
    return {
        "core.large_mb_per_s": sum(len(h) for _, h in large) / sum(secs[u] for u, _ in large) / 1e6,
        "core.hostile_max_ms": max(s for u, s in secs.items() if "//hostile." in u) * 1e3,
        "operators.extract_pages_large_s": sp.seconds("operators.extract_pages_large"),
    }, min(bad, len(pages))


def curation_layers(spark, sp, docs_path: str, work: str, run_curation_s: float | None) -> dict[str, float]:
    """Each curation rung on the same documents, then the remainder of
    ``run_curation`` (rewrites joined back, survivor pick, writes, stats)."""
    from ocr_machine_spark.operators.dedup import dedup_clusters_star, minhash_dedup_pairs
    from ocr_machine_spark.operators.textstats import gopher_filter, line_dedup, span_dedup
    from ocr_machine_spark.plans.curate import run_curation

    docs = spark.read.parquet(docs_path)
    rungs = {
        "operators.textstats.line_dedup": lambda: noop(line_dedup(docs)),
        "operators.textstats.span_dedup": lambda: noop(span_dedup(docs, preserve_case=True)),
        "operators.textstats.gopher_filter": lambda: noop(gopher_filter(docs)),
        "operators.dedup.minhash_dedup_pairs": lambda: minhash_dedup_pairs(docs, threshold=0.8)
        .write.mode("overwrite").parquet(os.path.join(work, "layer_pairs")),
        "operators.dedup.dedup_clusters_star": lambda: noop(dedup_clusters_star(
            docs.select("doc_id"), spark.read.parquet(os.path.join(work, "layer_pairs")))),
    }
    for name, call in rungs.items():
        with sp.span(name):
            call()
    spark.catalog.clearCache()
    if run_curation_s is None:
        with sp.span("plans.curate.run_curation"):
            run_curation(spark, docs, os.path.join(work, "layer_cur"), run_id="layers",
                         dedup_lines=True, dedup_spans=True, dedup_near=True)
        run_curation_s = sp.seconds("plans.curate.run_curation")
    m = {f"{name}_s": sp.seconds(name) for name in rungs}
    m["plans.curate.run_curation_s"] = run_curation_s
    m["plans.curate.write_s"] = run_curation_s - sum(sp.seconds(n) for n in rungs)
    return m


def query_layers(spark, sp, seed: int) -> tuple[dict[str, float], dict, int]:
    """The heavy ``__spark_entry__.queries()`` surfaces timed on the sf0.1
    tables, in an order the seed permutes. They get no warm-up run: with one
    on the sf0.001 tables a traced run took up to 208 s on a busy host, and
    a run must end within 180 s, so each time includes compiling the query.
    Each result's row count and digest must equal the recorded one.
    → (metrics, {name: [rows, digest]}, failed queries)."""
    import __spark_entry__ as E

    qs = E.queries()
    order = list(HEAVY_QUERIES)
    random.Random(seed).shuffle(order)
    m, got = {}, {}
    for name in order:
        with sp.span(f"queries.{name}"):
            got[name] = list(table_digest(qs[name](spark, inputs.SF_QUERIES)))
        m[f"queries.{name}_s"] = sp.seconds(f"queries.{name}")
    rec = expected()["queries"]
    return m, got, sum(got[n] != rec.get(n) for n in HEAVY_QUERIES)
