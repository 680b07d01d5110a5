"""spark-submit entry point for the production extraction job.

Usage (cluster):
    zip -r ocr_machine_spark.zip ocr_machine_spark
    spark-submit --py-files ocr_machine_spark.zip \
        --master <cluster> \
        ocr_machine_spark/jobs.py \
        --input  <pages parquet path or table id> \
        --output <output dir> \
        --run-id <id> [--buckets 4096] [--partitions <2-4x total cores>]

The job is idempotent: re-running with the same --output resumes from the
lineage table (only uncommitted buckets are processed — see
ocr_machine_spark.plans.lineage). All compute is Arrow-batched; zero
row-at-a-time Python (BASELINE.json execution constraint).

Sizing guidance at 10^12 rows / 100 TB html:
* --buckets: O(10^5) so each bucket is a few hundred MB of output and a
  resume unit; bucket id = pmod(xxhash64(url), buckets) — stable across runs
  and cluster sizes. A bucket costs one lineage row per run, not a
  directory (a run writes one file per write task under data/run_id=<id>/)
  and no driver time on resume (committed buckets are anti-joined in the plan).
* --run-id: one path segment of [A-Za-z0-9._-], used once per --output
  (a crashed run's id has no lineage rows and may be reused).
* --partitions: 2-4× total executor cores; the salted repartition in
  extract_pages spreads mega-hosts across tasks.
* spark.sql.files.maxPartitionBytes=256m keeps scan tasks bounded; AQE
  coalesces the post-UDF writes.
* Arrow batches are capped by ROWS (spark.sql.execution.arrow.
  maxRecordsPerBatch, default 2048 here), not bytes: size it so
  records × your html size cap fits executor memory — e.g. 256 for
  1 MB-truncated Common-Crawl payloads (≤256 MB per in-flight batch).
  The extraction UDF itself is O(page) memory; the batch is the only
  aggregation point.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# invoked as a script path (spark-submit pkg/jobs.py or python pkg/jobs.py):
# put the package's parent on sys.path so the package imports itself
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# the flags each job reads beyond --input/--output/--run-id/--master/--job;
# any other flag set away from its default is named as ignored
_READS = {
    "extract": {"buckets", "partitions", "output_table", "diff_against", "input_format"},
    "curate": {"dedup_lines", "dedup_spans", "dedup_near", "decontaminate", "input_format"},
    "linkgraph": {"partitions", "input_format"},
    "cdx": set(),
    "frontier": {"partitions", "diff_against", "robots", "sitemaps", "input_format"},
    "train": {"epochs", "lr", "input_format"},
}
_ALWAYS = {"input", "output", "run_id", "master", "job"}


def ignored_flags(ap: argparse.ArgumentParser, args: argparse.Namespace) -> list[str]:
    """The flags, in parser order, that ``args.job`` does not read but that
    are set away from their default. cdx always reads WARC, so
    ``--input-format warc`` is consistent with it, not ignored; any other
    explicit format is named rather than silently dropped."""
    reads = _ALWAYS | _READS[args.job]
    return [
        "--" + dest.replace("_", "-")
        for dest, val in vars(args).items()
        if dest not in reads
        and val != ap.get_default(dest)
        and not (args.job == "cdx" and dest == "input_format" and val == "warc")
    ]


def parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--input",
        required=True,
        help="pages source: a parquet path, or a table identifier "
        "(catalog.db.table — no path separator) read via spark.table, which "
        "is the correct way to read an Iceberg input (a raw parquet scan of "
        "an Iceberg dir would resurrect logically-deleted files)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--output-table",
        default=None,
        help="Iceberg table id (catalog.db.table); used iff an Iceberg "
        "catalog is configured on the session, else parquet under --output",
    )
    ap.add_argument(
        "--decontaminate",
        default=None,
        help="curate only: parquet of benchmark/eval documents (text "
        "column); training docs sharing any word 8-gram with it are "
        "dropped with 'contaminated' in the reasons audit (GPT-3 "
        "appendix-C hygiene; benchmark side broadcast, zero extra corpus "
        "shuffle)",
    )
    ap.add_argument(
        "--diff-against",
        default=None,
        help="extract only: path of a PREVIOUS pages snapshot (parquet). "
        "The job extracts only urls whose raw html is new or changed vs "
        "that snapshot (md5 diff via operators.urls.snapshot_diff) — the "
        "incremental-recrawl mode; unchanged and removed urls are skipped "
        "and reported in the stats line",
    )
    ap.add_argument(
        "--input-format",
        choices=("auto", "parquet", "table", "warc"),
        default="auto",
        help="auto (default): catalog table if the identifier resolves, else "
        "parquet; warc: raw crawl archives (WARC/1.0, plain or "
        "member-per-record gzip) ingested via sources.warc.read_warc — "
        "point --input at the archive directory",
    )
    ap.add_argument(
        "--robots",
        default=None,
        help="frontier only: parquet of fetched robots bodies "
        "(host, robots_txt columns) — feeds the RFC 9309 allow gate and "
        "Crawl-delay politeness; without it every url is allowed with no "
        "delay",
    )
    ap.add_argument(
        "--sitemaps",
        default=None,
        help="frontier only: parquet of fetched sitemap bodies "
        "(sitemap_url, xml columns) — urlset locs not already in the "
        "snapshot enter the frontier as freshness='discovered'",
    )
    ap.add_argument(
        "--epochs",
        type=int,
        default=4,
        help="train only: gradient-descent epochs",
    )
    ap.add_argument(
        "--lr",
        default="0.25",
        help="train only: learning rate as a DECIMAL STRING (parse-identical "
        "across engines — the exactness convention)",
    )
    ap.add_argument(
        "--job",
        choices=("extract", "curate", "linkgraph", "cdx", "frontier", "train"),
        default="extract",
        help="extract (default): bucket-committed incremental extraction of a "
        "pages table; curate: Gopher quality filter + exact-dedup survivor "
        "selection over a documents table (deterministic pure function — "
        "idempotent via overwrite, no bucket lineage needed); linkgraph: "
        "host-level edge list + exact-integer PageRank over a pages table "
        "(pure overwrite job, same idempotence argument as curate); cdx: "
        "url-sorted random-access index over WARC archives (--input is the "
        "archive dir; WARC input is implied); frontier: the crawl-scheduler "
        "feed (url, allowed, rule_prefix, crawl_delay_ms, priority_e9, "
        "freshness) composing the robots gate, Crawl-delay politeness, "
        "sitemap discovery, snapshot freshness (--diff-against) and "
        "host-PageRank priority over a pages table (pure overwrite job); "
        "train: the EP3 lifecycle over an embeddings table — gradient-"
        "descent training on the hash split, per-epoch val folds, "
        "best-checkpoint selection, batch inference on the test split "
        "(writes metrics/weights/scores; pure overwrite job)",
    )
    ap.add_argument(
        "--dedup-lines",
        action="store_true",
        help="curate only: CCNet-ordered cross-corpus line dedup BEFORE the "
        "quality ladder — later copies of any line are removed, text is "
        "rewritten from surviving lines, and the curated/decision tables "
        "gain n_lines/n_lines_kept",
    )
    ap.add_argument(
        "--dedup-near",
        action="store_true",
        help="curate only: fuzzy dedup AFTER the exact survivor stage — "
        "MinHash-LSH candidate pairs at 0.8 Jaccard over the survivors, "
        "large-star/small-star clusters, one survivor per cluster; the "
        "decision table gains near_rep and stats gain docs_near_dropped",
    )
    ap.add_argument(
        "--dedup-spans",
        action="store_true",
        help="curate only: exact substring dedup (Lee et al. 2022) before "
        "the quality ladder (after --dedup-lines when both are set) — "
        "later corpus occurrences of any duplicated >=8-word run are "
        "excised (case-insensitive match, case-preserving rewrite); the "
        "curated/decision tables gain n_span_words/n_span_kept",
    )
    return ap


def main(argv: list[str] | None = None) -> None:
    ap = parser()
    args = ap.parse_args(argv)
    ignored = ignored_flags(ap, args)
    if ignored:
        print(
            f"WARNING: {', '.join(ignored)} do not apply to --job {args.job} "
            "and are ignored",
            file=sys.stderr,
        )

    from ocr_machine_spark.plans.lineage import run_extraction
    from ocr_machine_spark.session import get_spark

    spark = get_spark(app=f"{args.job}-{args.run_id}", master=args.master)

    if args.job == "cdx":
        from ocr_machine_spark.sources.warc import read_warc_cdx

        # the CDX convention: index sorted by url so consumers binary-search
        # it — the global sort is one range-partition exchange over index
        # rows (tiny next to the archives they describe)
        cdx = read_warc_cdx(spark, args.input).sort("url")
        cdx.write.mode("overwrite").parquet(args.output)
        back = spark.read.parquet(args.output)
        stats = {
            "run_id": args.run_id,
            "n_records": back.count(),
            "n_files": back.select("file").distinct().count(),
        }
        print(json.dumps(stats))
        spark.stop()
        return

    if args.input_format == "warc":
        from ocr_machine_spark.sources.warc import read_warc

        pages = read_warc(spark, args.input)
    elif args.input_format == "table":
        pages = spark.table(args.input)
    elif args.input_format == "parquet":
        pages = spark.read.parquet(args.input)
    else:
        # auto: route to the catalog only when the identifier actually
        # resolves there — a separator-free heuristic alone would send a bare
        # relative filename ('pages.parquet') to spark.table() and die with
        # TABLE_OR_VIEW_NOT_FOUND
        looks_like_table = "/" not in args.input and "\\" not in args.input and not args.input.startswith("file:")
        is_table = looks_like_table and spark.catalog.tableExists(args.input)
        pages = spark.table(args.input) if is_table else spark.read.parquet(args.input)

    if args.job == "train":
        from ocr_machine_spark.plans.train import run_training

        stats = run_training(
            spark,
            pages,  # an embeddings table for this job (vec_id, embedding, label)
            args.output,
            run_id=args.run_id,
            epochs=args.epochs,
            lr=args.lr,
        )
        print(json.dumps(stats))
        spark.stop()
        return
    if args.job == "frontier":
        from ocr_machine_spark.plans.frontier import run_frontier

        stats = run_frontier(
            spark,
            pages,
            args.output,
            run_id=args.run_id,
            robots=spark.read.parquet(args.robots) if args.robots else None,
            sitemaps=spark.read.parquet(args.sitemaps) if args.sitemaps else None,
            old_pages=(
                spark.read.parquet(args.diff_against) if args.diff_against else None
            ),
            partitions=args.partitions,
        )
        print(json.dumps(stats))
        spark.stop()
        return
    if args.job == "linkgraph":
        from ocr_machine_spark.plans.linkgraph import run_linkgraph

        stats = run_linkgraph(
            spark,
            pages,
            args.output,
            run_id=args.run_id,
            partitions=args.partitions,
        )
        print(json.dumps(stats))
        spark.stop()
        return
    if args.job == "curate":
        from ocr_machine_spark.plans.curate import run_curation

        bench = (
            spark.read.parquet(args.decontaminate) if args.decontaminate else None
        )
        stats = run_curation(
            spark,
            pages,
            args.output,
            run_id=args.run_id,
            dedup_lines=args.dedup_lines,
            dedup_spans=args.dedup_spans,
            dedup_near=args.dedup_near,
            bench=bench,
        )
        print(json.dumps(stats))
        spark.stop()
        return
    diff_stats = {}
    if args.diff_against:
        # incremental recrawl: diff raw-html fingerprints against the
        # previous snapshot and extract only added/changed urls — the
        # full-outer join is one url-keyed shuffle of (url, md5) pairs,
        # tiny next to re-extracting an unchanged 100 TB corpus
        from pyspark.sql import functions as F

        from ocr_machine_spark.operators.urls import snapshot_diff

        # one fp row per url (min-md5 representative): duplicate urls in a
        # snapshot (WARC recrawl records) would otherwise fan out through
        # the full-outer join and skew the diff histogram
        fp = lambda df: (  # noqa: E731
            df.select("url", F.md5(F.col("html")).alias("fp"))
            .groupBy("url")
            .agg(F.min("fp").alias("fp"))
        )
        old_pages = spark.read.parquet(args.diff_against)
        # materialize the diff ONCE: three consumers follow (the histogram
        # collect, the semi-join inside the extraction write, and lineage's
        # rows_in count) — without the barrier each would re-scan + re-md5
        # both snapshots, tripling the dominant cost at 100 TB
        diff = snapshot_diff(fp(old_pages), fp(pages)).localCheckpoint(eager=True)
        counts = {r["change"]: r["n"] for r in diff.groupBy("change").agg(
            F.count("*").alias("n")).collect()}
        diff_stats = {f"diff_{k}": counts.get(k, 0) for k in
                      ("added", "changed", "unchanged", "removed")}
        todo = diff.filter(F.col("change").isin("added", "changed")).select("url")
        pages = pages.join(todo, "url", "left_semi")
    stats = run_extraction(
        spark,
        pages,
        args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        partitions=args.partitions,
        input_split=args.input,
        table=args.output_table,
    )
    print(json.dumps({**stats, **diff_stats}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
