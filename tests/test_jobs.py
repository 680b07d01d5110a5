"""jobs.py's ignored-flag warning, checked without a JVM: every flag a job
does not read is named when it is set away from its default."""

import pytest

from ocr_machine_spark.jobs import ignored_flags, parser

EVERY_FLAG = [
    "--buckets", "7", "--partitions", "3", "--master", "local[1]",
    "--output-table", "cat.db.tbl", "--decontaminate", "bench.parquet",
    "--diff-against", "old.parquet", "--input-format", "parquet",
    "--robots", "robots.parquet", "--sitemaps", "sitemaps.parquet",
    "--epochs", "9", "--lr", "0.5",
    "--dedup-lines", "--dedup-near", "--dedup-spans",
]
DEDUP = {"--dedup-lines", "--dedup-near", "--dedup-spans"}
CRAWL = {"--robots", "--sitemaps"}
TRAIN = {"--epochs", "--lr"}


@pytest.mark.parametrize(
    "job, ignored",
    [
        ("extract", DEDUP | CRAWL | TRAIN | {"--decontaminate"}),
        ("curate", CRAWL | TRAIN | {"--buckets", "--partitions", "--output-table", "--diff-against"}),
        ("linkgraph", DEDUP | CRAWL | TRAIN | {"--buckets", "--output-table", "--diff-against", "--decontaminate"}),
        ("frontier", DEDUP | TRAIN | {"--buckets", "--output-table", "--decontaminate"}),
        ("train", DEDUP | CRAWL | {"--buckets", "--partitions", "--output-table", "--diff-against", "--decontaminate"}),
        ("cdx", DEDUP | CRAWL | TRAIN | {"--buckets", "--partitions", "--output-table", "--diff-against",
                                          "--decontaminate", "--input-format"}),
    ],
)
def test_ignored_flags_per_job(job, ignored):
    ap = parser()
    base = ["--input", "in", "--output", "out", "--run-id", "r1", "--job", job]
    got = ignored_flags(ap, ap.parse_args(base + EVERY_FLAG))
    assert len(got) == len(set(got)) and set(got) == ignored
    assert ignored_flags(ap, ap.parse_args(base)) == []


def test_cdx_accepts_warc_input_format():
    """cdx always reads WARC: an explicit ``--input-format warc`` agrees
    with it and is not named."""
    ap = parser()
    base = ["--input", "in", "--output", "out", "--run-id", "r1", "--job", "cdx"]
    assert ignored_flags(ap, ap.parse_args(base + ["--input-format", "warc"])) == []
