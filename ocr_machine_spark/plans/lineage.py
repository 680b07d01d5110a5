"""Lineage-coupled, idempotently-resumable extraction runs (north_rule).

The reference checkpoints every milestone as timestamped JSON files so a crashed
run can be hand-resumed (``python_files/textract_agent.py:228-237``,
requirement at ``python_files/main.py:25-27``). Here the same guarantee is
structural:

* the input is split into deterministic **buckets** — ``pmod(xxhash64(url),
  n_buckets)`` — so bucket membership never depends on run order or cluster
  size;
* each run processes only buckets absent from the **lineage table**
  (an anti-join on committed partition ids);
* per bucket, data files are written first (dynamic partition overwrite, so a
  re-run of a crashed bucket replaces its orphans), then the bucket's lineage
  row is appended — the lineage row IS the commit marker;
* the write clusters the extracted rows by bucket first, so each bucket is
  ONE data file per run, not one per task that saw it (tasks × buckets small
  files, all listed and read back by the commit); an Iceberg table gets the
  same from its ``write.distribution-mode=hash`` property;
* readers go through ``read_extractions``, which inner-joins data partitions
  against committed lineage, so half-written buckets are invisible.

With an Iceberg catalog this maps 1:1 onto write-audit-publish: data + lineage
append in one snapshot transaction; the parquet layout here is the sandbox
stand-in. Lineage schema follows FIXTURES.md §4; stats are aggregated from the
files actually on disk, so the bench numbers are auditable against lineage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_machine_spark.operators.extraction import extract_pages, with_bucket

LINEAGE_DIR = "_lineage"
DATA_DIR = "data"


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, LINEAGE_DIR)


def _data_path(out_dir: str) -> str:
    return os.path.join(out_dir, DATA_DIR)


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog on this session, else None.

    Iceberg registers as ``spark.sql.catalog.<name> =
    org.apache.iceberg.spark.SparkCatalog`` — presence of such a key is the
    capability check (the runtime jar is not shipped in this sandbox, so the
    branch is exercised for dispatch only)."""
    for r in spark.sql("SET").collect():
        k = r["key"]
        if (
            k.startswith("spark.sql.catalog.")
            and k.count(".") == 3
            and "iceberg" in str(r["value"]).lower()
        ):
            return k.rsplit(".", 1)[1]
    return None


def choose_sink(spark: SparkSession, table: str | None) -> str:
    """'iceberg' when a table identifier is given AND an Iceberg catalog is
    configured; 'parquet' otherwise (sandbox stand-in)."""
    return "iceberg" if table is not None and iceberg_catalog(spark) is not None else "parquet"


def write_bucketed(df: DataFrame, spark: SparkSession, *, path: str, table: str | None = None) -> str:
    """Write bucket-partitioned extraction data through the chosen sink and
    return which sink was used.

    Iceberg path: ``writeTo(table).overwritePartitions()`` — an atomic
    snapshot commit that replaces exactly the buckets present in ``df``
    (write-audit-publish; crashed-bucket re-runs replace their orphans).
    The table's ``write.distribution-mode=hash`` property clusters the rows
    by bucket before that write.
    Parquet path: dynamic partition overwrite — the same replace-by-bucket
    semantics, minus the snapshot atomicity, which the lineage commit marker
    restores at read time. The rows are hash-partitioned by bucket into
    ``defaultParallelism`` tasks first, so each bucket lands in one task and
    is one file per run; the shuffle moves extracted rows, not HTML. Write
    parallelism is then min(buckets, cores), so a job wants at least as many
    buckets as cores."""
    sink = choose_sink(spark, table)
    if sink == "iceberg":
        df.writeTo(table).overwritePartitions()
    else:
        (
            df.repartition(spark.sparkContext.defaultParallelism, "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(path)
        )
    return sink


def _read_lineage_or_none(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Lineage table, or None iff it does not exist yet. ONLY a missing-path
    error means fresh run — transient I/O / permission / corrupt-file errors
    must propagate, not silently restart a 100-TB job from bucket zero."""
    from pyspark.errors import AnalysisException

    path = _lineage_path(out_dir)
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    run_id: str,
    n_buckets: int = 16,
    partitions: int | None = None,
    input_split: str = "",
    max_buckets_this_run: int | None = None,
    table: str | None = None,
) -> dict:
    """Extract all not-yet-committed buckets of ``pages`` into ``out_dir``.

    ``max_buckets_this_run`` exists for failure-injection tests (process only
    k buckets, "crash", resume). Returns run stats.

    EVERY processed bucket gets a lineage row, including empty ones (rows 0)
    — "committed" means processed, not non-empty. Otherwise sparse inputs
    livelock: a selected-but-empty bucket would never commit, and the next
    resume would select the same empty buckets forever.
    """
    lin = _read_lineage_or_none(spark, out_dir)
    done: list[int] = []
    if lin is not None:
        # resume guard: bucket ids only compose within ONE bucket space —
        # resuming 16-bucket lineage with --buckets 256 would silently skip
        # never-extracted rows and duplicate committed ones
        prev = [r[0] for r in lin.select("n_buckets").distinct().collect()]
        if prev and prev != [n_buckets]:
            raise ValueError(
                f"lineage at {out_dir} was committed with n_buckets={prev}; "
                f"resume must use the same value (got {n_buckets})"
            )
        done = sorted(r[0] for r in lin.select("partition_id").distinct().collect())
    bucketed = with_bucket(pages, n_buckets)
    todo = bucketed.filter(~F.col("bucket").isin(done)) if done else bucketed

    processed = sorted(set(range(n_buckets)) - set(done))
    if max_buckets_this_run is not None:
        processed = processed[:max_buckets_this_run]
        todo = todo.filter(F.col("bucket").isin(processed))

    extracted = extract_pages(todo, partitions=partitions)
    out = with_bucket(extracted, n_buckets)  # same deterministic bucket fn

    # 1) data first — bucket-replacing write (Iceberg snapshot commit when a
    # catalog is configured; parquet dynamic overwrite otherwise), so a
    # re-run of a crashed bucket replaces its orphans
    sink = write_bucketed(out, spark, path=_data_path(out_dir), table=table)

    # 2) lineage from what's actually committed (auditable), written last.
    # Read back through the SINK that was written: the Iceberg table when a
    # catalog took the data, else the parquet dir — with an explicit schema,
    # so an empty first run (only _SUCCESS on disk) reads as zero rows
    # instead of failing schema inference.
    if sink == "iceberg":
        written = spark.table(table)
        snapshot = _current_snapshot(spark, table)
    else:
        written = spark.read.schema(out.schema).parquet(_data_path(out_dir))
        snapshot = -1  # parquet sand-box stand-in has no snapshot ids
    written = written.filter(F.col("bucket").isin(processed))
    agg_rows = written.groupBy("bucket").agg(
        F.count("*").alias("rows_out"),
        F.sum(F.col("ok").cast("long")).alias("pages_ok"),
        F.sum((~F.col("ok")).cast("long")).alias("pages_failed"),
        F.sum("bytes_html").alias("bytes_html"),
        F.sum("chars_out").alias("chars_extracted"),
    ).collect()  # ≤ n_buckets small rows — aggregate ONCE, reuse for write+stats
    # rows_in from the INPUT side (column-pruned: bucket derives from url
    # only) — extraction is total/1:1 today, but the paired columns exist to
    # EXPOSE a drop/expand the day a stage introduces one, so they must not
    # share one expression
    in_counts = {r[0]: r[1] for r in todo.groupBy("bucket").count().collect()}
    by_bucket = {r["bucket"]: r for r in agg_rows}
    lineage_rows = []
    for b in processed:
        r = by_bucket.get(b)
        lineage_rows.append(
            (
                b,
                run_id,
                int(in_counts.get(b, 0)),
                int(r["rows_out"]) if r else 0,
                int(r["pages_ok"] or 0) if r else 0,
                int(r["pages_failed"] or 0) if r else 0,
                int(r["bytes_html"] or 0) if r else 0,
                int(r["chars_extracted"] or 0) if r else 0,
                input_split,
                n_buckets,
                snapshot,
            )
        )
    lineage = spark.createDataFrame(
        lineage_rows,
        "partition_id long, run_id string, rows_in long, rows_out long, "
        "pages_ok long, pages_failed long, bytes_html long, "
        "chars_extracted long, input_split string, n_buckets long, "
        "committed_snapshot long",
    )
    lineage.write.mode("append").parquet(_lineage_path(out_dir))

    return {
        "run_id": run_id,
        "buckets_committed": len(lineage_rows),
        "rows": sum(r[3] for r in lineage_rows),
        "pages_ok": sum(r[4] for r in lineage_rows),
        "pages_failed": sum(r[5] for r in lineage_rows),
        "bytes_html": sum(r[6] for r in lineage_rows),
    }


def _current_snapshot(spark: SparkSession, table: str) -> int:
    """Latest Iceberg snapshot id for the WAP audit trail; -1 when the
    snapshots metadata table does not exist (e.g. dispatch-only sandbox).
    ONLY that error means "no snapshot id" — any other failure propagates,
    the same rule as ``_read_lineage_or_none``."""
    from pyspark.errors import AnalysisException

    try:
        row = spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).first()
    except AnalysisException as e:
        if e.getCondition() == "TABLE_OR_VIEW_NOT_FOUND":
            return -1
        raise
    return int(row[0]) if row is not None else -1


def read_extractions(spark: SparkSession, out_dir: str, *, table: str | None = None) -> DataFrame:
    """Committed rows only: data ⋉ lineage on partition id (semi-join keeps
    half-written buckets invisible, exactly-once semantics for readers).
    Pass the same ``table`` the writer used when an Iceberg catalog took the
    data — the parquet dir under ``out_dir`` only exists for the parquet
    sink."""
    if table is not None and choose_sink(spark, table) == "iceberg":
        data = spark.table(table)
    else:
        data = spark.read.parquet(_data_path(out_dir))
    lin = spark.read.parquet(_lineage_path(out_dir)).select(F.col("partition_id").alias("bucket")).distinct()
    return data.join(F.broadcast(lin), "bucket", "left_semi")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_lineage_path(out_dir))
