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
* the bucket is the resume unit, not a directory: each run writes its rows
  under its own directory, ``data/run_id=<run_id>/``, one file per write
  task, with ``bucket`` as an ordinary column sorted within each file (tight
  row-group min/max statistics, so a bucket filter skips row groups). A run
  costs as many files as the write has tasks and as many lineage rows as it
  has buckets, so the bucket count is no per-run file or listing cost;
* data files are written first, then one lineage row per processed bucket is
  appended — the ``(bucket, run_id)`` lineage row IS the commit marker. A run
  id is used once; before it writes, a run deletes every run directory that
  has no lineage row (the orphans of crashed runs; single writer per output);
* readers go through ``read_extractions``, which semi-joins data against
  committed lineage on ``(bucket, run_id)``, so half-written runs are
  invisible even where a later run committed the same buckets.

With an Iceberg catalog this maps 1:1 onto write-audit-publish: data + lineage
append in one snapshot transaction, and the bucket layout belongs to the
table definition — a ``bucket(N, url)`` hidden-partition transform — rather
than to this module; the parquet layout here is the sandbox stand-in. Lineage
schema follows FIXTURES.md §4; stats are aggregated from the files actually on
disk, so the bench numbers are auditable against lineage.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ocr_machine_spark.operators.extraction import EXTRACT_SCHEMA, extract_pages, with_bucket

LINEAGE_DIR = "_lineage"
DATA_DIR = "data"
RUN_DIR_PREFIX = "run_id="
_RUN_ID = re.compile(r"[A-Za-z0-9._-]+")
# what readers see under data/: the written rows plus the run id the
# directory name carries — typed string, so a run id "007" stays "007"
_DATA_SCHEMA = StructType(
    [*EXTRACT_SCHEMA.fields, StructField("bucket", IntegerType()), StructField("run_id", StringType())]
)


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, LINEAGE_DIR)


def _data_path(out_dir: str) -> str:
    return os.path.join(out_dir, DATA_DIR)


def _run_path(out_dir: str, run_id: str) -> str:
    return os.path.join(_data_path(out_dir), RUN_DIR_PREFIX + run_id)


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
    """Write bucket-tagged extraction data through the chosen sink and
    return which sink was used.

    Iceberg path: ``writeTo(table).overwritePartitions()`` — an atomic
    snapshot commit that replaces exactly the buckets present in ``df``
    (write-audit-publish; crashed-bucket re-runs replace their orphans).
    The table's ``bucket(N, url)`` partition transform and its
    ``write.distribution-mode=hash`` property lay the rows out by bucket.
    Parquet path: ``path`` is overwritten with one file per task of ``df``,
    rows sorted by bucket within each file so its row-group statistics on
    ``bucket`` stay tight. No shuffle and no directory per bucket: the
    file count follows the write's tasks, not the bucket count."""
    sink = choose_sink(spark, table)
    if sink == "iceberg":
        df.writeTo(table).overwritePartitions()
    else:
        df.sortWithinPartitions("bucket").write.mode("overwrite").parquet(path)
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


def _sweep_orphan_runs(spark: SparkSession, out_dir: str, committed_runs: set[str]) -> None:
    """Delete every ``data/run_id=*`` directory whose run id has no lineage
    row: the data of runs that crashed before their commit. Safe under the
    single-writer assumption the lineage commit already makes. Refuses a
    ``data/`` that still holds the previous ``bucket=*`` layout."""
    hadoop_fs = spark._jvm.org.apache.hadoop.fs
    data = hadoop_fs.Path(_data_path(out_dir))
    fs = data.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(data):
        return
    entries = [st.getPath() for st in fs.listStatus(data)]
    if any(p.getName().startswith("bucket=") for p in entries):
        raise ValueError(
            f"{_data_path(out_dir)} holds bucket=* directories of the per-bucket "
            "layout; write to a new output directory"
        )
    for p in entries:
        name = p.getName()
        if name.startswith(RUN_DIR_PREFIX) and name[len(RUN_DIR_PREFIX):] not in committed_runs:
            fs.delete(p, True)


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

    ``run_id`` names the run's data directory, so it must be one path
    segment of ``[A-Za-z0-9._-]`` and must not have lineage rows yet (a
    crashed run id has none, so it may be reused).
    """
    if not _RUN_ID.fullmatch(run_id):
        raise ValueError(f"run_id {run_id!r} must match [A-Za-z0-9._-]+")
    lin = _read_lineage_or_none(spark, out_dir)
    done: list[int] = []
    runs: set[str] = set()
    if lin is not None:
        committed = lin.select("partition_id", "run_id", "n_buckets").collect()
        # resume guard: bucket ids only compose within ONE bucket space —
        # resuming 16-bucket lineage with --buckets 256 would silently skip
        # never-extracted rows and duplicate committed ones
        prev = sorted({r["n_buckets"] for r in committed})
        if prev and prev != [n_buckets]:
            raise ValueError(
                f"lineage at {out_dir} was committed with n_buckets={prev}; "
                f"resume must use the same value (got {n_buckets})"
            )
        runs = {r["run_id"] for r in committed}
        if run_id in runs:
            raise ValueError(f"run_id {run_id!r} already has lineage rows at {out_dir}")
        done = sorted({r["partition_id"] for r in committed})
    _sweep_orphan_runs(spark, out_dir, runs)
    bucketed = with_bucket(pages, n_buckets)
    todo = bucketed.filter(~F.col("bucket").isin(done)) if done else bucketed

    processed = sorted(set(range(n_buckets)) - set(done))
    if max_buckets_this_run is not None:
        processed = processed[:max_buckets_this_run]
        todo = todo.filter(F.col("bucket").isin(processed))

    extracted = extract_pages(todo, partitions=partitions)
    out = with_bucket(extracted, n_buckets)  # same deterministic bucket fn

    # 1) data first, into this run's own directory (Iceberg snapshot commit
    # when a catalog is configured)
    sink = write_bucketed(out, spark, path=_run_path(out_dir, run_id), table=table)

    # 2) lineage from what's actually committed (auditable), written last.
    # Read back through the SINK that was written: the Iceberg table when a
    # catalog took the data, else this run's directory, which holds only
    # this run's rows — with an explicit schema, so an empty first run (only
    # _SUCCESS on disk) reads as zero rows instead of failing schema
    # inference.
    if sink == "iceberg":
        written = spark.table(table).filter(F.col("bucket").isin(processed))
        snapshot = _current_snapshot(spark, table)
    else:
        written = spark.read.schema(out.schema).parquet(_run_path(out_dir, run_id))
        snapshot = -1  # parquet sand-box stand-in has no snapshot ids
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
    """Committed rows only: data ⋉ lineage (semi-join keeps half-written
    runs invisible, exactly-once semantics for readers). The parquet sink
    joins on ``(bucket, run_id)``, so a crashed run's rows stay invisible
    even after a later run commits the same buckets; the Iceberg table
    overwrites by bucket, so there it joins on ``bucket``.
    Pass the same ``table`` the writer used when an Iceberg catalog took the
    data — the parquet dir under ``out_dir`` only exists for the parquet
    sink."""
    lin = spark.read.parquet(_lineage_path(out_dir)).withColumnRenamed("partition_id", "bucket")
    if table is not None and choose_sink(spark, table) == "iceberg":
        data, keys = spark.table(table), ["bucket"]
    else:
        data, keys = spark.read.schema(_DATA_SCHEMA).parquet(_data_path(out_dir)), ["bucket", "run_id"]
    return data.join(F.broadcast(lin.select(*keys).distinct()), keys, "left_semi")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_lineage_path(out_dir))
