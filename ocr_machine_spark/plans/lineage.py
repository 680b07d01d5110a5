"""Lineage-coupled, idempotently-resumable extraction runs (north_rule).

The reference checkpoints every milestone as timestamped JSON files so a crashed
run can be hand-resumed (``python_files/textract_agent.py:228-237``,
requirement at ``python_files/main.py:25-27``). Here the same guarantee is
structural:

* the input is split into deterministic **buckets** — ``pmod(xxhash64(url),
  n_buckets)`` — so bucket membership never depends on run order or cluster
  size;
* each run processes only buckets absent from the **lineage table** (a
  broadcast anti-join on committed partition ids; lineage reaches the
  driver only as single-row aggregates);
* the bucket is the resume unit, not a directory: each run writes its rows
  under its own directory, ``data/run_id=<run_id>/``, one file per write
  task, with ``bucket`` as an ordinary column sorted within each file (tight
  row-group min/max statistics, so a bucket filter skips row groups). A run
  costs as many files as the write has tasks and as many lineage rows as it
  has buckets, so the bucket count is no per-run file or listing cost;
* data files are written first, then one lineage row per processed bucket is
  appended from one ``groupBy("bucket")`` in the plan — the ``(bucket,
  run_id)`` lineage row IS the commit marker. A run
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
# the per-bucket lineage counts, in lineage column order
_COUNTS = ("rows_in", "rows_out", "pages_ok", "pages_failed", "bytes_html", "chars_extracted")
_LINEAGE_SCHEMA = (
    "partition_id long, run_id string, rows_in long, rows_out long, pages_ok long, pages_failed long, "
    "bytes_html long, chars_extracted long, input_split string, n_buckets long, committed_snapshot long"
)
# what readers see under data/: the written rows plus the run id the
# directory name carries — typed string, so a run id "007" stays "007"
_DATA_SCHEMA = StructType(
    [*EXTRACT_SCHEMA.fields, StructField("bucket", IntegerType()), StructField("run_id", StringType())]
)


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

    try:
        return read_lineage(spark, out_dir)
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
    k buckets, "crash", resume): it selects the k lowest uncommitted bucket
    ids. Returns run stats, aggregated from this run's lineage rows.

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
    runs: set[str] = set()
    todo = with_bucket(pages, n_buckets)
    # the bucket ids, in one partition: a task per core would be empty work
    ids = spark.range(n_buckets, numPartitions=1).select(F.col("id").cast("int").alias("bucket"))
    if lin is not None:
        seen = lin.agg(F.collect_set("n_buckets"), F.collect_set("run_id")).first()
        # resume guard: bucket ids only compose within ONE bucket space —
        # resuming 16-bucket lineage with --buckets 256 would silently skip
        # never-extracted rows and duplicate committed ones
        prev = sorted(seen[0])
        if prev and prev != [n_buckets]:
            raise ValueError(
                f"lineage at {out_dir} was committed with n_buckets={prev}; "
                f"resume must use the same value (got {n_buckets})"
            )
        runs = set(seen[1])
        if run_id in runs:
            raise ValueError(f"run_id {run_id!r} already has lineage rows at {out_dir}")
        committed = F.broadcast(lin.select(F.col("partition_id").cast("int").alias("bucket")))
        todo = todo.join(committed, "bucket", "left_anti")
        ids = ids.join(committed, "bucket", "left_anti")
    _sweep_orphan_runs(spark, out_dir, runs)
    if max_buckets_this_run is not None:
        # the k lowest uncommitted ids; a null bound (k = 0, none left) takes none
        kth = ids.orderBy("bucket").limit(max_buckets_this_run).agg(F.max("bucket")).first()[0]
        selected = F.col("bucket") <= F.lit(kth)
        todo, ids = todo.filter(selected), ids.filter(selected)

    extracted = extract_pages(todo, partitions=partitions)
    out = with_bucket(extracted, n_buckets)  # same deterministic bucket fn

    # 1) data first, into this run's own directory (Iceberg snapshot commit
    # when a catalog is configured)
    sink = write_bucketed(out, spark, path=_run_path(out_dir, run_id), table=table)

    # 2) lineage from what's actually committed (auditable), written last,
    # read back through the SINK that was written: the Iceberg table, else
    # this run's directory — with an explicit schema, so an empty run (only
    # _SUCCESS on disk) reads as zero rows instead of failing inference.
    if sink == "iceberg":
        written = spark.table(table).join(F.broadcast(ids), "bucket", "left_semi")
        snapshot = _current_snapshot(spark, table)
    else:
        written = spark.read.schema(out.schema).parquet(_run_path(out_dir, run_id))
        snapshot = -1  # parquet sand-box stand-in has no snapshot ids
    # one row per selected bucket: the ids at zero (an empty bucket commits
    # too), rows_in from the INPUT and the rest from the files on disk.
    # Extraction is 1:1 today, but the paired columns exist to EXPOSE a
    # drop/expand, so rows_in and rows_out must not share one source
    per_bucket = (
        _counts(ids)
        .unionByName(_counts(todo, rows_in=F.lit(1)))
        .unionByName(_counts(written, rows_out=F.lit(1), pages_ok=F.col("ok"), pages_failed=~F.col("ok"),
                             bytes_html=F.col("bytes_html"), chars_extracted=F.col("chars_out")))
        .groupBy("bucket")
        .agg(*(F.sum(c).alias(c) for c in _COUNTS))
    )
    lineage = per_bucket.select(
        F.col("bucket").cast("long").alias("partition_id"),
        F.lit(run_id).alias("run_id"),
        *_COUNTS,
        F.lit(input_split).alias("input_split"),
        F.lit(n_buckets).cast("long").alias("n_buckets"),
        F.lit(snapshot).cast("long").alias("committed_snapshot"),
    )
    # This plan reads _lineage/ (the committed ids above) and appends to it
    # in the same job. That is safe only because spark.read.parquet fixed
    # the file listing of `lin` when it was called: the append's own files
    # never feed back into the ids it selects.
    lineage.write.mode("append").parquet(os.path.join(out_dir, LINEAGE_DIR))

    stats = read_lineage(spark, out_dir).filter(F.col("run_id") == run_id).agg(
        F.count("*").alias("buckets_committed"),
        F.sum("rows_out").alias("rows"),
        F.sum("pages_ok").alias("pages_ok"),
        F.sum("pages_failed").alias("pages_failed"),
        F.sum("bytes_html").alias("bytes_html"),
    ).first()
    return {"run_id": run_id, **{k: v or 0 for k, v in stats.asDict().items()}}


def _counts(df: DataFrame, **cols) -> DataFrame:
    """``df``'s bucket and the lineage counts: the given expressions, else 0."""
    return df.select("bucket", *(cols.get(c, F.lit(0)).cast("long").alias(c) for c in _COUNTS))


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
    lin = read_lineage(spark, out_dir).withColumnRenamed("partition_id", "bucket")
    if table is not None and choose_sink(spark, table) == "iceberg":
        data, keys = spark.table(table), ["bucket"]
    else:
        data, keys = spark.read.schema(_DATA_SCHEMA).parquet(_data_path(out_dir)), ["bucket", "run_id"]
    return data.join(F.broadcast(lin.select(*keys).distinct()), keys, "left_semi")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """The lineage table, read with its schema rather than inferring it
    (inference costs a Spark job per read)."""
    return spark.read.schema(_LINEAGE_SCHEMA).parquet(os.path.join(out_dir, LINEAGE_DIR))
