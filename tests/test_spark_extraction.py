"""Spark-layer extraction tests: golden parity, determinism across
partitioning, blocks/regions, lineage-tracked resume."""

import glob
import os
import time

import pyspark.sql.functions as F
import pytest

from ocr_machine_spark.operators.extraction import detect_regions, extract_blocks, extract_pages
from ocr_machine_spark.plans.lineage import read_extractions, read_lineage, run_extraction
from ocr_machine_spark.sources.pages import generate_goldens, generate_pages

N = 200


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, N, partitions=4).cache()


def test_extraction_matches_goldens(spark, pages):
    got = extract_pages(pages)
    want = generate_goldens(spark, N, partitions=4)
    g = got.select("url", F.col("extracted_text").alias("g_text"), F.col("spans").alias("g_spans"),
                   F.col("removed_spans").alias("g_removed"))
    w = want.select("url", F.col("extracted_text").alias("w_text"), F.col("spans").alias("w_spans"),
                    F.col("removed_spans").alias("w_removed"))
    j = g.join(w, "url")
    assert j.count() == N
    mism = j.filter(
        (F.col("g_text") != F.col("w_text"))
        | (F.to_json("g_spans") != F.to_json("w_spans"))
        | (F.to_json("g_removed") != F.to_json("w_removed"))
    ).count()
    assert mism == 0


def test_extraction_deterministic_across_partitioning(spark, pages):
    a = extract_pages(pages, partitions=2).select("url", "extracted_text")
    b = extract_pages(pages, partitions=7).select(
        "url", F.col("extracted_text").alias("text_b")
    )
    diff = a.join(b, "url").filter(F.col("extracted_text") != F.col("text_b")).count()
    assert diff == 0


def test_extraction_keeps_failed_rows(spark):
    rows = [("u://bad", None), ("u://empty", b"")]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = extract_pages(df).collect()
    assert len(out) == 2
    assert all(not r["ok"] and r["error"] for r in out)


def test_extraction_total_on_degraded_pages(spark, pages):
    """G2 degrader contract: mid-markup truncation (unclosed tags, split
    entities, half UTF-8 sequences) never breaks totality — one output row
    per input, never an exception, and re-runs stay byte-identical."""
    from ocr_machine_spark.sources.pages import degrade_pages

    deg = degrade_pages(pages)
    out = extract_pages(deg, partitions=3).cache()
    assert out.count() == pages.count()
    # truncated pages still mostly parse; failures (if any) carry errors
    bad = out.filter(~F.col("ok"))
    assert bad.filter(F.col("error").isNull()).count() == 0
    # determinism under a different partitioning
    again = extract_pages(degrade_pages(pages), partitions=5).select(
        "url", F.col("extracted_text").alias("t2")
    )
    diff = out.join(again, "url").filter(
        F.coalesce(F.col("extracted_text"), F.lit("∅")) != F.coalesce(F.col("t2"), F.lit("∅"))
    ).count()
    assert diff == 0
    out.unpersist()


def test_extraction_handles_multi_megabyte_pages(spark):
    """Large-payload smoke: multi-MB pages flow through the Arrow stage
    (batches are row-capped, so oversized payloads are the memory risk at
    scale — jobs.py documents the byte-aware sizing rule)."""
    big_para = "<p>" + "word " * 200_000 + "</p>"  # ~1 MB of visible text
    rows = [(f"u://big/{i}", ("<html><body>" + big_para * 3 + "</body></html>").encode()) for i in range(4)]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = extract_pages(df).select("url", "ok", "chars_out").collect()
    assert len(out) == 4 and all(r["ok"] for r in out)
    assert all(r["chars_out"] > 2_000_000 for r in out)


def test_blocks_and_regions(spark, pages):
    blocks = extract_blocks(pages).cache()
    assert blocks.filter(F.col("block_id").isNull()).count() == 0
    # block ids unique and deterministic
    assert blocks.select("block_id").distinct().count() == blocks.count()
    regions = detect_regions(blocks)
    tbl_pages = regions.filter(F.col("region_type") == "table").select("url")
    got = extract_pages(pages).filter(F.col("has_table")).select("url")
    assert tbl_pages.exceptAll(got).count() == 0
    assert got.exceptAll(tbl_pages).count() == 0


def test_lineage_resume_exactly_once(spark, pages, tmp_path):
    out = str(tmp_path / "run")
    # simulate a crash: first run commits only 5 of 16 buckets
    s1 = run_extraction(spark, pages, out, run_id="r1", n_buckets=16, max_buckets_this_run=5)
    assert s1["buckets_committed"] == 5
    mid = read_extractions(spark, out)
    assert 0 < mid.count() < N
    # resume: processes only the remaining buckets
    s2 = run_extraction(spark, pages, out, run_id="r2", n_buckets=16)
    assert s2["buckets_committed"] == 16 - 5
    done = read_extractions(spark, out)
    assert done.count() == N
    assert done.select("url").distinct().count() == N  # no dupes
    # idempotent: a third run commits nothing
    s3 = run_extraction(spark, pages, out, run_id="r3", n_buckets=16)
    assert s3["buckets_committed"] == 0
    assert read_extractions(spark, out).count() == N
    lin = read_lineage(spark, out)
    assert lin.count() == 16
    assert lin.agg(F.sum("rows_in")).collect()[0][0] == N


def test_lineage_one_directory_per_run(spark, pages, tmp_path):
    """A run writes one directory, not one per bucket: at most one data file
    per input partition, each sorted by bucket so its row-group statistics
    on bucket stay tight."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "files")
    assert pages.rdd.getNumPartitions() == 4
    run_extraction(spark, pages, out, run_id="r1", n_buckets=16)
    assert os.listdir(os.path.join(out, "data")) == ["run_id=r1"]
    files = glob.glob(os.path.join(out, "data", "run_id=r1", "part-*.parquet"))
    assert 0 < len(files) <= 4
    for f in files:
        b = pq.read_table(f, columns=["bucket"]).column("bucket").to_pylist()
        assert b == sorted(b), f


def test_lineage_crash_between_data_write_and_commit(spark, pages, tmp_path):
    """A run that dies after its data write but before its lineage append
    leaves an orphan run directory: readers never see it, and the resume
    deletes it, so every url is read exactly once with its golden text."""
    from ocr_machine_spark.operators.extraction import with_bucket
    from ocr_machine_spark.plans.lineage import _run_path, write_bucketed

    out = str(tmp_path / "crash")
    s1 = run_extraction(spark, pages, out, run_id="r1", n_buckets=16, max_buckets_this_run=5)
    committed = sorted(r[0] for r in read_lineage(spark, out).select("partition_id").collect())
    assert s1["buckets_committed"] == len(committed) == 5
    # the crashed run: the other 11 buckets' data, from a differently
    # partitioned input, and no lineage row
    rest = with_bucket(pages, 16).filter(~F.col("bucket").isin(committed)).drop("bucket")
    crashed = _run_path(out, "crashed")
    write_bucketed(with_bucket(extract_pages(rest, partitions=7), 16), spark, path=crashed)
    mid = read_extractions(spark, out)
    assert sorted(r[0] for r in mid.select("bucket").distinct().collect()) == committed
    assert mid.count() == s1["rows"]
    # resume: the committed buckets stay, the orphan run is deleted
    s2 = run_extraction(spark, pages, out, run_id="r2", n_buckets=16)
    assert s2["buckets_committed"] == 11 and s2["rows"] == N - s1["rows"]
    assert not os.path.exists(crashed)
    done = read_extractions(spark, out)
    assert done.count() == N
    assert done.select("url").distinct().count() == N
    want = generate_goldens(spark, N, partitions=4).select("url", F.col("extracted_text").alias("want"))
    j = done.join(want, "url")
    assert j.count() == N
    assert j.filter(F.col("extracted_text") != F.col("want")).count() == 0


def test_lineage_task_fails_mid_write(spark, pages, tmp_path):
    """One task of the write job raises while the others run: the run
    raises and commits nothing, readers see what they saw before, and the
    same run id then resumes on the clean input to exactly-once output."""
    from pyspark.errors import PythonException

    from ocr_machine_spark.operators.extraction import with_bucket

    out = str(tmp_path / "taskfail")
    run_extraction(spark, pages, out, run_id="r1", n_buckets=16, max_buckets_this_run=5)
    committed = [r[0] for r in read_lineage(spark, out).select("partition_id").collect()]
    before = sorted(r["url"] for r in read_extractions(spark, out).select("url").collect())
    poison = (
        with_bucket(pages, 16).filter(~F.col("bucket").isin(committed)).orderBy("url").first()["url"]
    )

    def fail_on_poison(batches):
        for batch in batches:
            if poison in batch.column("url").to_pylist():
                raise RuntimeError(f"injected task failure at {poison}")
            yield batch

    poisoned = pages.mapInArrow(fail_on_poison, schema=pages.schema)
    with pytest.raises(PythonException, match="injected task failure"):
        run_extraction(spark, poisoned, out, run_id="r2", n_buckets=16)
    lin = read_lineage(spark, out)
    assert lin.filter(F.col("run_id") == "r2").count() == 0
    assert sorted(r["url"] for r in read_extractions(spark, out).select("url").collect()) == before

    s2 = run_extraction(spark, pages, out, run_id="r2", n_buckets=16)
    assert s2["buckets_committed"] == 11
    done = read_extractions(spark, out)
    assert done.count() == N
    assert done.select("url").distinct().count() == N
    runs = {r["run_id"] for r in read_lineage(spark, out).select("run_id").collect()}
    assert sorted(os.listdir(os.path.join(out, "data"))) == sorted(f"run_id={r}" for r in runs)


def test_lineage_sparse_input_commits_empty_buckets(spark, tmp_path):
    """Review fix: selected-but-empty buckets must still commit (rows 0) or a
    sparse input livelocks — max_buckets_this_run would re-select the same
    empty buckets forever."""
    from ocr_machine_spark.sources.pages import generate_pages

    out = str(tmp_path / "sparse")
    few = generate_pages(spark, 6, partitions=2)  # 6 urls over 64 buckets
    s1 = run_extraction(spark, few, out, run_id="r1", n_buckets=64, max_buckets_this_run=10)
    assert s1["buckets_committed"] == 10  # progress regardless of bucket content
    s2 = run_extraction(spark, few, out, run_id="r2", n_buckets=64)
    assert s2["buckets_committed"] == 54
    lin = read_lineage(spark, out)
    assert lin.count() == 64
    assert lin.agg(F.sum("rows_out")).collect()[0][0] == 6
    # third run: nothing left
    s3 = run_extraction(spark, few, out, run_id="r3", n_buckets=64)
    assert s3["buckets_committed"] == 0


def test_lineage_refuses_bucket_count_mismatch(spark, pages, tmp_path):
    """Review fix: bucket ids only compose within one bucket space — resuming
    with a different --buckets must fail loudly, not mix spaces silently."""
    import pytest

    out = str(tmp_path / "guard")
    run_extraction(spark, pages, out, run_id="r1", n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extraction(spark, pages, out, run_id="r2", n_buckets=256)


def test_lineage_empty_input_run(spark, tmp_path):
    """Review fix: a fresh run over empty input must return zero stats, not
    fail parquet schema inference on a data dir holding only _SUCCESS."""
    from ocr_machine_spark.sources.pages import generate_pages

    out = str(tmp_path / "empty")
    none = generate_pages(spark, 3, partitions=1).filter("url IS NULL")  # empty frame
    s = run_extraction(spark, none, out, run_id="r1", n_buckets=8)
    assert s["buckets_committed"] == 8 and s["rows"] == 0 and s["pages_ok"] == 0


def test_lineage_guards_run_id_and_old_layout(spark, pages, tmp_path):
    """A run id names a data directory: it must be one safe path segment
    and used once. An output written in the per-bucket directory layout is
    refused, not mixed. Run ids stay strings through data and lineage."""
    out = str(tmp_path / "ids")
    run_extraction(spark, pages, out, run_id="1", n_buckets=16, max_buckets_this_run=5)
    run_extraction(spark, pages, out, run_id="007", n_buckets=16)
    with pytest.raises(ValueError, match="already has lineage rows"):
        run_extraction(spark, pages, out, run_id="007", n_buckets=16)
    for bad in ("", "a/b", "../x", "run_id=x", "r 1"):
        with pytest.raises(ValueError, match="must match"):
            run_extraction(spark, pages, out, run_id=bad, n_buckets=16)
    done = read_extractions(spark, out)
    assert done.schema["run_id"].dataType.simpleString() == "string"
    assert {r[0] for r in done.select("run_id").distinct().collect()} == {"1", "007"}
    assert done.count() == N
    assert {r[0] for r in read_lineage(spark, out).select("run_id").distinct().collect()} == {"1", "007"}

    old = tmp_path / "old"
    (old / "data" / "bucket=0").mkdir(parents=True)
    with pytest.raises(ValueError, match="bucket="):
        run_extraction(spark, pages, str(old), run_id="r1", n_buckets=16)


def test_lineage_noop_resume_cost_is_flat_in_buckets(spark, pages, tmp_path):
    """A resume selects its buckets in the plan, so its driver cost does not
    grow with the committed bucket count: at 65,536 buckets a no-op resume
    commits nothing in at most 1.5x the fresh run's wall time (driver-side
    bucket lists made it about 8x). The no-op is timed twice and the faster
    try counts, so one burst of host noise does not decide the ratio."""
    out = str(tmp_path / "many")
    t0 = time.perf_counter()
    s1 = run_extraction(spark, pages, out, run_id="r1", n_buckets=65536)
    fresh = time.perf_counter() - t0
    assert s1["buckets_committed"] == 65536 and s1["rows"] == N
    noop = []
    for run_id in ("r2", "r3"):
        t0 = time.perf_counter()
        s = run_extraction(spark, pages, out, run_id=run_id, n_buckets=65536)
        noop.append(time.perf_counter() - t0)
        assert s["buckets_committed"] == 0 and s["rows"] == 0
    assert min(noop) <= 1.5 * fresh, (fresh, noop)


def test_lineage_fresh_run_job_count(spark, pages, tmp_path):
    """The commit's action count is pinned: a fresh 16-bucket run over the
    fixture pages took 6 Spark jobs while the bucket set went through the
    driver, and 5 since the lineage rows are built and appended in the plan
    and its stats read back with the lineage schema."""
    sc = spark.sparkContext
    sc.setJobGroup("fresh-run-jobs", "run_extraction job count")
    try:
        run_extraction(spark, pages, str(tmp_path / "jobs"), run_id="r1", n_buckets=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("fresh-run-jobs")
    assert 0 < len(jobs) <= 6, sorted(jobs)


_RETRY_SCRIPT = """
import json, os, sys

import pyspark.sql.functions as F
from pyspark import TaskContext

from ocr_machine_spark.plans.lineage import read_extractions, read_lineage, run_extraction
from ocr_machine_spark.session import get_spark
from ocr_machine_spark.sources.pages import generate_goldens, generate_pages

work, n = sys.argv[1], int(sys.argv[2])
spark = get_spark(app="retry", master="local[2,2]", shuffle_partitions=4, extra={"spark.ui.enabled": "false"})
spark.sparkContext.setLogLevel("ERROR")
jvm = spark.sparkContext._gateway.proc
pages = generate_pages(spark, n, partitions=2)
poison = sorted(r["url"] for r in pages.select("url").collect())[n // 2]
marker = os.path.join(work, "failed")


def fail_first_attempt(batches):
    for batch in batches:
        if TaskContext.get().attemptNumber() == 0 and poison in batch.column("url").to_pylist():
            open(marker, "a").close()
            raise RuntimeError(f"injected first-attempt failure at {poison}")
        yield batch


out = os.path.join(work, "out")
stats = run_extraction(
    spark, pages.mapInArrow(fail_first_attempt, schema=pages.schema), out, run_id="r1", n_buckets=8
)
done = read_extractions(spark, out)
want = generate_goldens(spark, n, partitions=2).select("url", F.col("extracted_text").alias("want"))
lin = read_lineage(spark, out).agg(F.sum("rows_in"), F.sum("rows_out")).first()
print(json.dumps({
    "failed_once": os.path.exists(marker),
    "stats": stats,
    "rows": done.count(),
    "urls": done.select("url").distinct().count(),
    "golden": done.join(want, "url").filter(F.col("extracted_text") == F.col("want")).count(),
    "rows_in": lin[0],
    "rows_out": lin[1],
}), flush=True)
spark.stop()
jvm.terminate()
jvm.wait(timeout=60)
"""


def test_lineage_task_retry_commits_exactly_once(tmp_path):
    """A task that fails on its first attempt and succeeds on its retry:
    the run succeeds and every url is committed exactly once with its golden
    text. Plain local[N] never retries a task, so this runs in its own
    local[2,2] session in a subprocess, which stops its JVM before it exits."""
    import json
    import signal
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    )
    env.pop("PYSPARK_GATEWAY_PORT", None)
    n = 40
    # own process group: whatever the subprocess leaves is killed with it
    proc = subprocess.Popen(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path), str(n)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env, text=True, cwd=root,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=600)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if proc.poll() is None:
            proc.communicate()
    assert proc.returncode == 0, out
    got = json.loads(out.strip().splitlines()[-1])
    assert got["failed_once"], got
    assert got["stats"]["buckets_committed"] == 8 and got["stats"]["pages_ok"] == n, got
    assert got["rows"] == got["urls"] == got["golden"] == n, got
    assert got["rows_in"] == got["rows_out"] == n, got


def test_current_snapshot_only_missing_table_means_none(spark):
    """The Iceberg snapshot lookup reads a missing snapshots table as -1 and
    lets every other error propagate: a failing catalog must not commit
    lineage rows with a made-up snapshot id."""
    from ocr_machine_spark.plans.lineage import _current_snapshot

    assert _current_snapshot(spark, "no_such_table") == -1

    class Broken:
        def sql(self, query):
            raise RuntimeError("catalog unreachable")

    with pytest.raises(RuntimeError, match="catalog unreachable"):
        _current_snapshot(Broken(), "cat.db.tbl")


def test_repartition_salted_spreads_duplicate_keys(spark):
    """Review fix: the salt must vary WITHIN a key — a key-derived salt is a
    no-op (it induces the key's own partition classes), so 1000 rows sharing
    one url would all land on a single task."""
    from ocr_machine_spark.operators.extraction import repartition_salted

    hot = spark.range(1000).select(
        F.lit("https://hot.example/dup").alias("url"), F.col("id")
    )
    parts = (
        repartition_salted(hot, 8)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert parts > 1, "hot key must spread across partitions"


def test_curation_job_dedup_and_reasons(spark, tmp_path):
    """The curate job (round 5): quality gate + exact-dedup survivor in one
    plan. Injected duplicates of kept documents must collapse to the
    minimum doc_id; stats must reconcile with the written tables; a re-run
    is byte-idempotent (pure function + overwrite)."""
    import pyspark.sql.functions as F

    from ocr_machine_spark.plans.curate import run_curation

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    out = str(tmp_path / "curated")
    s1 = run_curation(spark, docs.unionAll(dups), out, run_id="c1")
    assert s1["docs_in"] == docs.count() + dups.count()
    # every surviving duplicate pair collapsed: curated < quality-kept
    assert s1["docs_curated"] < s1["docs_quality_kept"]
    curated = spark.read.parquet(f"{out}/curated")
    dec = spark.read.parquet(f"{out}/decisions")
    assert curated.count() == s1["docs_curated"]
    # survivors are the min doc_id of their fingerprint — no +100000 copy
    # may survive when its original was kept
    shadow = curated.filter(F.col("doc_id") >= 100000).select(
        (F.col("doc_id") - 100000).alias("orig")
    )
    originals_kept = dec.filter(F.col("keep") & (F.col("doc_id") < 100000)).select(
        F.col("doc_id").alias("orig")
    )
    assert shadow.join(originals_kept, "orig").count() == 0
    # reasons histogram reconciles with per-doc decisions
    assert sum(s1["drop_reasons"].values()) >= s1["docs_in"] - s1["docs_quality_kept"]
    s2 = run_curation(spark, docs.unionAll(dups), out, run_id="c2")
    assert {k: v for k, v in s2.items() if k != "run_id"} == {
        k: v for k, v in s1.items() if k != "run_id"
    }


def test_curation_job_line_dedup_stage(spark, tmp_path):
    """--dedup-lines (round 5 late): cross-corpus line dedup runs BEFORE the
    quality ladder (CCNet order). A boilerplate footer pasted onto every
    document must survive only in the first doc's curated text; the written
    curated table carries the CLEANED text; stats reconcile and a re-run is
    idempotent."""
    import pyspark.sql.functions as F

    from ocr_machine_spark.plans.curate import run_curation

    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    footer = "subscribe to our newsletter for updates"
    docs = base.select(
        "doc_id", F.concat_ws("\n", "text", F.lit(footer)).alias("text")
    )
    out = str(tmp_path / "curated_ld")
    s1 = run_curation(spark, docs, out, run_id="l1", dedup_lines=True)
    n = docs.count()
    assert s1["lines_in"] == 2 * n  # text line + footer line, none blank
    assert s1["lines_kept"] == n + 1  # footer survives exactly once
    curated = spark.read.parquet(f"{out}/curated")
    with_footer = curated.filter(F.col("text").contains(footer))
    assert with_footer.count() <= 1  # only the corpus-first doc may keep it
    # cleaned text is what was judged AND what was written
    assert curated.filter(F.col("text").endswith(footer)).count() <= 1
    s2 = run_curation(spark, docs, out, run_id="l2", dedup_lines=True)
    assert {k: v for k, v in s2.items() if k != "run_id"} == {
        k: v for k, v in s1.items() if k != "run_id"
    }


def test_curation_decontaminates(spark, tmp_path):
    """--decontaminate path of the curate plan: docs sharing a word 8-gram
    with the benchmark are dropped REGARDLESS of quality, audit rows carry
    'contaminated' appended to any quality reasons, and clean docs are
    untouched."""
    from ocr_machine_spark.plans.curate import run_curation

    leak = "alpha beta gamma delta epsilon zeta eta theta"
    # 30 distinct 8-char words: inside the corpus-adapted Gopher bounds
    # (20-80 words, mean word len 3-10, no repetition)
    filler = " ".join(f"term{i:02d}xy"[0:8] for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, f"{filler} {leak}", "a"),   # good quality + leaked
            (2, f"{filler} more fine words", "a"),  # good quality, clean
            (3, f"tiny {leak}", "a"),       # bad quality AND leaked
        ],
        "doc_id long, text string, source string",
    )
    bench = spark.createDataFrame([(leak,)], "text string")
    out = str(tmp_path / "c")
    stats = run_curation(spark, docs, out, run_id="t", bench=bench)
    assert stats["docs_contaminated"] == 2
    dec = {r["doc_id"]: r for r in spark.read.parquet(f"{out}/decisions").collect()}
    assert dec[1]["contaminated"] and not dec[1]["keep"]
    assert dec[1]["reasons"] == "contaminated"  # quality-clean, only reason
    assert dec[2]["keep"] and not dec[2]["contaminated"]
    assert dec[3]["contaminated"] and not dec[3]["keep"]
    assert dec[3]["reasons"].endswith(",contaminated")  # appended after quality
    curated = {r["doc_id"] for r in spark.read.parquet(f"{out}/curated").collect()}
    assert curated == {2}


def test_curation_dedups_spans(spark, tmp_path):
    """--dedup-spans path: a duplicated >=8-word run appended to every doc
    survives only at its first corpus site; the curated text keeps the
    ORIGINAL casing (match is case-insensitive); stats reconcile and a
    re-run is idempotent."""
    import pyspark.sql.functions as F

    from ocr_machine_spark.plans.curate import run_curation

    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    run = "Please Subscribe To Our Weekly Newsletter For More Updates"  # 9 words
    docs = base.select(
        "doc_id", F.concat_ws(" ", "text", F.lit(run)).alias("text")
    )
    out = str(tmp_path / "curated_sd")
    s1 = run_curation(spark, docs, out, run_id="s1", dedup_spans=True)
    assert s1["span_words_kept"] < s1["span_words_in"]
    curated = spark.read.parquet(f"{out}/curated")
    keepers = curated.filter(F.col("text").contains(run))
    assert keepers.count() <= 1  # case preserved at the surviving site
    assert curated.filter(F.lower("text").contains(run.lower())).count() <= 1
    s2 = run_curation(spark, docs, out, run_id="s2", dedup_spans=True)
    assert {k: v for k, v in s2.items() if k != "run_id"} == {
        k: v for k, v in s1.items() if k != "run_id"
    }


def test_span_dedup_preserve_case(spark):
    """preserve_case: witness identity is case-insensitive (UPPER copy of a
    run is excised against a lower first site) while surviving text keeps
    its original casing."""
    from ocr_machine_spark.operators.textstats import span_dedup

    run = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(0, f"Keep Me {run} Tail"), (1, f"x {run.upper()} y")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text_dedup"] for r in
           span_dedup(docs, min_len=8, preserve_case=True).collect()}
    assert got[0] == f"Keep Me {run} Tail"
    assert got[1] == "x y"


def test_curation_dedup_near(spark, tmp_path):
    """--dedup-near: MinHash-LSH + star clusters prune near-duplicate
    variants exact hashing cannot see; exact dupes still collapse first;
    the audit carries near_rep; stats reconcile and re-runs are
    idempotent."""
    from ocr_machine_spark.plans.curate import run_curation

    filler = " ".join(f"w{i:03d}token"[:8] for i in range(40))
    other = " ".join(f"z{i:03d}vocab"[:8] for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, f"{filler} endingone", "a"),
            (2, f"{filler} endingtwo", "a"),   # near-dup of 1 (1 word differs)
            (3, f"{other} standalone", "a"),   # own cluster
            (4, f"{filler} endingone", "a"),   # exact dup of 1
        ],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "near")
    s1 = run_curation(spark, docs, out, run_id="n1", dedup_near=True)
    assert s1["docs_quality_kept"] == 4
    assert s1["docs_curated"] == 2  # doc 1 (cluster min) + doc 3
    assert s1["docs_near_dropped"] == 1  # doc 2 (doc 4 fell to the exact stage)
    import pyspark.sql.functions as F

    dec = {r["doc_id"]: r for r in spark.read.parquet(f"{out}/decisions").collect()}
    assert dec[1]["survivor"] and dec[1]["near_rep"] == 1
    assert not dec[2]["survivor"] and dec[2]["near_rep"] == 1
    assert dec[3]["survivor"] and dec[3]["near_rep"] == 3
    assert not dec[4]["survivor"] and dec[4]["near_rep"] is None  # exact-pruned pre-near
    curated = {r["doc_id"] for r in spark.read.parquet(f"{out}/curated").collect()}
    assert curated == {1, 3}
    s2 = run_curation(spark, docs, out, run_id="n2", dedup_near=True)
    assert {k: v for k, v in s2.items() if k != "run_id"} == {
        k: v for k, v in s1.items() if k != "run_id"
    }


def test_curation_full_ladder_reconciles(spark, tmp_path):
    """Every rung at once (line, span and near dedup plus decontamination):
    the decision table's columns in order (the benchmark digest hashes them
    in this order), the exact stats keys, and each stat reconciled with the
    decisions read back."""
    from collections import Counter

    from ocr_machine_spark.plans.curate import run_curation

    footer = "subscribe to our newsletter for weekly updates"
    bodies = {i: " ".join(f"d{i:02d}w{j:02d}x" for j in range(30)) for i in range(40)}
    rows = [(i, f"{b}\n{footer}") for i, b in bodies.items()]
    rows += [(100 + i, rows[i][1]) for i in range(5)]  # exact copies
    rows += [(200, "tiny doc")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(bodies[7],), (bodies[9],)], "text string")
    out = str(tmp_path / "ladder")
    stats = run_curation(
        spark, docs, out, run_id="all",
        dedup_lines=True, dedup_spans=True, dedup_near=True, bench=bench,
    )
    dec = spark.read.parquet(f"{out}/decisions")
    assert dec.columns == [
        "doc_id", "n_words", "keep", "reasons", "fp", "survivor", "near_rep",
        "contaminated", "n_lines", "n_lines_kept", "n_span_words", "n_span_kept",
    ]
    assert set(stats) == {
        "run_id", "docs_in", "docs_quality_kept", "docs_curated", "drop_reasons",
        "lines_in", "lines_kept", "docs_near_dropped", "span_words_in",
        "span_words_kept", "docs_contaminated",
    }
    rows = dec.collect()
    assert stats["docs_in"] == len(rows) == 46
    assert stats["docs_quality_kept"] == sum(r["keep"] for r in rows)
    assert stats["docs_curated"] == sum(r["survivor"] for r in rows)
    assert stats["lines_in"] == sum(r["n_lines"] for r in rows)
    assert stats["lines_kept"] == sum(r["n_lines_kept"] for r in rows)
    assert stats["span_words_in"] == sum(r["n_span_words"] for r in rows)
    assert stats["span_words_kept"] == sum(r["n_span_kept"] for r in rows)
    assert stats["docs_near_dropped"] == sum(
        r["near_rep"] is not None and r["near_rep"] != r["doc_id"] for r in rows
    )
    assert stats["docs_contaminated"] == sum(r["contaminated"] for r in rows) == 2
    assert stats["lines_kept"] == 42  # 40 bodies, the footer once, "tiny doc"
    assert stats["docs_curated"] == 38  # copies emptied, 2 contaminated
    assert stats["drop_reasons"] == dict(sorted(Counter(
        reason for r in rows if not r["keep"] for reason in r["reasons"].split(",")
    ).items()))
    assert spark.read.parquet(f"{out}/curated").count() == stats["docs_curated"]
