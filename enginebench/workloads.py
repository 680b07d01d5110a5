"""The two timed workloads: inputs, warm-up, one timed iteration, the
check of each iteration's stats and the full check of the last output.

``extract_small`` runs ``plans.lineage.run_extraction`` over many small
fixture pages; ``curate_full`` runs ``plans.curate.run_curation`` with every
dedup rung over a seeded sample of the sf0.1 documents. Both read parquet
written by the benchmark with one file per core.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import functions as F

from enginebench import inputs
from ocr_machine_spark.plans.curate import run_curation
from ocr_machine_spark.plans.lineage import read_extractions, run_extraction

N_PAGES = 6000
N_BUCKETS = 256  # the jobs.py default
N_DOCS = 600  # sampled from the 5,000 sf0.1 documents
DEFAULT_SEED = 1

_EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def expected() -> dict:
    """Values recorded from the program: the ``curate_full`` stats line and
    decision digest for ``DEFAULT_SEED``, and each heavy query's row count
    and digest on the sf0.1 tables."""
    with open(_EXPECTED) as f:
        return json.load(f)


def table_digest(df) -> tuple[int, int]:
    """(rows, order-independent digest) of a frame: the sum of per-row xxhash64."""
    r = df.select(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")), F.lit(0)).alias("d"),
    ).first()
    return int(r["n"]), int(r["d"])


class ExtractSmall:
    name = "extract_small"

    def __init__(self, work: str, seed: int, cores: int) -> None:
        self.work, self.seed, self.cores = work, seed, cores
        self.pages = os.path.join(work, "pages")
        self.units = self.rows = N_PAGES
        self._out = ""
        self._stats: dict = {}

    def prepare(self, spark) -> None:
        inputs.write_pages(spark, N_PAGES, self.seed, self.pages, self.cores)
        self.golden = inputs.golden_map(spark, N_PAGES, self.seed, self.cores)
        self.bytes = spark.read.parquet(self.pages).agg(F.sum(F.length("html"))).first()[0]

    def warm(self, spark) -> None:
        """One full ``run_extraction``, bucket write and lineage commit included,
        into its own output: after a 300-page warm-up the first timed
        iteration still ran 10-30% slow, and after one over a quarter of the
        pages 10-15% slow."""
        run_extraction(
            spark, spark.read.parquet(self.pages), os.path.join(self.work, f"{self.name}-warm"),
            run_id="warm", n_buckets=N_BUCKETS,
        )

    def run(self, spark, i: int) -> float:
        shutil.rmtree(self._out, ignore_errors=True)
        self._out = os.path.join(self.work, f"{self.name}-out{i}")
        pages = spark.read.parquet(self.pages)
        t0 = time.perf_counter()
        self._stats = run_extraction(spark, pages, self._out, run_id=f"bench{i}", n_buckets=N_BUCKETS)
        return time.perf_counter() - t0

    def check_stats(self) -> int:
        """Pages by which the iteration's stats miss the all-ok count."""
        return min(abs(N_PAGES - self._stats["pages_ok"]), N_PAGES)

    def check_output(self, spark) -> int:
        """Failed pages of the last iteration's committed output: golden urls
        missing from it, extra copies of a url, urls without a golden, and
        rows not ok or not byte-identical to the golden text, spans and
        removed spans."""
        rows = (
            read_extractions(spark, self._out)
            .select("url", "ok", "extracted_text", "spans", "removed_spans")
            .toArrow()
            .to_pylist()
        )
        urls = [r["url"] for r in rows]
        bad = len(self.golden.keys() - set(urls)) + len(urls) - len(set(urls))
        for r in rows:
            g = self.golden.get(r["url"])
            bad += not r["ok"] or g != (r["extracted_text"], r["spans"], r["removed_spans"])
        return min(bad, N_PAGES)

    def detail(self) -> dict:
        return {"pages": N_PAGES, "buckets": N_BUCKETS, "html_bytes": self.bytes}


class CurateFull:
    name = "curate_full"

    def __init__(self, work: str, seed: int, cores: int) -> None:
        self.work, self.seed, self.cores = work, seed, cores
        self.docs = os.path.join(work, "docs")
        self.units = 1
        self._out = ""
        self._stats: dict = {}
        self._first: str | None = None
        self.digest: tuple[int, int] | None = None

    def prepare(self, spark) -> None:
        tbl, self.pairs = inputs.documents(N_DOCS, self.seed)
        inputs.write_table(tbl, self.docs, self.cores)
        self.rows = tbl.num_rows
        self.bytes = sum(len(t.encode()) for t in tbl.column("text").to_pylist())

    def _curate(self, spark, path: str, out: str) -> dict:
        return run_curation(
            spark, spark.read.parquet(path), out, run_id="bench",
            dedup_lines=True, dedup_spans=True, dedup_near=True,
        )

    def warm(self, spark) -> None:
        """One full ``run_curation`` on the workload's own documents. A
        warm-up over a quarter of them took as long: the first run's cost is
        compiling and loading code, not data."""
        self._curate(spark, self.docs, os.path.join(self.work, f"{self.name}-warm"))

    def run(self, spark, i: int) -> float:
        shutil.rmtree(self._out, ignore_errors=True)
        spark.catalog.clearCache()  # drop the previous iteration's cached shingles
        self._out = os.path.join(self.work, f"{self.name}-out{i}")
        t0 = time.perf_counter()
        self._stats = self._curate(spark, self.docs, self._out)
        return time.perf_counter() - t0

    def check_stats(self) -> int:
        """1 when the iteration's stats differ from the first iteration's, do
        not count every input document, or show a dedup rung that dropped
        nothing: the planted copies give both the fingerprint rung and the
        near rung documents to drop on every seed."""
        s = self._stats
        stats = json.dumps(s, sort_keys=True)
        if self._first is None:
            self._first = stats
        exact_dropped = s["docs_quality_kept"] - s["docs_curated"] - s["docs_near_dropped"]
        ok = stats == self._first and s["docs_in"] == self.rows and (
            exact_dropped > 0 and s["docs_near_dropped"] > 0)
        return 0 if ok else 1

    def check_output(self, spark) -> int:
        """1 when the last iteration's decisions are wrong: a planted exact copy
        survived next to its source, or, for the default seed, the stats line
        or the decision-table digest differs from the recorded value."""
        dec = spark.read.parquet(os.path.join(self._out, "decisions"))
        self.digest = table_digest(dec)
        surv = {
            r["doc_id"]: r["survivor"]
            for r in dec.select("doc_id", "survivor").toArrow().to_pylist()
        }
        ok = not any(surv[a] and surv[b] for a, b in self.pairs)
        if self.seed == DEFAULT_SEED:
            rec = expected()["curate_full"]
            ok = ok and (self._first, self.digest) == (rec["stats"], tuple(rec["decisions"]))
        return 0 if ok else 1

    def detail(self) -> dict:
        return {"docs": self.rows, "text_bytes": self.bytes, "stats": self._first, "decisions": self.digest}


WORKLOADS = {w.name: w for w in (ExtractSmall, CurateFull)}
