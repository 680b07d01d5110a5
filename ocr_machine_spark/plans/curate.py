"""Corpus-curation plan: the production composition of the webtext passes.

One declarative plan over a documents table, in this order:

1. optional cross-corpus line dedup (``--dedup-lines``, CCNet order: dedup
   BEFORE filtering) and exact-substring span dedup (``--dedup-spans``,
   Lee et al. 2022) rewrite each document's text;
2. the quality gate (complete Gopher rule ladder,
   ``operators.textstats.gopher_filter``) judges the rewritten text;
3. optional benchmark decontamination (``bench``) drops any document that
   shares a word 8-gram with the benchmark;
4. exact-dedup survivor selection keeps the min doc_id per content
   fingerprint (the same decision
   ``streaming/extract_stream.dedup_docs_stream`` maintains continuously);
5. optional near dedup (``--dedup-near``): MinHash-LSH + star-cluster
   fuzzy dedup over the exact survivors.

Everything is a pure deterministic function of the input rows: re-running
produces byte-identical output on any partitioning or cluster size, so the
job is idempotent by construction (overwrite semantics need no bucket
lineage; contrast ``plans.lineage.run_extraction``, whose per-bucket
commits exist for incremental/restartable EXTRACTION over an append-only
pages lake).

Text twin of the reference's post-OCR cleanup → dedupe → dataset-build
sequence (``python_files/strikethrough_agent.py:100-127`` gates feeding
``training_strikethrough`` dataset assembly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_machine_spark.functions import norm_text
from ocr_machine_spark.operators.dedup import dedup_clusters_star, minhash_dedup_pairs
from ocr_machine_spark.operators.textstats import (
    benchmark_contamination,
    gopher_filter,
    line_dedup,
    span_dedup,
)


def _rewrite(docs: DataFrame, dedup: DataFrame) -> DataFrame:
    """Replace ``text`` with ``dedup``'s ``text_dedup`` and attach its count
    columns. Left join: a document with no dedup row (every line a later
    duplicate, or empty normalized text) flows on with empty text and zero
    counts, so its audit row survives and it falls to the quality gate."""
    counts = [c for c in dedup.columns if c not in ("doc_id", "text_dedup")]
    out = docs.drop("text").join(dedup, "doc_id", "left")
    out = out.withColumn("text", F.coalesce("text_dedup", F.lit("")))
    for c in counts:
        out = out.withColumn(c, F.coalesce(c, F.lit(0)))
    return out.drop("text_dedup")


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    run_id: str,
    dedup_lines: bool = False,
    dedup_spans: bool = False,
    dedup_near: bool = False,
    bench: DataFrame | None = None,
) -> dict:
    """Write curated docs + decision audit table under ``out_dir``;
    → run stats (input/kept/survivor counts and the drop-reason histogram).

    The decision table carries every document's audit row: the Gopher
    ``reasons`` string, its content fingerprint ``fp`` and ``survivor``
    (kept by quality AND the dedup keeper for its fingerprint), plus
    ``near_rep`` (``dedup_near``; NULL for docs that never reached the near
    stage), ``contaminated`` (``bench``), ``n_lines``/``n_lines_kept``
    (``dedup_lines``) and ``n_span_words``/``n_span_kept``
    (``dedup_spans``). The curated table is the (rewritten) input rows
    restricted to survivors with ``fp`` attached — the shape a
    training-data builder partitions and samples from.

    Dataflow: only the DECISION frame is computed from the live plan; the
    curated table and the stats both derive from the decisions parquet read
    back after the write, so the three outputs can never disagree."""
    # materialize each plan that more than one action reads: after EACH
    # rewrite (the decision plan and the curated write both reference
    # ``docs``, and span_dedup references its input three times, so the
    # rewrite chain re-executed per reference: the line and gram explode
    # stages each ran 3× per curation), and the decision frame before the
    # near rung, whose signatures, shingles and final write each read it
    if dedup_lines:
        ld = line_dedup(docs).select(
            "doc_id", "n_lines", F.col("n_kept").alias("n_lines_kept"), "text_dedup"
        )
        docs = _rewrite(docs, ld).localCheckpoint(eager=True)
    if dedup_spans:
        # after line dedup by design: lines kill whole-line boilerplate
        # cheaply, spans then excise the remaining long duplicated RUNS;
        # matching is case-insensitive but the text keeps its casing
        sd = span_dedup(docs, preserve_case=True).select(
            "doc_id",
            F.col("n_words").alias("n_span_words"),
            F.col("n_kept").alias("n_span_kept"),
            "text_dedup",
        )
        docs = _rewrite(docs, sd).localCheckpoint(eager=True)
    count_cols = (["n_lines", "n_lines_kept"] if dedup_lines else []) + (
        ["n_span_words", "n_span_kept"] if dedup_spans else []
    )

    d = gopher_filter(docs)
    if bench is not None:
        # GPT-3 appendix-C decontamination: eval prompts must never reach
        # training data however clean they look; the benchmark side is
        # broadcast, so the pass adds no shuffle of corpus text
        cont = benchmark_contamination(docs, bench, k=8).select("doc_id", "contaminated")
        d = (
            d.join(cont, "doc_id")
            .withColumn(
                "reasons",
                # concat_ws skips NULLs on both engines: empty reasons →
                # NULL so no leading comma; not-contaminated → NULL term
                F.concat_ws(
                    ",",
                    F.nullif(F.col("reasons"), F.lit("")),
                    F.when(F.col("contaminated"), F.lit("contaminated")),
                ),
            )
            .withColumn("keep", F.col("keep") & ~F.col("contaminated"))
        )
    fp = F.md5(norm_text(F.coalesce(F.col("text"), F.lit(""))))
    d = d.join(docs.select("doc_id", fp.alias("fp"), *count_cols), "doc_id")
    keepers = d.filter(F.col("keep")).groupBy("fp").agg(F.min("doc_id").alias("keeper_doc_id"))
    d = d.join(keepers, "fp", "left").withColumn(
        "survivor", F.col("keep") & (F.col("doc_id") == F.col("keeper_doc_id"))
    )
    if dedup_near:
        d = d.localCheckpoint(eager=True)
        # exact dedup stays in front: identical docs are sure LSH candidates
        # only with ≥k words, so tiny exact dupes need the fp stage
        kept = docs.join(d.filter(F.col("survivor")).select("doc_id"), "doc_id")
        pairs = minhash_dedup_pairs(kept, threshold=0.8)
        clusters = dedup_clusters_star(kept.select("doc_id"), pairs).select(
            "doc_id", F.col("rep").alias("near_rep"), F.col("keep").alias("near_keep")
        )
        d = d.join(clusters, "doc_id", "left").withColumn(
            "survivor", F.col("survivor") & F.coalesce(F.col("near_keep"), F.lit(True))
        )
    audit_cols = ["doc_id", "n_words", "keep", "reasons", "fp", "survivor"]
    audit_cols += ["near_rep"] if dedup_near else []
    audit_cols += ["contaminated"] if bench is not None else []
    d.select(*audit_cols, *count_cols).write.mode("overwrite").parquet(f"{out_dir}/decisions")

    # read the audit table back and derive BOTH outputs from it — one
    # computation of the (nondeterminism-free) plan, stats match the files
    dec = spark.read.parquet(f"{out_dir}/decisions")
    docs.join(dec.filter(F.col("survivor")).select("doc_id", "fp"), "doc_id").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/curated")
    sums = {}
    if dedup_lines:
        sums.update(lines_in="n_lines", lines_kept="n_lines_kept")
    if dedup_near:
        near_dropped = F.col("near_rep").isNotNull() & (F.col("near_rep") != F.col("doc_id"))
        sums["docs_near_dropped"] = near_dropped.cast("long")
    if dedup_spans:
        sums.update(span_words_in="n_span_words", span_words_kept="n_span_kept")
    if bench is not None:
        sums["docs_contaminated"] = F.col("contaminated").cast("long")
    counts = dec.agg(
        F.count("*").alias("docs_in"),
        F.sum(F.col("keep").cast("long")).alias("docs_quality_kept"),
        F.sum(F.col("survivor").cast("long")).alias("docs_curated"),
        *(F.sum(c).alias(k) for k, c in sums.items()),
    ).first()
    reasons = {
        r["reason"]: r["n"]
        for r in dec.filter(~F.col("keep"))
        .select(F.explode(F.split("reasons", ",")).alias("reason"))
        .groupBy("reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    return {
        "run_id": run_id,
        "docs_in": counts["docs_in"],
        "docs_quality_kept": counts["docs_quality_kept"],
        "docs_curated": counts["docs_curated"],
        "drop_reasons": dict(sorted(reasons.items())),
        **{k: int(counts[k] or 0) for k in sums},
    }
