"""Linear-time guard for the per-document curation signals: no document may
stall a task.

``gopher_filter`` and ``minhash_signatures`` compute everything inside the
row, so one long document is one task's work. For each family, min-of-3 time(4n) / time(n) on a
one-document input must stay ≤ 8 (n log n gives ~4 or less once the fixed
cost of a job is counted, quadratic ~16). The frame is built and run once
before timing, so only execution is timed.
"""

import gc
import time

import pytest

from ocr_machine_spark.operators.dedup import minhash_signatures
from ocr_machine_spark.operators.textstats import gopher_filter

MAX_RATIO = 8.0
N_WORDS = 20_000

FAMILIES = {
    # every 5-gram repeated: all positions covered, every n-gram run long
    "repeated_5grams": lambda n: " ".join(["alpha beta gamma delta epsilon"] * (n // 5)),
    # no repeats at all: the longest sorts, nothing covered
    "unique_words": lambda n: " ".join(f"w{i:07d}" for i in range(n)),
}


def _best_of_3(spark, op, text: str) -> float:
    q = op(spark.createDataFrame([(1, text)], "doc_id long, text string"))
    q.collect()
    gc.collect()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        q.collect()
        best = min(best, time.perf_counter() - t0)
    return best


def _assert_linear(spark, op, family: str) -> None:
    build = FAMILIES[family]
    t_small = _best_of_3(spark, op, build(N_WORDS))
    t_large = _best_of_3(spark, op, build(4 * N_WORDS))
    ratio = t_large / t_small
    assert ratio <= MAX_RATIO, (
        f"{family}: time(4n)/time(n) = {ratio:.1f} "
        f"({t_small * 1e3:.0f} ms → {t_large * 1e3:.0f} ms at {4 * N_WORDS} words)"
    )


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_gopher_filter_linear_time(spark, family):
    _assert_linear(spark, gopher_filter, family)


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_minhash_signatures_linear_time(spark, family):
    _assert_linear(spark, minhash_signatures, family)
