"""Engine benchmark: one workload per process, one Spark session, a closed
loop of one job at a time on ``local[<cores>]``.

    python3 enginebench/run.py --workload extract_small --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``): end-to-end metrics
with ``--trace 0``, per-layer metrics from the traced layer sweep with
``--trace 1``. The line before it holds the details (per-iteration samples
with host steal, the effective session config, lines of code); a
human-readable summary goes to stderr. Scratch files live under
``.bench_work/`` and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_ITERATIONS = 1
# 4 tasks share one local-mode JVM on a 15 GiB host; a fixed-size heap keeps
# the peak resident memory from following the heap's resize decisions
DRIVER_MEMORY = "3g"


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _configure(work: str, cores: int) -> None:
    """Size the session for this host through the variables ``get_spark``
    reads, and keep every scratch file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )


def _start(work: str, ui: bool):
    from ocr_machine_spark.session import get_spark

    spark = get_spark(
        app="enginebench",
        extra={
            # the traced run reads stage and SQL metrics from the UI's REST API
            "spark.ui.enabled": str(ui).lower(),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _session_config(spark) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    keys = (
        "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
        "spark.sql.execution.arrow.maxRecordsPerBatch", "spark.sql.adaptive.enabled",
        "spark.io.compression.codec",
    )
    out = {k: conf.get(k) for k in keys}
    out["SPARK_LOCAL_DIRS"] = os.environ["SPARK_LOCAL_DIRS"]
    out["defaultParallelism"] = spark.sparkContext.defaultParallelism
    return out


def _result(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def _timed(wl, spark, seconds: float) -> tuple[list[dict], int, int]:
    """Closed loop: iterate the workload until ``seconds`` have passed (at
    least MIN_ITERATIONS). Every iteration's stats are checked outside its
    timed part; once the loop has ended, the last iteration's output is
    checked in full."""
    from bench import _StealMeter

    samples = []
    t_end = time.perf_counter() + seconds
    while len(samples) < MIN_ITERATIONS or time.perf_counter() < t_end:
        i = len(samples)
        with _StealMeter() as steal:
            try:
                wall = wl.run(spark, i)
                bad = wl.check_stats()
            except Exception as exc:  # noqa: BLE001 — a raising iteration is a failed one
                _log(f"iteration {i} raised {type(exc).__name__}: {exc}")
                wall, bad = None, wl.units
        samples.append({"wall_s": wall, "failed": bad, "steal_frac": steal.frac})
        _log(f"  {wl.name} iteration {i}: {wall}s failed={bad} steal={steal.frac}")
    last = samples[-1]
    if last["wall_s"] is not None:
        last["failed"] = min(wl.units, last["failed"] + _check_output(wl, spark))
    return samples, wl.units * len(samples), sum(s["failed"] for s in samples)


def _check_output(wl, spark) -> int:
    try:
        return wl.check_output(spark)
    except Exception as exc:  # noqa: BLE001 — an output that cannot be read back is a failed one
        _log(f"output check raised {type(exc).__name__}: {exc}")
        return wl.units


def _overhead(name: str, traced: float) -> dict:
    """The traced iteration's wall against the untraced ``wall_s`` recorded in
    ``baseline.json``. The overhead is resolved only when the traced wall
    lies above the untraced third quartile; below it, host noise hides it."""
    with open(os.path.join(ROOT, "enginebench", "baseline.json")) as f:
        base = json.load(f)["untraced"][name]["wall_s"]
    return {
        "traced_wall_s": traced,
        "untraced_wall_s": base["median"],
        "untraced_q1_q3": [base["q1"], base["q3"]],
        "overhead_s": traced - base["median"],
        "resolved": traced > base["q3"],
    }


def _traced(wl, spark, args, work: str, cores: int) -> tuple[dict, dict, int, int]:
    """One traced iteration of the workload (its wall against the untraced
    ``wall_s`` is the tracing overhead), then the layer sweep over every
    layer. → (metrics, detail, attempted, failed)."""
    from enginebench import inputs, layers, probes
    from enginebench.workloads import N_PAGES, CurateFull, ExtractSmall

    rest = probes.SparkRest(spark)
    sp = probes.Spans()
    mark = rest.mark()
    with sp.span(f"workload.{wl.name}"):
        traced = wl.run(spark, 0)
    m = rest.stage_metrics(mark)
    attempted = wl.units
    failed = min(attempted, wl.check_stats() + _check_output(wl, spark))
    m["trace.wall_s"] = traced
    overhead = _overhead(wl.name, traced)
    _log("tracing overhead: traced {traced_wall_s:.3f}s - untraced median "
         "{untraced_wall_s:.3f}s (quartiles {untraced_q1_q3}) = {overhead_s:+.3f}s, ".format(**overhead)
         + ("resolved" if overhead["resolved"] else "unresolved: not above the untraced quartiles"))

    ext = wl if isinstance(wl, ExtractSmall) else ExtractSmall(work, args.seed, cores)
    cur = wl if isinstance(wl, CurateFull) else CurateFull(work, args.seed, cores)
    # the other workload's job gets no warm-up run of its own: the sweep
    # calls its layers before it times the whole job, and a warm-up would
    # cost another 15-40 s of a traced run that must end within 3 minutes
    for other in (w for w in (ext, cur) if w is not wl):
        other.prepare(spark)
    m.update(layers.extraction_layers(
        spark, sp, ext.pages, N_PAGES, cores, work, rest, traced if wl is ext else None))
    lm, bad = layers.large_layers(spark, sp, args.seed, cores, work)
    m.update(lm)
    attempted += len(inputs.HOSTILE_FAMILIES) + layers.N_LARGE
    failed += bad
    m.update(layers.curation_layers(spark, sp, cur.docs, work, traced if wl is cur else None))
    qm, digests, bad = layers.query_layers(spark, sp, args.seed)
    m.update(qm)
    attempted += len(layers.HEAVY_QUERIES)
    failed += bad

    table = layers.extraction_table(m)
    _log("extraction layers (layer, seconds, share of run_extraction wall):")
    for name, s, share in table:
        _log(f"  {name:42s} {s:8.3f}s {share:7.1%}")
    detail = {
        "extraction_table": table,
        "tracing_overhead": overhead,
        "query_digests": digests,
        "spans": sp.rows,
    }
    return m, detail, attempted, failed


PER_LAYER_UNITS = {
    "_s": "s", "_us": "us", "_ms": "ms", "_bytes": "bytes", "_mb_per_s": "MB/s",
    "_frac": "ratio", "_skew": "ratio", ".tasks": "count", "_failures": "count",
    "files_written": "count", "bytes_written": "bytes", ".package": "count",
    ".spark_entry": "count",
}


def _unit(name: str) -> str:
    return next(u for suffix, u in sorted(PER_LAYER_UNITS.items(), key=lambda kv: -len(kv[0]))
                if name.endswith(suffix))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401 — the host steal meter lives there
        from enginebench import probes
        from enginebench.workloads import WORKLOADS
    except ImportError as exc:
        _log(f"enginebench: the program is not in {ROOT}: {exc}")
        return 2
    if args.workload not in WORKLOADS:
        _log(f"enginebench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _configure(work, cores)
    wl = WORKLOADS[args.workload](work, args.seed, cores)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start(work, ui=bool(args.trace))
        session_s = time.perf_counter() - t0
        wl.prepare(spark)  # input generation: neither set-up nor timed
        t0 = time.perf_counter()
        wl.warm(spark)
        setup_s = session_s + time.perf_counter() - t0
        _log(f"set-up: session {session_s:.3f}s + warm-up {setup_s - session_s:.3f}s")
        detail = {
            "workload": wl.name, "seed": args.seed, "cores": cores,
            "session": _session_config(spark), "setup_s": setup_s,
            **probes.code_loc(ROOT),
        }
        if args.trace:
            m, extra, attempted, failed = _traced(wl, spark, args, work, cores)
            m.update(probes.code_loc(ROOT))
            detail.update(extra)
            metrics = {k: (v, _unit(k)) for k, v in sorted(m.items())}
        else:
            with probes.PeakRss() as rss:
                samples, attempted, failed = _timed(wl, spark, args.seconds)
            walls = [s["wall_s"] for s in samples if s["wall_s"] is not None]
            if not walls:
                raise RuntimeError("every timed iteration raised")
            wall = statistics.median(walls)
            detail.update(samples=samples, first_iteration_ratio=walls[0] / wall)
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (wall, "s"),
                "rows_per_s": (wl.rows / wall, "1/s"),
                "input_mb_per_s": (wl.bytes / wall / 1e6, "MB/s"),
                "peak_rss_mb": (rss.peak / 2**20, "MB"),
            }
            _log(f"first iteration / median = {walls[0] / wall:.3f}")
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    _log(f"fail_frac = {failed}/{attempted} = {failed / attempted:.6f}")
    for k, (v, u) in metrics.items():
        _log(f"  {k:45s} {v:16.6f} {u}")
    detail["input"] = wl.detail()
    print(json.dumps({"detail": detail}, default=str))
    print(_result(failed == 0, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
