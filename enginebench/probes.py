"""Measurement helpers: in-memory spans, the Spark REST scrape, a peak-RSS
sampler for the process tree, and line counts of the program."""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from datetime import datetime

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Spans:
    """Spans kept in memory: (name, start, end, parent). One trace per run."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.rows.append({"name": name, "start": t0, "end": t1, "parent": parent})

    def seconds(self, name: str) -> float:
        """Duration of the last span called ``name``."""
        return next(r["end"] - r["start"] for r in reversed(self.rows) if r["name"] == name)


# ---------------------------------------------------------------------------
# Spark REST API: stage and SQL-node metrics
# ---------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A Spark UI metric string → number in seconds, bytes or units.

    Accumulated metrics read ``"total (min, med, max ...)\\n9.2 s (2.0 s, ...)"``;
    the total is the first value on the last line."""
    m = _VALUE_RE.match(text.strip().splitlines()[-1])
    if m is None:
        raise ValueError(f"unparseable Spark metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    """Reads the Spark UI REST API of one session. Any failure raises: a
    traced run must never publish empty layer numbers."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("Spark UI is disabled; the traced run needs its REST API")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._get("/stages")  # reachable now, or fail before any timing starts

    def _get(self, path: str):
        try:
            with urllib.request.urlopen(self.base + path, timeout=30) as r:
                return json.loads(r.read())
        except (urllib.error.URLError, OSError, ValueError) as exc:
            raise RuntimeError(f"Spark REST API unreachable at {self.base}{path}: {exc}") from exc

    def _sql(self, details: bool) -> list[dict]:
        flag = "true" if details else "false"
        return self._get(f"/sql?details={flag}&planDescription=false&offset=0&length=1000000")

    def _settled(self, since: tuple[set, int], timeout: float = 30.0) -> None:
        """Wait until the UI listener has recorded the end of every stage and
        SQL execution started after ``since`` (events arrive asynchronously)."""
        t_end = time.monotonic() + timeout
        while True:
            busy = [s for s in self._get("/stages") if s["stageId"] not in since[0]
                    and s["status"] in ("ACTIVE", "PENDING")]
            busy += [q for q in self._sql(False) if q["id"] > since[1] and q["status"] == "RUNNING"]
            if not busy:
                return
            if time.monotonic() > t_end:
                raise RuntimeError(f"Spark UI still shows {len(busy)} running stages/queries")
            time.sleep(0.2)

    def mark(self) -> tuple[set, int]:
        """Stage ids and the highest SQL execution id seen so far."""
        stages = {s["stageId"] for s in self._get("/stages")}
        return stages, max((q["id"] for q in self._sql(False)), default=-1)

    def stage_metrics(self, since: tuple[set, int]) -> dict[str, float]:
        """Sum of the stage metrics of every stage created after ``since``."""
        self._settled(since)
        stages = [s for s in self._get("/stages") if s["stageId"] not in since[0]]
        if not stages:
            raise RuntimeError("no Spark stages ran in the traced region")
        single = sum(
            _ts(s["completionTime"]) - _ts(s["submissionTime"])
            for s in stages
            if s["numTasks"] == 1 and "completionTime" in s and "submissionTime" in s
        )
        wide = max(stages, key=lambda s: (s["numTasks"], s["executorRunTime"]))
        q = self._get(
            f"/stages/{wide['stageId']}/{wide['attemptId']}/taskSummary?quantiles=0.5,0.95"
        )["executorRunTime"]
        return {
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "spark.tasks": sum(s["numTasks"] for s in stages),
            "spark.task_failures": sum(s["numFailedTasks"] for s in stages),
            "spark.single_task_stage_s": single,
            "spark.task_skew": q[1] / max(q[0], 1.0),
        }

    def python_metrics(self, since: tuple[set, int]) -> dict[str, float]:
        """Python-worker SQL metrics summed over every Python node (MapInArrow,
        MapInPandas, ArrowEvalPython, ...) of the SQL executions after ``since``."""
        names = {
            "time to run Python workers": "python.run_s",
            "time to start Python workers": "python.boot_s",
            "time to initialize Python workers": "python.init_s",
            "data sent to Python workers": "python.sent_bytes",
            "data returned from Python workers": "python.returned_bytes",
        }
        out = dict.fromkeys(names.values(), 0.0)
        seen = False
        self._settled(since)
        for q in self._sql(True):
            if q["id"] <= since[1]:
                continue
            for node in q.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] in names:
                        out[names[m["name"]]] += parse_metric(m["value"])
                        seen = True
        if not seen:
            raise RuntimeError("no Python-worker SQL metrics in the traced region")
        return out


# ---------------------------------------------------------------------------
# peak resident memory of the process tree
# ---------------------------------------------------------------------------

def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, with pages shared
    between forked workers split among them so the tree sum counts each once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree_pss(root: int) -> int:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    total = 0
    todo = list(kids.get(root, []))
    while todo:
        p = todo.pop()
        total += _pss(p)
        todo.extend(kids.get(p, []))
    return total


class PeakRss:
    """Samples the summed resident memory (PSS) of this process's descendants,
    the JVM and its Python workers, every ``interval`` seconds while the
    block runs."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_pss(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


# ---------------------------------------------------------------------------
# program size
# ---------------------------------------------------------------------------


def _nonblank(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f if line.strip())


def code_loc(root: str) -> dict[str, int]:
    """Non-blank lines under ``ocr_machine_spark/`` and in ``__spark_entry__.py``."""
    pkg = 0
    for d, _, files in os.walk(os.path.join(root, "ocr_machine_spark")):
        pkg += sum(_nonblank(os.path.join(d, f)) for f in files if f.endswith(".py"))
    return {
        "code.loc.package": pkg,
        "code.loc.spark_entry": _nonblank(os.path.join(root, "__spark_entry__.py")),
    }
