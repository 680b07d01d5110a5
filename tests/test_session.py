"""Session defaults that must be safe off a single host."""

import os
import signal
import subprocess
import sys

from pyspark.find_spark_home import _find_spark_home

from ocr_machine_spark.session import driver_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_heap_default_applies_to_local_master_only(monkeypatch):
    """The 24g driver heap sizes one local-mode JVM that runs every task; a
    cluster driver keeps its deployment's setting. SPARK_DRIVER_MEMORY
    overrides the default on any master."""
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    for master in ("local", "local[4]", "local[*]"):
        assert driver_memory(master) == "24g", master
    for master in ("yarn", "spark://head:7077", "k8s://https://api:6443", "local-cluster[2,1,1024]", None):
        assert driver_memory(master) is None, master
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert driver_memory("local[4]") == "6g"
    assert driver_memory("yarn") == "6g"


def test_spark_submit_master_is_kept(tmp_path):
    """A launcher's ``--master`` wins over the local default: under
    spark-submit, ``get_spark()`` with no master must not turn the run into
    ``local[$SPARK_GRAFT_CPUS]``."""
    script = tmp_path / "master.py"
    script.write_text(
        "from ocr_machine_spark.session import get_spark\n"
        "spark = get_spark(extra={'spark.ui.enabled': 'false'})\n"
        "print('MASTER=' + spark.sparkContext.master, flush=True)\n"
        "spark.stop()\n"
    )
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="3",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    env.pop("PYSPARK_GATEWAY_PORT", None)
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    # own process group: the JVM and its Python driver both end with it
    proc = subprocess.Popen(
        [submit, "--master", "local[2]", str(script)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=300)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
    assert proc.returncode == 0
    assert "MASTER=local[2]" in out.splitlines()
