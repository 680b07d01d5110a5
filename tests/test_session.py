"""Session defaults that must be safe off a single host."""

from ocr_machine_spark.session import driver_memory


def test_driver_heap_default_applies_to_local_master_only(monkeypatch):
    """The 24g driver heap sizes one local-mode JVM that runs every task; a
    cluster driver keeps its deployment's setting. SPARK_DRIVER_MEMORY
    overrides the default on any master."""
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    for master in ("local", "local[4]", "local[*]"):
        assert driver_memory(master) == "24g", master
    for master in ("yarn", "spark://head:7077", "k8s://https://api:6443", "local-cluster[2,1,1024]"):
        assert driver_memory(master) is None, master
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert driver_memory("local[4]") == "6g"
    assert driver_memory("yarn") == "6g"
