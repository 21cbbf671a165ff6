"""Session defaults that depend on the machine."""

from lightcurvesclassifier_spark import session


def test_driver_memory_is_half_of_memtotal_unless_set(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as fh:
        kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    want = min(48, max(1, kb // (2 * 1024 * 1024)))
    assert session._driver_memory() == f"{want}g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"
