from __future__ import annotations

import os

import pytest

from oni_ml_spark.session import get_spark

# what the terminal summary reports: the host's CPU ticks at session start
# (/proc/stat) and the shared test JVM's peak RSS, read before it goes away
_HOST: dict[str, object] = {}


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _vm_hwm_mb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(ln.split()[1]) // 1024 for ln in f if ln.startswith("VmHWM:"))


def pytest_sessionstart(session):
    _HOST["ticks"] = _cpu_ticks()


def pytest_terminal_summary(terminalreporter):
    """One line that says how loaded the host was and how large the test JVM
    grew: the suite's wall time moves with both."""
    delta = [b - a for a, b in zip(_HOST["ticks"], _cpu_ticks())]
    hwm = _HOST.get("jvm_hwm_mb")
    terminalreporter.write_line(
        f"host: cpu_steal {delta[7] / max(1, sum(delta)):.3f} (share of host CPU time "
        "spent on other guests during the session); shared test JVM VmHWM "
        + (f"{hwm} MB" if hwm is not None else "not measured (no session fixture ran)"))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # get_spark's 64g default lets the heap grow past a small host's memory:
    # under G1 a full run on a 15 GB, 4-core host was OOM-killed at 15 GB
    # RSS, and at 8g its VmHWM reached 9.5-9.8 GB; on the parallel
    # collector an 8g run peaked at 8.6 GB
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark("oni_ml_spark_tests", shuffle_partitions=4)
    pid = s.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    yield s
    try:
        _HOST["jvm_hwm_mb"] = _vm_hwm_mb(pid)
    except (OSError, StopIteration):  # the JVM already exited
        pass


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
SF_DIR_ORACLE = "/root/testdata/sf0.01"
