"""Host set-up, Spark session lifetime and result helpers shared by the
workloads."""

from __future__ import annotations

import math
import os
import statistics
import sys
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(ROOT, "cocoindex_data_ingestion_spark", "__init__.py"))


def configure_host(work: str) -> dict[str, str]:
    """Environment for one benchmark process; must run before pyspark
    or the package is imported (the session module reads
    ``SPARK_GRAFT_CPUS`` at import).

    - Spark gets exactly the CPUs this process may run on (the package
      default of 32 oversubscribes a small host);
    - Spark memory (`SPARK_GRAFT_DRIVER_MEM`) stays well below host RAM
      (package default 16g);
    - UDF worker processes find the package through ``PYTHONPATH``;
    - every scratch file (Spark local dirs, JVM and Python temp dirs,
      the SQL warehouse) lands under ``work``, which the caller removes.

    Returns the extra Spark confs for ``get_spark``."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def start_session(extra_conf: dict[str, str]):
    from cocoindex_data_ingestion_spark.session import get_spark

    return get_spark("perfbench", extra_conf=extra_conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM gateway process to end (its
    Python workers are its children and end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM, from /proc."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile of unrounded values."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values)


@dataclass
class Outcome:
    """What a workload run reports. ``e2e`` and ``layers`` (traced runs)
    are the metrics of the result line, the same names on every
    workload; ``named`` (per-surface end-to-end metrics, None when a run
    has too few samples) and ``detail`` (per-layer metrics of the
    workload's own layers) are printed in the table above it."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    named: dict[str, tuple[float | None, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)
