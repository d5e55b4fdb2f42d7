"""Session lifecycle and memory sampling."""

from __future__ import annotations

import os
import threading

#: local[N] for every run: the benchmark is sized for a 4-core host
CPUS = 4


def session_conf(work: str) -> dict[str, str]:
    """Spark settings of the benchmark session. Scheduling settings follow
    ``bench.py``; every directory Spark or the JVM writes sits under
    ``work``."""
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under the system temp dir either
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={jtmp} -Dderby.system.home={jtmp} -XX:-UsePerfData"
        ),
    }


def start_session(work: str):
    from olr_cdc_oracle_with_dbz_spark.session import get_spark

    spark = get_spark("perfbench", **session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM process it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # already closed
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def rss_mb(pids) -> float:
    """Summed resident memory of ``pids``, in MB (gone processes count 0)."""
    pages = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return pages * os.sysconf("SC_PAGE_SIZE") / 1e6


def jvm_pid() -> int | None:
    """Process id of the driver JVM that PySpark launched, if any."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


class RssSampler:
    """Samples the resident memory of the driver: this Python process plus
    the processes handed to :meth:`watch` (the driver JVM; Python workers
    come and go with task scheduling and are left out). Runs on a background
    thread; ``peak_mb`` is the maximum."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._pids = (os.getpid(),)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def watch(self, pid: int | None) -> None:
        if pid is not None:
            self._pids = (*self._pids, pid)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self._pids))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
