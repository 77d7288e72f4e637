"""Host fit, session lifecycle and process-tree memory sampling.

Everything the benchmark starts (the JVM, its Python workers, the memory
sampler thread) is created and stopped here, and every file it writes lives
under one work directory inside the checkout.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import threading
from pathlib import Path


def cores() -> int:
    """Cores the engine may use: the CPUs this process may run on (nproc)."""
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    # The engine's own default (24g) exceeds a small host's RAM. A tenth of
    # RAM, capped at 1 GiB, is ample for these inputs, and a small heap
    # keeps the JVM's peak memory from depending on when the collector
    # chooses to grow it.
    return min(1024, ram_mb() // 10)


def host_info() -> dict:
    import pyspark

    java = subprocess.run(
        ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    return {
        "nproc": cores(),
        "ram_mb": ram_mb(),
        "driver_memory_mb": driver_memory_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "machine": platform.machine(),
    }


def session_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata file under /tmp: the run writes only inside ``work``
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # enough retained progress records to cover every epoch of a run
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work / 'eventlog'}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
                "spark.sql.pyspark.udf.profiler": "perf",
            }
        )
    return conf


def start_session(work: Path, trace: bool):
    """Launch the engine's session sized to this host; every scratch path
    the JVM and its Python workers use points into ``work``."""
    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from exposure_notifications_private_analytics_ingestion_spark.session import (
        get_spark,
    )

    n = cores()
    return get_spark(
        app_name="perfbench",
        cores=n,
        shuffle_partitions=n,
        extra_conf=session_conf(work, trace),
    )


def stop_session(spark) -> None:
    """Stop the SparkContext and the JVM it launched, and wait for the JVM
    (and with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n. Python workers are forked from one daemon and
    share most of their pages, which a plain RSS sum would count once per
    worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak of the summed PSS of every process this one started (the JVM
    and the Python workers it forks), sampled every ``period_s`` until
    ``freeze`` or the end of the ``with`` block."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_largest_bytes = 0  # largest process (the JVM) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pss = {p: _pss_bytes(p) for p in descendants(os.getpid())}
        total = sum(pss.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_largest_bytes = max(pss.values(), default=0)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def freeze(self) -> None:
        """Stop sampling, so that later work (the output checks) cannot
        raise the peak."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.freeze()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


def remove_in_background(paths: list[Path]) -> threading.Thread:
    """Start removing ``paths`` on a thread; the caller joins it. Removal
    is bound by unlink calls, which release the GIL, so it overlaps with
    the output checks that follow."""
    t = threading.Thread(
        target=lambda: [shutil.rmtree(p, ignore_errors=True) for p in paths], daemon=True
    )
    t.start()
    return t


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
