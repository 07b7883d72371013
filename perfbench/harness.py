"""Host fit for one benchmark run: work directory, Spark sessions,
peak memory of the process tree, and shutdown.

Sessions are created through the package's public
``sources.tables.get_spark`` at ``parallelism = nproc``, with the driver
memory, temp and warehouse directories overridden through ``extra_conf``
so that a run reads and writes only inside the checkout's work directory.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import threading
import time
from pathlib import Path

#: JVM heap of the local-mode driver (which is also the executor). The
#: package default is 24g, sized for a far larger host.
DRIVER_MEMORY = "3g"

_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` reports without an
    OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
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
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_mb(pid: int) -> float:
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE / 1e6


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (the Spark JVM and its Python workers) while active."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval_s)


class Host:
    """Work directory and Spark session lifecycle for one run."""

    def __init__(self, root: Path, run_name: str, event_log: bool):
        self.work = root / ".perfbench"
        self.run_dir = self.work / "runs" / f"{run_name}-{os.getpid()}"
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.tmp = self.run_dir / "tmp"
        self.tmp.mkdir(parents=True)
        self.event_dir = self.run_dir / "eventlog" if event_log else None
        if self.event_dir:
            self.event_dir.mkdir()
        self.cpus = host_cpus()
        # the JVM and the Python workers inherit these: every temp file
        # lands in the run directory, and the workers import the package
        # from the checkout
        os.environ["SPARK_LOCAL_DIRS"] = str(self.tmp)
        os.environ["TMPDIR"] = str(self.tmp)
        tempfile.tempdir = str(self.tmp)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        self.spark = None
        self._app_id = None

    def _conf(self) -> dict:
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.local.dir": str(self.tmp),
            "spark.sql.warehouse.dir": str(self.run_dir / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start(self):
        """A fresh SparkSession (and SparkContext) via get_spark; stops the
        previous one first. The JVM stays up between sessions."""
        from distributed_gpu_lsh_using_sycl_spark.sources.tables import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", parallelism=self.cpus,
                               extra_conf=self._conf())
        return self.spark

    def event_log(self) -> Path:
        """The current session's event log; valid after ``stop_session``."""
        return self.event_dir / self._app_id

    def stop_session(self) -> None:
        if self.spark is not None:
            self._app_id = self.spark.sparkContext.applicationId
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, end the JVM gateway and every remaining child
        process, wait for them, and delete the run directory."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the JVM's Python workers exit once it is gone; give them a moment,
        # then kill any straggler and wait until none is left
        deadline = time.time() + 20
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        while left := descendants(os.getpid()):
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
        shutil.rmtree(self.run_dir, ignore_errors=True)
