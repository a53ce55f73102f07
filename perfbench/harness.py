"""Process plumbing shared by every workload: working directory, Spark
session lifecycle, host facts, peak RSS and the statistics the result
reports.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``
(Spark scratch, temp files, event logs, inputs, outputs) and is removed
when the run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def core_count() -> int:
    """$SPARK_GRAFT_CPUS, else the cores this process may run on (nproc)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


class Workdir:
    """A per-run scratch tree inside the checkout; JVM and Python temp
    files are pointed into it before the JVM starts."""

    def __init__(self, name: str):
        self.path = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        tmp = self.sub("tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        opts = os.environ.get("JDK_JAVA_OPTIONS", "")
        os.environ["JDK_JAVA_OPTIONS"] = (
            f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
        )

    def sub(self, *parts: str) -> str:
        """A directory under the tree, created if missing."""
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, *parts: str) -> str:
        """A path that does not exist yet (its parent does)."""
        p = os.path.join(self.path, *parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


class Session:
    """Starts and stops SparkSessions through the package's own builder,
    so every program default (driver memory, shuffle compression, AQE)
    is what users run. Only locations and, for traced runs, the event
    log are added. Restarting keeps the JVM, so a second session starts
    warm."""

    def __init__(self, work: Workdir):
        self.work = work
        self.spark = None
        self._jvm_pid = None

    def start(self, cores: int, event_log: bool = False):
        from apm_opentelemetry_collector_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.work.sub("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.work.sub("eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self._jvm_pid = proc.pid if proc is not None else None
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_hwm_mb(self) -> float:
        return _hwm_mb(self._jvm_pid) if self._jvm_pid else 0.0

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and the
        Python workers it started have exited."""
        self.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        workers = _children(proc.pid) if proc is not None else []
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is None:
            return
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while workers and time.monotonic() < deadline:
            workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in workers:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _children(pid: int) -> list[int]:
    """Process ids whose parent is pid."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    # the field after the parenthesised command is the state, then ppid
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(name))
            except (OSError, ValueError, IndexError):
                pass
    return out


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of a live process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(session: Session) -> float:
    """Peak RSS of this Python driver plus its JVM."""
    return _hwm_mb("self") + session.jvm_hwm_mb()


def host_facts() -> dict:
    """nproc, memory and load average, to spot a contended run."""
    mem_mb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_mb = int(line.split()[1]) // 1024
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores_used": core_count(),
        "mem_total_mb": mem_mb,
        "loadavg_at_start": load,
    }


def tail(values: list[float]) -> float:
    """The highest percentile that still has at least 10 samples beyond
    it; the maximum when there are fewer than 11 samples."""
    n = len(values)
    return sorted(values)[n - 11 if n >= 11 else n - 1]


def tail_percentile(n: int) -> int:
    """Which percentile tail() reads for n samples: p90 for 100."""
    return int(100 * (n - 10) / n) if n >= 11 else 100


def median(values: list[float]) -> float:
    return float(statistics.median(values))


class Result:
    """The last stdout line: correct, attempted, failed, metrics."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, dict] = {}

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def check(self, ok: bool, what: str) -> None:
        """An output check that is not itself a counted operation."""
        if not ok:
            self.errors.append(what)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def line(self) -> str:
        return json.dumps(
            {
                "correct": not self.errors and self.attempted > 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": self.metrics,
            }
        )
