"""Process-level plumbing shared by the workloads: the Spark session's
lifetime, the work directory, memory and host measurements, and small
statistics helpers.

Everything the benchmark writes goes under ``perfbench/.work`` inside the
checkout, including Spark's local dirs, the JVM's temp dir and the event
log.
"""

from __future__ import annotations

import hashlib
import os
import resource
import shutil
import statistics
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def fresh_work_dir() -> str:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    return WORK


def remove_work_dir() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def cpu_probe_s() -> float:
    """Seconds to SHA-256 a fixed 128 MB single-thread workload: the
    host-speed yardstick of ``bench.py``, so the two are comparable."""
    t0 = time.perf_counter()
    b = b"\x5a" * 65536
    for _ in range(2000):
        b = hashlib.sha256(b).digest() + b[32:]
    return time.perf_counter() - t0


def host_fingerprint() -> dict:
    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "cpu_probe_s": round(cpu_probe_s(), 4),
        "load_start": [round(x, 2) for x in os.getloadavg()],
    }


class Session:
    """One SparkSession at a time on one JVM, with the event log turned
    on only when tracing. ``restart`` swaps the master (``local[1]`` for
    the single-core pass) on the same JVM; ``close`` stops Spark, shuts
    the gateway and waits for the JVM to exit."""

    def __init__(self, cores: int, trace: bool):
        self.trace = trace
        self.event_dir = os.path.join(WORK, "events")
        os.makedirs(self.event_dir, exist_ok=True)
        # keep every temp file (PySpark's gateway handshake, Spark's
        # scratch, the JVM's) inside the checkout
        os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
        tempfile.tempdir = None  # re-read TMPDIR
        self.spark = None
        self.start(cores)

    def confs(self) -> dict[str, str]:
        tmp = os.path.join(WORK, "tmp")
        confs = {
            # a fixed 1 GB heap (-Xms = -Xmx), so peak RSS does not swing
            # with when G1 decides to grow the heap
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": (
                f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.sql.streaming.ui.enabled": "false",
        }
        if self.trace:
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file:{self.event_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return confs

    def start(self, cores: int) -> None:
        from dionysus_rb_spark.session import get_spark

        self.cores = cores
        self.spark = get_spark("perfbench", cpus=cores, extra_confs=self.confs())

    def restart(self, cores: int, trace: bool) -> None:
        """Stop the current SparkContext and start another on the same
        JVM; the stopped application's event log is then complete."""
        self.spark.stop()
        self.trace = trace
        self.start(cores)

    @property
    def app_id(self) -> str:
        return self.spark.sparkContext.applicationId

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
                proc.kill()
                proc.wait(timeout=30)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this Python process plus its JVM, each
    process's own high-water mark (VmHWM) in MB."""

    def hwm_kb(pid: int | str) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    py_kb = max(hwm_kb("self"), resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
    return (py_kb + hwm_kb(jvm_pid)) / 1024.0


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(values)
    idx = min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))
    return s[idx]


def median(values: list[float]) -> float:
    return statistics.median(values)

