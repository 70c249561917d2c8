"""Pinned run environment and the Spark session the benchmark drives.

``pin`` must run before pyspark is imported: the JVM reads its memory,
temp and local directories once, at launch, from the environment.
Everything a run writes stays under ``<checkout>/.perfbench``:

- ``cache/``  generated inputs, keyed by their parameters (kept);
- ``tmp/``    TMPDIR, where the package compiles its native kernel (kept);
- ``traces/`` span files written by ``--trace 1`` runs (kept);
- ``run-<pid>/`` fragment, Spark-local, output and warehouse directories,
  removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import sys
import time


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 8.0


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Dirs:
    def __init__(self, root: str):
        base = os.path.join(root, ".perfbench")
        self.cache = os.path.join(base, "cache")
        self.tmp = os.path.join(base, "tmp")
        self.traces = os.path.join(base, "traces")
        self.run = os.path.join(base, f"run-{os.getpid()}")
        self.frag = os.path.join(self.run, "fragments")
        self.local = os.path.join(self.run, "local")
        self.out = os.path.join(self.run, "out")
        for d in (self.cache, self.tmp, self.traces, self.frag, self.local, self.out):
            os.makedirs(d, exist_ok=True)

    def remove_run(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def pin(root: str, dirs: Dirs) -> dict:
    """Set the environment every run uses and return it for the record."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = _mem_total_gb()
    # the package default (48g) does not fit small hosts
    driver_mem = "2g" if mem_gb >= 8 else "1g"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        # executor Python workers import the package for mapInArrow decode
        "PYTHONPATH": os.pathsep.join([root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": dirs.tmp,
        "SPARK_GRAFT_FRAGMENT_DIR": dirs.frag,
        "SPARK_GRAFT_LOCAL_DIR": dirs.local,
        "SPARK_LOCAL_DIRS": dirs.local,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false"
            f" --conf spark.sql.warehouse.dir={dirs.run}/warehouse"
            f' --driver-java-options "-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData"'
            " pyspark-shell"
        ),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if root not in sys.path:
        sys.path.insert(0, root)
    return {
        "cpus": cpus,
        "mem_total_gb": round(mem_gb, 1),
        "driver_mem": driver_mem,
        "python": sys.version.split()[0],
        "load1_start": load1(),
    }


class Session:
    """``session.get_spark()`` wrapped so set-up can be timed and undone."""

    APP = "perfbench"

    def __init__(self):
        self.spark = None
        self.build_s = 0.0
        self.first_job_s = 0.0

    def cold_start(self) -> float:
        """JVM launch and ``get_spark()``, then a first one-row job."""
        from utxo_to_parquet_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(self.APP)
        t1 = time.perf_counter()
        self.spark.range(1).count()
        t2 = time.perf_counter()
        self.build_s, self.first_job_s = t1 - t0, t2 - t1
        return t2 - t0

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return getattr(getattr(gw, "proc", None), "pid", None)

    def peak_rss_mb(self) -> dict:
        """VmHWM of the Python driver and of the JVM, in MB."""
        pid = self.jvm_pid()
        return {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(pid) if pid else 0.0}

    def close(self) -> None:
        """Stop the context, shut the JVM down and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                pass
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
            except Exception:
                pass
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
