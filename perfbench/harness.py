"""Process plumbing shared by the workloads: a work directory inside the
checkout, the Spark session (through ``session.get_spark``), peak RSS
from ``/proc``, percentiles and the result record."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

# workload sizes are stated for this --seconds and scale with it
NOMINAL_SECONDS = 15
DRIVER_HEAP = "2g"

# The end-to-end metrics every workload reports (BENCHMARK.json
# ``end_to_end``); README.md maps each slot to the workload's own name.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "step_p50_s": "s",
    "step_p90_s": "s",
    "lag_p50_s": "s",
    "lag_p90_s": "s",
    "peak_rss_mb": "MB",
}


def percentiles(values: list[float]) -> tuple[float, float]:
    """(p50, p90) with linear interpolation."""
    p50, p90 = np.percentile(np.asarray(values, dtype=float), [50, 90])
    return float(p50), float(p90)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass
class Result:
    """What a workload hands back to ``run.py``."""

    attempted: int = 0
    failed: int = 0
    # end_to_end slot -> value (the keys of END_TO_END)
    metrics: dict[str, float] = field(default_factory=dict)
    # the workload's own metric names, printed for people: name -> (value, unit, note)
    named: dict[str, tuple[float, str, str]] = field(default_factory=dict)
    # per_layer metrics (traced runs only)
    layers: dict[str, float] = field(default_factory=dict)

    def name(self, key: str, value: float, unit: str, note: str = "") -> None:
        self.named[key] = (value, unit, note)


class Bench:
    """One benchmark process: owns the work directory and the session."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool, cores: int):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.scale = seconds / NOMINAL_SECONDS
        self.trace = trace
        self.cores = cores
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        # keep Spark's scratch space, the JVM's and Python's temp files
        # inside the checkout
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = tmp
        # The measured JVM is fixed here, whatever the caller's
        # environment says: a 2 GB driver heap (session.get_spark would
        # take 16 GB; the workloads' live data is a few hundred MB) and a
        # fixed 256 MB young generation, because G1's adaptive young
        # sizing makes the peak RSS swing by hundreds of MB from run to run.
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn256m" pyspark-shell'
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
        self.spark = None
        self.session_start_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        from monstache_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.session_start_s = time.perf_counter() - t0
        return self.spark

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak resident set (MB) of this Python process and of its JVM."""
        proc = self._jvm_proc()
        jvm_kb = _vm_hwm_kb(proc.pid) if proc is not None else 0
        return _vm_hwm_kb(os.getpid()) / 1024.0, jvm_kb / 1024.0

    @staticmethod
    def _jvm_proc():
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        return getattr(gateway, "proc", None) if gateway is not None else None

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, drop the work dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            proc = self._jvm_proc()
            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
