"""Run scaffolding shared by the workloads: private scratch, the Spark
session, peak RSS, quantiles, and the result line."""

from __future__ import annotations

import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "spark_kafka_realm_time_data_pipeline_spark"
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
TAIL_MAX_BYTES = 512


class Run:
    """One workload run: a fresh private directory inside the checkout that
    holds every file the run writes (inputs, staged indexes, Spark scratch,
    temp files, checkpoints), removed again when the run ends."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.dir = os.path.join(RUNS_DIR, f"{workload}-s{seed}-t{int(trace)}-p{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "local", "scratch", "data", "out", "ckpt"):
            os.makedirs(os.path.join(self.dir, sub))
        self.spark = None
        self.info: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def isolate(self) -> None:
        """Point every temp/scratch location the engine and Spark use at
        this run's directory, before the package is imported.  A private
        ``SPARK_GRAFT_SCRATCH`` means staged indexes are always built by
        this run's code, never reused from another run or commit."""
        tmp = self.path("tmp")
        os.environ.update(
            {
                "TMPDIR": tmp,
                "SPARK_LOCAL_DIRS": self.path("local"),
                "SPARK_GRAFT_SCRATCH": self.path("scratch"),
                "SPARK_GRAFT_REPLAY_CKPT_ROOT": self.path("ckpt"),
                # no hsperfdata files in the system temp dir
                "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            }
        )
        for var in ("SPARK_GRAFT_ON_CLUSTER", "SPARK_GRAFT_DRIVER_MEM"):
            os.environ.pop(var, None)
        import tempfile

        tempfile.tempdir = tmp
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def start_session(self):
        """``get_spark`` sized from the CPUs this process may run on."""
        from spark_kafka_realm_time_data_pipeline_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            cpus=cpus,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": self.path("tmp", "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.info.update(
            workload=self.workload,
            seed=self.seed,
            trace=int(self.trace),
            cpus=cpus,
            defaultParallelism=spark.sparkContext.defaultParallelism,
            spark_version=spark.version,
            commit=git_commit(),
            source_sha=source_sha(),
        )
        return spark

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM plus this Python process."""
        pids = [os.getpid()]
        gw = getattr(self.spark.sparkContext, "_gateway", None) if self.spark else None
        proc = getattr(gw, "proc", None)
        if proc is not None:
            pids.append(proc.pid)
        return sum(_vm_hwm_kb(p) for p in pids) / 1024.0

    def retained_mb(self) -> float:
        """Memory the driver JVM still holds once its garbage is gone: heap
        in use after a full collection plus non-heap in use (metaspace,
        code cache).  Spark's cleaner frees unreferenced broadcasts,
        shuffles and cached blocks asynchronously after a collection, so
        the heap is collected until two readings agree within 1 %.  Python
        objects left in reference cycles can still pin JVM objects through
        the gateway, so Python collects first."""
        gc.collect()
        mx = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap = None
        for _ in range(5):
            mx.gc()
            now = mx.getHeapMemoryUsage().getUsed()
            if heap is not None and abs(now - heap) <= 0.01 * heap:
                break
            heap = now
            time.sleep(0.5)
        self.info["heap_retained_mb"] = now / 2**20
        self.info["nonheap_mb"] = mx.getNonHeapMemoryUsage().getUsed() / 2**20
        return self.info["heap_retained_mb"] + self.info["nonheap_mb"]

    def finish(self) -> None:
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                gw = getattr(self.spark.sparkContext, "_gateway", None)
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    try:
                        gw.shutdown()
                        proc.stdin.close()
                        proc.wait(timeout=30)
                    except Exception:  # noqa: BLE001 — make sure it is gone
                        proc.kill()
                        proc.wait(timeout=30)
        shutil.rmtree(self.dir, ignore_errors=True)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def source_sha() -> str:
    """Fingerprint of the engine package's sources, for checkouts that are
    not git repositories."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def quantile(values, q: float) -> float:
    """The q-quantile (0 < q < 1) by the same 'exclusive' rule as
    ``statistics.quantiles``; one value is its own quantile."""
    vals = sorted(values)
    if not vals:
        raise ValueError("quantile of no values")
    if len(vals) == 1:
        return float(vals[0])
    pos = q * (len(vals) + 1) - 1
    pos = min(max(pos, 0.0), len(vals) - 1.0)
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return float(vals[lo] + (vals[hi] - vals[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values))


class Timer:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        return False


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The last stdout line: exactly correct / attempted / failed / metrics,
    every metric as {"value", "unit"}."""
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        },
        separators=(",", ":"),
    )
