"""Shared pieces of the benchmark: environment pinning, the Spark
session lifecycle, op/pass recording and the end-to-end metrics."""

from __future__ import annotations

import os
import resource
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work_dir: str) -> None:
    """Set the variables the engine and Spark read at start-up. Must
    run before pyspark launches its JVM."""
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    driver_mb = max(1024, min(4096, mem_mb // 6))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -Xms = -Xmx: with a growable heap the JVM's high-water RSS
    # followed G1's adaptive expansion and varied by about 10% between
    # identical runs; with the heap fixed, peak_rss_mb moves only with
    # old-generation retention, native memory and the Python side
    java_opts = (
        f"-Xms{driver_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Djava.net.preferIPv4Stack=true"
    )
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
                f'--conf "spark.driver.extraJavaOptions={java_opts}"',
                "pyspark-shell",
            ]
        ),
    })
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))


def environment_record() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "spark": pyspark.__version__,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
    }


def new_session():
    from fuse_query_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """High-water RSS of the JVM plus this Python driver process."""
    from pyspark import SparkContext

    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024


@dataclass
class Op:
    kind: str  # read | write | ddl | op
    name: str
    start: float
    dur: float
    ok: bool


@dataclass
class Recorder:
    """Thread-safe log of ops and passes of one measured window."""

    ops: list = field(default_factory=list)
    passes: list = field(default_factory=list)  # (start, dur)
    failures: list = field(default_factory=list)

    def __post_init__(self):
        self._lock = threading.Lock()

    def run(self, kind: str, name: str, fn, *args):
        """Time fn(*args) as one op; returns (ok, result). A raised
        error is a failed op."""
        t0 = time.perf_counter()
        start = time.time()
        try:
            out, ok = fn(*args), True
        except Exception as e:  # noqa: BLE001 — every failure is counted
            out, ok = None, False
            self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        with self._lock:
            self.ops.append(Op(kind, name, start, time.perf_counter() - t0, ok))
        return ok, out

    def add_pass(self, start: float, dur: float) -> None:
        with self._lock:
            self.passes.append((start, dur))

    def fail(self, reason: str) -> None:
        with self._lock:
            self.failures.append(reason)

    def e2e(self, wall: float, items_per_pass: int | None = None) -> dict:
        """End-to-end metrics of a window of `wall` seconds. An op is
        each recorded call, or with `items_per_pass` one item of a pass,
        whose latency is that of the pass carrying it."""
        if items_per_pass is None:
            lat = [o.dur * 1e3 for o in self.ops]
        else:
            lat = [d * 1e3 for _, d in self.passes for _ in range(items_per_pass)]
        writes = [o.dur * 1e3 for o in self.ops if o.kind == "write"]
        return {
            "op_p50_ms": statistics.median(lat),
            "op_p90_ms": statistics.quantiles(lat, n=10)[-1],
            "ops_per_s": len(lat) / wall,
            "write_p50_ms": statistics.median(writes),
            "pass_s": statistics.median(d for _, d in self.passes),
        }


UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "write_p50_ms": "ms",
    "pass_s": "s",
    "peak_rss_mb": "MiB",
}


def timed_setups(workload, count: int = 3):
    """Set the workload up `count` times, each from a stopped session;
    returns (median seconds, every sample, the last set-up's live
    session). The first set-up also launches the JVM."""
    times = []
    spark = None
    for i in range(count):
        if spark is not None:
            workload.teardown()
            spark.stop()
        t0 = time.perf_counter()
        spark = new_session()
        workload.setup(spark)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), times, spark
