"""Process-level plumbing: work dirs inside the checkout, the Spark
session, warm-up, host context, peak RSS and a clean shutdown.

Everything the benchmark writes lives under ``perfbench/.work`` (scratch,
removed at exit) and ``perfbench/results`` (full run records), so a run
reads and writes only inside its checkout.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

PERFBENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKOUT_ROOT = os.path.dirname(PERFBENCH_DIR)
WORK_ROOT = os.path.join(PERFBENCH_DIR, ".work")
RESULTS_DIR = os.path.join(PERFBENCH_DIR, "results")

# driver JVM heap: the inputs are small and the host's memory is shared.
# The heap is committed and touched at start (Xms = Xmx, pre-touch) so peak
# RSS moves with real memory use, not with GC heap-sizing decisions.  No
# perf-data file: HotSpot would write it under /tmp, outside the checkout.
DRIVER_MEM = "1g"
JVM_OPTIONS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData"


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def make_work_dir(tag: str) -> str:
    """Fresh scratch dir for one run, with Spark/Python/JVM temp dirs
    pointed into it (set before the JVM starts)."""
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TSC_DRIVER_MEM"] = DRIVER_MEM
    # the JVM spark-submit runs to build the driver command, too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # few glibc malloc arenas: native RSS then tracks live memory, not the
    # number of threads that once allocated
    os.environ["MALLOC_ARENA_MAX"] = "2"
    import tempfile

    tempfile.tempdir = tmp  # in case tempfile already cached /tmp
    return work


def import_program() -> None:
    """Put the checkout root on sys.path so ``tsc_spark`` imports from
    source.  Raises ImportError when the program is not in the checkout."""
    if CHECKOUT_ROOT not in sys.path:
        sys.path.insert(0, CHECKOUT_ROOT)
    import tsc_spark  # noqa: F401


def start_spark(work: str):
    from tsc_spark.session import get_spark

    n = nproc()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _vm_hwm_kib(pid: int | str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def peak_rss_mb() -> float | None:
    """Peak RSS (VmHWM) of this driver process plus its JVM, in MiB."""
    own = _vm_hwm_kib("self")
    pid = jvm_pid()
    jvm = _vm_hwm_kib(pid) if pid else None
    if own is None or jvm is None:
        return None
    return (own + jvm) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM (and
    with it the Python worker daemon) to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)


def force(df) -> None:
    """Fully execute a DataFrame without materializing it on the driver."""
    df.write.format("noop").mode("overwrite").save()


def host_context(spark) -> dict:
    """nproc, load average and a fixed all-core probe rate, so runs from
    different host windows can be told apart.  Measured outside set-up
    and outside the timed region."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    rows = n * 8_000_000
    probe = spark.range(rows, numPartitions=n).select(
        F.sum(F.sqrt(F.col("id").cast("double") + 1.0))
    )
    probe.collect()  # the first run pays codegen
    t0 = time.perf_counter()
    probe.collect()
    dt = time.perf_counter() - t0
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": nproc(),
        "spark_parallelism": n,
        "loadavg_1_5_15": load,
        "probe_mrows_per_s": rows / dt / 1e6,
    }
