"""Spark session lifecycle, host record and process-tree memory.

Every session the benchmark starts runs in a JVM of its own: ``stop``
shuts the py4j gateway and waits for the JVM to exit, so nothing the
benchmark started outlives the run.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import time

MASTER = "local[4]"
# a fixed 2 GiB heap (-Xms = -Xmx) fits a 15 GB host with room for the
# Python workers; it is not pre-touched, so resident memory follows use
DRIVER_HEAP = "2g"
# the JIT compiler threads live as long as the JVM, so their CPU time can
# be read per thread and kept out of the per-operation figures (``jit_cpu_s``)
JIT_OPTS = "-XX:-UseDynamicNumberOfCompilerThreads"
SHUFFLE_PARTITIONS = 4      # = cores, as the repo sizes it for its tests


def start(work: str, app: str):
    """A fresh SparkSession in a new JVM; its scratch files and warehouse
    stay under ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the environment variable would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    b = (SparkSession.builder.master(MASTER).appName(app)
         .config("spark.driver.memory", DRIVER_HEAP)
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{DRIVER_HEAP} -XX:+UseParallelGC {JIT_OPTS} "
                 f"-Djava.io.tmpdir={tmp}")
         .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse")))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and its JVM; returns once the JVM has exited."""
    from pyspark import SparkContext

    kids = [p for p in tree_pids() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits on EOF of its stdin
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # the Python worker daemon exits once the JVM has gone
    deadline = time.monotonic() + 15
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if _alive(p)]
        time.sleep(0.05)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    """Running, as opposed to gone or a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def tree_pids(root: int = None) -> list:
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live process tree (this driver, the
    JVM, the Python workers), including its reaped children."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_s() -> float:
    """User + system CPU seconds of the JVM's JIT compiler threads."""
    total = 0
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def host_record() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": MASTER,
        "driver_heap": DRIVER_HEAP,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


def canary():
    """``bench.canary_mb_s`` from the repository's frozen bench driver:
    fresh-page touch bandwidth, the throttle evidence recorded per lap."""
    import bench
    return bench.canary_mb_s()
