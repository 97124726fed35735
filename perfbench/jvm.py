"""The Spark JVM, measured and stopped from outside the program."""

from __future__ import annotations

import subprocess


def _jvm_pid() -> int | None:
    """The Spark JVM: the gateway process or the first ``java`` below it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    pids = [gw.proc.pid] if gw is not None else []
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    return p
            with open(f"/proc/{p}/task/{p}/children") as f:
                pids += [int(c) for c in f.read().split()]
        except OSError:
            continue
    return None


def peak_rss_mb() -> float:
    """VmHWM of the Spark JVM, in MiB."""
    pid = _jvm_pid()
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it (its Python workers exit
    with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    proc.stdin.close()  # the gateway server exits on end of input
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def heap_live_mb(spark) -> float:
    """JVM heap still in use after a full collection, in MiB: the state the
    session keeps alive (caches, checkpoints, anything leaked)."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return used / (1 << 20)
