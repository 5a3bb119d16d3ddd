"""Session start-up, process memory and small statistics shared by
the workloads."""

from __future__ import annotations

import os
import statistics
import time

# below get_spark's 16g default: the JVM, four Python workers and the
# driver must share a 16 GB box
DRIVER_MEMORY = "4g"


class Ops:
    """Operations attempted and failed in one run. An operation is one
    ``run_round`` call, one query execution or one oracle check; an
    exception or an oracle mismatch is a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def fail(self, note: str) -> None:
        self.failed += 1
        self.notes.append(note)


def start_session(app_name: str):
    """``local[nproc]`` session through the engine's own ``get_spark``;
    returns ``(spark, seconds)``."""
    from meilisearchcrawler_spark.session import get_spark

    nproc = os.cpu_count() or 1
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{nproc}]",
                      shuffle_partitions=nproc,
                      app_name=app_name, driver_memory=DRIVER_MEMORY)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """Stop any live session, then close the gateway JVM's stdin pipe
    (its exit signal) and wait for the process to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts
    (Linux ``PR_SET_CHILD_SUBREAPER``): a descendant whose parent ends
    first, such as the launcher shell ``spark-submit`` leaves behind the
    JVM, is re-parented here instead of to init, so ``reap_children``
    can wait for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[1] == me:
                    out.append(int(pid))
        except (OSError, IndexError):
            continue
    return out


def reap_children(timeout: float = 60.0) -> None:
    """Stop multiprocessing's resource tracker (a spawn-context pool
    starts it and it would otherwise outlive this process), then wait
    until every child, own or adopted, has ended. Children still alive
    after ``timeout`` seconds are killed."""
    import signal
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def driver_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python driver process."""
    return _status_kb("self", "VmHWM") / 1024


def jvm_rss_mb() -> float:
    """Current resident set of the Spark JVM, the ``java`` child this
    process launched through the py4j gateway."""
    total = 0
    for pid in _children():
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm == "java":
            total += _status_kb(pid, "VmRSS")
    return total / 1024


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def summary(xs) -> str:
    """``median [q1, q3] n=`` of a sample, for the report lines."""
    xs = sorted(xs)
    if len(xs) >= 4:
        q = statistics.quantiles(xs, n=4)
        return f"median {statistics.median(xs):.4f} [{q[0]:.4f}, {q[2]:.4f}] n={len(xs)}"
    return f"median {median(xs):.4f} n={len(xs)} raw={[round(x, 4) for x in xs]}"
