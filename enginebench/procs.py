"""Process-tree memory and teardown, read from ``/proc``.

The tree is this process, the Spark driver JVM it launches and the
Python workers the JVM forks. Peak memory is the kernel's per-process
resident high-water mark (``VmHWM``), reset at the start of the measured
loop, so no sampling thread is needed and no short peak is missed.
"""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def reset_peaks() -> None:
    for pid in tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the process ended in between


def peak_mb() -> dict[str, float]:
    """Resident high-water mark since ``reset_peaks``, in MB, split into
    the JVM and the Python processes (driver and workers)."""
    out = {"jvm": 0.0, "python": 0.0}
    for pid in tree():
        try:
            kind = "jvm" if _comm(pid) == "java" else "python"
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[kind] += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    descendant process has ended (killing what outlives ``timeout``)."""
    pids = [p for p in tree() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)
