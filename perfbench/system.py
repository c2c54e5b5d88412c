"""Host facts, memory high-water marks and process hygiene for one run."""

from __future__ import annotations

import os
import shutil
import signal
import time
from pathlib import Path


def cores() -> int:
    return len(os.sched_getaffinity(0))


def host_facts(work: Path) -> dict:
    import pyarrow
    import pyspark

    return {
        "cores": cores(),
        "free_disk_gb": round(shutil.disk_usage(work).free / 2**30, 2),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            key, _, val = line.partition(":")
            out[key] = val.strip()
    except OSError:
        pass
    return out


def descendants(root: int) -> list[int]:
    """All live processes below ``root`` (Spark's Python daemon and workers
    are children of the JVM)."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            ppid = _status(int(d.name)).get("PPid")
            if ppid and ppid.isdigit():
                children.setdefault(int(ppid), []).append(int(d.name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _kb(pid: int, key: str) -> int:
    val = _status(pid).get(key, "0 kB").split()[0]
    return int(val) if val.isdigit() else 0


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds the processes ``pids`` have used so far."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / tick


def host_steal_s() -> float:
    """Steal time so far: CPU seconds the hypervisor withheld from the
    virtual CPUs (the ``steal`` column of ``/proc/stat``)."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def reset_peak_rss() -> float:
    """Reset this process' VmHWM to its current RSS and return that RSS in
    MB: what the benchmark itself holds (inputs, oracle) before the engine
    starts."""
    Path("/proc/self/clear_refs").write_text("5")
    return _kb(os.getpid(), "VmRSS") / 1024.0


def memory_parts(jvm_pid: int | None, baseline_mb: float, spark) -> dict:
    """The parts of the engine's memory, in MB: this process' VmHWM above
    ``baseline_mb``, the JVM's and its Python workers' VmHWM, and the JVM's
    heap in use after a full collection plus its non-heap memory in use."""
    workers = descendants(jvm_pid) if jvm_pid else []
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    return {
        "driver_growth": max(0.0, _kb(os.getpid(), "VmHWM") / 1024.0 - baseline_mb),
        "jvm_hwm": _kb(jvm_pid, "VmHWM") / 1024.0 if jvm_pid else 0.0,
        "workers_hwm": sum(_kb(w, "VmHWM") for w in workers) / 1024.0,
        "workers": len(workers),
        "jvm_heap_live": mx.getHeapMemoryUsage().getUsed() / 2**20,
        "jvm_nonheap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
    }


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


class Deadline(Exception):
    pass


def arm_deadline(seconds: int) -> None:
    """Raise :class:`Deadline` in the main thread after ``seconds``."""

    def fire(signum, frame):
        raise Deadline(f"run exceeded {seconds} s")

    signal.signal(signal.SIGALRM, fire)
    signal.alarm(seconds)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.poll() is None:
            proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    # the Python daemon and workers exit when the JVM's sockets close
    deadline = time.monotonic() + 10
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if _alive(p)]
        if workers:
            time.sleep(0.05)
    for pid in workers:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    # the next get_spark launches a fresh JVM instead of reusing this one
    from pyspark import SparkContext

    SparkContext._gateway = None
    SparkContext._jvm = None


def _alive(pid: int) -> bool:
    state = _status(pid).get("State", "Z")
    return not state.startswith(("Z", "X"))
