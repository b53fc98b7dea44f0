"""What both workloads share: the Spark session's life, the failure tally,
CPU time, peak memory and the environment fingerprint."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

from .trace import Tracer


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant — the JVM and its Python workers — including what they
    reaped from children that ended.

    The workloads report CPU time rather than wall time because a shared
    virtual machine loses its vCPUs to other tenants (steal time) for
    minutes at a time: wall times then stretch by up to 2x from one run to
    the next, while the CPU time the program itself uses barely moves.
    """
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # Fields after the parenthesised command name: state, ppid,
                # ..., utime, stime, cutime, cstime at offsets 11-14.
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        stats[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats[pid][1] if pid in stats else 0
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Tally:
    """Operations and output checks attempted, and those that failed."""

    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)

    def op(self, what: str, fn, *args, **kwargs):
        """Run one timed operation: returns (result, wall seconds, CPU
        seconds); a raised error counts as a failed operation and yields
        None as the result."""
        self.attempted += 1
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — the run must go on and report it
            self.failed += 1
            print(f"OP FAILED: {what}\n{traceback.format_exc()}", file=sys.stderr, flush=True)
            out = None
        return out, time.perf_counter() - t0, tree_cpu_s() - cpu0


@dataclass
class Outcome:
    """What a workload hands back: set-up time, the timed samples (wall and
    CPU), the per-layer metrics of a traced run and context for the text
    report."""

    setup_s: float
    pass_s: list[float]
    pass_cpu_s: list[float]
    query_ms: list[float]
    query_cpu_ms: list[float]
    layers: dict[str, float]
    report: dict


@dataclass
class Session:
    spark: object
    get_spark_s: float

    @classmethod
    def start(cls, tracer: Tracer) -> "Session":
        from certified_dogs_and_cats_spark.session import get_spark

        with tracer.span("session.get_spark"):
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cpus=nproc())
            dt = time.perf_counter() - t0
        tracer.attach(spark.sparkContext)
        return cls(spark, dt)

    def _jvm_proc(self) -> subprocess.Popen | None:
        return getattr(self.spark.sparkContext._gateway, "proc", None)

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus the JVM it launched."""
        total = _vm_hwm_kb("self")
        proc = self._jvm_proc()
        if proc is not None:
            total += _vm_hwm_kb(str(proc.pid))
        return total / 1024.0

    def fingerprint(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": nproc(),
            "master": sc.master,
            "spark": self.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "machine": platform.machine(),
        }

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        gateway = self.spark.sparkContext._gateway
        proc = self._jvm_proc()
        self.spark.sparkContext.setLogLevel("OFF")
        self.spark.stop()
        # Disconnect Py4J first: Python objects still holding JVM references
        # would otherwise message the dead JVM when collected at exit.
        gateway.shutdown()
        if proc is None:
            return
        proc.stdin.close()  # the launcher's JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _vm_hwm_kb(pid: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0
