"""Where a corpus pass's CPU goes inside the JVM, query by query.

Runs the ``corpus_prep`` queries (``perfbench.metrics.CORPUS_QUERIES``) on
one Spark session for several passes, each query written whole into the
``noop`` sink like the benchmark does. For every query it prints the wall
time and the CPU seconds per pass, the CPU split by JVM thread kind as
read from ``/proc/<jvm>/task/*/stat``:

- ``exec``: executor task threads (the query's own work);
- ``jit``: the C1/C2 compiler threads (HotSpot JIT);
- ``gc``: garbage collector and VM threads;
- ``driver``: Py4J server threads and the JVM's main thread (plan
  construction and analysis driven from Python);
- ``other``: every other live thread (schedulers, shuffle, RPC), plus CPU
  of threads that ended during the query (``/proc`` forgets them);
- ``python``: this process and the JVM's Python workers.

It also prints the Janino compiles of each pass (Spark's
``CodegenMetrics`` compilation count): a pass that recompiles classes it
compiled in the previous one has outgrown the codegen cache
(``spark.sql.codegen.cache.maxEntries``).

Usage::

    python scripts/jvm_cpu_split.py [--passes 4] [--sf-dir DIR] [query ...]

Pass 1 warms up (the JIT, the codegen cache); the table covers the later
passes. Linux only. Run it on an otherwise idle machine: other work
stretches the wall times and slows the JIT and GC threads.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

KINDS = ("exec", "jit", "gc", "driver", "other", "python")


def thread_kind(comm: str) -> str:
    """JVM thread kind from its (15-character) Linux thread name."""
    if comm.startswith("Executor task"):
        return "exec"
    if comm.startswith(("C1 Compiler", "C2 Compiler")):
        return "jit"
    if comm.startswith(("GC Thread", "G1 ", "VM Thread", "VM Periodic")):
        return "gc"
    if comm == "java" or comm.startswith(("Thread-", "py4j")):
        return "driver"
    return "other"


def _ticks(stat_line: str) -> int:
    # utime + stime: fields 14-15, counted after the parenthesised name.
    fields = stat_line.rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def jvm_threads(pid: int) -> dict[str, tuple[str, float]]:
    """CPU seconds so far of each live JVM thread: ``{tid: (kind, s)}``."""
    hz = os.sysconf("SC_CLK_TCK")
    out = {}
    task_dir = f"/proc/{pid}/task"
    for tid in os.listdir(task_dir):
        comm = _read(f"{task_dir}/{tid}/comm")
        stat = _read(f"{task_dir}/{tid}/stat")
        if comm is not None and stat is not None:
            out[tid] = (thread_kind(comm.strip()), _ticks(stat) / hz)
    return out


def sample(jvm_pid: int) -> tuple[dict, float, float]:
    """(per-thread CPU, JVM process CPU, CPU of this process and its
    Python workers) so far, in seconds. The process figure also counts
    JVM threads that have ended."""
    from perfbench.harness import tree_cpu_s

    threads = jvm_threads(jvm_pid)
    jvm = _ticks(_read(f"/proc/{jvm_pid}/stat")) / os.sysconf("SC_CLK_TCK")
    return threads, jvm, tree_cpu_s() - jvm


def delta(after: tuple, before: tuple) -> dict[str, float]:
    """CPU seconds between two samples by thread kind, and in total."""
    d = dict.fromkeys(KINDS, 0.0)
    for tid, (kind, cpu) in after[0].items():
        d[kind] += cpu - before[0].get(tid, (kind, 0.0))[1]
    # Threads that ended between the samples (the JIT retires idle compiler
    # threads, Spark its idle task threads) show only in the process
    # total: book what they used as "other".
    jvm = after[1] - before[1]
    d["other"] += jvm - sum(d[k] for k in KINDS[:-1])
    d["python"] = after[2] - before[2]
    d["total"] = jvm + d["python"]
    return d


def compiles(spark) -> int:
    """Janino compilations in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return int(metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def main(argv: list[str] | None = None) -> int:
    from perfbench.metrics import CORPUS_QUERIES

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--passes", type=int, default=4)
    ap.add_argument(
        "--sf-dir", default=os.path.join(REPO, "perfbench", "data", "sf0.1")
    )
    ap.add_argument("queries", nargs="*", default=list(CORPUS_QUERIES))
    args = ap.parse_args(argv)
    if args.passes < 2:
        ap.error("--passes must be at least 2 (pass 1 only warms up)")

    from certified_dogs_and_cats_spark.cache import release_cached
    from certified_dogs_and_cats_spark.queries import QUERIES
    from certified_dogs_and_cats_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("jvm_cpu_split", cpus=cpus)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    version = spark.version
    split: dict[str, list[dict[str, float]]] = {q: [] for q in args.queries}
    per_pass = []
    try:
        for p in range(args.passes):
            c0 = compiles(spark)
            for q in args.queries:
                before, t0 = sample(jvm_pid), time.perf_counter()
                df = QUERIES[q](spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                release_cached()
                if p:
                    d = delta(sample(jvm_pid), before)
                    d["wall"] = time.perf_counter() - t0
                    split[q].append(d)
            per_pass.append(compiles(spark) - c0)
    finally:
        spark.stop()

    print(f"# {cpus} CPUs, Spark {version}, {args.sf_dir}: seconds per "
          f"pass, median of passes 2-{args.passes}")
    cols = ("wall", "total") + KINDS
    print(f"{'query':<26}" + "".join(f"{c:>8}" for c in cols))
    sums = dict.fromkeys(cols, 0.0)
    for q in args.queries:
        med = {c: statistics.median(d[c] for d in split[q]) for c in cols}
        for c in cols:
            sums[c] += med[c]
        print(f"{q:<26}" + "".join(f"{med[c]:>8.2f}" for c in cols))
    print(f"{'(sum)':<26}" + "".join(f"{sums[c]:>8.2f}" for c in cols))
    print("janino compiles per pass: " + ", ".join(map(str, per_pass)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
