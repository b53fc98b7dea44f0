"""Where a corpus pass's or a daily date's CPU goes inside the JVM.

Corpus mode (the default) runs the ``corpus_prep`` queries
(``perfbench.metrics.CORPUS_QUERIES``) on one Spark session for several
passes, each query written whole into the ``noop`` sink like the benchmark
does. Daily mode (``--daily N``) runs ingestion dates 0 to N-1 of the
``daily_etl`` feed (``perfbench.gen.PetsFeed``, same sizes and seed) through
``build_daily_pipeline(...).run()`` on a temporary warehouse, one
``run()`` per date, each followed by a dashboard refresh that reads the
10 gold views (``perfbench.metrics.GOLD_VIEWS``) whole, as the benchmark's
dashboard does. For every query, date or refresh it prints the wall time
and the CPU seconds, the CPU split by JVM thread kind as read from
``/proc/<jvm>/task/*/stat``:

- ``exec``: executor task threads (the query's own work);
- ``c1``, ``c2``: HotSpot's C1 and C2 JIT compiler threads;
- ``gc``: garbage collector and VM threads;
- ``driver``: Py4J server threads and the JVM's main thread (plan
  construction and analysis driven from Python);
- ``other``: every other live thread (schedulers, shuffle, RPC), plus CPU
  of threads that ended during the query (``/proc`` forgets them);
- ``python``: this process and the JVM's Python workers.

and the Py4J round trips from Python into the JVM (:class:`Py4JCounter`):

- ``py4j``: calls made by the program (every PySpark API call, plan
  construction, conf reads, actions);
- ``rel``: releases, sent by Py4J's finalizer thread when Python drops a
  reference to a JVM object. They are sent asynchronously, so a release
  may be booked to the query or date after the one that dropped it;

and the Spark jobs it ran (``jobs``), and the milliseconds spent
compiling:

- ``jit_ms``: HotSpot's JIT, C1 and C2 together
  (``CompilationMXBean.getTotalCompilationTime``);
- ``jan_ms``: Janino, compiling Spark's generated classes (the sum of
  Spark's ``CodegenMetrics`` compilation times).

It also prints the Janino compiles (Spark's ``CodegenMetrics``
compilation count) of each corpus pass, or of each date: a corpus pass
that recompiles classes it compiled in the previous one has outgrown the
codegen cache (``spark.sql.codegen.cache.maxEntries``).

Usage::

    python scripts/jvm_cpu_split.py [--passes 4] [--sf-dir DIR] [query ...]
    python scripts/jvm_cpu_split.py --daily 8 [--seed 1]

Corpus pass 1 warms up (the JIT, the codegen cache); the table covers the
later passes. In daily mode date 0 creates the tables and loads the first
(larger) drop, date 1 is the feed's empty date and date 2 the first
ordinary one; the median row covers dates 3 on, so ``--daily`` needs at
least 4. Linux only. Run it on an otherwise idle machine: other work
stretches the wall times and slows the JIT and GC threads.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

KINDS = ("exec", "c1", "c2", "gc", "driver", "other", "python")
COUNTS = ("py4j", "rel", "jobs", "janino", "jit_ms", "jan_ms")
FIRST_STEADY_DATE = 3
#: Samples Spark's codegen compile-time histogram keeps (Dropwizard's
#: default reservoir size).
JANINO_SAMPLES = 1028


def thread_kind(comm: str) -> str:
    """JVM thread kind from its (15-character) Linux thread name."""
    if comm.startswith("Executor task"):
        return "exec"
    if comm.startswith("C1 Compiler"):
        return "c1"
    if comm.startswith("C2 Compiler"):
        return "c2"
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


class Py4JCounter:
    """Counts the Py4J round trips from this process into ``spark``'s JVM
    while active, by wrapping its gateway client's ``send_command``:
    ``calls`` made by the program, and ``releases`` sent by Py4J's
    finalizer thread for JVM objects Python no longer references.

    Usage: ``with Py4JCounter(spark) as n: ...``, then ``n.calls``."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.releases = 0
        self._lock = threading.Lock()

    def __enter__(self) -> "Py4JCounter":
        from py4j.clientserver import FinalizerWorker

        self._send = send = self.client.send_command

        def counted(*args, **kwargs):
            released = isinstance(threading.current_thread(), FinalizerWorker)
            with self._lock:
                if released:
                    self.releases += 1
                else:
                    self.calls += 1
            return send(*args, **kwargs)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        self.client.send_command = self._send


def compiles(spark) -> int:
    """Janino compilations in this JVM so far."""
    return int(_janino(spark).getCount())


def compile_ms(spark) -> tuple[int, int]:
    """(HotSpot JIT, Janino) compile milliseconds in this JVM so far.

    Janino's is the sum of Spark's compile-time histogram, whose reservoir
    keeps its first ``JANINO_SAMPLES`` samples whole; past that the sum is
    only a sample's (:func:`main` says so)."""
    jvm = spark.sparkContext._jvm
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    values = _janino(spark).getSnapshot().getValues()
    return (int(jit.getTotalCompilationTime()),
            int(jvm.java.util.Arrays.stream(values).sum()))


def _janino(spark):
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME()


def measure(spark, jvm_pid: int, fn) -> dict[str, float]:
    """Run ``fn()`` and return what it cost: wall, CPU by thread kind (see
    :func:`delta`), Py4J round trips, Spark jobs, Janino compiles and the
    JIT's and Janino's compile milliseconds."""
    sc = spark.sparkContext
    group = f"jvm_cpu_split-{time.monotonic_ns()}"
    c0, ms0 = compiles(spark), compile_ms(spark)
    sc.setJobGroup(group, group)
    try:
        before, t0 = sample(jvm_pid), time.perf_counter()
        with Py4JCounter(spark) as n:
            fn()
        d = delta(sample(jvm_pid), before)
        d["wall"] = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    d["py4j"], d["rel"] = n.calls, n.releases
    d["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    d["janino"] = compiles(spark) - c0
    d["jit_ms"], d["jan_ms"] = (
        b - a for a, b in zip(ms0, compile_ms(spark)))
    return d


def print_row(label: str, d: dict[str, float], cols: tuple[str, ...]) -> None:
    print(f"{label:<26}" + "".join(
        f"{d[c]:>8.0f}" if c in COUNTS else f"{d[c]:>8.2f}"
        for c in cols))


def corpus(spark, jvm_pid: int, args) -> None:
    from certified_dogs_and_cats_spark.cache import release_cached
    from certified_dogs_and_cats_spark.queries import QUERIES

    def run(q: str) -> None:
        QUERIES[q](spark, args.sf_dir).write.format("noop").mode(
            "overwrite").save()
        release_cached()

    split: dict[str, list[dict[str, float]]] = {q: [] for q in args.queries}
    per_pass = []
    for p in range(args.passes):
        c0 = compiles(spark)
        for q in args.queries:
            d = measure(spark, jvm_pid, lambda: run(q))
            if p:
                split[q].append(d)
        per_pass.append(compiles(spark) - c0)

    print(f"# {args.sf_dir}: per pass, median of passes 2-{args.passes}")
    cols = ("wall", "total") + KINDS + COUNTS
    print(f"{'query':<26}" + "".join(f"{c:>8}" for c in cols))
    sums = dict.fromkeys(cols, 0.0)
    for q in args.queries:
        med = {c: statistics.median(d[c] for d in split[q]) for c in cols}
        for c in cols:
            sums[c] += med[c]
        print_row(q, med, cols)
    print_row("(sum)", sums, cols)
    print("janino compiles per pass: " + ", ".join(map(str, per_pass)))


def daily(spark, jvm_pid: int, args) -> None:
    from datetime import datetime, time as dtime

    from perfbench.etl import FIRST_ROWS, ROWS_PER_DAY
    from perfbench.gen import PetsFeed, normalize_key, write_drop
    from perfbench.metrics import GOLD_VIEWS

    from certified_dogs_and_cats_spark.pipeline import (
        Catalog, build_daily_pipeline,
    )
    from certified_dogs_and_cats_spark.pipeline.refdata import seed_rows

    root = tempfile.mkdtemp(prefix="jvm_cpu_split_")
    try:
        raw = os.path.join(root, "raw", "licensed_pets")
        catalog = Catalog(spark, os.path.join(root, "warehouse"))
        keys = {normalize_key(v) for v, _ in seed_rows()}
        feed = PetsFeed(args.seed, ROWS_PER_DAY, keys, first_rows=FIRST_ROWS)
        def dashboard() -> None:
            for v in GOLD_VIEWS:
                spark.table(f"pets_gold_{v}").collect()

        dates, reads = [], []
        for i in range(args.daily):
            drop = feed.drop(i)
            write_drop(raw, drop)
            pipe = build_daily_pipeline(
                catalog, raw, clock=datetime.combine(drop.day, dtime(6)))
            label = f"{i} {drop.day}"
            dates.append((label, measure(
                spark, jvm_pid, lambda: pipe.run(ingestion_date=drop.day))))
            reads.append((label, measure(spark, jvm_pid, dashboard)))
    finally:
        shutil.rmtree(root, ignore_errors=True)

    cols = ("wall", "total") + KINDS + COUNTS
    for title, rows in (("one run() per date", dates),
                        (f"dashboard refresh, {len(GOLD_VIEWS)} views read"
                         " whole, after each date's run()", reads)):
        print(f"# daily_etl feed, seed {args.seed}: {title}")
        print(f"{'date':<26}" + "".join(f"{c:>8}" for c in cols))
        for label, d in rows:
            print_row(label, d, cols)
        steady = [d for _, d in rows[FIRST_STEADY_DATE:]]
        print_row(f"(median, dates {FIRST_STEADY_DATE}+)",
                  {c: statistics.median(d[c] for d in steady) for c in cols},
                  cols)


def main(argv: list[str] | None = None) -> int:
    from perfbench.metrics import CORPUS_QUERIES

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--passes", type=int, default=4)
    ap.add_argument(
        "--sf-dir", default=os.path.join(REPO, "perfbench", "data", "sf0.1")
    )
    ap.add_argument("--daily", type=int, metavar="N",
                    help="run daily dates 0..N-1 instead of the corpus")
    ap.add_argument("--seed", type=int, default=1,
                    help="daily feed seed (with --daily)")
    ap.add_argument("queries", nargs="*", default=list(CORPUS_QUERIES))
    args = ap.parse_args(argv)
    if args.daily is not None and args.daily <= FIRST_STEADY_DATE:
        ap.error(f"--daily must be at least {FIRST_STEADY_DATE + 1}")
    if args.daily is None and args.passes < 2:
        ap.error("--passes must be at least 2 (pass 1 only warms up)")

    from certified_dogs_and_cats_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("jvm_cpu_split", cpus=cpus)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    print(f"# {cpus} CPUs, Spark {spark.version}; seconds, except the "
          "counts (py4j, rel, jobs, janino) and milliseconds (jit_ms, "
          "jan_ms)")
    try:
        (daily if args.daily is not None else corpus)(spark, jvm_pid, args)
        if compiles(spark) > JANINO_SAMPLES:
            print(f"# more than {JANINO_SAMPLES} Janino compiles: jan_ms "
                  "sums a sample of them, not all")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
