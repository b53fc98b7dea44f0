"""SparkSession construction.

Local testing runs a single JVM (``local[N]``); the confs below are chosen to
also be sane on a real multi-executor cluster:

- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy —
  the 100 TB safety net for skewed keys and mis-estimated shuffles.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster AQE coalesces from a deliberately high initial number instead.
- Session timezone pinned to UTC so timestamp-derived columns (year/day
  truncation) are deterministic and oracle-comparable.
- Arrow enabled for any pandas interchange (extensions use Pandas UDFs).
- Driver-side file listing up to ``LISTING_THRESHOLD`` paths: catalog reads
  pass the committed file list from the table's log, so there is nothing
  to discover, and Spark's default (a one-task-per-file listing job once a
  read names more than 32 paths) would add a job to every read of a table
  whose history has grown past 32 files. The bound is deliberate: past it
  Spark's distributed listing returns, so a long history on object
  storage (one metadata call per path) is not listed serially on the
  driver. See ``LISTING_THRESHOLD`` for how it was sized.
- Generated classes kept across queries up to ``CODEGEN_CACHE_ENTRIES``:
  Spark's 100-entry codegen cache is smaller than one corpus pass, so
  every pass recompiled its classes with Janino and re-warmed them in the
  JIT. See ``CODEGEN_CACHE_ENTRIES`` for how it was sized.
- PySpark's DataFrame-origin capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). At Spark's
  default every DataFrame and Column API call first looks up the active
  session, reads ``spark.sql.stackTracesInDataFrameContext`` and sets and
  clears the JVM's ``PySparkCurrentOrigin``, each a Py4J round trip, and
  walks the Python stack (including a failing ``import IPython`` search).
  A daily date made about 5,600 round trips with it and about 2,700
  without (4 vCPU). What is lost: an error raised by an expression built
  through the Column API no longer names the Python lines that built it
  (the "DataFrame context"); its error class and message are unchanged.
- The driver JVM starts from a class-data-sharing archive
  (``class_archive``): HotSpot maps Spark's classes in already parsed
  and verified instead of loading them from the jars on every start. The
  first start records the classes it loads, and the archive is built when
  that process exits (about 40 s, once). It lives in
  ``$XDG_CACHE_HOME/certified_dogs_and_cats_spark/`` (else
  ``~/.cache/...``), takes about 160-200 MB, and is rebuilt when the JDK,
  the Spark jars or the heap-layout flags change. The start is plain, and
  the archive unused, while the conf dir holds a real file (one warning
  names it), while another process records, or when the cache dir cannot
  be written. Delete that directory to measure a cold start; the next
  start records again.
- The driver JVM starts with HotSpot's C2 compile thresholds raised
  (``JIT_OPTIONS``): a short-lived driver spent a third to a half of its
  CPU in the C2 compiler, on analyser, optimiser and planner methods that
  run too few times to pay for it. They stay in C1 code instead; hot methods
  still reach C2, a little later. The options reach the driver JVM only
  (in ``local[N]`` that is every executor thread too); executors on a
  real cluster keep HotSpot's defaults. A start that the user's conf dir
  makes plain keeps exactly that configuration, without them. See
  ``JIT_OPTIONS`` for how they were sized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import class_archive


#: ``spark.sql.sources.parallelPartitionDiscovery.threshold``: paths a read
#: may name (or subdirectories a directory may hold) before Spark lists
#: them with a distributed job. Sized to the daily pipeline's measured
#: history, not guessed at scale: the largest committed-file read of a
#: ``perfbench`` ``daily_etl`` run names 21 files, and on local disk
#: (4 vCPU) the driver lists 64/256/1024 paths in 59/79/166 ms where the
#: listing job takes 295/765/2,519 ms. 256 keeps that win with a twelve-fold
#: margin while capping the serial driver listing a remote store would pay.
LISTING_THRESHOLD = 256

#: ``spark.sql.codegen.cache.maxEntries``: generated classes the JVM keeps
#: compiled across queries (Spark's default is 100; the cache is JVM-wide
#: and sized once, when the first query is compiled). Sized from measured
#: distinct-class counts, 4 vCPU, seed 41, with an unbounded cache: a
#: ``perfbench`` ``corpus_prep`` run (set-up and four passes of its 10
#: queries) generates 155 distinct classes and ``daily_etl`` (set-up and
#: one date) 266. At the default size every corpus pass recompiled 139 of
#: its classes, and each recompiled class also starts cold in the JIT
#: again; at 2000 passes after the first compile none, and ``daily_etl``
#: compiles 266 classes instead of 494. 2000 holds both workloads in one
#: JVM with a 4.7-fold margin, while still bounding the metaspace a
#: long-running process with ever-new plans can pin.
CODEGEN_CACHE_ENTRIES = 2000

#: HotSpot options of the driver JVM: C2 (tier 4) compiles a method only
#: after four times HotSpot's default invocations and loop back-edges
#: (JDK 17 defaults 5000, 600, 15000 and 40000). A daily date runs for
#: seconds, and at the defaults the C2 threads took 30-40% of a warm
#: date's CPU and half of a dashboard refresh's
#: (``scripts/jvm_cpu_split.py``, 4 vCPU). In six dates C2 compiled about
#: 4,000 methods, 88% of them once: Catalyst's analyser, optimiser and
#: planner and the Scala and JDK collections under them, methods that run
#: a few thousand times while a plan is built and then stop mattering.
#: With the thresholds raised such lukewarm methods stay in C1's profiled
#: code (about 2,500 reach C2), and hot ones still reach C2. The
#: trade-off: that code stays a little slower, and a long-running process
#: reaches the same C2 code later. Sized by a sweep of the multiplier, one
#: interleaved run of each setting per seed, three seeds, 4 vCPU, median
#: ``perfbench`` ``pass_cpu_s``: ``daily_etl`` 7.01 s at the defaults, 6.44
#: at 2x, 4.99 at 4x and 4.77 at 8x; ``corpus_prep`` 26.5, 23.0 (4x) and
#: 23.8 (8x). Past 4x the gain flattens on one workload and turns on the
#: other. The four flags are one policy: C2's trigger is invocations past
#: the first threshold, or past the second with invocations plus
#: back-edges past the third; the fourth is the loop (OSR) trigger, and
#: leaving it at its default gave back a third of ``daily_etl``'s gain
#: (5.65 s). ``-XX:CompileThresholdScaling`` would also delay C1, and C1
#: alone (``-XX:TieredStopAtLevel=1``) is a measured dead end on the corpus
#: (ROADMAP). The class-data archive's key ignores these options.
JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400 "
    "-XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=160000"
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "certified_dogs_and_cats_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(LISTING_THRESHOLD),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Managed-table warehouse (bucketed tables) out of the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = class_archive.get_or_create(builder, JIT_OPTIONS)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_for_queries(spark: SparkSession) -> SparkSession:
    """Make a driver-provided session deterministic for oracle comparison.

    Only touches runtime-mutable confs (safe on an existing session).

    Documented trade-off (VERDICT r10/r11): ``shuffle.partitions`` is
    repaired only when it reads exactly ``'200'``. The conf API cannot
    distinguish an EXPLICIT user 200 from the untouched default, so a
    caller who deliberately wants 200 must pick a neighboring value
    (199/201) or re-set the conf after calling this; every repo-internal
    session passes an explicit non-200 value, so in practice the repair
    only ever fires on the driver's default session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Runtime-mutable and decisive for stateful streaming: the state-store
    # partition count is fixed at plan time from shuffle.partitions, so a
    # driver session left at the 200 default runs 200 Python-worker state
    # partitions per micro-batch on a 32-core box (batch queries are rescued
    # by AQE coalescing; streaming is not). Repair ONLY the untouched
    # default — an explicit setting (the repo's own test/script sessions
    # pass shuffle_partitions=4/8) is a deliberate choice and must survive.
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    return spark
