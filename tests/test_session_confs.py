"""configure_for_queries must repair a DRIVER-OWNED session: the driver
hands over its own SparkSession (shuffle.partitions at the 200 default),
and stateful streaming fixes its state-store partition count at plan
time from that conf — 200 Python-worker state partitions per micro-batch
on a 32-core box (the round-9 driver bench showed 16.9 s vs 2.2 s for
streaming_running_totals from exactly this). Batch queries are rescued
by AQE coalescing; streaming is not, so the pin is load-bearing.

The rest pins what ``get_spark`` sets up: the codegen cache, the
DataFrame-origin capture, and the driver JVM's JIT options
(``session.JIT_OPTIONS``), which every start carries unless the user's
Spark conf dir decides the driver's options."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from certified_dogs_and_cats_spark.class_archive import archive_key
from certified_dogs_and_cats_spark.session import (
    JIT_OPTIONS,
    configure_for_queries,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pins_shuffle_partitions_on_foreign_session(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        configure_for_queries(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            spark.sparkContext.defaultParallelism
        )
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_explicit_shuffle_partitions_survive(spark):
    """A deliberately small explicit setting (the repo's own cpus=4
    test sessions) must NOT be stomped back up to the machine's core
    count — only the untouched 200 default is repaired."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        configure_for_queries(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_generated_classes_are_reused_after_many_other_plans(spark):
    """get_spark keeps more generated classes than Spark's default codegen
    cache (100): after 130 other distinct plans, re-running the first one
    compiles nothing. At the default size it recompiles."""
    compiles = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source
        .CodegenMetrics.METRIC_COMPILATION_TIME()
    )

    def run(i: int) -> None:
        # Integer literals are inlined into the generated code, so every
        # i is a distinct class.
        spark.range(4).selectExpr(f"id * {i + 2} + {i + 3} AS v").collect()

    run(0)
    for i in range(1, 131):
        run(i)
    before = compiles.getCount()
    run(0)
    assert compiles.getCount() - before == 0


def test_dataframe_origin_capture_is_off(spark):
    """get_spark turns off PySpark's DataFrame-origin capture: at Spark's
    default every DataFrame and Column API call makes several extra Py4J
    round trips to record its Python call site."""
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )


# One driver start in a fresh process (one JVM per process): one JSON line
# with the class-data archive's state and the driver JVM's input arguments.
CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from certified_dogs_and_cats_spark import class_archive
from certified_dogs_and_cats_spark.session import get_spark
spark = get_spark("jit-test", cpus=1, shuffle_partitions=1)
runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory
print(json.dumps({{
    "state": class_archive.state,
    "args": list(runtime.getRuntimeMXBean().getInputArguments()),
}}), flush=True)
"""


def _driver_args(spark) -> list[str]:
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return list(runtime.getRuntimeMXBean().getInputArguments())


def test_driver_jvm_runs_the_jit_policy(spark):
    """get_spark starts the driver JVM with ``JIT_OPTIONS``."""
    args = _driver_args(spark)
    assert JIT_OPTIONS.split()
    assert [o for o in JIT_OPTIONS.split() if o not in args] == [], args


@pytest.mark.parametrize("start", ["cache-unwritable", "user-conf-file"])
def test_plain_start_keeps_the_jit_policy_unless_the_user_conf_decides(
    start, tmp_path
):
    """A start without the class-data archive still carries the JIT
    options, except one that a real file in Spark's conf dir makes plain:
    that start keeps exactly the user's configuration."""
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    env = {
        **os.environ,
        "XDG_CACHE_HOME": str(blocker / "cache"),
        "SPARK_DRIVER_MEMORY": "512m",
    }
    if start == "user-conf-file":
        conf = tmp_path / "conf"
        conf.mkdir()
        (conf / "spark-defaults.conf").write_text("spark.jittest.marker 1\n")
        env["SPARK_CONF_DIR"] = str(conf)
    proc = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    r = json.loads(proc.stdout.strip().splitlines()[-1])
    assert r["state"].startswith("fallback")
    carried = [o for o in JIT_OPTIONS.split() if o in r["args"]]
    if start == "user-conf-file":
        assert carried == [], r["args"]
    else:
        assert carried == JIT_OPTIONS.split(), r["args"]


def test_jit_options_stay_out_of_the_archive_key(tmp_path):
    """The class-data archive's key ignores the JIT options, so starts
    with and without them share one archive instead of each deleting the
    other's."""
    java = tmp_path / "jdk"
    (java / "lib" / "server").mkdir(parents=True)
    (java / "release").write_text('JAVA_RUNTIME_VERSION="17.0.0+1"\n')
    (java / "lib" / "server" / "libjvm.so").write_bytes(b"x")
    (tmp_path / "spark" / "jars").mkdir(parents=True)
    (tmp_path / "spark" / "jars" / "a.jar").write_bytes(b"a")
    home = str(tmp_path / "spark")
    plain = archive_key(home, str(java), "-Xms1g -XX:-UsePerfData")
    assert archive_key(
        home, str(java), f"{JIT_OPTIONS} -Xms1g -XX:-UsePerfData"
    ) == plain
