"""configure_for_queries must repair a DRIVER-OWNED session: the driver
hands over its own SparkSession (shuffle.partitions at the 200 default),
and stateful streaming fixes its state-store partition count at plan
time from that conf — 200 Python-worker state partitions per micro-batch
on a 32-core box (the round-9 driver bench showed 16.9 s vs 2.2 s for
streaming_running_totals from exactly this). Batch queries are rescued
by AQE coalescing; streaming is not, so the pin is load-bearing."""

from __future__ import annotations

from certified_dogs_and_cats_spark.session import configure_for_queries


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
