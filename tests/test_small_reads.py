"""Small committed tables read as one partition: a never-written table is an
empty local relation, every gold view and parameterised dashboard read runs
one Spark job, and the bound is the bytes Spark would not split for
parallelism: ``spark.sql.files.openCostInBytes`` on more than one core,
capped by ``spark.sql.files.maxPartitionBytes``."""

from __future__ import annotations

import os
from datetime import date, datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from certified_dogs_and_cats_spark.pipeline import DdlSession, build_daily_pipeline
# The dashboard's parameterised reads: one FSA's top breeds, one breed's stats.
from perfbench.etl import BREED_QUERY, FSA_QUERY

from conftest import CLOCK1, CLOCK2, D1, D2, DROP1, DROP2, jobs_in, write_drop

D3 = date(2026, 1, 3)
CLOCK3 = datetime(2026, 1, 3, 10, 0, 0)
DROP3 = [
    (9, 2025, "M9J", "dog", "poodle"),
    (10, 2024, "M1A", "CAT", "TABBY"),
    (11, 2025, "M1A", "DOG", "BEAGLE"),
]

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_never_written_table_is_an_empty_local_relation(spark, catalog):
    spec = catalog.register("t.never", SCHEMA)
    df = catalog.table("t.never")
    plan = _plan(df)
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan
    assert df.schema == spec.schema
    assert df.collect() == []


def test_every_dashboard_read_runs_one_job(spark, catalog, raw_root):
    for day, clock, rows in ((D1, CLOCK1, DROP1), (D2, CLOCK2, DROP2),
                             (D3, CLOCK3, DROP3)):
        write_drop(raw_root, day, rows)
        runs = build_daily_pipeline(catalog, raw_root, clock=clock).run(
            ingestion_date=day)
        assert {r.state for r in runs.values()} == {"succeeded"}
        assert runs["bronze"].result.status == "loaded"

    from certified_dogs_and_cats_spark.pipeline.analytics import build_views

    views = sorted(build_views(catalog))
    assert len(views) == 10
    for v in views:
        rows, jobs = jobs_in(
            spark, f"read-{v}", spark.table(f"pets_gold_{v}").collect)
        assert rows, v
        assert jobs == 1, (v, jobs)
    reads = [
        (FSA_QUERY, {"y": 2024, "t": "DOG", "f": "M1A"}),
        (BREED_QUERY, {"b": "POODLE"}),
    ]
    for query, args in reads:
        rows, jobs = jobs_in(
            spark, f"param-{args}", spark.sql(query, args=args).collect)
        assert rows, args
        assert jobs == 1, (args, jobs)

    health = spark.table("pets_gold_v_bronze_health")
    assert health.schema == T.StructType(
        [
            T.StructField("row_cnt", T.LongType(), False),
            T.StructField("distinct_ids", T.LongType(), False),
            T.StructField("n_years", T.LongType(), False),
            T.StructField("invalid_fsa_cnt", T.LongType(), True),
            T.StructField("max_ingestion_ts", T.TimestampType(), True),
        ]
    )
    row = health.collect()[0]
    assert (row["row_cnt"], row["distinct_ids"], row["n_years"]) == (11, 11, 2)


@pytest.fixture
def spark_conf(spark):
    """Set runtime Spark confs for one test, restoring them after."""
    old = {}

    def set_conf(key, value):
        old.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, str(value))

    yield set_conf
    for key, value in old.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def _small_table(spark, catalog, name, partition_by=()):
    """Three 100-row appends, one file each; returns the data bytes."""
    schema = SCHEMA
    if partition_by:
        schema = T.StructType([*SCHEMA.fields, T.StructField("p", T.StringType())])
    catalog.register(name, schema, partition_by=partition_by)
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100, numPartitions=1).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("v")
        )
        if partition_by:
            df = df.withColumn("p", F.lit("a"))
        catalog.append(name, df)
    path = catalog.tables[name].path
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_one_partition_bound_is_max_partition_bytes(spark, catalog, spark_conf):
    nbytes = _small_table(spark, catalog, "t.small")
    ddl = DdlSession(catalog)
    # Each read names the same three files, so the same bound splits them.
    reads = {
        "table": lambda: catalog.table("t.small"),
        "version": lambda: ddl.execute(
            "SELECT * FROM t.small VERSION AS OF 3;")[0],
        "changes": lambda: catalog.changes("t.small", 0).drop(
            "_change_type", "_commit_version"),
    }

    spark_conf("spark.sql.files.maxPartitionBytes", nbytes - 1)
    over = {name: read() for name, read in reads.items()}
    spark_conf("spark.sql.files.maxPartitionBytes", nbytes)
    under = {name: read() for name, read in reads.items()}
    for name in reads:
        assert over[name].rdd.getNumPartitions() > 1, name
        assert "Coalesce" not in _plan(over[name]), name
        assert under[name].rdd.getNumPartitions() == 1, name
        assert _rows(over[name]) == _rows(under[name]), name
    assert len(_rows(under["table"])) == 300


def test_bytes_past_the_open_cost_keep_the_parallel_scan(
    spark, catalog, spark_conf
):
    """Under ``maxPartitionBytes`` but past ``openCostInBytes``, Spark would
    split the bytes across cores, so the read keeps its parallel scan; on
    one core (``minPartitionNum`` 1) it would not, so the read is one
    partition."""
    nbytes = _small_table(spark, catalog, "t.mid")
    spark_conf("spark.sql.files.openCostInBytes", nbytes - 1)
    over = catalog.table("t.mid")
    assert over.rdd.getNumPartitions() > 1
    assert "Coalesce" not in _plan(over)
    spark_conf("spark.sql.files.minPartitionNum", 1)
    one_core = catalog.table("t.mid")
    assert one_core.rdd.getNumPartitions() == 1
    assert _rows(over) == _rows(one_core)
    assert len(_rows(over)) == 300


def _live_files(catalog, name):
    return catalog._load_manifest(name)[-1]["files"]


def test_compaction_over_a_one_partition_read_keeps_its_file_count(
    spark, catalog
):
    """OPTIMIZE's ``coalesce(n)`` replaces the read's ``coalesce(1)``, so a
    small table still compacts into ``n`` files, with or without WHERE."""
    _small_table(spark, catalog, "t.flat")
    assert catalog.table("t.flat").rdd.getNumPartitions() == 1
    catalog.compact("t.flat", target_files_per_partition=2)
    assert len(_live_files(catalog, "t.flat")) == 2
    assert len(_rows(catalog.table("t.flat"))) == 300

    _small_table(spark, catalog, "t.parts", partition_by=("p",))
    assert catalog.table("t.parts").rdd.getNumPartitions() == 1
    catalog.compact("t.parts", where="p = 'a'", target_files_per_partition=2)
    files = _live_files(catalog, "t.parts")
    assert len(files) == 2, files
    assert all(f.startswith("p=a/") for f in files), files
    assert len(_rows(catalog.table("t.parts"))) == 300
