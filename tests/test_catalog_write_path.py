"""The catalog's daily write and read path: reads of committed files start
no listing job, a partitioned append lands one file per partition value,
and constraints are enforced inside the write with the same error as the
counting check."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from certified_dogs_and_cats_spark.pipeline.catalog import ConstraintViolation

from conftest import jobs_in

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("p", T.StringType(), True),
    ]
)


def _data_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        if "_meta" not in d
        for f in fs
        if f.endswith(".parquet")
    ]


def test_read_of_many_committed_files_starts_no_job(spark, catalog):
    """More than 32 committed files (Spark's default listing threshold)
    are read from the commit log's list without a file-listing job."""
    catalog.register("t.wide", SCHEMA)
    rows = spark.range(0, 400, numPartitions=40).select(
        F.col("id").alias("k"), F.col("id").alias("v"), F.lit("a").alias("p")
    )
    catalog.append("t.wide", rows)
    assert len(_data_files(catalog.tables["t.wide"].path)) > 32

    df, jobs = jobs_in(spark, "read-wide", lambda: catalog.table("t.wide"))
    assert jobs == 0
    assert df.count() == 400


def test_partitioned_append_writes_one_file_per_partition_value(
    spark, catalog
):
    catalog.register("t.parts", SCHEMA, partition_by=("p",))
    rows = spark.range(0, 300, numPartitions=8).select(
        F.col("id").alias("k"),
        F.col("id").alias("v"),
        F.concat(F.lit("p"), (F.col("id") % 3).cast("string")).alias("p"),
    )
    catalog.append("t.parts", rows)
    files = _data_files(catalog.tables["t.parts"].path)
    assert sorted(os.path.basename(os.path.dirname(f)) for f in files) == [
        "p=p0", "p=p1", "p=p2",
    ]
    assert catalog.history("t.parts")[-1]["n_added"] == 3
    assert catalog.table("t.parts").count() == 300


def test_violating_append_raises_counts_and_leaves_nothing(spark, catalog):
    """A NOT NULL and a CHECK violation raise the counting check's exact
    ConstraintViolation; no version is committed and no staging directory
    or data file is left behind."""
    catalog.register("t.checked", SCHEMA, partition_by=("p",))
    catalog.append(
        "t.checked", spark.createDataFrame([(1, 5, "a"), (2, 6, "b")], SCHEMA)
    )
    catalog.add_constraint("t.checked", "positive", "v > 0")
    spec = catalog.tables["t.checked"]
    version = catalog.current_version("t.checked")
    files = sorted(_data_files(spec.path))

    loose = T.StructType([T.StructField(f.name, f.dataType, True) for f in SCHEMA])
    bad = spark.createDataFrame(
        [(3, 1, "a"), (None, 2, "a"), (None, -1, "b"), (4, 0, "b"),
         (5, None, "c")],
        loose,
    )
    with pytest.raises(ConstraintViolation) as err:
        catalog.append("t.checked", bad)
    assert str(err.value) == (
        "t.checked: CHECK constraint violation(s): "
        "positive ('v > 0'): 3 row(s), "
        "__not_null_k ('k IS NOT NULL'): 2 row(s)"
    )
    assert catalog.current_version("t.checked") == version
    assert sorted(_data_files(spec.path)) == files
    parent = os.path.dirname(spec.path)
    assert not [d for d in os.listdir(parent) if "__append_" in d]
    assert catalog.table("t.checked").count() == 2


def test_clean_append_to_checked_table_is_one_job(spark, catalog):
    """The checks ride in the write: a clean append runs no counting
    aggregate, only the write job itself."""
    catalog.register("t.ok", SCHEMA)
    catalog.add_constraint("t.ok", "positive", "v > 0")
    rows = spark.createDataFrame([(1, 5, "a"), (2, 6, "b")], SCHEMA)
    _, jobs = jobs_in(spark, "clean-append", lambda: catalog.append("t.ok", rows))
    assert jobs == 1
    assert sorted(r.k for r in catalog.table("t.ok").collect()) == [1, 2]


def test_wider_frame_with_undeclared_first_column_is_checked(spark, catalog):
    """The check rides in a declared column, so it survives the projection
    that drops a wider frame's undeclared columns."""
    catalog.register("t.wider", SCHEMA)
    catalog.append("t.wider", spark.createDataFrame([(1, 5, "a")], SCHEMA))
    catalog.add_constraint("t.wider", "positive", "v > 0")
    version = catalog.current_version("t.wider")
    bad = spark.createDataFrame(
        [("x", 2, -1, "a"), ("y", None, 3, "a"), ("z", 4, 4, "b")],
        "extra string, k long, v long, p string",
    )
    with pytest.raises(ConstraintViolation) as err:
        catalog.append("t.wider", bad)
    assert str(err.value) == (
        "t.wider: CHECK constraint violation(s): "
        "positive ('v > 0'): 1 row(s), "
        "__not_null_k ('k IS NOT NULL'): 1 row(s)"
    )
    assert catalog.current_version("t.wider") == version
    assert [r.k for r in catalog.table("t.wider").collect()] == [1]


def _snapshot(path: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path)
        for f in fs
    )


@pytest.mark.parametrize(
    "writer", ["update", "replace_where", "overwrite", "overwrite_partitions"]
)
def test_every_writer_checks_in_the_write_and_leaves_nothing(
    spark, catalog, writer
):
    """update_where, replace_where, overwrite and overwrite_partitions
    share append's in-write check: the same counted ConstraintViolation,
    no new version, and no data file, deletion-vector sidecar or staging
    directory left."""
    catalog.register("t.rw", SCHEMA, partition_by=("p",))
    catalog.append(
        "t.rw", spark.createDataFrame([(1, 5, "a"), (2, 6, "b")], SCHEMA)
    )
    catalog.add_constraint("t.rw", "positive", "v > 0")
    spec = catalog.tables["t.rw"]
    parent = os.path.dirname(spec.path)
    version = catalog.current_version("t.rw")
    before = _snapshot(catalog.root)
    dirs = sorted(os.listdir(parent))

    with pytest.raises(ConstraintViolation) as err:
        if writer == "update":
            catalog.update_where("t.rw", {"v": "v - 6"}, "k >= 1")
        elif writer == "replace_where":
            catalog.replace_where(
                "t.rw", "p = 'a'",
                spark.createDataFrame([(1, -5, "a"), (3, 0, "a")], SCHEMA),
            )
        elif writer == "overwrite":
            catalog.overwrite(
                "t.rw",
                spark.createDataFrame([(1, -5, "a"), (3, 0, "b")], SCHEMA),
            )
        else:
            catalog.overwrite_partitions(
                "t.rw",
                spark.createDataFrame([(1, -5, "a"), (3, 0, "b")], SCHEMA),
            )
    assert str(err.value) == (
        "t.rw: CHECK constraint violation(s): positive ('v > 0'): 2 row(s)"
    )
    assert catalog.current_version("t.rw") == version
    assert _snapshot(catalog.root) == before
    assert sorted(os.listdir(parent)) == dirs
    assert sorted((r.k, r.v) for r in catalog.table("t.rw").collect()) == [
        (1, 5), (2, 6),
    ]
