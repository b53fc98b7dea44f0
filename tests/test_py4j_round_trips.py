"""A catalog read or append costs a fixed number of Py4J round trips,
whatever the table's width: the projections to and from the physical file
columns are each one call of SQL text, not a ``Column`` per field."""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import types as T

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _counter():
    path = os.path.join(REPO, "scripts", "jvm_cpu_split.py")
    spec = importlib.util.spec_from_file_location("jvm_cpu_split", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.Py4JCounter


def test_read_and_append_cost_does_not_grow_with_columns(spark, catalog):
    Py4JCounter = _counter()

    def calls(fn) -> int:
        with Py4JCounter(spark) as n:
            fn()
        return n.calls

    cost = {}
    for width in (2, 24):
        name = f"rt.w{width}"
        catalog.register(
            name,
            T.StructType(
                [T.StructField(f"c{i}", T.LongType()) for i in range(width)]
            ),
        )
        df = spark.range(3).selectExpr(
            *[f"id + {i} AS c{i}" for i in range(width)]
        )
        catalog.append(name, df)  # the first append creates the table
        cost[width] = (
            calls(lambda: catalog.append(name, df)),
            calls(lambda: catalog.table(name)),
        )
        assert catalog.table(name).count() == 6
    (append2, read2), (append24, read24) = cost[2], cost[24]
    assert abs(append24 - append2) <= 4, cost
    assert abs(read24 - read2) <= 4, cost


def test_read_cost_does_not_grow_with_files(spark, catalog):
    """A catalog read hands its committed file list to the JVM in a fixed
    number of round trips: a 5-file and a 50-file table cost the same,
    and each read returns exactly the rows appended."""
    Py4JCounter = _counter()
    cost = {}
    for files in (5, 50):
        name = f"rt.f{files}"
        catalog.register(
            name, T.StructType([T.StructField("id", T.LongType())])
        )
        # One non-empty partition, so one file, per input slice.
        catalog.append(name, spark.range(0, 2 * files, numPartitions=files))
        assert len(catalog._load_manifest(name)[-1]["files"]) == files
        with Py4JCounter(spark) as n:
            df = catalog.table(name)
        cost[files] = n.calls
        assert sorted(r.id for r in df.collect()) == list(range(2 * files))
    assert cost[5] == cost[50], cost
