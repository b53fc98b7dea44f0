"""ANALYZE TABLE statistics: single-pass column stats, the numbers
broadcast/shuffle planning spends."""

from __future__ import annotations

from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField("v", T.StringType()),
        T.StructField("x", T.DoubleType()),
    ]
)

ROWS = [
    (1, "a", 1.5),
    (2, "b", 2.5),
    (2, None, 3.5),
    (3, "a", None),
]


def test_analyze_computes_and_persists_stats(catalog, spark):
    catalog.register("t.stats", SCHEMA)
    catalog.append("t.stats", spark.createDataFrame(ROWS, SCHEMA))
    s = catalog.analyze("t.stats")
    assert s["row_count"] == 4
    assert s["columns"]["k"]["null_count"] == 0
    assert s["columns"]["k"]["approx_ndv"] == 3  # exact at tiny ndv
    assert (s["columns"]["k"]["min"], s["columns"]["k"]["max"]) == ("1", "3")
    assert s["columns"]["v"]["null_count"] == 1
    assert s["columns"]["x"]["min"] == "1.5"
    assert s["version"] == catalog.current_version("t.stats")


def test_sql_front_door_analyze(catalog, spark):
    from certified_dogs_and_cats_spark.pipeline.ddl import DdlSession

    catalog.register("core.t_an", SCHEMA)
    catalog.append("core.t_an", spark.createDataFrame(ROWS, SCHEMA))
    ddl = DdlSession(catalog)
    ddl.execute("USE SCHEMA core")
    out = ddl.execute(
        "ANALYZE TABLE t_an COMPUTE STATISTICS FOR ALL COLUMNS"
    )[0]
    rows = {r.column: r for r in out.collect()}
    assert rows["k"].row_count == 4 and rows["k"].approx_ndv == 3

