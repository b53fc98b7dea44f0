"""Bronze and Silver check their guards inside the write of their new rows:
a warm date runs few Spark jobs, every batch row is still checked (also
rows the ``_id`` anti-join drops), a failed guard names itself as before
and leaves nothing behind, and an append of 0 rows commits nothing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from certified_dogs_and_cats_spark.pipeline import refine
from certified_dogs_and_cats_spark.pipeline.expectations import GuardError
from certified_dogs_and_cats_spark.pipeline.ingest import (
    bronze_stage,
    register_tables as register_bronze,
)
from certified_dogs_and_cats_spark.pipeline.refine import silver_stage
from certified_dogs_and_cats_spark.pipeline.schemas import BRONZE_SCHEMA

from conftest import CLOCK1, CLOCK2, D1, D2, DROP1, DROP2, jobs_in, write_drop

BRONZE = "core.licensed_pets_bronze"
SILVER = "core.licensed_pets_silver"


def _load_day1(catalog, raw_root):
    write_drop(raw_root, D1, DROP1)
    assert bronze_stage(catalog, raw_root, D1, CLOCK1).status == "loaded"
    assert silver_stage(catalog, D1, CLOCK1).status == "loaded"


def _staging_dirs(catalog, name: str) -> list[str]:
    parent = os.path.dirname(catalog.tables[name].path)
    return [d for d in os.listdir(parent) if "__append_" in d]


def test_warm_date_stages_run_few_jobs(spark, catalog, raw_root):
    """Bronze: the load-control probe, the write (with the broadcast of
    the existing ids) and the load-control append. Silver: the write,
    with the breed-mapping and existing-id broadcasts."""
    _load_day1(catalog, raw_root)
    write_drop(raw_root, D2, DROP2)
    res, jobs = jobs_in(
        spark, "warm-bronze",
        lambda: bronze_stage(catalog, raw_root, D2, CLOCK2))
    assert (res.status, res.rows) == ("loaded", 2)
    assert jobs <= 4, jobs
    res, jobs = jobs_in(
        spark, "warm-silver", lambda: silver_stage(catalog, D2, CLOCK2))
    assert (res.status, res.rows) == ("loaded", 2)
    assert jobs <= 3, jobs


def test_repeated_id_already_in_bronze_still_raises(catalog, raw_root):
    """Both copies of a repeated ``_id`` that Bronze already holds would
    be dropped by the anti-join; the guard still sees them."""
    _load_day1(catalog, raw_root)
    write_drop(raw_root, D2, DROP2 + [(1, 2025, "M9A", "DOG", "POODLE"),
                                      (1, 2024, "M9A", "DOG", "POODLE")])
    with pytest.raises(GuardError, match="duplicate values in _id"):
        bronze_stage(catalog, raw_root, D2, CLOCK2)


def test_bad_animal_type_on_existing_id_still_raises(catalog, raw_root):
    _load_day1(catalog, raw_root)
    write_drop(raw_root, D2, DROP2 + [(2, 2025, "M9A", "HAMSTER", "SYRIAN")])
    with pytest.raises(GuardError, match="1 rows outside domain for ANIMAL_TYPE"):
        bronze_stage(catalog, raw_root, D2, CLOCK2)


def test_bronze_guard_failure_leaves_nothing(catalog, raw_root):
    _load_day1(catalog, raw_root)
    before = {t: catalog.current_version(t)
              for t in (BRONZE, "core.load_control")}
    write_drop(raw_root, D2, DROP2 + [(7, 2025, "M9A", "CAT", "PERSIAN")])
    with pytest.raises(GuardError, match="duplicate values in _id"):
        bronze_stage(catalog, raw_root, D2, CLOCK2)
    assert {t: catalog.current_version(t) for t in before} == before
    assert _staging_dirs(catalog, BRONZE) == []
    assert catalog.table(BRONZE).count() == 6


def test_silver_guard_failure_leaves_nothing(catalog, monkeypatch):
    """Silver's dedup makes its guards a backstop: with the dedup
    switched off, a repeated ``_id`` fails the write and commits
    nothing."""
    register_bronze(catalog)
    catalog.append(BRONZE, catalog.spark.createDataFrame(
        [(1, 2024, "M1A", "DOG", "POODLE", True, CLOCK1, D1),
         (1, 2025, "M1A", "DOG", "BEAGLE", True, CLOCK2, D1)],
        BRONZE_SCHEMA,
    ))
    monkeypatch.setattr(refine, "latest_per_key", lambda df, keys, order_by: df)
    with pytest.raises(GuardError, match=r"duplicate values in _id \(2 rows, 1 distinct\)"):
        silver_stage(catalog, D1, CLOCK2)
    assert catalog.current_version(SILVER) == 0
    assert _staging_dirs(catalog, SILVER) == []


def test_append_returns_rows_and_empty_append_commits_nothing(spark, catalog):
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("p", T.StringType())])
    catalog.register("t.counted", schema, partition_by=("p",))
    rows = spark.range(5).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS p")
    assert catalog.append("t.counted", rows) == 5
    assert catalog.current_version("t.counted") == 1
    assert catalog.append("t.counted", rows.limit(0)) == 0
    assert catalog.current_version("t.counted") == 1
    assert _staging_dirs(catalog, "t.counted") == []
    assert catalog.table("t.counted").count() == 5
