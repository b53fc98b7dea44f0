"""Silver-stage invariants (reference notebooks/silver.py semantics):
breed mapping flag truthfulness, invalid-FSA nulling, latest-wins dedup,
and idempotent appends."""

from __future__ import annotations

from pyspark.sql import functions as F

from certified_dogs_and_cats_spark.pipeline.expectations import (
    assert_flag_consistency,
)
from certified_dogs_and_cats_spark.pipeline.ingest import bronze_stage
from certified_dogs_and_cats_spark.pipeline.refine import (
    register_tables,
    silver_stage,
)
from certified_dogs_and_cats_spark.pipeline.schemas import BRONZE_SCHEMA

from conftest import CLOCK1, CLOCK2, D1, D2, DROP1, DROP2, write_drop


def run_day1(catalog, raw_root):
    write_drop(raw_root, D1, DROP1)
    assert bronze_stage(catalog, raw_root, D1, CLOCK1).status == "loaded"
    res = silver_stage(catalog, D1, CLOCK1)
    assert res.status == "loaded"
    return catalog.table("core.licensed_pets_silver")


def test_silver_breed_mapping_and_fallback(catalog, raw_root):
    silver = run_day1(catalog, raw_root)
    rows = {r["_id"]: r for r in silver.collect()}
    assert len(rows) == 6
    # Mapped: variant spelling 'GOLDEN-RETRIEVER' normalizes to the same key
    # as the standard and must map with the flag set from the JOIN HIT.
    assert rows[6]["breed_standard"] == "GOLDEN RETRIEVER"
    assert rows[6]["breed_mapped"] is True
    # Unmapped: falls back to breed_raw, flag false — the flag must NOT be
    # derived from (breed_standard == breed_raw) equality, which is true for
    # fallback rows too (docs/runbook.md:113 trap).
    assert rows[5]["breed_standard"] == "UNICORN CAT"
    assert rows[5]["breed_mapped"] is False
    assert rows[5]["breed_standard"] == rows[5]["breed_raw"]


def test_silver_invalid_fsa_nulled_flag_consistent(catalog, raw_root):
    silver = run_day1(catalog, raw_root)
    r4 = silver.filter(F.col("_id") == 4).collect()[0]
    assert r4["FSA"] is None  # invalid value nulled (silver.py:42-43)
    assert r4["FSA_VALID"] is False
    # Invariant docs/runbook.md:95-99: exactly 0 violating rows.
    assert_flag_consistency(silver, "FSA", "FSA_VALID")


def test_silver_latest_wins_dedup(catalog, raw_root):
    """Two bronze rows with the same _id in one incremental batch: the later
    ingestion_ts wins (silver.py:81-85)."""
    register_tables(catalog)
    from certified_dogs_and_cats_spark.pipeline.ingest import (
        register_tables as reg_bronze,
    )

    reg_bronze(catalog)
    dup = catalog.spark.createDataFrame(
        [
            (1, 2024, "M1A", "DOG", "POODLE", True, CLOCK1, D1),
            (1, 2025, "M1A", "DOG", "BEAGLE", True, CLOCK2, D1),
        ],
        BRONZE_SCHEMA,
    )
    catalog.append("core.licensed_pets_bronze", dup)
    res = silver_stage(catalog, D1, CLOCK2)
    assert res.status == "loaded"
    assert res.rows == 1
    row = catalog.table("core.licensed_pets_silver").collect()[0]
    assert row["breed_raw"] == "BEAGLE"  # CLOCK2 row won
    assert row["Year"] == 2025


def test_silver_rerun_same_date_inserts_zero(catalog, raw_root):
    run_day1(catalog, raw_root)
    res = silver_stage(catalog, D1, CLOCK2)
    assert res.status == "skipped_no_new_rows"
    assert catalog.table("core.licensed_pets_silver").count() == 6


def test_silver_incremental_second_day(catalog, raw_root):
    run_day1(catalog, raw_root)
    write_drop(raw_root, D2, DROP2)
    bronze_stage(catalog, raw_root, D2, CLOCK2)
    res = silver_stage(catalog, D2, CLOCK2)
    assert res.status == "loaded"
    assert res.rows == 2  # only _id 7 and 8 are new bronze rows
    silver = catalog.table("core.licensed_pets_silver")
    assert silver.count() == 8
    assert silver.select("_id").distinct().count() == 8


def test_silver_date_without_bronze_rows_skips(catalog, raw_root):
    """A date with no Bronze slice is ``skipped_no_files`` even once Bronze
    holds other dates, and Silver gains nothing."""
    run_day1(catalog, raw_root)
    res = silver_stage(catalog, D2, CLOCK2)
    assert res.status == "skipped_no_files"
    assert catalog.table("core.licensed_pets_silver").count() == 6


def test_silver_date_with_no_valid_rows_skips(catalog, raw_root):
    """Bronze rows that all fail Silver's required-field filter (NULL
    breed) leave an empty Silver batch: the guards pass on it and the date
    is ``skipped_no_new_rows``, not an error."""
    run_day1(catalog, raw_root)
    write_drop(raw_root, D2, [(9, 2025, "M9J", "DOG", ""), (10, 2025, "M1A", "CAT", "")])
    assert bronze_stage(catalog, raw_root, D2, CLOCK2).status == "loaded"
    res = silver_stage(catalog, D2, CLOCK2)
    assert res.status == "skipped_no_new_rows"
    assert catalog.table("core.licensed_pets_silver").count() == 6
