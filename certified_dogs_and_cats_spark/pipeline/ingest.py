"""Bronze stage: raw CSV drops -> standardized, guarded, idempotent append.

Semantics parity with notebooks/bronze.py (SURVEY.md §3.1 step 2):
- at-most-once per ingestion_date via the load_control table
- explicit CSV schema, never inferred
- standardize: upper/trim, FSA regex validity flag
- guards: no null _id, _id unique in batch, ANIMAL_TYPE whitelist
- exactly-once rows via _id anti-join against existing Bronze
- append partitioned by (Year, ANIMAL_TYPE)

Differences by design (documented in SURVEY.md §4): guards run in ONE
aggregate pass over a cached batch instead of re-scanning per guard, in the
same action that counts the new rows; the fixed `clock` parameter replaces
wall-clock timestamps so runs are reproducible and oracle-comparable.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import pattern_valid
from .catalog import Catalog
from .expectations import is_empty, run_guards
from .schemas import (
    ANIMAL_TYPES,
    BRONZE_SCHEMA,
    FSA_PATTERN,
    LOAD_CONTROL_SCHEMA,
    RAW_SCHEMA,
)

DATASET = "licensed_pets"


@dataclass
class StageResult:
    status: str  # loaded | skipped_already_loaded | skipped_no_files | skipped_no_new_rows
    rows: int = 0


def register_tables(catalog: Catalog) -> None:
    if "core.load_control" not in catalog.tables:
        catalog.register("core.load_control", LOAD_CONTROL_SCHEMA)
    if "core.licensed_pets_bronze" not in catalog.tables:
        catalog.register(
            "core.licensed_pets_bronze",
            BRONZE_SCHEMA,
            partition_by=("Year", "ANIMAL_TYPE"),
        )


def already_loaded(catalog: Catalog, ingestion_date: date) -> bool:
    ctrl = catalog.table("core.load_control")
    return not is_empty(
        ctrl.filter(
            (F.col("dataset") == DATASET)
            & (F.col("ingestion_date") == F.lit(ingestion_date))
        )
    )


def standardize(raw: DataFrame, ingestion_date: date, clock: datetime) -> DataFrame:
    up = lambda c: F.upper(F.trim(F.col(c)))  # noqa: E731
    return raw.select(
        F.col("_id"),
        F.col("Year"),
        up("FSA").alias("FSA"),
        up("ANIMAL_TYPE").alias("ANIMAL_TYPE"),
        up("PRIMARY_BREED").alias("PRIMARY_BREED"),
    ).withColumns(
        {
            "FSA_VALID": pattern_valid("FSA", FSA_PATTERN),
            "ingestion_ts": F.lit(clock).cast("timestamp"),
            "ingestion_date": F.lit(ingestion_date).cast("date"),
        }
    )


def bronze_stage(
    catalog: Catalog,
    raw_root: str,
    ingestion_date: date,
    clock: datetime,
) -> StageResult:
    """Run the full Bronze flow for one ingestion date."""
    register_tables(catalog)
    spark = catalog.spark

    if already_loaded(catalog, ingestion_date):
        return StageResult("skipped_already_loaded")

    drop_dir = os.path.join(raw_root, f"ingestion_date={ingestion_date.isoformat()}")
    if not os.path.isdir(drop_dir) or not any(
        f.endswith(".csv") for f in os.listdir(drop_dir)
    ):
        return StageResult("skipped_no_files")

    raw = (
        spark.read.schema(RAW_SCHEMA)
        .option("header", True)
        # Only .csv files: the presence gate above checks for them, so a
        # stray notes.txt/json in the drop must not be parsed as CSV
        # (its lines would fail the schema and trip the NULL-_id guard).
        .option("pathGlobFilter", "*.csv")
        .csv(drop_dir)
    )
    batch = standardize(raw, ingestion_date, clock).cache()
    try:
        from ..operators.joins import idempotent_new_rows

        existing = catalog.table("core.licensed_pets_bronze")
        new_rows = idempotent_new_rows(batch, existing, ["_id"]).cache()

        def _mark_loaded() -> None:
            ctrl_row = spark.createDataFrame(
                [(DATASET, ingestion_date, clock)], LOAD_CONTROL_SCHEMA
            )
            catalog.append("core.load_control", ctrl_row)

        try:
            # One action: the guards over the batch, and the count of its
            # new rows (which also fills new_rows' cache for the append).
            n = run_guards(
                batch,
                no_nulls=["_id"],
                unique=["_id"],
                domain={"ANIMAL_TYPE": ANIMAL_TYPES},
                counts={"new": new_rows},
            )["new"]
            if n == 0:
                # DELIBERATELY not marked in load_control: a drop whose
                # rows all duplicate earlier dates contributed nothing,
                # and leaving the date unmarked lets a CORRECTED re-drop
                # for it still load later (pinned by test_bronze). The
                # trade: a crash between the data append and the control
                # write re-reads this drop on every future run for this
                # date — harmless (the anti-join inserts 0) but paid in
                # scan cost until a corrected drop or manual mark lands.
                return StageResult("skipped_no_new_rows")
            catalog.append("core.licensed_pets_bronze", new_rows)
        finally:
            new_rows.unpersist()
        _mark_loaded()
        return StageResult("loaded", rows=n)
    finally:
        batch.unpersist()
