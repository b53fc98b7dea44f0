"""Bronze stage: raw CSV drops -> standardized, guarded, idempotent append.

Semantics parity with notebooks/bronze.py (SURVEY.md §3.1 step 2):
- at-most-once per ingestion_date via the load_control table
- explicit CSV schema, never inferred
- standardize: upper/trim, FSA regex validity flag
- guards: no null _id, _id unique in batch, ANIMAL_TYPE whitelist
- exactly-once rows via _id anti-join against existing Bronze
- append partitioned by (Year, ANIMAL_TYPE)

Differences by design (documented in SURVEY.md §4): the guards run inside
the write of the new rows, as a ``raise_error`` column over the whole batch
(:func:`expectations.append_new_rows`), so a clean date checks them at no
cost of its own, and the new-row count comes from the written files'
footers; the fixed `clock` parameter replaces wall-clock timestamps so runs
are reproducible and oracle-comparable.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import pattern_valid
from .catalog import Catalog, one_partition_if_small
from .expectations import append_new_rows, is_empty
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
    csvs = [
        os.path.join(drop_dir, f)
        for f in (os.listdir(drop_dir) if os.path.isdir(drop_dir) else ())
        if f.endswith(".csv")
    ]
    if not csvs:
        return StageResult("skipped_no_files")

    raw = one_partition_if_small(
        spark.read.schema(RAW_SCHEMA)
        .option("header", True)
        # Only .csv files: the presence gate above checks for them, so a
        # stray notes.txt/json in the drop must not be parsed as CSV
        # (its lines would fail the schema and trip the NULL-_id guard).
        .option("pathGlobFilter", "*.csv")
        .csv(drop_dir),
        sum(os.path.getsize(p) for p in csvs),
    )
    n = append_new_rows(
        catalog,
        "core.licensed_pets_bronze",
        standardize(raw, ingestion_date, clock),
        "_id",
        no_nulls=["_id"],
        unique=["_id"],
        domain={"ANIMAL_TYPE": ANIMAL_TYPES},
    )
    if n == 0:
        # DELIBERATELY not marked in load_control: a drop whose rows all
        # duplicate earlier dates contributed nothing, and leaving the
        # date unmarked lets a CORRECTED re-drop for it still load later
        # (pinned by test_bronze). The trade: a crash between the data
        # append and the control write re-reads this drop on every future
        # run for this date — harmless (the anti-join inserts 0) but paid
        # in scan cost until a corrected drop or manual mark lands.
        return StageResult("skipped_no_new_rows")
    # An inline table, not createDataFrame: a frame of local Python rows
    # runs its tasks in Python workers, which cost about 1 CPU-s a date
    # (4 vCPU) for this one row, and values bound as parameters keep the
    # plan (and its generated code) the same from date to date.
    ctrl_row = spark.sql(
        "SELECT * FROM VALUES (:dataset, CAST(:day AS DATE),"
        " CAST(:clock AS TIMESTAMP))"
        " AS t(dataset, ingestion_date, loaded_ts)",
        args={"dataset": DATASET, "day": ingestion_date, "clock": clock},
    )
    catalog.append("core.load_control", ctrl_row)
    return StageResult("loaded", rows=n)
