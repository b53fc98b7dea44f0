"""Silver stage: Bronze increment -> conformed, deduplicated Silver append.

Semantics parity with notebooks/silver.py (SURVEY.md §3.1 step 3):
- incremental scan: Bronze filtered to the run's ingestion_date (partition/
  file pruning: the ingestion_date filter skips whole files via parquet
  row-group min/max stats — Bronze's directories are keyed on
  (Year, ANIMAL_TYPE) to mirror the reference, so this is stat-based,
  not directory-based, pruning; repartition Bronze by ingestion_date if
  the daily increment becomes the dominant read at scale)
- re-standardize; invalid FSA -> NULL value but keep FSA_VALID flag
- breed_raw + normalized breed_variant_key
- broadcast left-join breed_mapping: breed_mapped flag MUST come from the
  join hit, never fallback equality (docs/runbook.md:113); unmapped rows
  fall back to breed_raw
- filter rows with required fields; latest-wins window dedup on _id
- guards, anti-join vs existing Silver, partitioned append
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime

from pyspark.sql import functions as F

from ..functions.scalar import normalize_key, null_if_invalid, pattern_valid
from ..operators.joins import dim_lookup
from ..operators.windows import latest_per_key
from .catalog import Catalog
from .expectations import run_guards
from .ingest import StageResult
from .refdata import ensure_mapping
from .schemas import ANIMAL_TYPES, FSA_PATTERN, SILVER_SCHEMA


def register_tables(catalog: Catalog) -> None:
    if "core.licensed_pets_silver" not in catalog.tables:
        catalog.register(
            "core.licensed_pets_silver",
            SILVER_SCHEMA,
            partition_by=("ingestion_date",),
        )
        # Note: the reference partitions Silver by (Year, ANIMAL_TYPE);
        # we partition by ingestion_date so the incremental filter prunes
        # files (SURVEY.md §4 design choice) — at 100 TB the daily-increment
        # read is the hot path, and gold aggregates shuffle anyway.


def silver_stage(
    catalog: Catalog, ingestion_date: date, clock: datetime
) -> StageResult:
    register_tables(catalog)
    ensure_mapping(catalog)

    bronze = catalog.table("core.licensed_pets_bronze").filter(
        F.col("ingestion_date") == F.lit(ingestion_date)
    )

    up = lambda c: F.upper(F.trim(F.col(c)))  # noqa: E731
    std = bronze.withColumns(
        {
            "FSA": up("FSA"),
            "ANIMAL_TYPE": up("ANIMAL_TYPE"),
            "breed_raw": up("PRIMARY_BREED"),
        }
    )
    fsa_valid = pattern_valid("FSA", FSA_PATTERN)
    std = std.withColumns(
        {
            "FSA_VALID": fsa_valid,
            "FSA": null_if_invalid("FSA", fsa_valid),
            "breed_variant_key": normalize_key("breed_raw"),
        }
    )

    mapping = catalog.table("ref.breed_mapping")
    joined = dim_lookup(
        std,
        mapping,
        key="breed_variant_key",
        value_cols=["breed_standard"],
        fallback={"breed_standard": F.col("breed_raw")},
        mapped_flag="breed_mapped",
    )

    valid = joined.filter(
        F.col("_id").isNotNull()
        & F.col("ANIMAL_TYPE").isin(*ANIMAL_TYPES)
        & F.col("breed_raw").isNotNull()
    )
    # Final tie-break: a stable hash over the full row makes the ordering
    # total, so which duplicate survives is deterministic even when
    # (ingestion_ts, Year) tie — required for reproducible re-runs on a
    # cluster (partition order varies run to run).
    row_hash = F.xxhash64(*[F.col(c) for c in valid.columns])
    deduped = latest_per_key(
        valid,
        keys=["_id"],
        order_by=[
            F.col("ingestion_ts").desc(),
            F.col("Year").desc_nulls_last(),
            row_hash.asc(),
        ],
    )
    silver_batch = deduped.withColumn(
        "processed_ts", F.lit(clock).cast("timestamp")
    ).select(*[f.name for f in SILVER_SCHEMA.fields])

    silver_batch = silver_batch.cache()
    try:
        from ..operators.joins import idempotent_new_rows

        existing = catalog.table("core.licensed_pets_silver")
        new_rows = idempotent_new_rows(silver_batch, existing, ["_id"]).cache()
        try:
            # One action: the guards, the size of the date's Bronze slice
            # and the count of new rows.
            got = run_guards(
                silver_batch,
                no_nulls=["_id"],
                unique=["_id"],
                counts={"bronze": bronze, "new": new_rows},
            )
            if got["bronze"] == 0:
                return StageResult("skipped_no_files")
            n = got["new"]
            if n == 0:
                return StageResult("skipped_no_new_rows")
            catalog.append("core.licensed_pets_silver", new_rows)
            return StageResult("loaded", rows=n)
        finally:
            new_rows.unpersist()
    finally:
        silver_batch.unpersist()
