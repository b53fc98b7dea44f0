"""Gold-view golden numbers over a synthetic silver fixture
(reference notebooks/gold.py:12-380 semantics)."""

from __future__ import annotations

from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from certified_dogs_and_cats_spark.pipeline.analytics import (
    breed_rank_citywide,
    breed_share_citywide,
    breed_stats,
    bronze_health,
    fsa2_top3_breeds,
    fsa_top3_breeds,
    gold_quality,
    gold_src,
    totals_by_year_type,
)
from certified_dogs_and_cats_spark.pipeline.schemas import SILVER_SCHEMA

TS = datetime(2026, 1, 1, 10, 0, 0)
D = date(2026, 1, 1)


def _silver_row(_id, year, fsa, typ, breed, mapped=True):
    return (
        _id, year, fsa, fsa is not None, typ, breed, breed.replace(" ", ""),
        breed, mapped, TS, D, TS,
    )


@pytest.fixture
def silver(spark):
    # 2024: 3 DOG (2 POODLE, 1 BEAGLE in M1A/M1A/M2B), 1 CAT (TABBY M1A)
    # 2025: 2 DOG (POODLE, BEAGLE), 1 row with NULL year -> excluded by src
    rows = [
        _silver_row(1, 2024, "M1A", "DOG", "POODLE"),
        _silver_row(2, 2024, "M1A", "DOG", "POODLE"),
        _silver_row(3, 2024, "M2B", "DOG", "BEAGLE"),
        _silver_row(4, 2024, "M1A", "CAT", "TABBY"),
        _silver_row(5, 2025, "M1A", "DOG", "POODLE"),
        _silver_row(6, 2025, None, "DOG", "BEAGLE", mapped=False),
        _silver_row(7, None, "M1A", "DOG", "POODLE"),
    ]
    return spark.createDataFrame(rows, SILVER_SCHEMA)


def test_gold_src_filters(silver):
    src = gold_src(silver)
    assert src.count() == 6  # NULL-Year row dropped


def test_totals_by_year_type(silver):
    got = {
        (r["Year"], r["ANIMAL_TYPE"]): r
        for r in totals_by_year_type(gold_src(silver)).collect()
    }
    assert got[(2024, "DOG")]["cnt"] == 3
    assert got[(2024, "DOG")]["share_pct"] == 75.0
    assert got[(2024, "DOG")]["rnk"] == 1
    assert got[(2024, "CAT")]["rnk"] == 2
    assert got[(2025, "DOG")]["cnt"] == 2
    assert got[(2025, "DOG")]["share_pct"] == 100.0


def test_breed_stats_rank_and_yoy(silver):
    got = {
        (r["Year"], r["ANIMAL_TYPE"], r["breed_standard"]): r
        for r in breed_stats(gold_src(silver)).collect()
    }
    # 2024 DOG: POODLE 2 (rank 1), BEAGLE 1 (rank 2)
    assert got[(2024, "DOG", "POODLE")]["breed_rank"] == 1
    assert got[(2024, "DOG", "POODLE")]["share_pct"] == 66.67
    assert got[(2024, "DOG", "BEAGLE")]["breed_rank"] == 2
    # YoY: POODLE DOG 2024 cnt=2 -> 2025 cnt=1
    y25 = got[(2025, "DOG", "POODLE")]
    assert y25["prev_cnt"] == 2
    assert y25["yoy_diff"] == -1
    assert y25["yoy_pct"] == -50.0
    # First year has no prior
    assert got[(2024, "DOG", "POODLE")]["prev_cnt"] is None


def test_fsa_top3_pivot(silver):
    got = {
        (r["Year"], r["ANIMAL_TYPE"], r["FSA"]): r
        for r in fsa_top3_breeds(gold_src(silver)).collect()
    }
    r = got[(2024, "DOG", "M1A")]
    assert r["top1_breed_standard"] == "POODLE"
    assert r["top1_cnt"] == 2
    assert r["top2_breed_standard"] is None  # only one breed in that FSA
    assert r["area_total"] == 2
    # NULL-FSA rows are excluded from area rollups
    assert (2025, "DOG", None) not in got


def test_fsa2_granularity(silver):
    got = {
        (r["Year"], r["ANIMAL_TYPE"], r["FSA2"]): r
        for r in fsa2_top3_breeds(gold_src(silver)).collect()
    }
    # M1A and M2B both roll up to district 'M1'/'M2'
    r = got[(2024, "DOG", "M1")]
    assert r["area_total"] == 2
    assert got[(2024, "DOG", "M2")]["top1_breed_standard"] == "BEAGLE"


def test_breed_share_and_rank_citywide(silver):
    share = {
        (r["Year"], r["ANIMAL_TYPE"], r["breed_standard"]): r
        for r in breed_share_citywide(gold_src(silver)).collect()
    }
    r = share[(2024, "DOG", "POODLE")]
    assert r["citywide_cnt"] == 3
    assert r["share_pct"] == 66.6667  # 4-digit share
    rank = {
        (r["Year"], r["ANIMAL_TYPE"], r["breed_standard"]): r["rnk"]
        for r in breed_rank_citywide(gold_src(silver)).collect()
    }
    assert rank[(2024, "DOG", "POODLE")] == 1
    assert rank[(2024, "DOG", "BEAGLE")] == 2


def test_gold_quality_metrics(silver):
    got = {
        (r["Year"], r["ANIMAL_TYPE"]): r for r in gold_quality(silver).collect()
    }
    r = got[(2025, "DOG")]
    assert r["cnt"] == 2
    assert r["null_fsa_rows"] == 1
    assert r["invalid_fsa_cnt"] == 1
    assert r["mapped_cnt"] == 1
    assert r["pct_mapped"] == 50.0
    assert r["freshness_ts"] == TS


def test_bronze_health_shape(spark, silver):
    from certified_dogs_and_cats_spark.pipeline.schemas import BRONZE_SCHEMA

    bronze = spark.createDataFrame(
        [
            (1, 2024, "M1A", "DOG", "POODLE", True, TS, D),
            (2, 2024, "BAD", "CAT", "TABBY", False, TS, D),
        ],
        BRONZE_SCHEMA,
    )
    h = bronze_health(bronze).collect()[0]
    assert h["row_cnt"] == 2
    assert h["distinct_ids"] == 2
    assert h["n_years"] == 1
    assert h["invalid_fsa_cnt"] == 1
    assert h["max_ingestion_ts"] == TS


def test_daily_totals_per_ingestion_day(silver):
    from certified_dogs_and_cats_spark.pipeline.analytics import daily_totals

    later = datetime(2026, 1, 2, 9, 0, 0)
    two_days = silver.withColumn(
        "ingestion_ts",
        F.when(F.col("_id") >= 5, F.lit(later)).otherwise(F.col("ingestion_ts")),
    )
    got = {
        r["day"]: (r["cnt"], r["n_types"])
        for r in daily_totals(gold_src(two_days)).collect()
    }
    # ids 1-4 (DOG and CAT) on the 1st; 5-6 (DOG) on the 2nd; 7 has no Year
    assert got == {D: (4, 2), later.date(): (2, 1)}


def test_silver_health_metrics(spark, silver):
    from certified_dogs_and_cats_spark.pipeline.analytics import silver_health

    h = silver_health(silver).collect()[0].asDict()
    assert h == {
        "row_cnt": 7, "distinct_ids": 7, "mapped_cnt": 6, "unmapped_cnt": 1,
        "pct_mapped": 85.71, "max_processed_ts": TS,
    }
    empty = spark.createDataFrame([], SILVER_SCHEMA)
    assert silver_health(empty).collect()[0].asDict() == {
        "row_cnt": 0, "distinct_ids": 0, "mapped_cnt": None,
        "unmapped_cnt": None, "pct_mapped": None, "max_processed_ts": None,
    }


def test_pct_sql_text_matches_column_form(spark):
    """The views' SQL-text percentage and the exported Column ``pct`` are
    one rule: same rounding, same NULL on a zero or NULL denominator."""
    from certified_dogs_and_cats_spark.functions import pct
    from certified_dogs_and_cats_spark.pipeline.analytics import _pct

    df = spark.createDataFrame(
        [(1, 3), (2, 3), (5, 0), (None, 4), (7, None), (-1, 6), (0, 9)],
        "n long, d long",
    )
    for digits in (2, 4):
        got = df.select(
            F.expr(_pct("n", "d", digits)).alias("sql"),
            pct(F.col("n"), F.col("d"), digits).alias("col"),
        ).collect()
        assert all(r["sql"] == r["col"] for r in got)
        assert [r["sql"] for r in got][:3] == (
            [33.33, 66.67, None] if digits == 2 else [33.3333, 66.6667, None]
        )
