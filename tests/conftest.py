"""Shared fixtures: one local SparkSession per test session, a temp catalog
per test, and raw-CSV drop writers for the pipeline fixtures."""

from __future__ import annotations

import csv
import os
import sys
from datetime import date, datetime

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from certified_dogs_and_cats_spark.pipeline import Catalog
from certified_dogs_and_cats_spark.session import get_spark

RAW_HEADER = ["_id", "Year", "FSA", "ANIMAL_TYPE", "PRIMARY_BREED"]

# Deterministic clocks for reproducible ts-bearing outputs.
CLOCK1 = datetime(2026, 1, 1, 10, 0, 0)
CLOCK2 = datetime(2026, 1, 2, 10, 0, 0)
D1 = date(2026, 1, 1)
D2 = date(2026, 1, 2)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


@pytest.fixture
def raw_root(tmp_path):
    return str(tmp_path / "raw" / "licensed_pets")


def jobs_in(spark, group: str, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def write_drop(raw_root: str, d: date, rows: list[tuple]) -> str:
    """Write one raw CSV drop at raw_root/ingestion_date=D/data.csv."""
    drop = os.path.join(raw_root, f"ingestion_date={d.isoformat()}")
    os.makedirs(drop, exist_ok=True)
    path = os.path.join(drop, "data.csv")
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(RAW_HEADER)
        w.writerows(rows)
    return drop


# A well-formed first drop: 6 rows, 2 years, both animal types, one invalid
# FSA, one unmapped breed, mixed case/whitespace to exercise standardize.
DROP1 = [
    (1, 2024, "m1a", " dog ", "golden retriever"),
    (2, 2024, "M2B", "DOG", "LABRADOR RETRIEVER"),
    (3, 2024, "M3C", "cat", "  siamese"),
    (4, 2025, "bad", "DOG", "POODLE"),
    (5, 2025, "M5E", "CAT", "UNICORN CAT"),
    (6, 2025, "M6F", "DOG", "golden-retriever"),
]

# Second-day drop: 2 genuinely new rows + 1 _id overlap with day 1.
DROP2 = [
    (6, 2025, "M6F", "DOG", "GOLDEN RETRIEVER"),
    (7, 2025, "M7G", "CAT", "PERSIAN"),
    (8, 2025, "M8H", "DOG", "BEAGLE"),
]
