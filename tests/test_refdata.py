"""Breed-mapping seed + MERGE-upsert semantics (reference sql/breed_mapping.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from certified_dogs_and_cats_spark.pipeline.refdata import (
    build_seed,
    ensure_mapping,
    upsert_mapping,
)


def test_seed_is_deduped_and_normalized(spark):
    seed = build_seed(spark)
    assert seed.count() == seed.select("breed_variant_key").distinct().count()
    # Keys are canonical: uppercase alphanumerics only.
    bad = seed.filter(~F.col("breed_variant_key").rlike("^[A-Z0-9]+$"))
    assert bad.count() == 0


def test_merge_upsert_insert_then_update(catalog):
    ensure_mapping(catalog)
    n0 = catalog.table("ref.breed_mapping").count()
    updates = catalog.spark.createDataFrame(
        [
            ("NEWBREED", "NEW BREED"),            # not matched -> insert
            ("GOLDENRETRIEVER", "GOLDEN DOG"),    # matched -> update
        ],
        "breed_variant_key STRING, breed_standard STRING",
    )
    counts = upsert_mapping(catalog, updates)
    assert counts.get("inserted", 0) == 1
    assert counts.get("updated", 0) == 1
    assert counts.get("kept", 0) == n0 - 1
    after = catalog.table("ref.breed_mapping")
    assert after.count() == n0 + 1
    got = {
        r["breed_variant_key"]: r["breed_standard"] for r in after.collect()
    }
    assert got["NEWBREED"] == "NEW BREED"
    assert got["GOLDENRETRIEVER"] == "GOLDEN DOG"


def test_merge_upsert_idempotent(catalog):
    ensure_mapping(catalog)
    updates = catalog.spark.createDataFrame(
        [("NEWBREED", "NEW BREED")],
        "breed_variant_key STRING, breed_standard STRING",
    )
    upsert_mapping(catalog, updates)
    n1 = catalog.table("ref.breed_mapping").count()
    counts = upsert_mapping(catalog, updates)  # re-merge the same source
    assert counts.get("inserted", 0) == 0
    assert counts.get("updated", 0) == 1  # overwrites with identical value
    assert catalog.table("ref.breed_mapping").count() == n1


def test_upsert_counts_reported_only_after_commit(catalog, monkeypatch):
    """Failure injection (VERDICT r10 #8): if the overwrite commit fails,
    upsert_mapping must raise WITHOUT returning counts, and the committed
    table must be unchanged — bookkeeping can never diverge from storage."""
    ensure_mapping(catalog)
    before = {
        r["breed_variant_key"]: r["breed_standard"]
        for r in catalog.table("ref.breed_mapping").collect()
    }

    def boom(name, df, txn=None):
        raise IOError("injected commit failure")

    monkeypatch.setattr(catalog, "overwrite", boom)
    updates = catalog.spark.createDataFrame(
        [("NEWBREED", "NEW BREED")],
        "breed_variant_key STRING, breed_standard STRING",
    )
    try:
        upsert_mapping(catalog, updates)
        raise AssertionError("expected injected commit failure to propagate")
    except IOError:
        pass
    monkeypatch.undo()
    after = {
        r["breed_variant_key"]: r["breed_standard"]
        for r in catalog.table("ref.breed_mapping").collect()
    }
    assert after == before  # nothing committed, nothing reported


def test_seed_is_inline_values_with_the_same_rows(spark):
    """The seed scans no RDD of Python rows (whose tasks would start Python
    workers), and its rows equal those built from the local list."""
    from certified_dogs_and_cats_spark.functions.scalar import normalize_key
    from certified_dogs_and_cats_spark.pipeline.refdata import seed_rows

    seed = build_seed(spark)
    plan = seed._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    local = (
        spark.createDataFrame(seed_rows(), "breed_variant STRING, breed_standard STRING")
        .select(normalize_key("breed_variant").alias("breed_variant_key"), "breed_standard")
        .filter(F.length("breed_variant_key") > 0)
        .groupBy("breed_variant_key")
        .agg(F.max("breed_standard").alias("breed_standard"))
    )
    assert sorted(seed.collect()) == sorted(local.collect())
