"""Table metadata lives only in the commit log: partitioning, clustering,
column map, DEFAULTs, row filter and column masks ride on the commits
that change them (a ``meta`` object), so drop clears them, clone keeps
them, a failed commit leaves them unchanged, and checkpoints carry them
past vacuum. No sidecar file holds them."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from certified_dogs_and_cats_spark.pipeline import Catalog
from certified_dogs_and_cats_spark.streaming.cdf_source import _load_manifest

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField("v", T.StringType()),
        T.StructField("p", T.StringType()),
    ]
)
ROWS = [(1, "a", "x"), (2, "b", "y")]
SIDECARS = {
    "column_map.json",
    "layout.json",
    "clustering.json",
    "defaults.json",
    "governance.json",
}


def _mapped(catalog, name):
    spec = catalog.register(name, SCHEMA)
    spec.properties["delta.columnMapping.mode"] = "name"
    return spec


def test_drop_then_register_clears_metadata(catalog, spark):
    catalog.register("t.dr", SCHEMA)
    catalog.append("t.dr", spark.createDataFrame(ROWS, SCHEMA))
    catalog.set_partitioning("t.dr", ("p",))
    catalog.set_default("t.dr", "p", "'zz'")
    catalog.drop("t.dr")
    spec = catalog.register("t.dr", SCHEMA, partition_by=("v",))
    assert spec.partition_by == ("v",)
    assert spec.defaults == {}
    fresh = Catalog(spark, catalog.root).register("t.dr", SCHEMA)
    assert (fresh.partition_by, fresh.defaults) == ((), {})


def test_failed_rename_commit_keeps_the_old_map(catalog, spark, monkeypatch):
    _mapped(catalog, "t.rn")
    catalog.append("t.rn", spark.createDataFrame(ROWS, SCHEMA))
    catalog.rename_column("t.rn", "v", "label")

    def no_link(*args, **kwargs):
        raise OSError("link failed")

    monkeypatch.setattr(os, "link", no_link)
    with pytest.raises(OSError, match="link failed"):
        catalog.rename_column("t.rn", "label", "tag")
    monkeypatch.undo()
    spec = catalog.tables["t.rn"]
    assert spec.column_map == {"label": "v"}
    assert [f.name for f in spec.schema.fields] == ["k", "label", "p"]
    renamed = T.StructType(
        [T.StructField(n, f.dataType) for n, f in zip(("k", "label", "p"), SCHEMA)]
    )
    fresh = Catalog(spark, catalog.root)
    assert fresh.register("t.rn", renamed).column_map == {"label": "v"}
    assert sorted(r.label for r in fresh.table("t.rn").collect()) == ["a", "b"]


def test_metadata_survives_checkpoint_and_vacuum(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), checkpoint_interval=2)
    cat.register("t.ck", SCHEMA)
    cat.set_clustering("t.ck", ("k",))
    cat.set_default("t.ck", "v", "'d'")
    for row in ROWS:
        cat.append("t.ck", spark.createDataFrame([row], SCHEMA))
    cat.vacuum("t.ck", 0)
    commits = os.listdir(cat._commits_dir("t.ck"))
    assert f"{1:012d}.json" not in commits  # the setters' commits are gone
    assert cat._latest_checkpoint("t.ck")["meta"]["cluster_by"] == ["k"]
    spec = Catalog(spark, cat.root).register("t.ck", SCHEMA)
    assert spec.cluster_by == ("k",)
    assert spec.defaults == {"v": "'d'"}


def test_clone_keeps_metadata_and_policies(catalog, spark):
    catalog.register("t.gs", SCHEMA)
    catalog.append("t.gs", spark.createDataFrame(ROWS, SCHEMA))
    catalog.set_clustering("t.gs", ("k",))
    catalog.set_default("t.gs", "p", "'zz'")
    catalog.set_row_filter("t.gs", "k > 1")
    catalog.set_column_mask("t.gs", "v", "'***'")
    catalog.clone("t.gs", "t.gd")

    def governed(cat, name):
        return sorted(tuple(r) for r in cat.governed_table(name).collect())

    assert governed(catalog, "t.gd") == governed(catalog, "t.gs") == [
        (2, "***", "y")
    ]
    for spec in (
        catalog.tables["t.gd"],
        Catalog(spark, catalog.root).register("t.gd", SCHEMA),
    ):
        assert spec.cluster_by == ("k",)
        assert spec.defaults == {"p": "'zz'"}
        assert spec.row_filter == "k > 1"
        assert spec.column_masks == {"v": "'***'"}


def test_no_setter_writes_a_sidecar(catalog, spark):
    _mapped(catalog, "t.sc")
    catalog.set_partitioning("t.sc", ("p",))
    catalog.set_clustering("t.sc", ("k",))
    catalog.set_default("t.sc", "v", "'d'")
    catalog.set_row_filter("t.sc", "k > 0")
    catalog.set_column_mask("t.sc", "v", "upper(v)")
    catalog.set_column_mask("t.sc", "v", None)
    catalog.rename_column("t.sc", "v", "label")
    catalog.drop_column("t.sc", "label")
    catalog.add_column("t.sc", T.StructField("v", T.StringType()))
    meta_dir = catalog._meta_dir("t.sc")
    assert SIDECARS.isdisjoint(os.listdir(meta_dir))
    # Each setter committed a version, data or not.
    assert catalog.current_version("t.sc") == 9
    spec = Catalog(spark, catalog.root).register("t.sc", SCHEMA)
    assert spec.partition_by == ("p",)
    assert spec.column_map == {"v": "v_r1"}
    assert spec.dropped_physical == ["v"]


def test_changes_skip_a_metadata_commit(catalog, spark, monkeypatch):
    catalog.register("t.cf", SCHEMA)
    catalog.append("t.cf", spark.createDataFrame(ROWS[:1], SCHEMA))
    catalog.set_clustering("t.cf", ("k",))
    catalog.append("t.cf", spark.createDataFrame(ROWS[1:], SCHEMA))
    snapshots = []
    table = catalog.table
    monkeypatch.setattr(
        catalog,
        "table",
        lambda name, version=None: snapshots.append(version)
        or table(name, version=version),
    )
    got = sorted(
        (r.k, r._change_type, r._commit_version)
        for r in catalog.changes("t.cf", 0).collect()
    )
    assert got == [(1, "insert", 1), (2, "insert", 3)]
    assert snapshots == []  # no snapshot diff for the metadata commit


def test_stream_log_grounds_at_the_checkpoint(spark, tmp_path):
    """The change-feed stream source reads the catalog's own replay: after
    vacuum prunes the commits below a checkpoint, later versions still
    carry their full file lists."""
    cat = Catalog(spark, str(tmp_path / "wh"), checkpoint_interval=2)
    cat.register("t.st", SCHEMA)
    for i in range(3):
        cat.append("t.st", spark.createDataFrame([(i, "a", "x")], SCHEMA))
    cat.vacuum("t.st", 0)
    got = {e["version"]: e["files"] for e in _load_manifest(cat.root, "t.st")}
    head = cat._load_manifest("t.st")[-1]
    assert head["version"] == 3 and got[3] == head["files"]
