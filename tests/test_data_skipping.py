"""File-level data skipping: footer-stats pruning, partition-path pruning,
conservative fallbacks, and scan == table+filter row identity."""

from __future__ import annotations

from pyspark.sql import types as T

from certified_dogs_and_cats_spark.pipeline.skipping import (
    Conjunct,
    keep_file,
    parse_conjuncts,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField("v", T.StringType()),
    ]
)


def _ranges(catalog, spark, name, ranges):
    """One append per range -> one (or more) files per disjoint k-range."""
    catalog.register(name, SCHEMA)
    for lo, hi in ranges:
        rows = [(i, f"r{i}") for i in range(lo, hi)]
        catalog.append(
            name, spark.createDataFrame(rows, SCHEMA).coalesce(1)
        )


# --- predicate parsing ------------------------------------------------------


def test_parse_conjuncts_shapes():
    got = parse_conjuncts(
        "k > 5 AND v = 'x' AND s IN (1, 2) AND q IS NULL AND r IS NOT NULL"
        " AND 10 <= w AND some_udf(z) = 3"
    )
    assert Conjunct("k", ">", (5,)) in got
    assert Conjunct("v", "=", ("x",)) in got
    assert Conjunct("s", "in", (1, 2)) in got
    assert Conjunct("q", "null", ()) in got
    assert Conjunct("r", "notnull", ()) in got
    assert Conjunct("w", ">=", (10,)) in got  # literal-first flipped
    # The UDF conjunct is dropped (prunes nothing), not misparsed.
    assert not any(c.col == "z" for c in got)


def test_parse_respects_string_literals():
    got = parse_conjuncts("v = 'a AND b'")
    assert got == [Conjunct("v", "=", ("a AND b",))]


# --- keep_file verdicts -----------------------------------------------------


def test_keep_file_range_logic():
    st = {"rows": 10, "cols": {"k": [10, 20, 0]}}
    assert not keep_file("f", st, parse_conjuncts("k > 20"), SCHEMA)
    assert keep_file("f", st, parse_conjuncts("k >= 20"), SCHEMA)
    assert not keep_file("f", st, parse_conjuncts("k < 10"), SCHEMA)
    assert keep_file("f", st, parse_conjuncts("k <= 10"), SCHEMA)
    assert not keep_file("f", st, parse_conjuncts("k = 9"), SCHEMA)
    assert keep_file("f", st, parse_conjuncts("k = 15"), SCHEMA)
    assert not keep_file("f", st, parse_conjuncts("k IN (5, 25)"), SCHEMA)
    assert keep_file("f", st, parse_conjuncts("k IN (5, 12)"), SCHEMA)


def test_keep_file_null_logic():
    no_nulls = {"rows": 10, "cols": {"k": [1, 5, 0]}}
    all_null = {"rows": 10, "cols": {"k": [None, None, 10]}}
    assert not keep_file("f", no_nulls, parse_conjuncts("k IS NULL"), SCHEMA)
    assert not keep_file(
        "f", all_null, parse_conjuncts("k IS NOT NULL"), SCHEMA
    )
    # Comparisons never match NULL rows: an all-null file is skippable.
    assert not keep_file("f", all_null, parse_conjuncts("k > 3"), SCHEMA)


def test_keep_file_conservative_without_stats():
    assert keep_file("f", None, parse_conjuncts("k > 100"), SCHEMA)
    assert keep_file(
        "f", {"rows": 1, "cols": {}}, parse_conjuncts("k = 1"), SCHEMA
    )
    # Type-mismatched literal prunes nothing.
    st = {"rows": 10, "cols": {"k": [1, 5, 0]}}
    assert keep_file("f", st, parse_conjuncts("k = 'x'"), SCHEMA)


def test_partition_path_values_prune():
    part_schema = T.StructType(
        [*SCHEMA.fields, T.StructField("part", T.IntegerType())]
    )
    st = {"rows": 10, "cols": {}}
    assert not keep_file(
        "part=3/f.parquet", st, parse_conjuncts("part = 4"), part_schema
    )
    assert keep_file(
        "part=3/f.parquet", st, parse_conjuncts("part = 3"), part_schema
    )
    # NULL-partition sentinel is never pruned.
    assert keep_file(
        "part=__HIVE_DEFAULT_PARTITION__/f.parquet",
        st,
        parse_conjuncts("part = 4"),
        part_schema,
    )


# --- catalog integration ----------------------------------------------------


def test_scan_prunes_and_matches_filter(catalog, spark):
    _ranges(catalog, spark, "t.sk", [(0, 100), (100, 200), (200, 300)])
    kept, total = catalog.pruned_files("t.sk", "k >= 250")
    assert total == 3 and kept == 1
    got = sorted(r.k for r in catalog.scan("t.sk", "k >= 250").collect())
    want = sorted(range(250, 300))
    assert got == want


def test_scan_equals_filter_on_unprunable_predicate(catalog, spark):
    _ranges(catalog, spark, "t.un", [(0, 50), (50, 100)])
    pred = "pmod(k, 7) = 3"  # footer stats cannot prune an expression
    kept, total = catalog.pruned_files("t.un", pred)
    assert kept == total == 2
    got = sorted(r.k for r in catalog.scan("t.un", pred).collect())
    want = sorted(
        r.k for r in catalog.table("t.un").filter(pred).collect()
    )
    assert got == want and got


def test_scan_empty_prune_returns_empty_frame(catalog, spark):
    _ranges(catalog, spark, "t.none", [(0, 10)])
    df = catalog.scan("t.none", "k > 1000")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]


def test_scan_respects_deletion_vectors(catalog, spark):
    """Pruned reads still anti-join live DVs — a deleted row can never
    resurface through the skipping path."""
    _ranges(catalog, spark, "t.dv", [(0, 10), (10, 20)])
    catalog.delete_where("t.dv", "k = 15")
    got = sorted(r.k for r in catalog.scan("t.dv", "k >= 10").collect())
    assert got == [10, 11, 12, 13, 14, 16, 17, 18, 19]


def test_scan_string_column_pruning(catalog, spark):
    catalog.register("t.str", SCHEMA)
    catalog.append(
        "t.str",
        spark.createDataFrame([(1, "apple"), (2, "banana")], SCHEMA).coalesce(1),
    )
    catalog.append(
        "t.str",
        spark.createDataFrame([(3, "mango"), (4, "zebra")], SCHEMA).coalesce(1),
    )
    kept, total = catalog.pruned_files("t.str", "v = 'avocado'")
    assert total == 2 and kept == 1
    assert catalog.scan("t.str", "v = 'banana'").count() == 1


def test_file_stats_cache_hits(catalog, spark):
    _ranges(catalog, spark, "t.cache", [(0, 10)])
    s1 = catalog.file_stats("t.cache")
    s2 = catalog.file_stats("t.cache")
    assert s1.keys() == s2.keys() and s1
    for rel, st in s1.items():
        assert st["rows"] == 10
        assert st["cols"]["k"][0] == 0 and st["cols"]["k"][1] == 9


def test_partitioned_table_scan_prunes_directories(catalog, spark):
    part_schema = T.StructType(
        [*SCHEMA.fields, T.StructField("part", T.StringType())]
    )
    catalog.register("t.part", part_schema, partition_by=("part",))
    rows = [(i, f"r{i}", "even" if i % 2 == 0 else "odd") for i in range(20)]
    catalog.append("t.part", spark.createDataFrame(rows, part_schema))
    kept, total = catalog.pruned_files("t.part", "part = 'even'")
    assert kept < total
    got = sorted(
        r.k for r in catalog.scan("t.part", "part = 'even'").collect()
    )
    assert got == [i for i in range(20) if i % 2 == 0]


def test_cluster_compaction_then_scan_prunes_hard(catalog, spark):
    """The clustering+skipping synergy that matters at 100 TB: after
    OPTIMIZE cluster-sorts the table, files carry DISJOINT key ranges and
    a selective range predicate opens a small fraction of them."""
    import pyspark.sql.functions as F

    catalog.register("t.clus", SCHEMA)
    # Interleaved appends: every file initially spans the whole k range,
    # so pre-compaction nothing can be pruned.
    for off in range(4):
        rows = [(i * 4 + off, f"r{i}") for i in range(100)]
        catalog.append(
            "t.clus", spark.createDataFrame(rows, SCHEMA).coalesce(1)
        )
    kept0, total0 = catalog.pruned_files("t.clus", "k >= 390")
    assert kept0 == total0 == 4  # no pruning possible on overlapping files
    catalog.compact("t.clus", target_files_per_partition=4, cluster_by=("k",))
    kept1, total1 = catalog.pruned_files("t.clus", "k >= 390")
    assert total1 >= 4 and kept1 == 1
    got = catalog.scan("t.clus", "k >= 390").agg(F.count("*")).collect()[0][0]
    assert got == 10


def test_vacuum_dry_run_counts_without_deleting(catalog, spark):
    from certified_dogs_and_cats_spark.pipeline import DdlSession

    catalog.register("t.vdr", SCHEMA)
    catalog.append("t.vdr", spark.createDataFrame([(1, "a")], SCHEMA))
    catalog.overwrite("t.vdr", spark.createDataFrame([(2, "b")], SCHEMA))
    n = catalog.vacuum("t.vdr", retain_hours=0.0, dry_run=True)
    assert n == 1
    # Nothing was deleted: version 1 still time-travels.
    assert [r.k for r in catalog.table("t.vdr", version=1).collect()] == [1]
    # SQL spelling returns the count as a row.
    ddl = DdlSession(catalog)
    [df] = ddl.execute("VACUUM t.vdr RETAIN 0 HOURS DRY RUN")
    assert df.collect()[0].versions_to_purge == 1
    assert [r.k for r in catalog.table("t.vdr", version=1).collect()] == [1]
    # The real vacuum then purges it.
    assert catalog.vacuum("t.vdr", retain_hours=0.0) == 1


def test_maybe_compact_thresholds(catalog, spark):
    """autoCompact analog: below the small-file threshold nothing runs;
    above it one compaction collapses the accreted files."""
    catalog.register("t.auto", SCHEMA)
    for i in range(4):
        catalog.append(
            "t.auto",
            spark.createDataFrame([(i, f"r{i}")], SCHEMA).coalesce(1),
        )
    assert not catalog.maybe_compact("t.auto", max_small_files=10)
    assert len(catalog._load_manifest("t.auto")[-1]["files"]) >= 4
    assert catalog.maybe_compact("t.auto", max_small_files=3)
    assert len(catalog._load_manifest("t.auto")[-1]["files"]) == 1
    got = sorted(r.k for r in catalog.table("t.auto").collect())
    assert got == [0, 1, 2, 3]


def test_auto_compact_property_triggers_on_append(catalog, spark):
    spec = catalog.register("t.autoprop", SCHEMA)
    spec.properties["delta.autoOptimize.autoCompact"] = "true"
    for i in range(20):
        catalog.append(
            "t.autoprop",
            spark.createDataFrame([(i, f"r{i}")], SCHEMA).coalesce(1),
        )
    files = catalog._load_manifest("t.autoprop")[-1]["files"]
    # Without auto-compaction this would be >= 20 files.
    assert len(files) < 20
    assert catalog.table("t.autoprop").count() == 20


# --- property: pruning is never wrong ---------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _VALS = st.one_of(st.integers(-50, 50), st.none())

    @st.composite
    def _file_and_conjunct(draw):
        rows = draw(st.lists(_VALS, min_size=0, max_size=8))
        op = draw(
            st.sampled_from(["=", "<", "<=", ">", ">=", "in", "null", "notnull"])
        )
        lits = (
            tuple(draw(st.lists(st.integers(-50, 50), min_size=1, max_size=3)))
            if op == "in"
            else ((draw(st.integers(-50, 50)),) if op not in ("null", "notnull") else ())
        )
        return rows, Conjunct("k", op, lits)

    def _true_stats(rows):
        present = [v for v in rows if v is not None]
        return {
            "rows": len(rows),
            "cols": {
                "k": [
                    min(present) if present else None,
                    max(present) if present else None,
                    sum(1 for v in rows if v is None),
                ]
            },
        }

    def _matches(v, c):
        if c.op == "null":
            return v is None
        if c.op == "notnull":
            return v is not None
        if v is None:
            return False
        if c.op == "in":
            return v in c.values
        x = c.values[0]
        return {
            "=": v == x,
            "<": v < x,
            "<=": v <= x,
            ">": v > x,
            ">=": v >= x,
        }[c.op]

    @settings(max_examples=300, deadline=None)
    @given(_file_and_conjunct())
    def test_skip_verdict_is_always_safe(fc):
        """SOUNDNESS: whenever keep_file says skip, truly no row in the
        file satisfies the conjunct — for every op, any null mix, and
        empty files. (Completeness — skipping as much as possible — is
        an optimization; soundness is correctness.)"""
        rows, conj = fc
        kept = keep_file("f", _true_stats(rows), [conj], SCHEMA)
        if not kept:
            assert not any(_matches(v, conj) for v in rows), (
                rows,
                conj,
            )

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


def test_optimize_where_compacts_only_selected_partitions(catalog, spark):
    """OPTIMIZE ... WHERE rewrites only the matching partitions; other
    partitions keep their exact files (at 100 TB: compact yesterday's
    partition, never the table)."""
    import os as _os

    import pytest as _pytest
    from pyspark.sql import types as T

    part_schema = T.StructType(
        [*SCHEMA.fields, T.StructField("part", T.StringType())]
    )
    catalog.register("t.ow", part_schema, partition_by=("part",))
    for i in range(4):
        catalog.append(
            "t.ow",
            spark.createDataFrame(
                [(i, f"r{i}", "a"), (i + 10, f"s{i}", "b")], part_schema
            ),
        )
    before = catalog._load_manifest("t.ow")[-1]["files"]
    b_before = sorted(f for f in before if f.startswith("part=b"))
    catalog.compact("t.ow", where="part = 'a'")
    after = catalog._load_manifest("t.ow")[-1]["files"]
    a_after = [f for f in after if f.startswith("part=a")]
    b_after = sorted(f for f in after if f.startswith("part=b"))
    assert len(a_after) == 1          # compacted
    assert b_after == b_before        # untouched, byte-identical file set
    got = sorted((r.k, r.part) for r in catalog.table("t.ow").collect())
    assert got == sorted(
        [(i, "a") for i in range(4)] + [(i + 10, "b") for i in range(4)]
    )

    # Predicate must stay within partition columns.
    with _pytest.raises(ValueError, match="partition columns"):
        catalog.compact("t.ow", where="k > 2")

    # SQL spelling.
    from certified_dogs_and_cats_spark.pipeline import DdlSession

    DdlSession(catalog).execute("OPTIMIZE t.ow WHERE part = 'b'")
    final = catalog._load_manifest("t.ow")[-1]["files"]
    assert len([f for f in final if f.startswith("part=b")]) == 1
    assert _os.path.isdir(catalog.tables["t.ow"].path)


def test_files_metadata_relation(catalog, spark):
    """files_metadata: one row per live file with footer rows/size and
    JSON column stats; per-file rows sum to the table count; an older
    version reports its own (smaller) file set."""
    import json as _json

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
    )
    catalog.register("t.filesmeta", schema)
    catalog.append(
        "t.filesmeta", spark.createDataFrame([(1, "a"), (2, "b")], schema)
    )
    v1 = catalog.current_version("t.filesmeta")
    catalog.append("t.filesmeta", spark.createDataFrame([(9, "c")], schema))
    fm = catalog.files_metadata("t.filesmeta").collect()
    assert sum(r.rows for r in fm) == 3
    assert all(r.size_bytes > 0 for r in fm)
    # Empty shuffle parts carry no column stats; check a non-empty file.
    nonempty = next(r for r in fm if r.rows > 0)
    stats = _json.loads(nonempty.column_stats)
    assert "k" in stats  # [min, max, nulls] triple per column
    old = catalog.files_metadata("t.filesmeta", version=v1).collect()
    assert sum(r.rows for r in old) == 2
    assert {r.file for r in old} < {r.file for r in fm}


def test_table_files_tvf(catalog, spark):
    from certified_dogs_and_cats_spark.pipeline.ddl import DdlSession

    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.IntegerType())])
    catalog.register("core.t_files", schema)
    catalog.append(
        "core.t_files", spark.createDataFrame([(i,) for i in range(5)], schema)
    )
    ddl = DdlSession(catalog)
    rows = ddl.execute(
        "SELECT count(*) AS n_files, sum(rows) AS n_rows "
        "FROM table_files('core.t_files')"
    )[-1].collect()
    assert rows[0].n_rows == 5 and rows[0].n_files >= 1


def test_compact_target_file_mb_sizes_output(catalog, spark):
    """OPTIMIZE sized by bytes, not by a fixed file count: the live bytes
    (footer-stats cache) divided by the target derive the output file
    count, so the same call keeps producing right-sized files as the
    table grows."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("s", T.StringType())]
    )
    catalog.register("t.sized", schema)
    # ~40 KB of rows across several appends (small files).
    for batch in range(4):
        catalog.append(
            "t.sized",
            spark.createDataFrame(
                [(batch * 1000 + i, "x" * 100) for i in range(100)], schema
            ),
        )
    total = sum(st.get("size", 0) for st in catalog.file_stats("t.sized").values())
    # Target ~1/3 of the table per file -> ~3 output files.
    catalog.compact("t.sized", target_file_mb=total / 3 / 1024 / 1024)
    n_files = len(catalog._load_manifest("t.sized")[-1]["files"])
    assert 2 <= n_files <= 5, n_files
    assert catalog.table("t.sized").count() == 400
    # A huge target collapses to one file.
    catalog.compact("t.sized", target_file_mb=1024)
    assert len(catalog._load_manifest("t.sized")[-1]["files"]) == 1


def test_compact_where_target_file_mb_sizes_from_subset(catalog, spark):
    """OPTIMIZE ... WHERE with target_file_mb must size from the MATCHING
    partitions' bytes: compacting one small partition of a table whose
    other partition is much larger used to inherit the full-table byte
    count and emit far more files than the subset warrants."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("part", T.IntegerType()),
            T.StructField("s", T.StringType()),
        ]
    )
    catalog.register("t.subsz", schema, partition_by=("part",))
    big = [(1, "x" * 200) for _ in range(2000)]
    small = [(2, "y" * 200) for _ in range(50)]
    catalog.append("t.subsz", spark.createDataFrame(big + small, schema))
    stats = catalog.file_stats("t.subsz")
    import os as _os

    small_bytes = sum(
        st.get("size", 0)
        for rel, st in stats.items()
        if _os.path.dirname(rel).endswith("part=2")
    )
    # Target = the small partition's own size -> exactly 1 output file
    # there; sizing from the whole table would have demanded many.
    catalog.compact(
        "t.subsz", where="part = 2", target_file_mb=small_bytes / 1024 / 1024
    )
    files = catalog._load_manifest("t.subsz")[-1]["files"]
    n_small = sum(
        1 for rel in files if _os.path.dirname(rel).endswith("part=2")
    )
    assert n_small == 1, files
    assert catalog.table("t.subsz").count() == 2050
    assert catalog._matching_partition_dirs("t.subsz", "part = 2") == {
        "part=2"
    }
