"""Local table catalog: name -> (path, format, partition columns).

Stands in for Unity Catalog + Delta in the reference (SURVEY.md §1.1).
Tables are partitioned parquet directories; `append` writes through
``DataFrameWriter.partitionBy`` so partition pruning works on read exactly
as it would on a cluster. On a real deployment, set ``fmt="delta"`` and
every operation maps 1:1 (plus ACID).

Versioning (Delta time-travel parity, reference sql/register_bronze.sql:2-4
semantics): every committed write appends an entry to a per-table manifest
(``_meta/<table>/manifest.json``) recording the version number, action, and
the RELATIVE data-file list that constitutes the table at that version —
the same liveness-by-log idea as Delta's transaction log. Table metadata
(partitioning, clustering, column map, DEFAULTs, row filter and column
masks) lives in the same log, as a ``meta`` object on the commits that
change it (Delta's metaData action), so a metadata change is one atomic
commit and a new session re-registers it from the head. ``table(name,
version=N)`` reconstructs snapshot N by resolving those files against the
live directory and the ``_trash`` stamps where overwrites retired them;
``vacuum`` purging a stamp is what finally makes old versions unreadable
(retention ties to time travel exactly as in Delta). Version handles
resolve file locations at call time, so obtain the versioned frame AFTER
the writes you want to ignore.

Concurrent writers (Delta optimistic-concurrency parity): every commit
atomically claims its version number via a hard-link into
``_meta/<table>/commits/`` — blind appends rebase and retry behind a
winning writer (their file attribution is exact: each append stages to a
private directory and commits precisely the files it moved in), while
whole-table rewrites raise :class:`ConcurrentWriteConflict` when the
table changed under them. ``manifest.json`` is a derived checkpoint of
the commit files, so a writer dying between claim and checkpoint merge
loses nothing.

Design notes for 100 TB:
- partition columns are part of registration, so writers can't silently
  produce unpartitioned tables;
- `overwrite` replaces the whole table only for small dims; fact tables are
  append-only + anti-join idempotency (reference semantics);
- reads go through one place, so column pruning/pushdown hints and future
  bucketing are centralized.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import stat
import time
import urllib.parse
from dataclasses import dataclass, field

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import types as T


def _sql_str(path: str) -> str:
    """Escape a filesystem path for embedding in a Spark SQL string
    literal (backslashes first, then quotes — paths like /home/o'brien
    must not truncate the literal)."""
    return path.replace("\\", "\\\\").replace("'", "\\'")


def _ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_type(dt: T.DataType) -> str:
    """``dt`` as a Spark SQL type name (nested field names backquoted)."""
    if isinstance(dt, T.StructType):
        fields = (f"{_ident(f.name)}: {_sql_type(f.dataType)}" for f in dt)
        return f"STRUCT<{', '.join(fields)}>"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{_sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{_sql_type(dt.keyType)}, {_sql_type(dt.valueType)}>"
    return dt.simpleString()


def _select(df: DataFrame, exprs: list[str]) -> DataFrame:
    """``df.selectExpr(*exprs)`` in a fixed number of Py4J round trips,
    whatever the number of columns: building a ``Column`` per field costs
    several round trips each, and even a list of strings travels to the JVM
    one element per round trip. So the expressions go as one struct,
    unpacked by name; the optimizer folds the struct away, leaving the
    plain projection."""
    return df.selectExpr(f"struct({', '.join(exprs)}) AS __cols").select(
        "__cols.*"
    )


def _logical_cols(spec: "TableSpec") -> list[str]:
    """SQL text projecting a frame of physical file columns to the declared
    logical names, order and types (Delta column mapping)."""
    return [
        f"CAST({_ident(spec.physical(f.name))} AS {_sql_type(f.dataType)})"
        f" AS {_ident(f.name)}"
        for f in spec.schema.fields
    ]


def _layout_sig(rel: str) -> tuple[str, ...]:
    """Partition-layout signature of a data file: the ordered col names of
    its ``col=value`` directory segments (empty = unpartitioned layout).
    Delegates to the shared Hive-path parser so escaping rules live in
    exactly one place."""
    from .skipping import hive_partition_segments

    return tuple(col for col, _ in hive_partition_segments(rel))


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """An empty frame of ``schema``, nullability included, planned as an
    empty local relation (``LocalTableScan <empty>``).
    ``createDataFrame([], schema)`` would scan a Python RDD, whose tasks
    start Python workers, and hide the emptiness from
    ``PropagateEmptyRelation``, which folds the joins above an empty
    local relation."""
    jspark = spark._jsparkSession
    jdf = jspark.createDataFrame([], jspark.parseDataType(schema.json()))
    return DataFrame(jdf, spark)


def load_paths(reader: DataFrameReader, paths: list[str]) -> DataFrame:
    """``reader.load(paths)`` in two Py4J round trips, however many paths.

    PySpark hands a list to the JVM one element at a time (a Java
    ``ArrayList`` built with one ``add`` call a path), so a read of a
    table's committed files cost a round trip per file and grew with its
    history. Here the paths cross as one NUL-joined string, which no path
    can contain, and the JVM splits it into the ``String[]`` of
    ``load(String...)``."""
    client = reader._spark.sparkContext._gateway._gateway_client
    split = JavaClass("org.apache.commons.lang3.StringUtils", client).split
    return reader._df(reader._jreader.load(split("\0".join(paths), "\0")))


def one_partition_if_small(df: DataFrame, nbytes: int) -> DataFrame:
    """``df``, a read of files of ``nbytes`` bytes in all, as one partition
    when Spark would not split those bytes for parallelism anyway.

    Spark sizes a file split as ``min(maxPartitionBytes,
    max(openCostInBytes, bytes / cores))`` (``FilePartition.maxSplitBytes``;
    ``cores`` is ``spark.sql.files.minPartitionNum`` or the default
    parallelism). The rule coalesces when ``nbytes`` fits that split. With
    more than one core that means at most ``spark.sql.files.openCostInBytes``
    (4 MB by default), which holds every ``daily_etl`` table (tens of KB)
    and the reference's whole three-year Silver load (about 2 MB); a
    larger read keeps Spark's parallel scan, so a 16-128 MB table is not
    put on one core. ``Coalesce 1`` reports a single partition, so the
    aggregates, windows and broadcast joins above it plan no exchange: a
    small read runs as one job of one task, where each exchange would cost
    its own stage and job for data that AQE then coalesces back into one
    partition.

    ``bytes`` here are the data bytes only. Spark also charges each file
    ``openCostInBytes``, which would turn the rule off past one file a
    core, so a long history of small files reads as one partition while
    its data stays under the bound.

    Compaction (:meth:`Catalog.compact`, ``_compact_partitions``) keeps its
    file count over this read only because Spark's ``CollapseRepartition``
    replaces the inner ``coalesce(1)`` with the compaction's outer
    ``coalesce(n)``; a ``Project`` put between the two would stop that
    and OPTIMIZE would write one file instead of ``n``."""
    jspark = df.sparkSession._jsparkSession
    conf = jspark.sessionState().conf()
    if nbytes > conf.filesMaxPartitionBytes():
        return df
    if nbytes > conf.filesOpenCostInBytes():
        # Past the open cost only bytes / cores can cover nbytes: one core.
        n = conf.filesMinPartitionNum()
        cores = n.get() if n.isDefined() else jspark.leafNodeDefaultParallelism()
        if cores > 1:
            return df
    return df.coalesce(1)


def _one_partition(df: DataFrame) -> bool:
    """True when ``df``'s physical plan reports exactly one output
    partition (a ``coalesce(1)`` read and the joins, windows and
    projections that keep its partitioning). It plans ``df`` without
    running it; a file scan reports an unknown count and reads False."""
    qe = df._jdf.queryExecution()
    return qe.sparkPlan().outputPartitioning().numPartitions() == 1


class ConstraintViolation(ValueError):
    """A write would insert rows violating a CHECK constraint."""


#: Message of the ``raise_error`` that :func:`_enforced` plants in a write.
_VIOLATION = "__catalog_constraint_violation__"


def _enforced(
    spec: "TableSpec", df: DataFrame, checks: dict[str, str]
) -> DataFrame:
    """``df`` with the table's first declared column replaced by one that
    raises :data:`_VIOLATION` on any row failing a check (a NULL result
    fails, as in :meth:`Catalog._check_constraints`). The check lives in a
    column every write keeps (undeclared columns of a wider frame are
    projected away), not in a filter, so the optimizer can neither drop it
    nor push it below a join to test rows the write would never emit."""
    if not checks:
        return df
    from pyspark.sql import functions as F

    bad = " OR ".join(f"NOT coalesce(({e}), false)" for e in checks.values())
    first = spec.schema.fields[0].name
    return df.withColumn(
        first,
        F.when(F.expr(bad), F.raise_error(F.lit(_VIOLATION))).otherwise(
            df[first]
        ),
    )


class ConcurrentWriteConflict(RuntimeError):
    """Another writer committed a version while this operation was staging.

    Raised by whole-table actions (overwrite / compact / drop /
    overwrite_partitions), whose directory-snapshot semantics cannot be
    rebased; blind appends never raise it — they rebase on the new log and
    retry, exactly Delta's append-vs-rewrite conflict matrix."""


@dataclass
class TableSpec:
    name: str
    path: str
    schema: T.StructType
    partition_by: tuple[str, ...] = ()
    fmt: str = "parquet"
    constraints: dict[str, str] = field(default_factory=dict)
    properties: dict[str, str] = field(default_factory=dict)
    # Generated columns (Delta GENERATED ALWAYS AS): col -> SQL expr over
    # the row's other columns; computed when a writer omits the column,
    # validated (null-safe equality) when a writer provides it.
    generated: dict[str, str] = field(default_factory=dict)
    # Identity columns (Delta GENERATED ALWAYS AS IDENTITY): col ->
    # {"start": int, "step": int}. Values are engine-assigned (a writer
    # providing the column is an error, Delta's ALWAYS contract); see
    # Catalog._apply_identity for the allocation scheme.
    identity: dict[str, dict] = field(default_factory=dict)
    # ``partition_by`` and the fields from here down are the table
    # metadata kept in the commit log (``_META_FIELDS``): each change is
    # one commit, and a new session's ``register`` reads them back.
    #
    # Column mapping (Delta columnMapping.mode=name): logical column ->
    # physical name stored in data files. Empty = identity mapping. Only
    # populated by metadata-only RENAME/DROP COLUMN on tables with
    # TBLPROPERTIES ('delta.columnMapping.mode'='name').
    column_map: dict[str, str] = field(default_factory=dict)
    # Physical names present in existing files but no longer mapped to a
    # logical column (metadata-only drops): reserved so a re-added column
    # can never resurrect old bytes.
    dropped_physical: list[str] = field(default_factory=list)
    # Declared clustering key (Delta liquid clustering, CLUSTER BY):
    # OPTIMIZE without an explicit ZORDER clause clusters by these.
    # Metadata-only to set/alter; existing files recluster at the next
    # OPTIMIZE, never eagerly.
    cluster_by: tuple[str, ...] = ()
    # Column DEFAULTs (Delta CURRENT DEFAULT parity): col -> SQL literal/
    # expression string, materialized AT WRITE TIME when a writer omits
    # the column (an explicitly provided NULL stays NULL — defaults are
    # not NULL-coalescing). Rows written before the default existed keep
    # their stored values (existing files are never rewritten).
    defaults: dict[str, str] = field(default_factory=dict)
    # Read-time governance (Unity/Snowflake-style): a row-filter SQL
    # predicate and per-column mask expressions, applied by
    # :meth:`Catalog.governed_table` (the SQL front door reads through
    # it); raw :meth:`Catalog.table` stays policy-free so maintenance
    # (OPTIMIZE, MERGE internals, constraint checks) operates on the
    # actual data.
    row_filter: str | None = None
    column_masks: dict[str, str] = field(default_factory=dict)

    def physical(self, logical: str) -> str:
        return self.column_map.get(logical, logical)

    def physical_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(self.physical(f.name), f.dataType, f.nullable)
                for f in self.schema.fields
            ]
        )

    @property
    def mapping_mode(self) -> bool:
        return self.properties.get("delta.columnMapping.mode") == "name"


#: TableSpec fields kept in the commit log's ``meta`` object.
_META_FIELDS = (
    "partition_by",
    "cluster_by",
    "column_map",
    "dropped_physical",
    "defaults",
    "row_filter",
    "column_masks",
)


def _spec_meta(spec: TableSpec, **changes) -> dict:
    """The spec's metadata, with ``changes`` applied, as the JSON
    ``meta`` object a commit stores."""
    meta = {k: getattr(spec, k) for k in _META_FIELDS}
    return json.loads(json.dumps({**meta, **changes}))


def _adopt_meta(spec: TableSpec, meta: dict) -> None:
    """Set the spec's metadata fields from a commit's ``meta`` object."""
    meta = json.loads(json.dumps(meta))  # the spec owns its copy
    for k in _META_FIELDS:
        v = meta[k]
        setattr(spec, k, tuple(v) if k in ("partition_by", "cluster_by") else v)


#: (path, mtime_ns) -> parsed checkpoint entry (see Catalog._read_checkpoint).
_CKPT_CACHE: dict[tuple[str, int], dict] = {}


def _ranges(versions) -> list[str]:
    """Compact "a..b" spans of a sorted int iterable, for error text."""
    out: list[str] = []
    start = prev = None
    for v in versions:
        if start is None:
            start = prev = v
        elif v == prev + 1:
            prev = v
        else:
            out.append(f"{start}..{prev}" if prev > start else str(start))
            start = prev = v
    if start is not None:
        out.append(f"{start}..{prev}" if prev > start else str(start))
    return out


@dataclass
class Catalog:
    spark: SparkSession
    root: str
    tables: dict[str, TableSpec] = field(default_factory=dict)
    #: Write a full-state checkpoint every N commits (Delta's
    #: checkpointInterval). Commit-time log work is then bounded by N
    #: plus in-flight writers, not by table history; per-version commit
    #: files keep the full history for time travel until vacuum's
    #: retention window ages them out (Delta's log cleanup).
    checkpoint_interval: int = 100

    def register(
        self,
        name: str,
        schema: T.StructType,
        partition_by: tuple[str, ...] = (),
        fmt: str = "parquet",
    ) -> TableSpec:
        spec = TableSpec(
            name=name,
            path=os.path.join(self.root, name.replace(".", "/")),
            schema=schema,
            partition_by=partition_by,
            fmt=fmt,
        )
        self.tables[name] = spec
        # The log's metadata wins over the registration arguments: a new
        # session re-registers the original schema and layout, while
        # renames, evolved partitioning, clustering, DEFAULTs and
        # policies live in the head's ``meta`` (empty after a drop).
        head = self._load_manifest(name)
        if head and head[-1].get("meta"):
            _adopt_meta(spec, head[-1]["meta"])
        return spec

    def exists(self, name: str) -> bool:
        spec = self.tables[name]
        return os.path.isdir(spec.path) and any(
            not f.startswith((".", "_")) for f in os.listdir(spec.path)
        )

    def table(self, name: str, version: int | None = None) -> DataFrame:
        """Read a table; empty (never-written) tables yield an empty frame
        with the declared schema, so downstream anti-joins/aggregations work
        on first run without special-casing.

        ``version=N`` time-travels to committed version N (1-based; see
        :meth:`history`): the manifest's file list for N is resolved
        against the live directory and the ``_trash`` stamps where later
        overwrites retired those files, and read with per-root ``basePath``
        so partition-column inference still works. Raises if the version
        was vacuumed away or never existed.

        The declared schema is passed to the reader, so files written
        before a column was added (:meth:`add_column`) read back with
        nulls for it — parquet schema evolution without rewriting data.

        A committed version whose files Spark would not split for
        parallelism (at most ``spark.sql.files.openCostInBytes``, 4 MB,
        on more than one core; never past
        ``spark.sql.files.maxPartitionBytes``) reads as one partition, so
        the aggregates and windows of a query over a small table run in
        one job of one task, with no shuffle; a larger one reads with
        Spark's parallel file scan (:func:`one_partition_if_small`).
        """
        spec = self.tables[name]
        if isinstance(version, str):
            version = self.resolve_tag(name, version)
        if version is not None:
            return self._read_version(spec, version)
        if not self.exists(name):
            return empty_frame(self.spark, spec.schema)
        manifest = self._load_manifest(name)
        if manifest:
            # Liveness is defined by the LOG, not by which files happen
            # to sit in the directory: reading the head's committed file
            # list makes uncommitted orphans (a crashed append's staged
            # files, a racing writer's half-moved set) invisible, gives
            # racing readers a consistent snapshot, and handles partition
            # evolution's mixed layouts — exactly the contract _commit
            # documents. The directory read below remains only for
            # externally-populated dirs with no manifest.
            head = manifest[-1]
            return self._resolve_and_read(
                spec, head["files"], head["version"], dvs=head.get("dv", [])
            )
        df = (
            self.spark.read.format(spec.fmt)
            .schema(spec.physical_schema())
            .load(spec.path)
        )
        # Partition columns come back typed by directory inference; project
        # to the declared column order and types (physical file names map
        # back to logical declared names — Delta column mapping).
        return _select(df, _logical_cols(spec))

    # --- deletion vectors (merge-on-read DELETE) -------------------------

    def _live_scan(self, spec: TableSpec, manifest: list[dict]):
        """Physical scan of exactly the manifest head's LIVE files (with
        ``_metadata`` reachable for row-identity keying), or None when
        the head has no files. The row-level DML paths must use this,
        never ``load(spec.path)``: the table directory also contains
        other writers' not-yet-committed staged files, so a directory
        scan under concurrency matches rows that do not exist — a
        conflicted update that retried against its own orphaned staged
        copies doubled its match set on EVERY retry
        (LAKEHOUSE_STRESS.md: 5 rows became 5 * 2^17). ``basePath``
        keeps Hive partition columns derivable from explicit file
        paths."""
        live = manifest[-1]["files"] if manifest else []
        if not live:
            return None
        return load_paths(
            self.spark.read.format(spec.fmt)
            .schema(spec.physical_schema())
            .option("basePath", spec.path),
            [os.path.join(spec.path, f) for f in live],
        )

    def _dv_dir(self, name: str) -> str:
        return os.path.join(self._meta_dir(name), "dv")

    def _drop_deleted(
        self, df: DataFrame, name: str, dvs: list[str], file_col: str, idx_col: str
    ) -> DataFrame:
        """``df`` without the rows that ``name``'s deletion-vector files
        ``dvs`` mark deleted. ``df`` keys each row by its root-relative
        file (``file_col``) and row index (``idx_col``)."""
        from pyspark.sql import functions as F

        if not dvs:
            return df
        dv = load_paths(
            self.spark.read.format("parquet"),
            [os.path.join(self._dv_dir(name), f) for f in dvs],
        )
        return df.join(
            F.broadcast(
                dv.select(
                    F.col("file").alias(file_col),
                    F.col("row_index").alias(idx_col),
                )
            ),
            [file_col, idx_col],
            "left_anti",
        )

    def delete_where(
        self, name: str, predicate: str, rewrite: bool = False
    ) -> int:
        """``DELETE FROM <name> WHERE <predicate>``.

        Default is MERGE-ON-READ deletion vectors (Delta DV parity): the
        matching rows' (file, row_index) identities are written to a
        sidecar under ``_meta/<table>/dv/`` and every subsequent read
        anti-joins them away — no data file is rewritten, which at 100 TB
        is the difference between a metadata-sized write and rewriting
        the table. The DV commit is a normal versioned commit: time
        travel to a pre-delete version ignores it, and OPTIMIZE /
        :meth:`compact` (or any full overwrite) materializes the deletes
        and resets the DV set.

        ``rewrite=True`` is classic copy-on-write (kept for compaction
        and for tables where read amplification matters more than write
        cost). Returns the number of rows deleted.
        """
        from pyspark.sql import functions as F

        spec = self.tables[name]
        if not self.exists(name):
            return 0
        if rewrite:
            cur = self.table(name)
            keep = cur.filter(~F.expr(predicate) | F.expr(predicate).isNull())
            deleted = cur.count()
            self.overwrite(name, keep)
            return deleted - self.table(name).count()
        self._require_uniform_layout(spec)
        manifest = self._load_manifest(name)
        base_version = manifest[-1]["version"] if manifest else 0
        prior = manifest[-1].get("dv", []) if manifest else []
        df = self._live_scan(spec, manifest)
        if df is None:
            return 0
        root = os.path.abspath(spec.path)
        # Key every row by its (relative file, row_index) identity FIRST —
        # the same columns serve to exclude already-tombstoned rows (don't
        # re-tombstone) and to emit the new tombstones. Physical file
        # columns alias back to logical names in the SAME projection (the
        # _metadata pseudo-column is only reachable from the scan frame).
        keyed = df.select(
            *[
                df[spec.physical(f.name)].alias(f.name)
                for f in spec.schema.fields
            ],
            F.expr(
                f"substring_index(_metadata.file_path, '{_sql_str(root)}/', -1)"
            ).alias("__f"),
            F.col("_metadata.row_index").alias("__i"),
        )
        keyed = self._drop_deleted(keyed, name, prior, "__f", "__i")
        hits = keyed.filter(F.expr(predicate)).select(
            F.col("__f").alias("file"), F.col("__i").alias("row_index")
        )
        dv_name = f"dv-{os.getpid()}-{time.time_ns()}"
        out = os.path.join(self._dv_dir(name), dv_name)
        hits.coalesce(1).write.mode("overwrite").parquet(out)
        n = self.spark.read.parquet(out).count()
        if n == 0:
            shutil.rmtree(out, ignore_errors=True)
            return 0
        try:
            # added=[] pins the commit's file list to the PREDECESSOR's
            # (a DV delete changes no data files) instead of snapshotting
            # the directory — which, under concurrent writers, contains
            # their not-yet-committed staged files and would wrongly
            # promote them into this version's live set.
            self._commit(
                name,
                "delete",
                added=[],
                dv=prior + [dv_name],
                expected_base=base_version,
            )
        except ConcurrentWriteConflict:
            # The sidecar was never referenced by a committed version —
            # remove it so a retrying caller can't accumulate orphans.
            shutil.rmtree(out, ignore_errors=True)
            raise
        return n

    def update_where(
        self,
        name: str,
        assignments: dict[str, str],
        predicate: str,
    ) -> int:
        """``UPDATE <name> SET col = expr, ... WHERE <predicate>`` as
        merge-on-read: the matching rows are tombstoned and their UPDATED
        COPIES appended, both in ONE atomic commit (action 'update'
        carrying the deletion vector AND the added files) — Delta's
        DV-update shape. Write cost scales with the rows touched, never
        the table. Assignment expressions see the pre-update row (all
        SETs simultaneous) and cast back to the declared column types.
        Returns the number of rows updated; the change feed reports the
        old rows as deletes and the new copies as inserts."""
        from pyspark.sql import functions as F

        spec = self.tables[name]
        unknown = [c for c in assignments if c not in spec.schema.fieldNames()]
        if unknown:
            raise ValueError(f"unknown column(s) in SET: {unknown}")
        ident = [c for c in assignments if c in spec.identity]
        if ident:
            raise ConstraintViolation(
                f"{name}: column(s) {ident} are GENERATED ALWAYS AS"
                " IDENTITY; UPDATE cannot assign them"
            )
        if not self.exists(name):
            return 0
        self._require_uniform_layout(spec)
        manifest = self._load_manifest(name)
        base_version = manifest[-1]["version"] if manifest else 0
        prior = manifest[-1].get("dv", []) if manifest else []
        df = self._live_scan(spec, manifest)
        if df is None:
            return 0
        root = os.path.abspath(spec.path)
        keyed = df.select(
            *[
                df[spec.physical(f.name)].alias(f.name)
                for f in spec.schema.fields
            ],
            F.expr(
                f"substring_index(_metadata.file_path, '{_sql_str(root)}/', -1)"
            ).alias("__f"),
            F.col("_metadata.row_index").alias("__i"),
        )
        keyed = self._drop_deleted(keyed, name, prior, "__f", "__i")
        hits = keyed.filter(F.expr(predicate))
        types = {f.name: f.dataType for f in spec.schema.fields}
        updated = hits.select(
            *[
                F.expr(assignments[c]).cast(types[c]).alias(c)
                if c in assignments
                else F.col(c)
                for c in spec.schema.fieldNames()
            ]
        )
        # Re-derive generated columns the SET didn't assign directly: an
        # update to their source columns must refresh them (Delta UPDATE
        # semantics); directly-assigned ones are validated instead.
        regen = [c for c in spec.generated if c not in assignments]
        if regen:
            updated = updated.drop(*regen)
        updated = self._apply_generated(spec, updated)
        updated = updated.select(*spec.schema.fieldNames())
        dv_name = f"dv-{os.getpid()}-{time.time_ns()}"
        out = os.path.join(self._dv_dir(name), dv_name)
        hits.select(
            F.col("__f").alias("file"), F.col("__i").alias("row_index")
        ).coalesce(1).write.mode("overwrite").parquet(out)
        n = self.spark.read.parquet(out).count()
        if n == 0:
            shutil.rmtree(out, ignore_errors=True)
            return 0
        try:
            added, _ = self._stage_files_in(spec, updated)
        except Exception:
            # A constraint violation (or any failed write): the sidecar
            # was never committed.
            shutil.rmtree(out, ignore_errors=True)
            raise
        try:
            self._commit(
                name,
                "update",
                added=added,
                dv=prior + [dv_name],
                rebase=False,
                expected_base=base_version,
            )
        except ConcurrentWriteConflict:
            # Unstage: the copies and the sidecar were never committed.
            # Leaving them in the table directory is what turned retry
            # loops exponential before live scans were manifest-scoped
            # (LAKEHOUSE_STRESS: 5 rows -> 5 * 2^retries matches), and
            # they'd sit as unaccounted garbage even now.
            for rel in added:
                try:
                    os.remove(os.path.join(spec.path, rel))
                except OSError:
                    pass
            shutil.rmtree(out, ignore_errors=True)
            raise
        return n

    def replace_where(self, name: str, predicate: str, df: DataFrame) -> int:
        """Delta's ``replaceWhere`` writer option as a first-class op:
        ATOMICALLY replace exactly the rows matching ``predicate`` with
        the rows of ``df`` — one commit carrying both the deletion vector
        (tombstoning the matches, zero data files rewritten) and the new
        data files. The row-level generalization of
        :meth:`overwrite_partitions`: backfills and corrections replace a
        key range, not a whole partition or table.

        Incoming rows are REQUIRED to satisfy the predicate (Delta's
        contract — otherwise a "replace January" write could smuggle in
        February rows); violations raise before anything is staged.
        Returns the number of rows replaced (tombstoned).
        """
        from pyspark.sql import functions as F

        spec = self.tables[name]
        df = self._apply_defaults(spec, df)
        df = self._apply_identity(spec, df)
        df = self._apply_generated(spec, df)
        stray = (
            df.filter(~F.expr(predicate) | F.expr(predicate).isNull())
            .limit(1)
            .count()
        )
        if stray:
            raise ConstraintViolation(
                f"{name}: replace_where({predicate!r}) was given rows that"
                " do not satisfy the predicate"
            )
        if not self.exists(name):
            added, _ = self._stage_files_in(spec, df)
            self._commit(name, "replace_where", added=added)
            return 0
        self._require_uniform_layout(spec)
        manifest = self._load_manifest(name)
        base_version = manifest[-1]["version"] if manifest else 0
        prior = manifest[-1].get("dv", []) if manifest else []
        cur = self._live_scan(spec, manifest)
        if cur is None:
            added, _ = self._stage_files_in(spec, df)
            self._commit(name, "replace_where", added=added)
            return 0
        root = os.path.abspath(spec.path)
        keyed = cur.select(
            *[
                cur[spec.physical(f.name)].alias(f.name)
                for f in spec.schema.fields
            ],
            F.expr(
                f"substring_index(_metadata.file_path, '{_sql_str(root)}/', -1)"
            ).alias("__f"),
            F.col("_metadata.row_index").alias("__i"),
        )
        keyed = self._drop_deleted(keyed, name, prior, "__f", "__i")
        hits = keyed.filter(F.expr(predicate))
        dv_name = f"dv-{os.getpid()}-{time.time_ns()}"
        out = os.path.join(self._dv_dir(name), dv_name)
        hits.select(
            F.col("__f").alias("file"), F.col("__i").alias("row_index")
        ).coalesce(1).write.mode("overwrite").parquet(out)
        n = self.spark.read.parquet(out).count()
        dvs = prior + [dv_name] if n else prior
        if n == 0:
            shutil.rmtree(out, ignore_errors=True)
        try:
            added, _ = self._stage_files_in(spec, df)
        except Exception:
            shutil.rmtree(out, ignore_errors=True)
            raise
        try:
            self._commit(
                name,
                "replace_where",
                added=added,
                dv=dvs if dvs else None,
                rebase=False,
                expected_base=base_version,
            )
        except ConcurrentWriteConflict:
            # Unstage (same contract as update_where): nothing this call
            # wrote was ever referenced by a committed version.
            for rel in added:
                try:
                    os.remove(os.path.join(spec.path, rel))
                except OSError:
                    pass
            if n:
                shutil.rmtree(out, ignore_errors=True)
            raise
        return n

    # --- versioning (Delta time-travel parity) ---------------------------

    def _meta_dir(self, name: str) -> str:
        return os.path.join(self.root, "_meta", name.replace(".", "/"))

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._meta_dir(name), "manifest.json")

    def _commits_dir(self, name: str) -> str:
        return os.path.join(self._meta_dir(name), "commits")

    def _ckpt_dir(self, name: str) -> str:
        return os.path.join(self._meta_dir(name), "checkpoints")

    def _checkpoint_versions(self, name: str) -> list[int]:
        """Versions of all retained periodic checkpoints, ascending."""
        cdir = self._ckpt_dir(name)
        if not os.path.isdir(cdir):
            return []
        return sorted(
            int(fn[: -len(".json")])
            for fn in os.listdir(cdir)
            if fn.endswith(".json")
        )

    def _read_checkpoint(self, name: str, version: int) -> dict:
        """Parse a checkpoint file through the (path, mtime) cache: the
        file is immutable once written (new versions get new files),
        but its SIZE is O(table file count) — without the cache every
        hot log read (every commit claim, txn check, head read)
        re-parses it. Callers treat the returned dict as read-only
        (:meth:`_replay` copies before mutating)."""
        path = os.path.join(self._ckpt_dir(name), f"{version:012d}.json")
        key = (path, os.stat(path).st_mtime_ns)
        hit = _CKPT_CACHE.get(key)
        if hit is None:
            with open(path) as f:
                hit = json.load(f)
            if len(_CKPT_CACHE) > 64:
                _CKPT_CACHE.clear()
            _CKPT_CACHE[key] = hit
        return hit

    def _latest_checkpoint(self, name: str) -> dict | None:
        """Newest periodic checkpoint entry (snapshot form: full
        ``files`` list + ``txn_high`` idempotent-writer high-water), or
        None for tables that have not crossed ``checkpoint_interval``
        commits yet (and for pre-checkpoint-era logs)."""
        versions = self._checkpoint_versions(name)
        if not versions:
            return None
        return self._read_checkpoint(name, versions[-1])

    def _load_log(self, name: str, full: bool = False) -> list[dict]:
        """The committed log AS STORED, replay-ready.

        The hot view (``full=False`` — what every commit/head-read/txn
        check pays) is BOUNDED BY ``checkpoint_interval``, not by table
        history: the newest periodic checkpoint (a snapshot-form entry)
        plus ``manifest.json`` (which holds only POST-checkpoint
        entries) plus any per-version commit files a writer claimed but
        has not yet merged (crash window, or a concurrent committer).
        The commit files are the source of truth, the merged manifest a
        derived read optimization — exactly Delta's log/checkpoint
        split, including the json-log/parquet-checkpoint replay rule.

        ``full=True`` additionally reads EVERY retained per-version
        commit file — the cold view time travel, history and the change
        feed replay; O(retained versions) file reads, pruned by
        :meth:`vacuum`'s retention window like Delta's log cleanup.

        Entries are in the DELTA form ``_commit`` writes (``add``/
        ``remove`` file deltas vs the predecessor), so on-disk size is
        O(total files ever touched), never O(versions x table size);
        legacy full-``files`` entries (older logs, checkpoints, or
        externally crafted commit files) pass through and are handled
        by :meth:`_load_manifest`'s replay as snapshot resets."""
        ckpt = self._latest_checkpoint(name)
        floor = ckpt["version"] if ckpt and not full else 0
        path = self._manifest_path(name)
        entries: list[dict] = []
        if os.path.isfile(path):
            with open(path) as f:
                entries = [
                    e for e in json.load(f) if e["version"] > floor
                ]
        cdir = self._commits_dir(name)
        if os.path.isdir(cdir):
            known = {e["version"] for e in entries}
            for fn in sorted(os.listdir(cdir)):
                if not fn.endswith(".json"):
                    continue
                v = int(fn[: -len(".json")])
                if v in known or v <= floor:
                    continue
                with open(os.path.join(cdir, fn)) as f:
                    entries.append(json.load(f))
        if ckpt is not None:
            have = {e["version"] for e in entries}
            if full and all(
                v in have for v in range(1, ckpt["version"] + 1)
            ):
                # Full retained history still grounds the chain: keep
                # the original per-version entries (actions, txn
                # markers, CDF attribution stay byte-identical); the
                # checkpoint is only a replay shortcut, not a record.
                pass
            else:
                entries = [
                    e for e in entries if e["version"] != ckpt["version"]
                ] + [ckpt]
        entries.sort(key=lambda e: e["version"])
        return entries

    def _load_log_range(self, name: str, lo: int, hi: int) -> list[dict]:
        """Entries sufficient to replay versions [lo, hi] — Delta's
        targeted read: ground at the NEWEST retained checkpoint at or
        below ``lo``, then only the per-version commit files / manifest
        entries in (checkpoint, hi]. Cost is O(hi - checkpoint), never
        O(history) — the difference between a constant-time
        ``table(version=5)`` and opening every commit file ever written
        (the full-view draft measured 9.7x time-travel growth per 4x
        commits from exactly that). With no checkpoint at or below
        ``lo`` the chain grounds at version 1."""
        floor_candidates = [
            v for v in self._checkpoint_versions(name) if v <= lo
        ]
        ckpt = (
            self._read_checkpoint(name, floor_candidates[-1])
            if floor_candidates
            else None
        )
        floor = ckpt["version"] if ckpt else 0
        entries: list[dict] = []
        path = self._manifest_path(name)
        if os.path.isfile(path):
            with open(path) as f:
                entries = [
                    e
                    for e in json.load(f)
                    if floor < e["version"] <= hi
                ]
        cdir = self._commits_dir(name)
        if os.path.isdir(cdir):
            known = {e["version"] for e in entries}
            # Versions are claimed contiguously, so probe direct paths
            # instead of listing the (history-sized) directory.
            for v in range(floor + 1, hi + 1):
                if v in known:
                    continue
                p = os.path.join(cdir, f"{v:012d}.json")
                if os.path.isfile(p):
                    with open(p) as f:
                        entries.append(json.load(f))
        if ckpt is not None:
            entries = [
                e for e in entries if e["version"] != ckpt["version"]
            ] + [ckpt]
        entries.sort(key=lambda e: e["version"])
        return entries

    def _load_manifest(self, name: str, full: bool = False) -> list[dict]:
        """The committed log with each version's FULL file list
        materialized: replays :meth:`_load_log`'s add/remove deltas
        forward, attaching ``files`` to a COPY of every entry (the raw
        log dicts stay delta-form — they are what checkpoints re-dump).
        Consumers keep the simple per-version ``entry["files"]`` view;
        the disk pays only deltas. A legacy entry already carrying
        ``files`` resets the replay set (snapshot semantics), which also
        grandfathers pre-delta logs byte-for-byte."""
        return self._replay(self._load_log(name, full=full))

    @staticmethod
    def _replay(log: list[dict]) -> list[dict]:
        """Attach full file lists to a COPY of every replayable entry.

        A delta-form entry is replayable only when its predecessor chain
        is GROUNDED — reaches back to version 1 or to a snapshot-form
        entry (a checkpoint, or a legacy full-``files`` commit). After
        vacuum has aged pre-checkpoint commit files out of the log, the
        surviving delta entries between the truncation point and the
        checkpoint have no grounded base; attaching file lists replayed
        from an empty set would be silently WRONG, so those entries are
        dropped — their versions read as nonexistent, matching the fact
        that their data files are already past retention.

        Table metadata replays the same way: a snapshot carries its
        ``meta``, a delta entry carries one only when the metadata
        changed, and every replayed copy gets the ``meta`` in force at
        its version (treat it as read-only: copies share it)."""
        out: list[dict] = []
        running: set[str] = set()
        meta: dict = {}
        grounded = False
        prev_version = 0
        for raw in log:
            e = dict(raw)
            if "files" in e:
                running = set(e["files"])
                meta = e.get("meta", {})
                grounded = True
            else:
                if e["version"] == 1:
                    running, meta, grounded = set(), {}, True
                elif e["version"] != prev_version + 1 or not grounded:
                    grounded = False
                    prev_version = e["version"]
                    continue
                running = (running | set(e.pop("add", ()))) - set(
                    e.pop("remove", ())
                )
                e["files"] = sorted(running)
                meta = e.get("meta", meta)
            e["meta"] = meta
            prev_version = e["version"]
            out.append(e)
        return out

    def _data_files(self, root: str) -> list[str]:
        """Relative paths of data files under ``root`` (hidden/_SUCCESS
        markers excluded) — the file set that IS a table version."""
        out = []
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
            for fn in filenames:
                if fn.startswith((".", "_")):
                    continue
                out.append(
                    os.path.relpath(os.path.join(dirpath, fn), root)
                )
        return sorted(out)

    def _commit(
        self,
        name: str,
        action: str,
        txn: dict | None = None,
        added: list[str] | None = None,
        dv: list[str] | None = None,
        rebase: bool = True,
        expected_base: int | None = None,
        meta: dict | None = None,
    ) -> int:
        """Commit a new table version; returns its number. The manifest is
        the analog of Delta's transaction log: liveness is defined by the
        log, not by which directory a file happens to sit in. ``txn``
        attaches an idempotent-writer marker ({stream_id, batch_id} —
        Delta's `txn` action) checked by :meth:`txn_committed`.

        Concurrency (Delta optimistic-concurrency parity): the version
        number is CLAIMED atomically — the entry is fully written to a
        temp file and ``os.link``ed to ``commits/<version>.json``, which
        fails with EEXIST iff another writer claimed that version first
        (and, because the link source is complete, a claimed commit can
        never be observed half-written). ``added`` marks a blind append:
        its version's file list is the predecessor's list plus exactly the
        files THIS writer staged, so on a lost claim it rebases on the new
        log and retries — concurrent appends all land, in some order.
        Without ``added`` the entry snapshots the live directory
        (whole-table rewrite semantics), which cannot be rebased: a lost
        claim raises :class:`ConcurrentWriteConflict`. ``meta`` replaces
        the table metadata from this version on (see :meth:`_replay`);
        without it the predecessor's carries forward."""
        spec = self.tables[name]
        cdir = self._commits_dir(name)
        os.makedirs(cdir, exist_ok=True)
        for _ in range(50):
            log = self._load_log(name)
            manifest = self._replay(log)
            version = (manifest[-1]["version"] + 1) if manifest else 1
            if expected_base is not None and version != expected_base + 1:
                # Row-level writes validate that the head is STILL the
                # snapshot their deletion vectors were computed against —
                # any commit in between could have added/removed rows the
                # predicate should have seen (Delta's conflict check for
                # UPDATE/DELETE/replaceWhere).
                raise ConcurrentWriteConflict(
                    f"{name}: the table advanced from version "
                    f"{expected_base} while this {action!r} was computing"
                    " its row-level changes; re-read and retry"
                )
            if added is not None:
                base = manifest[-1]["files"] if manifest else []
                files = sorted(set(base) | set(added))
            else:
                files = (
                    self._data_files(spec.path)
                    if os.path.isdir(spec.path)
                    else []
                )
            # Deletion vectors carry forward by default (tombstones on
            # untouched files stay live — critical for partial rewrites
            # like overwrite_partitions); a full overwrite/drop replaces
            # every data file (fresh UUID names — stale tombstones can
            # never re-match), so the DV set resets. delete_where passes
            # the grown set explicitly via ``dv``.
            if dv is not None:
                # Union with the current head's DV set (recomputed on every
                # claim retry): tombstones are absolute (file, row) facts,
                # so a concurrent delete's sidecars merge, never clobber.
                head = manifest[-1].get("dv", []) if manifest else []
                dvs = sorted(set(dv) | set(head))
            elif action in ("overwrite", "drop"):
                dvs = []
            else:
                dvs = list(manifest[-1].get("dv", [])) if manifest else []
            # Stored form is the DELTA vs the predecessor (Delta-log
            # add/remove actions): a blind append's entry is O(its own
            # staged files) however long the history, and the merged
            # checkpoint is O(total files ever touched) instead of
            # O(versions x table size) — the difference between flat and
            # quadratic log growth under many small commits
            # (scripts/scaling_lakehouse.py measures exactly this).
            prev = set(manifest[-1]["files"]) if manifest else set()
            cur = set(files)
            entry = {
                "version": version,
                "action": action,
                "ts_ns": time.time_ns(),
                "add": sorted(cur - prev),
                "remove": sorted(prev - cur),
            }
            if dvs:
                entry["dv"] = dvs
            if txn is not None:
                entry["txn"] = txn
            if meta is not None:
                entry["meta"] = meta
            tmp = os.path.join(cdir, f".tmp-{os.getpid()}-{time.time_ns()}")
            with open(tmp, "w") as f:
                json.dump(entry, f)
            final = os.path.join(cdir, f"{version:012d}.json")
            try:
                os.link(tmp, final)
            except FileExistsError:
                os.unlink(tmp)
                if added is None or not rebase:
                    # rebase=False: row-level writes (update/replace via
                    # deletion vectors) computed their tombstones against
                    # a SNAPSHOT — rebasing past a racing writer could
                    # silently duplicate or resurrect rows, so they
                    # conflict like whole-table rewrites (Delta's
                    # ConcurrentAppendException for row-level ops).
                    raise ConcurrentWriteConflict(
                        f"{name}: version {version} was committed by "
                        f"another writer while this {action!r} was staging;"
                        " re-read the table and retry the operation"
                    ) from None
                continue
            os.unlink(tmp)
            log.append(entry)
            # Periodic full-state checkpoint (Delta's checkpointInterval):
            # snapshot-form entry carrying the head file list, live DV
            # sidecars, and the per-stream txn high-water, so every
            # later hot read replays from here instead of from v1.
            floor = max(
                (
                    e["version"]
                    for e in log
                    if e.get("action") == "checkpoint"
                ),
                default=0,
            )
            if (
                self.checkpoint_interval
                and version - floor >= self.checkpoint_interval
            ):
                head_meta = (
                    meta
                    if meta is not None
                    else manifest[-1]["meta"] if manifest else {}
                )
                self._write_checkpoint(
                    name, log, version, files, dvs, head_meta
                )
                floor = version
            # Merge the derived manifest (in DELTA form — the raw log
            # plus this commit's delta entry), truncated to entries the
            # newest checkpoint does not already subsume: per-version
            # commit files retain the pre-checkpoint history for time
            # travel until vacuum ages them out. Racing manifest writers
            # are benign: each writes its own full merged view
            # atomically, the commit files cover whatever the loser's
            # view misses.
            merged = [
                e
                for e in log
                if e.get("action") != "checkpoint" and e["version"] > floor
            ]
            ctmp = (
                self._manifest_path(name)
                + f".tmp-{os.getpid()}-{time.time_ns()}"
            )
            with open(ctmp, "w") as f:
                json.dump(merged, f)
            os.replace(ctmp, self._manifest_path(name))
            return version
        raise ConcurrentWriteConflict(
            f"{name}: could not claim a version for {action!r} after 50 "
            "attempts (pathological commit contention)"
        )

    def _commit_meta(self, name: str, action: str, **changes) -> None:
        """Commit a metadata-only version (Delta's metaData action): the
        head's file list, and the spec's metadata with ``changes``
        applied as its ``meta``. It does not rebase: the new metadata
        was derived from the spec, so a lost claim raises
        :class:`ConcurrentWriteConflict`. The in-memory spec changes
        only once the version is claimed."""
        spec = self.tables[name]
        meta = _spec_meta(spec, **changes)
        self._commit(name, action, added=[], rebase=False, meta=meta)
        _adopt_meta(spec, meta)

    def txn_committed(self, name: str, stream_id: str, batch_id: int) -> bool:
        """True if a commit carrying this (stream_id, batch_id) txn marker
        exists — the exactly-once check for idempotent streaming writers
        (Delta's txn/appId+version mechanism). Scans the RAW delta log:
        txn markers never need the per-version file lists, so the check
        costs O(checkpoint_interval) tiny entries, not a full replay.

        Markers older than the newest checkpoint are subsumed by its
        per-stream ``txn_high`` high-water — Delta's checkpoint keeps
        only the LATEST txn version per appId for the same reason. This
        relies on the structured-streaming batch contract: batch ids per
        stream are assigned monotonically and a batch is not started
        until every earlier one committed, so ``batch_id <= high`` is
        exactly "already committed"."""
        for e in self._load_log(name):
            if e.get("txn") == {"stream_id": stream_id, "batch_id": batch_id}:
                return True
            high = e.get("txn_high")
            if high is not None and batch_id <= high.get(stream_id, -1):
                return True
        return False

    def _write_checkpoint(
        self,
        name: str,
        log: list[dict],
        version: int,
        files: list[str],
        dvs: list[str],
        meta: dict,
    ) -> None:
        """Write ``checkpoints/<version>.json``: the full head state
        (file list, DV sidecars, table metadata) plus the per-stream txn
        high-water folded from the previous checkpoint and every marker
        since."""
        txn_high: dict[str, int] = {}
        for e in log:
            if e.get("action") == "checkpoint":
                txn_high.update(e.get("txn_high", {}))
            t = e.get("txn")
            if t is not None:
                sid, bid = t["stream_id"], t["batch_id"]
                if bid > txn_high.get(sid, -1):
                    txn_high[sid] = bid
        ckpt = {
            "version": version,
            "action": "checkpoint",
            "ts_ns": time.time_ns(),
            "files": list(files),
            "txn_high": txn_high,
            "meta": meta,
        }
        if dvs:
            ckpt["dv"] = list(dvs)
        cdir = self._ckpt_dir(name)
        os.makedirs(cdir, exist_ok=True)
        tmp = os.path.join(cdir, f".tmp-{os.getpid()}-{time.time_ns()}")
        with open(tmp, "w") as f:
            json.dump(ckpt, f)
        os.replace(tmp, os.path.join(cdir, f"{version:012d}.json"))

    def _copy_into_log_path(self, name: str) -> str:
        return os.path.join(self._meta_dir(name), "copy_into.json")

    def copy_into(
        self,
        name: str,
        src_path: str,
        fmt: str = "csv",
        options: dict[str, str] | None = None,
    ) -> tuple[int, int]:
        """Databricks ``COPY INTO`` semantics: load ONLY files under
        ``src_path`` that have not been loaded into this table before
        (file-level exactly-once, tracked in ``_meta/<table>/
        copy_into.json``), reading with the table's declared schema.
        Returns (files_loaded, rows_inserted); re-running against the same
        directory is a no-op until new files appear — the pull-based twin
        of the streaming file source's offset tracking.
        """
        spec = self.tables[name]
        options = dict(options or {})
        if fmt == "csv":
            options.setdefault("header", "true")
        all_files = sorted(
            os.path.join(src_path, f)
            for f in os.listdir(src_path)
            if not f.startswith((".", "_"))
            and os.path.isfile(os.path.join(src_path, f))
        )
        log_path = self._copy_into_log_path(name)
        loaded: list[str] = []
        if os.path.exists(log_path):
            with open(log_path) as fh:
                loaded = json.load(fh)
        loaded_set = set(loaded)
        new = [f for f in all_files if f not in loaded_set]
        if not new:
            return (0, 0)
        # Claim the batch BEFORE loading (link-claim, same primitive as
        # _commit): two racing COPY INTO runs over the same directory
        # would otherwise both see the files as new and double-ingest.
        # The claim is keyed on the STARTING log state (the loaded-file
        # count — the log is append-only, so length identifies the state):
        # any two runs departing from the same state collide, the loser
        # reports 0, and its files are the winner's responsibility. Crash
        # after claim / before append re-runs as a no-op (file-level
        # at-most-once; the raw files remain for a manual re-claim, which
        # is also Databricks' recovery posture for a failed COPY INTO).
        os.makedirs(self._meta_dir(name), exist_ok=True)
        tmp = log_path + f".tmp-{os.getpid()}-{time.time_ns()}"
        with open(tmp, "w") as fh:
            json.dump(loaded + new, fh, indent=1)
        claim = log_path + f".claim-{len(loaded)}"
        try:
            os.link(tmp, claim)
        except FileExistsError:
            os.unlink(tmp)
            return (0, 0)
        os.replace(tmp, log_path)
        reader = self.spark.read.format(fmt).schema(spec.schema)
        for k, v in options.items():
            reader = reader.option(k, v)
        return (len(new), self.append(name, load_paths(reader, new)))

    def add_constraint(self, name: str, cname: str, expr: str) -> None:
        """CHECK constraint (Delta ``ALTER TABLE .. ADD CONSTRAINT .. CHECK``
        parity): existing rows are validated immediately, then every later
        :meth:`append`/:meth:`overwrite` enforces the predicate and raises
        :class:`ConstraintViolation` with a violation count instead of
        writing. Enforcement is one aggregate over the incoming frame —
        map-side partials, no shuffle beyond the final count."""
        spec = self.tables[name]
        self._check_constraints(spec.name, self.table(name), {cname: expr})
        spec.constraints[cname] = expr

    def drop_constraint(self, name: str, cname: str) -> None:
        self.tables[name].constraints.pop(cname, None)

    def _with_not_null(
        self, name: str, df: DataFrame, constraints: dict[str, str]
    ) -> dict[str, str]:
        """``constraints`` plus the declared NOT NULL columns as implicit
        constraints (Delta enforces nullability at write time; Spark's
        schema nullability alone is advisory and would let NULLs through
        silently)."""
        spec = self.tables.get(name)
        if spec is None:
            return constraints
        implicit = {
            f"__not_null_{f.name}": f"{f.name} IS NOT NULL"
            for f in spec.schema.fields
            if not f.nullable and f.name in df.columns
        }
        return {**constraints, **implicit}

    def _check_constraints(
        self, name: str, df: DataFrame, constraints: dict[str, str]
    ) -> None:
        """Count each constraint's violations in one map-side aggregate
        and raise :class:`ConstraintViolation` naming them."""
        constraints = self._with_not_null(name, df, constraints)
        if not constraints:
            return
        from pyspark.sql import functions as F

        aggs = [
            F.sum(
                F.when(~F.expr(expr) | F.expr(expr).isNull(), 1).otherwise(0)
            ).alias(cname)
            for cname, expr in constraints.items()
        ]
        row = df.agg(*aggs).collect()[0].asDict()
        bad = {c: n for c, n in row.items() if n}
        if bad:
            raise ConstraintViolation(
                f"{name}: CHECK constraint violation(s): "
                + ", ".join(
                    f"{c} ({constraints[c]!r}): {n} row(s)"
                    for c, n in bad.items()
                )
            )

    def append(
        self,
        name: str,
        df: DataFrame,
        txn: dict | None = None,
        merge_schema: bool = False,
    ) -> int:
        """Blind append; returns the number of rows appended. The write
        is staged to a writer-private directory and the files are then
        moved in, so the commit records EXACTLY the files this writer
        produced — attribution never depends on what racing writers have
        in flight in the shared directory. Spark's UUID-bearing part
        filenames make cross-writer name collisions impossible, and the
        commit itself rebases+retries on conflict (see :meth:`_commit`),
        so concurrent appends all land. The count is read from the staged
        files (see :meth:`_stage_files_in`), so it costs no Spark job, and
        a write of 0 rows commits nothing: no version, no ``txn`` marker.

        ``merge_schema=True`` (Delta ``mergeSchema`` parity) widens the
        declared schema with any NEW columns the incoming frame carries
        (nullable adds via :meth:`add_column` — pure metadata, existing
        files read the column back as NULL; no data rewritten). Without
        it, a wider frame is an error via the projection below — Delta's
        default strict behavior."""
        spec = self.tables[name]
        if merge_schema:
            from pyspark.sql import functions as F

            declared = {f.name for f in spec.schema.fields}
            for f in df.schema.fields:
                if f.name not in declared:
                    self.add_column(
                        name, T.StructField(f.name, f.dataType, True)
                    )
            # Symmetric direction: a frame missing nullable declared
            # columns appends with typed NULLs (Delta's behavior).
            for f in spec.schema.fields:
                if (
                    f.name not in df.columns
                    and f.nullable
                    # Generated columns stay absent so _apply_generated
                    # computes them instead of validating a NULL fill;
                    # identity columns likewise stay absent so the engine
                    # assigns them instead of rejecting a NULL "writer
                    # value".
                    and f.name not in spec.generated
                    and f.name not in spec.identity
                    # DEFAULT columns stay absent so _apply_defaults
                    # materializes the default, not a NULL.
                    and f.name not in spec.defaults
                ):
                    df = df.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
        df = self._apply_defaults(spec, df)
        df = self._apply_identity(spec, df)
        df = self._apply_generated(spec, df)
        added, rows = self._stage_files_in(spec, df)
        if not rows:
            return 0
        self._commit(name, "append", txn=txn, added=added)
        self._maintain_blooms(name, added)
        if (
            spec.properties.get("delta.autoOptimize.autoCompact") == "true"
        ):
            # Best-effort maintenance: the append COMMITTED above; a
            # concurrent writer beating the compaction to the next
            # version must not surface as a failed append.
            try:
                self.maybe_compact(name)
            except ConcurrentWriteConflict:
                pass
        return rows

    # Identity block size: ids within one write are base + partition_id *
    # 2^33 + row_index_in_partition (monotonically_increasing_id's layout),
    # so 2^44 headroom supports 2048 write partitions. Every write claims
    # the NEXT block atomically (a linked claim file, same trick as the
    # commit log), so concurrent writers always allocate disjoint ranges —
    # Delta's identity semantics exactly: unique, monotonic per writer,
    # gaps allowed, never rewinds.
    _IDENTITY_BLOCK = 1 << 44

    @staticmethod
    def _to_physical(spec: TableSpec, df: DataFrame) -> DataFrame:
        """Project a LOGICAL frame to the physical file columns (declared
        order, mapped names) — every data-file write funnels through this,
        so files always store physical names (Delta column mapping)."""
        return _select(
            df,
            [
                f"{_ident(f.name)} AS {_ident(spec.physical(f.name))}"
                for f in spec.schema.fields
            ],
        )

    def _apply_identity(
        self, spec: TableSpec, df: DataFrame, strict: bool = True
    ) -> DataFrame:
        """Assign identity values to frames missing the column. ``strict``
        (the append/new-data path) rejects writer-provided values — the
        ALWAYS contract; rewrite paths (overwrite/compact/replace of
        already-assigned rows) pass ``strict=False`` so engine-assigned
        ids ROUND-TRIP through maintenance unchanged, exactly as Delta's
        OPTIMIZE/UPDATE preserve identity values."""
        from pyspark.sql import functions as F

        for col, ident in spec.identity.items():
            if col in df.columns:
                if strict:
                    raise ConstraintViolation(
                        f"{spec.name}: {col!r} is GENERATED ALWAYS AS"
                        " IDENTITY; writers cannot provide it"
                    )
                continue
            idir = os.path.join(self._meta_dir(spec.name), "identity", col)
            os.makedirs(idir, exist_ok=True)
            # Atomic block claim: link n.claim, bumping n until we win.
            taken = [
                int(fn[: -len(".claim")])
                for fn in os.listdir(idir)
                if fn.endswith(".claim")
            ]
            n = max(taken, default=0) + 1
            tmp = os.path.join(idir, f".tmp-{os.getpid()}-{time.time_ns()}")
            with open(tmp, "w") as f:
                f.write("")
            while True:
                try:
                    os.link(tmp, os.path.join(idir, f"{n}.claim"))
                    break
                except FileExistsError:
                    n += 1
            os.unlink(tmp)
            start, step = ident.get("start", 1), ident.get("step", 1)
            base = start + (n - 1) * self._IDENTITY_BLOCK * step
            df = df.withColumn(
                col,
                (
                    F.lit(base)
                    + F.monotonically_increasing_id() * F.lit(step)
                ).cast(
                    next(
                        f.dataType
                        for f in spec.schema.fields
                        if f.name == col
                    )
                ),
            )
        return df

    def _apply_defaults(self, spec: TableSpec, df: DataFrame) -> DataFrame:
        """Delta column-DEFAULT write contract: a writer that OMITS a
        default column gets the default expression materialized into the
        written rows (write-time, so later DEFAULT changes never rewrite
        history); a writer that provides the column — including explicit
        NULLs — is taken at its word."""
        from pyspark.sql import functions as F

        for col, expr in spec.defaults.items():
            if col not in df.columns:
                typ = next(
                    f.dataType for f in spec.schema.fields if f.name == col
                )
                df = df.withColumn(col, F.expr(expr).cast(typ))
        return df

    def set_default(self, name: str, col: str, expr: str | None) -> None:
        """Set (or, with ``expr=None``, drop) a column's write-time
        DEFAULT; a metadata-only commit."""
        spec = self.tables[name]
        if not any(f.name == col for f in spec.schema.fields):
            raise ValueError(f"column not found: {col}")
        if col in spec.generated or col in spec.identity:
            raise ValueError(
                f"column {col!r} is generated/identity: it cannot also "
                "carry a DEFAULT"
            )
        defaults = dict(spec.defaults)
        if expr is None:
            defaults.pop(col, None)
        else:
            defaults[col] = expr
        self._commit_meta(name, "set_default", defaults=defaults)

    def _apply_generated(self, spec: TableSpec, df: DataFrame) -> DataFrame:
        """Delta generated-column write contract: compute each generated
        column the writer omitted; validate (one limit-1 probe per
        provided column, null-safe equality) the ones it supplied —
        a provided value that disagrees with its expression is a
        :class:`ConstraintViolation`, never silently accepted."""
        from pyspark.sql import functions as F

        for col, expr in spec.generated.items():
            typ = next(
                f.dataType for f in spec.schema.fields if f.name == col
            )
            computed = F.expr(expr).cast(typ)
            if col not in df.columns:
                df = df.withColumn(col, computed)
            else:
                bad = (
                    df.filter(~F.col(col).eqNullSafe(computed))
                    .limit(1)
                    .count()
                )
                if bad:
                    raise ConstraintViolation(
                        f"{spec.name}: generated column {col!r} was "
                        f"provided with value(s) that disagree with its "
                        f"expression ({expr})"
                    )
        return df

    def _write_checked(
        self,
        spec: TableSpec,
        df: DataFrame,
        path: str,
        rebalance: bool = False,
    ) -> None:
        """Write ``df``'s declared columns to ``path`` in the table's
        physical layout, enforcing its NOT NULL and CHECK constraints
        inside the write: a violating row fails its task, and only then
        does the counting :meth:`_check_constraints` run, so a clean write
        costs no extra job and a violation raises the same
        :class:`ConstraintViolation` with the same counts. ``append``,
        ``update_where``, ``replace_where``, ``overwrite`` and
        ``overwrite_partitions`` write through here. ``rebalance`` hints a
        partitioned write to be rebalanced on its partition columns
        (Spark's optimized write: AQE merges small shuffle partitions and
        splits skewed ones) unless ``df`` is one partition already, whose
        one task writes one file per partition value without that
        exchange; the two overwrites leave it off, since compaction's
        file count and sort order must survive."""
        checks = self._with_not_null(spec.name, df, spec.constraints)
        out = self._to_physical(spec, _enforced(spec, df, checks))
        if rebalance and spec.partition_by and not _one_partition(df):
            out = out.hint("rebalance", *spec.partition_by)
        writer = out.write.format(spec.fmt).mode("overwrite")
        if spec.partition_by:
            writer = writer.partitionBy(*spec.partition_by)
        try:
            writer.save(path)
        except Exception as e:
            # Matched on the text, not the exception type: the marker
            # survives however the JVM error reaches Python.
            if _VIOLATION not in str(e):
                raise
            self._check_constraints(spec.name, df, spec.constraints)
            raise

    def _stage_files_in(
        self, spec: TableSpec, df: DataFrame
    ) -> tuple[list[str], int]:
        """Write ``df`` (constraint-checked, see :meth:`_write_checked`) to
        a writer-private staging directory and move the data files into the
        table; returns exactly the relative files this writer added
        (Spark's UUID-bearing part filenames make cross-writer collisions
        impossible) and the rows they hold. A write of 0 rows adds no file.
        The write is rebalanced on the partition columns, so a small
        append lands as one file per partition value instead of one per
        input split."""
        staging = f"{spec.path}__append_{os.getpid()}_{time.time_ns()}"
        try:
            self._write_checked(spec, df, staging, rebalance=True)
            staged = self._data_files(staging)
            rows = self._staged_rows(spec, staging, staged)
            added = []
            for rel in staged if rows else ():
                dst = os.path.join(spec.path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(os.path.join(staging, rel), dst)
                added.append(rel)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return added, rows

    def _staged_rows(
        self, spec: TableSpec, staging: str, files: list[str]
    ) -> int:
        """Rows in the ``files`` just written under ``staging``: the sum
        of their parquet footers' row counts, which reads no data and
        starts no Spark job; other formats are counted by Spark."""
        if spec.fmt == "parquet":
            import pyarrow.parquet as pq

            return sum(
                pq.read_metadata(os.path.join(staging, rel)).num_rows
                for rel in files
            )
        if not files:
            return 0
        return (
            self.spark.read.format(spec.fmt)
            .schema(spec.physical_schema())
            .load(staging)
            .count()
        )

    def history(self, name: str) -> list[dict]:
        """DESCRIBE HISTORY analog with operation metrics (Delta's
        numAddedFiles/numRemovedFiles): per committed write, oldest
        first, the file-set delta against its predecessor — the numbers
        an operator reads to spot runaway small-file accretion or an
        unexpected full rewrite."""
        out = []
        prev: set[str] = set()
        for e in self._load_manifest(name, full=True):
            files = set(e["files"])
            out.append(
                {
                    "version": e["version"],
                    "action": e["action"],
                    "ts_ns": e["ts_ns"],
                    "n_files": len(files),
                    "n_added": len(files - prev),
                    "n_removed": len(prev - files),
                }
            )
            prev = files
        return out

    def version_at_timestamp(self, name: str, ts: str) -> int:
        """Delta ``TIMESTAMP AS OF`` resolution: the LATEST version
        committed at or before ``ts`` (ISO 'YYYY-MM-DD[ HH:MM:SS]',
        interpreted as UTC — the session timezone). Raises if the table
        has no commit that early."""
        import datetime as _dt

        try:
            when = _dt.datetime.fromisoformat(ts)
        except ValueError as e:
            raise ValueError(f"bad TIMESTAMP AS OF literal {ts!r}") from e
        if when.tzinfo is not None:
            when = when.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        cutoff_ns = int(
            when.replace(tzinfo=_dt.timezone.utc).timestamp() * 1e9
        )
        candidates = [
            e["version"]
            for e in self._load_manifest(name, full=True)
            if e["ts_ns"] <= cutoff_ns
        ]
        if not candidates:
            raise ValueError(
                f"{name}: no version committed at or before {ts!r}"
            )
        return max(candidates)

    def _tags_path(self, name: str) -> str:
        return os.path.join(self._meta_dir(name), "tags.json")

    def tags(self, name: str) -> dict[str, int]:
        """Named version refs (Iceberg tag analog): {"tag": version}."""
        p = self._tags_path(name)
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return json.load(fh)

    def set_tag(
        self, name: str, tag: str, version: int | None = None
    ) -> int:
        """Pin a human-readable name to a committed version (Iceberg tag
        parity) — the reproducibility primitive for training corpora:
        "the corpus run X trained on" becomes ``table(t, version='x')``
        instead of a number in a notebook. Tags PROTECT their version
        from :meth:`vacuum` (retention never breaks a named ref); drop
        the tag to release the files. Defaults to the current head;
        re-pointing an existing tag raises (drop it first — silent moves
        defeat the reproducibility point)."""
        v = self.current_version(name) if version is None else version
        entry = next(
            (
                e
                for e in self._replay(self._load_log_range(name, v, v))
                if e["version"] == v
            ),
            None,
        )
        if entry is None:
            raise ValueError(f"{name}: no committed version {v} to tag")
        cur = self.tags(name)
        if tag in cur and cur[tag] != v:
            raise ValueError(
                f"{name}: tag {tag!r} already points at version"
                f" {cur[tag]}; drop it before re-pointing"
            )
        cur[tag] = v
        os.makedirs(self._meta_dir(name), exist_ok=True)
        with open(self._tags_path(name), "w") as fh:
            json.dump(cur, fh, indent=1)
        # Snapshot-pin the tagged version's commit file IMMEDIATELY (not
        # only at vacuum time): if the delta commit file was already
        # pruned while the version survived in the manifest tail, the
        # next checkpoint truncation would otherwise lose the only
        # replayable record of a version a named ref still points at.
        self._pin_snapshot(name, entry)
        return v

    def _pin_snapshot(self, name: str, entry: dict) -> None:
        """Rewrite a REPLAYED entry (full ``files`` attached) as a
        snapshot-form commit file, so the log re-grounds at it after its
        delta predecessors are pruned (Iceberg keeps a tagged snapshot's
        manifest for the same reason)."""
        pin = {k: v for k, v in entry.items() if k not in ("add", "remove")}
        cdir = self._commits_dir(name)
        os.makedirs(cdir, exist_ok=True)
        tmp = os.path.join(
            cdir, f".tmp-pin-{os.getpid()}-{time.time_ns()}"
        )
        with open(tmp, "w") as f:
            json.dump(pin, f)
        os.replace(
            tmp, os.path.join(cdir, f"{entry['version']:012d}.json")
        )

    def drop_tag(self, name: str, tag: str) -> None:
        cur = self.tags(name)
        if tag not in cur:
            raise ValueError(f"{name}: no tag {tag!r}")
        del cur[tag]
        with open(self._tags_path(name), "w") as fh:
            json.dump(cur, fh, indent=1)

    def resolve_tag(self, name: str, tag: str) -> int:
        cur = self.tags(name)
        if tag not in cur:
            raise ValueError(f"{name}: no tag {tag!r}")
        return cur[tag]

    def current_version(self, name: str) -> int:
        manifest = self._load_manifest(name)
        return manifest[-1]["version"] if manifest else 0

    def _read_version(self, spec: TableSpec, version: int) -> DataFrame:
        # Targeted load: nearest checkpoint at or below the version plus
        # the entries up to it — O(checkpoint_interval), not O(history).
        # The full view is only consulted on the failure path, to name
        # the retained ranges in the error.
        rng = self._replay(
            self._load_log_range(spec.name, version, version)
        )
        entry = next((e for e in rng if e["version"] == version), None)
        if entry is not None:
            return self._resolve_and_read(
                spec, entry["files"], version, dvs=entry.get("dv", [])
            )
        manifest = self._load_manifest(spec.name, full=True)
        entry = next((e for e in manifest if e["version"] == version), None)
        if entry is None:
            first = manifest[0]["version"] if manifest else 0
            last = manifest[-1]["version"] if manifest else 0
            if manifest and version <= last:
                # Versions are claimed contiguously, so an absent
                # version at or below the head was vacuumed away (or
                # sits in a hole between a tagged pin and the retained
                # tail) — distinct from never having existed.
                retained = ", ".join(
                    _ranges(e["version"] for e in manifest)
                )
                raise ValueError(
                    f"{spec.name}: version {version} is no longer "
                    f"replayable — its log entries were vacuumed past the "
                    f"retention window (retained history: {retained})"
                )
            raise ValueError(
                f"{spec.name}: version {version} does not exist "
                f"(history: {first}..{last})"
            )
        return self._resolve_and_read(
            spec, entry["files"], version, dvs=entry.get("dv", [])
        )

    def _resolve_and_read(
        self,
        spec: TableSpec,
        files: list[str],
        version: "int | dict[str, int]",
        dvs: list[str] | None = None,
        with_file_col: str | None = None,
    ) -> DataFrame:
        """Read the given committed relative paths as one DataFrame.
        ``with_file_col`` additionally emits each row's ROOT-RELATIVE
        source file path (stable across trash relocation) under that
        column name — the identity the change feed uses to attribute
        rows of a BATCHED multi-version read back to their commits.
        ``version`` may be a single commit version or, for a batched
        multi-version read, the per-file ``{rel_path: version}`` map —
        so a vacuumed-file error names the commit that OWNS the missing
        file, not whichever version the batch happened to end on.

        Files whose bytes Spark would not split for parallelism (at most
        ``spark.sql.files.openCostInBytes`` on more than one core, never
        past ``spark.sql.files.maxPartitionBytes``) read as one partition
        (:func:`one_partition_if_small`), so the query above them needs
        no shuffle."""
        from pyspark.sql import functions as F

        if not files:
            out = empty_frame(self.spark, spec.schema)
            if with_file_col:
                out = out.withColumn(with_file_col, F.lit(None).cast("string"))
            return out
        # Resolve each relative file: still live, or retired under a trash
        # stamp by a later overwrite (newest stamp wins — the file content
        # for a given rel path never changes once written, but resolution
        # order keeps semantics obvious).
        trash = self._trash_dir(spec.name)
        stamps = []
        if os.path.isdir(trash):
            stamps = sorted(os.listdir(trash), reverse=True)
        roots = [spec.path, *(os.path.join(trash, s) for s in stamps)]
        by_root: dict[str, list[str]] = {}
        nbytes = 0
        for rel in files:
            for root in roots:
                try:
                    st = os.stat(os.path.join(root, rel))
                except OSError:
                    continue
                if stat.S_ISREG(st.st_mode):
                    nbytes += st.st_size
                    by_root.setdefault(root, []).append(rel)
                    break
            else:
                owner = (
                    version.get(rel, max(version.values()))
                    if isinstance(version, dict)
                    else version
                )
                raise ValueError(
                    f"{spec.name}: version {owner} is no longer "
                    f"readable — file {rel!r} was vacuumed (retention "
                    "window passed)"
                )
        # One read per (root, partition-layout) group so basePath-driven
        # partition inference works even across PARTITION EVOLUTION
        # (files written under an older partitioning carry a different
        # col=value dir signature — or none, with the partition column as
        # a DATA column inside the file; each group is layout-uniform, so
        # inference and the declared schema always agree), then union.
        # When the version carries deletion vectors, each part is keyed by
        # its (root-relative file, row_index) identity first — rel paths
        # are stable across trash moves, so tombstones keep matching — and
        # the union is anti-joined against the DV set.
        by_group: dict[tuple[str, tuple[str, ...]], list[str]] = {}
        for root, rels in by_root.items():
            for rel in rels:
                by_group.setdefault((root, _layout_sig(rel)), []).append(rel)
        parts = []
        for (root, sig), rels in by_group.items():
            reader = self.spark.read.format(spec.fmt).schema(
                spec.physical_schema()
            )
            if sig:
                reader = reader.option("basePath", root)
            df = load_paths(reader, [os.path.join(root, r) for r in rels])
            cols = _logical_cols(spec)
            abs_root = os.path.abspath(root)
            rel_expr = (
                "substring_index(_metadata.file_path, "
                f"'{_sql_str(abs_root)}/', -1)"
            )
            if dvs:
                cols += [
                    f"{rel_expr} AS __dv_file",
                    "_metadata.row_index AS __dv_idx",
                ]
            if with_file_col:
                cols.append(f"{rel_expr} AS {_ident(with_file_col)}")
            parts.append(_select(df, cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if dvs:
            out = self._drop_deleted(
                out, spec.name, dvs, "__dv_file", "__dv_idx"
            ).drop("__dv_file", "__dv_idx")
        return one_partition_if_small(out, nbytes)

    def changes(
        self, name: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change Data Feed analog (Delta ``table_changes``): row-level
        changes committed AFTER ``from_version`` up to and including
        ``to_version`` (default: current), with ``_change_type``
        ('insert' | 'delete') and ``_commit_version`` columns — the feed a
        downstream CDC consumer tails instead of re-diffing snapshots.

        Append commits are resolved at the FILE level: the manifest records
        exactly which files each append added (see :meth:`_commit`), so an
        append's changes are one pruned read of those files — cost scales
        with the change, not the table, which is what makes tailing a
        100 TB table's feed feasible. Metadata-only commits (same files,
        same deletion vectors) change no row and are skipped. Whole-table
        rewrite commits (overwrite / compact / restore / copy-on-write
        column changes) fall back to a snapshot diff of the bounding
        versions (``exceptAll`` both ways —
        multiset semantics, so duplicate-row multiplicity changes surface).
        Divergence from Delta CDF, documented: updates appear as
        delete+insert pairs, never update_pre/postimage (the engine has no
        declared primary key to pair them on).

        Raises if a needed version was vacuumed away (same contract as
        :meth:`table` time travel).
        """
        from pyspark.sql import functions as F

        spec = self.tables[name]
        head = self._load_manifest(name)  # hot view: head + bounds only
        current = head[-1]["version"] if head else 0
        to_version = current if to_version is None else to_version
        if not 0 <= from_version <= to_version <= current:
            raise ValueError(
                f"{name}: bad change range ({from_version}, {to_version}] "
                f"(history: 1..{current})"
            )
        # Targeted load grounded at the nearest checkpoint at or below
        # the range start (from_version itself is needed as the first
        # append run's diff base): O(range + checkpoint_interval), not
        # O(history).
        manifest = self._replay(
            self._load_log_range(name, max(1, from_version), to_version)
        )
        by_version = {e["version"]: e for e in manifest}
        # The replay needs every version in the range, plus from_version
        # itself as the diff base when it is not the table's birth.
        # After checkpoint truncation + vacuum, versions below the
        # retained window are gone — fail loudly, never silently skip.
        needed = set(range(max(1, from_version), to_version + 1))
        missing = sorted(needed - by_version.keys())
        if missing:
            first = manifest[0]["version"] if manifest else 0
            raise ValueError(
                f"{name}: change range ({from_version}, {to_version}] "
                f"needs version {missing[0]}, which is no longer "
                f"replayable — its log entries were vacuumed past the "
                f"retention window (retained history: {first}..{current})"
            )
        typed = T.StructType(
            [
                *spec.schema.fields,
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_version", T.IntegerType(), False),
            ]
        )
        parts: list[DataFrame] = []
        v = from_version + 1
        while v <= to_version:
            entry = by_version.get(v)
            if entry is None:
                v += 1
                continue
            base = by_version.get(v - 1, {"files": []})
            if entry["action"] == "append":
                # Batch the maximal RUN of consecutive append commits into
                # ONE read: a consumer replaying a long history would
                # otherwise pay one Spark job per version (measured 6.6x
                # growth per 4x commits from union-plan buildup alone).
                # Rows are attributed back to their commit by the
                # root-relative source-file path — each append's files are
                # exactly its delta, so the (file -> version) map is total.
                run: list[tuple[int, list[str]]] = []
                while v <= to_version:
                    e = by_version.get(v)
                    if e is None or e["action"] != "append":
                        break
                    prev_files = by_version[v - 1]["files"] if v > 1 else []
                    added = sorted(set(e["files"]) - set(prev_files))
                    if added:
                        run.append((v, added))
                    v += 1
                if not run:
                    continue
                rel_to_v = {
                    rel: ver for ver, added in run for rel in added
                }
                df = self._resolve_and_read(
                    spec,
                    sorted(rel_to_v),
                    rel_to_v,
                    with_file_col="__cdf_file",
                )
                vmap = F.create_map(
                    *[
                        F.lit(x)
                        for rel, ver in sorted(rel_to_v.items())
                        for x in (rel, ver)
                    ]
                )
                parts.append(
                    df.withColumn("_change_type", F.lit("insert"))
                    .withColumn(
                        "_commit_version",
                        F.element_at(vmap, F.col("__cdf_file")).cast("int"),
                    )
                    .drop("__cdf_file")
                )
            elif set(entry["files"]) == set(base["files"]) and set(
                entry.get("dv", [])
            ) == set(base.get("dv", [])):
                v += 1  # metadata-only: no snapshot diff needed
            else:
                cur = self.table(name, version=v)
                prev = (
                    self.table(name, version=v - 1)
                    if v > 1
                    else empty_frame(self.spark, spec.schema)
                )
                # Rewrites may have changed the declared schema (rename/
                # drop column); diff on the CURRENT declared columns.
                cols = [f.name for f in spec.schema.fields]
                cur = cur.select(*[c for c in cols if c in cur.columns])
                prev = prev.select(*[c for c in cols if c in prev.columns])
                ins = cur.exceptAll(prev).withColumn(
                    "_change_type", F.lit("insert")
                )
                del_ = prev.exceptAll(cur).withColumn(
                    "_change_type", F.lit("delete")
                )
                parts.append(
                    # allowMissingColumns: a rename/drop-column rewrite
                    # leaves the two snapshots with different column sets.
                    ins.unionByName(del_, allowMissingColumns=True).withColumn(
                        "_commit_version", F.lit(v).cast("int")
                    )
                )
                v += 1
        if not parts:
            return empty_frame(self.spark, typed)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def change_cursor(self, name: str, consumer: str) -> "ChangeCursor":
        """A durable named cursor over the change feed — the consumer loop
        of CDC: each :meth:`ChangeCursor.poll` returns the changes
        committed since the consumer last acknowledged, and
        :meth:`ChangeCursor.ack` advances the stored offset. Offsets are
        commit versions (the same resume-from-offset contract as a
        streaming source's checkpoint), persisted per consumer name under
        ``_meta/<table>/cursors/``, so independent consumers tail the same
        table at their own pace and a restarted consumer resumes where it
        acknowledged."""
        return ChangeCursor(self, name, consumer)

    def _cursor_path(self, name: str, consumer: str) -> str:
        safe = re.sub(r"[^\w.-]", "_", consumer)
        return os.path.join(self._meta_dir(name), "cursors", f"{safe}.json")

    def add_column(self, name: str, field: T.StructField) -> None:
        """ALTER TABLE ADD COLUMN: extend the declared schema in place.

        The new column must be nullable (existing files don't carry it and
        read back as NULL) and must not be a partition column. No data is
        rewritten — at 100 TB that's the entire point: schema evolution is
        a metadata operation, old files stay valid.
        """
        spec = self.tables[name]
        if not field.nullable:
            raise ValueError(
                f"added column {field.name!r} must be nullable: existing "
                "files read it back as NULL"
            )
        if any(f.name == field.name for f in spec.schema.fields):
            raise ValueError(f"column exists: {field.name}")
        # Under column mapping a new logical name must never collide with
        # a physical name already present in files (live or tombstoned by
        # a metadata-only drop) — that would resurrect old bytes.
        in_use = {spec.physical(f.name) for f in spec.schema.fields} | set(
            spec.dropped_physical
        )
        if spec.mapping_mode and field.name in in_use:
            n = 1
            while f"{field.name}_r{n}" in in_use:
                n += 1
            self._commit_meta(
                name,
                "add_column",
                column_map={**spec.column_map, field.name: f"{field.name}_r{n}"},
            )
        spec.schema = T.StructType([*spec.schema.fields, field])

    def _guard_column_change(self, spec: TableSpec, col: str) -> None:
        if not any(f.name == col for f in spec.schema.fields):
            raise ValueError(f"column not found: {col}")
        if col in spec.partition_by:
            raise ValueError(
                f"cannot alter partition column {col!r}: the physical "
                "directory layout is keyed on it"
            )

        def names(expr: str) -> bool:
            return re.search(rf"(?<!\w){re.escape(col)}(?!\w)", expr) is not None

        hit = [c for c, expr in spec.constraints.items() if names(expr)]
        if hit:
            raise ValueError(
                f"column {col!r} is referenced by constraint(s) {hit}; "
                "drop them first"
            )
        gen_hit = [
            g for g, expr in spec.generated.items() if g != col and names(expr)
        ]
        if gen_hit:
            raise ValueError(
                f"column {col!r} is referenced by generated column(s) "
                f"{gen_hit}; drop them first"
            )
        # Policies name columns in SQL text that a rename or drop would not
        # rewrite: a mask left on the old name stops masking the column.
        policies = [
            *(f"mask on {c!r}" for c, e in spec.column_masks.items() if c == col or names(e)),
            *(f"DEFAULT of {c!r}" for c, e in spec.defaults.items() if c == col or names(e)),
            *(["row filter"] if spec.row_filter and names(spec.row_filter) else []),
            *(["clustering key"] if col in spec.cluster_by else []),
        ]
        if policies:
            raise ValueError(
                f"column {col!r} is named by {', '.join(policies)}; "
                "remove them first"
            )

    def rename_column(self, name: str, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN.

        With TBLPROPERTIES ('delta.columnMapping.mode'='name') this is
        METADATA-ONLY (Delta column mapping): the physical name in every
        existing file stays, only the logical->physical map changes — at
        100 TB a rename costs one commit instead of rewriting the
        fleet, and time travel keeps working because old files' physical
        names never change. Without the property it is the classic
        copy-on-write rewrite. Partition, constraint-referenced,
        generated-expr-referenced and policy-named columns (mask, DEFAULT,
        row filter, clustering key) refuse either way."""
        from pyspark.sql import functions as F

        spec = self.tables[name]
        self._guard_column_change(spec, old)
        if any(f.name == new for f in spec.schema.fields):
            raise ValueError(f"column exists: {new}")
        new_schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in spec.schema.fields
            ]
        )
        if spec.mapping_mode:
            column_map = {**spec.column_map, new: spec.physical(old)}
            column_map.pop(old, None)
            self._commit_meta(name, "rename_column", column_map=column_map)
            spec.schema = new_schema
            self._rename_col_metadata(spec, old, new)
            return
        df = self.table(name).withColumnRenamed(old, new)
        spec.schema = new_schema
        # Generated/identity registrations follow the column BEFORE the
        # rewrite runs (overwrite re-applies them against the new schema;
        # a stale key would crash the lookup mid-rewrite).
        self._rename_col_metadata(spec, old, new)
        self.overwrite(name, df.select(*[F.col(f.name) for f in spec.schema.fields]))

    def _rename_col_metadata(
        self, spec: TableSpec, old: str, new: str
    ) -> None:
        """Move per-column registrations (generated expr, identity spec,
        identity block-claim directory) when a column is renamed."""
        if old in spec.generated:
            spec.generated[new] = spec.generated.pop(old)
        if old in spec.identity:
            spec.identity[new] = spec.identity.pop(old)
            idir = os.path.join(self._meta_dir(spec.name), "identity")
            src_dir = os.path.join(idir, old)
            if os.path.isdir(src_dir):
                # The allocation watermark follows the rename — a fresh
                # claim chain would restart at block 1 and collide with
                # already-assigned ids.
                os.replace(src_dir, os.path.join(idir, new))

    def drop_column(self, name: str, col: str) -> None:
        """ALTER TABLE DROP COLUMN.

        Under column mapping (see :meth:`rename_column`) this is
        metadata-only: the physical column stays in existing files but is
        unmapped (and its name is reserved so a re-added column can never
        resurrect the old bytes — Delta's tombstoned-field rule).
        Otherwise a copy-on-write rewrite without the column."""
        spec = self.tables[name]
        self._guard_column_change(spec, col)
        if len(spec.schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        new_schema = T.StructType(
            [f for f in spec.schema.fields if f.name != col]
        )
        if spec.mapping_mode:
            self._commit_meta(
                name,
                "drop_column",
                column_map={
                    k: v for k, v in spec.column_map.items() if k != col
                },
                dropped_physical=[*spec.dropped_physical, spec.physical(col)],
            )
            spec.generated.pop(col, None)
            spec.identity.pop(col, None)
            spec.schema = new_schema
            return
        df = self.table(name).drop(col)
        spec.schema = new_schema
        # Dropping a generated/identity column retires its registration
        # before the rewrite re-applies writers' metadata.
        spec.generated.pop(col, None)
        spec.identity.pop(col, None)
        self.overwrite(name, df)

    def overwrite_partitions(self, name: str, df: DataFrame) -> int:
        """Dynamic partition overwrite: replace ONLY the partitions present
        in ``df``, leaving all others untouched (Spark's
        ``partitionOverwriteMode=dynamic`` / Delta ``replaceWhere``).

        The incremental-refresh primitive: a daily gold rebuild overwrites
        the touched (Year, ANIMAL_TYPE) directories instead of the whole
        table — at 100 TB that is the difference between rewriting
        gigabytes and rewriting everything. Replaced partition versions are
        retired to _trash (vacuum applies retention). Returns the number of
        partitions replaced.
        """
        spec = self.tables[name]
        if not spec.partition_by:
            raise ValueError(
                f"{name} is unpartitioned — use overwrite() instead"
            )
        manifest = self._load_manifest(name)
        if manifest and self._mixed_layouts(spec, manifest[-1]["files"]):
            raise ValueError(
                f"{name}: partition layouts are mixed after partition "
                "evolution — a partition is not one directory set; run "
                "compact() to normalize first"
            )
        # Stage the write first: Spark itself generates the partition
        # directory names (Hive-style escaping, __HIVE_DEFAULT_PARTITION__
        # for NULL, lowercase booleans, date/ts formatting), so the set of
        # directories retired below is BY CONSTRUCTION the set the write
        # produced — no Python re-derivation of the encoding, and df is
        # evaluated exactly once (a nondeterministic df can't write
        # partitions that were never retired).
        # Writer-unique staging (two concurrent writers must never share
        # one staging dir — commit-time conflict detection can only fire
        # if both writes stage intact).
        tmp = spec.path + f"__inc_staging-{os.getpid()}-{time.time_ns()}"
        try:
            self._write_checked(spec, df, tmp)
            stamp = str(time.time_ns())
            moved = 0
            for rel in self._staged_partition_dirs(
                tmp, len(spec.partition_by)
            ):
                dst = os.path.join(spec.path, rel)
                if os.path.isdir(dst):
                    trash = os.path.join(self._trash_dir(name), stamp, rel)
                    os.makedirs(os.path.dirname(trash), exist_ok=True)
                    os.replace(dst, trash)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(os.path.join(tmp, rel), dst)
                moved += 1
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self._commit(name, "overwrite_partitions")
        return moved

    @staticmethod
    def _staged_partition_dirs(root: str, depth: int) -> list[str]:
        """Relative ``col=value/...`` leaf partition dirs of a staged
        partitioned write, exactly as Spark named them."""
        rels = [""]
        for _ in range(depth):
            nxt = []
            for rel in rels:
                base = os.path.join(root, rel)
                for entry in sorted(os.listdir(base)):
                    if entry.startswith((".", "_")):
                        continue
                    if os.path.isdir(os.path.join(base, entry)) and "=" in entry:
                        nxt.append(os.path.join(rel, entry) if rel else entry)
            rels = nxt
        return rels

    def drop(self, name: str) -> None:
        """DROP TABLE: deregister, clear the table metadata, and retire the
        data into _trash (recoverable until :meth:`vacuum` purges it —
        Delta-style DROP semantics)."""
        spec = self.tables[name]
        if os.path.isdir(spec.path):
            trash = os.path.join(self._trash_dir(name), str(time.time_ns()))
            os.makedirs(os.path.dirname(trash), exist_ok=True)
            os.replace(spec.path, trash)
        # Empty file list and empty metadata: the dropped state.
        self._commit(name, "drop", meta={})
        del self.tables[name]

    def _trash_dir(self, name: str) -> str:
        return os.path.join(self.root, "_trash", name.replace(".", "/"))

    def clone(
        self,
        src: str,
        dst: str,
        shallow: bool = True,
        version: int | None = None,
    ) -> TableSpec:
        """``CREATE TABLE dst {SHALLOW|DEEP} CLONE src [VERSION AS OF v]``
        (Delta CLONE parity). The clone is a NEW table with its OWN commit
        log starting at version 1; subsequent writes to either table never
        affect the other.

        Shallow clone is zero-copy: every data file of the cloned source
        version is hard-linked into the clone's directory — a
        metadata-sized operation regardless of table size (the object-store
        analog is Delta's reference-by-path shallow clone; hard links are
        the local-FS equivalent with a strictly stronger guarantee: VACUUM
        on the source unlinks its name but the clone's link keeps the bytes
        alive, so a shallow clone here can never be orphaned). Deep clone
        copies bytes.

        Live deletion vectors at the cloned version carry over (sidecars
        are linked/copied too, and the clone's first commit records them),
        so merge-on-read deletes stay applied without materializing them.
        """
        if dst in self.tables:
            raise ValueError(f"clone target exists: {dst}")
        sspec = self.tables[src]
        manifest = self._load_manifest(src)
        if version is not None:
            entry = next(
                (e for e in manifest if e["version"] == version), None
            )
            if entry is None:
                raise ValueError(f"{src}: version {version} does not exist")
        else:
            entry = manifest[-1] if manifest else {"files": [], "dv": []}
        spec = TableSpec(
            name=dst,
            path=os.path.join(self.root, dst.replace(".", "/")),
            schema=T.StructType(list(sspec.schema.fields)),
            fmt=sspec.fmt,
            constraints=dict(sspec.constraints),
            properties=dict(sspec.properties),
            generated=dict(sspec.generated),
            identity=dict(sspec.identity),
        )
        # The clone reads its version with the source's metadata, as time
        # travel on the source does (the column map must match the
        # schema, which is the head's), and its first commit records it.
        meta = _spec_meta(sspec)
        _adopt_meta(spec, meta)
        # Identity high watermarks carry over (Delta clone semantics):
        # replay the source's block claims so the clone's next append
        # allocates ABOVE every id already present in the cloned data.
        src_ident = os.path.join(self._meta_dir(src), "identity")
        if os.path.isdir(src_ident):
            for col in os.listdir(src_ident):
                ddir = os.path.join(self._meta_dir(dst), "identity", col)
                os.makedirs(ddir, exist_ok=True)
                for fn in os.listdir(os.path.join(src_ident, col)):
                    if fn.endswith(".claim"):
                        open(os.path.join(ddir, fn), "w").close()
        transfer = os.link if shallow else shutil.copy2
        # Resolve each source file exactly like a time-travel read: live
        # dir first, then newest-first trash stamps (a cloned OLD version's
        # files may have been retired by a later overwrite).
        trash = self._trash_dir(src)
        stamps = (
            sorted(os.listdir(trash), reverse=True)
            if os.path.isdir(trash)
            else []
        )
        for rel in entry.get("files", []):
            src_file = os.path.join(sspec.path, rel)
            if not os.path.isfile(src_file):
                for stamp in stamps:
                    cand = os.path.join(trash, stamp, rel)
                    if os.path.isfile(cand):
                        src_file = cand
                        break
                else:
                    raise ValueError(
                        f"{src}: cannot clone version "
                        f"{entry.get('version')} — file {rel!r} was vacuumed"
                    )
            out = os.path.join(spec.path, rel)
            os.makedirs(os.path.dirname(out), exist_ok=True)
            transfer(src_file, out)
        dvs = list(entry.get("dv", []))
        for rel in dvs:
            src_dv = os.path.join(self._dv_dir(src), rel)
            out = os.path.join(self._dv_dir(dst), rel)
            if os.path.isdir(src_dv):
                # DV sidecars are parquet directories — link/copy each
                # part file (hard links don't apply to directories).
                for dirpath, _dirs, files in os.walk(src_dv):
                    for fn in files:
                        sf = os.path.join(dirpath, fn)
                        df_ = os.path.join(
                            out, os.path.relpath(sf, src_dv)
                        )
                        os.makedirs(os.path.dirname(df_), exist_ok=True)
                        transfer(sf, df_)
            else:
                os.makedirs(os.path.dirname(out), exist_ok=True)
                transfer(src_dv, out)
        self.tables[dst] = spec
        self._commit(dst, "clone", dv=dvs or None, meta=meta)
        return spec

    def overwrite(
        self, name: str, df: DataFrame, txn: dict | None = None
    ) -> None:
        """Full-table replace (small dims / control tables only).

        The superseded table version is retired into ``_trash/<table>/<ts>``
        rather than deleted, mirroring Delta's keep-old-versions-until-VACUUM
        behavior; :meth:`vacuum` applies the retention policy. ``txn``
        attaches an idempotent-writer marker to the commit (same mechanism
        as :meth:`append`)."""
        spec = self.tables[name]
        # Rewrite path: identity values round-trip (compact/restore/
        # rename rewrites re-stage already-assigned ids).
        df = self._apply_defaults(spec, df)
        df = self._apply_identity(spec, df, strict=False)
        df = self._apply_generated(spec, df)
        tmp = spec.path + f"__staging-{os.getpid()}-{time.time_ns()}"
        try:
            self._write_checked(spec, df, tmp)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if os.path.isdir(spec.path):
            trash = os.path.join(self._trash_dir(name), str(time.time_ns()))
            os.makedirs(os.path.dirname(trash), exist_ok=True)
            os.replace(spec.path, trash)
        os.makedirs(os.path.dirname(spec.path), exist_ok=True)
        os.replace(tmp, spec.path)
        self._commit(name, "overwrite", txn=txn)

    def compact(
        self,
        name: str,
        target_files_per_partition: int = 1,
        cluster_by: tuple[str, ...] = (),
        zorder_by: tuple[str, ...] = (),
        where: str | None = None,
        target_file_mb: float | None = None,
    ) -> None:
        """OPTIMIZE-style file compaction (reference docs/runbook.md:55-58):
        rewrite the table coalesced. ``cluster_by`` sorts lexicographically
        within write tasks (strongest row-group skipping for the leading
        column); ``zorder_by`` sorts by a TRUE Morton-interleaved key
        (functions.zorder) so min/max skipping works for box predicates
        over EVERY keyed column — the actual ``OPTIMIZE ... ZORDER BY``
        semantics, not the lexicographic approximation.

        Partition columns are prepended to the sort so the partitioned
        writer's required ordering is already satisfied and the cluster
        order survives the write unchanged.

        With ``target_files_per_partition > 1`` and a cluster/zorder key,
        the rewrite RANGE-partitions on the key first, so the output
        files carry DISJOINT key ranges — that is what lets stat-based
        skipping (:meth:`scan`) open one file for a selective range
        predicate instead of every file containing a shard of the range.

        ``target_file_mb`` SIZES the output instead of counting it: the
        live bytes (from the footer-stats cache — metadata, no scan) are
        divided by the target to derive the file count, so OPTIMIZE
        produces right-sized files as the table grows instead of ever-
        fatter fixed-count ones. Hive-partitioned tables split the count
        across their partitions evenly (a skew-aware per-partition size
        would need per-partition byte rollups; use ``where=`` to compact
        hot partitions separately).
        """
        spec = self.tables[name]
        if target_file_mb is not None:
            import math

            stats = self.file_stats(name)
            if where is not None and spec.partition_by:
                # Subset compaction: size from the MATCHING partitions'
                # bytes, not the whole table — a where= that rewrites
                # one hot partition of a thousand must not inherit the
                # full-table byte count (it would produce files ~1000x
                # off the requested size).
                match_dirs = self._matching_partition_dirs(name, where)
                total = sum(
                    st.get("size", 0)
                    for rel, st in stats.items()
                    if os.path.dirname(rel) in match_dirs
                )
                n_parts = max(1, len(match_dirs))
            else:
                total = sum(st.get("size", 0) for st in stats.values())
                n_parts = 1
                if spec.partition_by:
                    head = self._load_manifest(name)
                    if head and head[-1]["files"]:
                        n_parts = max(
                            1,
                            len(
                                {
                                    os.path.dirname(rel)
                                    for rel in head[-1]["files"]
                                }
                            ),
                        )
            n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
            target_files_per_partition = max(1, round(n_files / n_parts))
        if cluster_by and zorder_by:
            raise ValueError("pass cluster_by OR zorder_by, not both")
        if not cluster_by and not zorder_by and spec.cluster_by:
            # Declared clustering (Delta liquid CLUSTER BY): every
            # OPTIMIZE clusters without being told. Same routing as the
            # SQL front door — 2+ numeric columns get the Morton key,
            # anything else the lexicographic sort.
            numeric = (
                T.IntegerType,
                T.LongType,
                T.ShortType,
                T.ByteType,
                T.FloatType,
                T.DoubleType,
                T.DecimalType,
            )
            tby = {f.name: f.dataType for f in spec.schema.fields}
            if len(spec.cluster_by) >= 2 and all(
                isinstance(tby.get(c), numeric) for c in spec.cluster_by
            ):
                zorder_by = spec.cluster_by
            else:
                cluster_by = spec.cluster_by
        if where is not None:
            return self._compact_partitions(
                name, where, target_files_per_partition, cluster_by, zorder_by
            )
        df = self.table(name)
        n = target_files_per_partition
        if cluster_by:
            if n > 1:
                df = df.repartitionByRange(n, *spec.partition_by, *cluster_by)
            else:
                df = df.coalesce(1)
            df = df.sortWithinPartitions(*spec.partition_by, *cluster_by)
        elif zorder_by:
            from ..functions.zorder import zorder_key

            key = zorder_key(self.table(name), list(zorder_by))
            if n > 1:
                df = df.repartitionByRange(n, *spec.partition_by, key)
            else:
                df = df.coalesce(1)
            df = df.sortWithinPartitions(*spec.partition_by, key)
        else:
            # Over a one-partition read this collapses into the read's
            # coalesce(1) (see one_partition_if_small); keep it adjacent.
            df = df.coalesce(n)
        self.overwrite(name, df)

    # --- partition evolution ---------------------------------------------

    def _require_uniform_layout(self, spec: TableSpec) -> None:
        """Directory-scan paths (DV DML keyed reads) cannot infer mixed
        partition layouts; evolution requires a compact() before them."""
        manifest = self._load_manifest(spec.name)
        if manifest and self._mixed_layouts(spec, manifest[-1]["files"]):
            raise ValueError(
                f"{spec.name}: partition layouts are mixed after "
                "partition evolution — run compact() to normalize before "
                "row-level DML"
            )

    @staticmethod
    def _mixed_layouts(spec: TableSpec, files: list[str]) -> bool:
        """True when live files sit under more than one partition layout,
        or under a layout other than the declared one — the state
        :meth:`set_partitioning` creates until a full :meth:`compact`
        normalizes the table."""
        sigs = {_layout_sig(rel) for rel in files}
        return bool(sigs) and sigs != {tuple(spec.partition_by)}

    def set_partitioning(
        self, name: str, partition_by: tuple[str, ...]
    ) -> None:
        """Iceberg-style PARTITION EVOLUTION (beyond Delta, which requires
        a full rewrite): change the partitioning for FUTURE writes without
        touching a single existing file. Old files stay under their old
        layout — where a now-partition column was a DATA column inside the
        file, or a now-data column was a directory — and every read path
        groups files by layout signature so both eras read correctly
        (including stat-based skipping: old files prune on the column's
        footer stats, new files on the directory value).

        Write cost: one metadata-only commit. The trade: directory-level
        pruning only covers new-era files until a full :meth:`compact`
        rewrites the table under the current layout (after which the
        table is un-mixed again); partition-scoped maintenance
        (:meth:`overwrite_partitions`, ``OPTIMIZE WHERE``) refuses while
        layouts are mixed because "a partition" is not one directory set.
        """
        spec = self.tables[name]
        declared = {f.name for f in spec.schema.fields}
        missing = [c for c in partition_by if c not in declared]
        if missing:
            raise ValueError(
                f"{name}: partition columns not in schema: {missing}"
            )
        self._commit_meta(
            name, "set_partitioning", partition_by=partition_by
        )

    def set_clustering(self, name: str, cluster_by: tuple[str, ...]) -> None:
        """Delta liquid-clustering parity (``CLUSTER BY`` /
        ``ALTER TABLE ... CLUSTER BY``): declare the clustering key so
        every subsequent OPTIMIZE — explicit, ``maybe_compact``
        auto-compaction, or partition-scoped — clusters by it without the
        caller naming columns. Metadata-only (one commit): existing
        files keep their order until the next OPTIMIZE rewrites them,
        exactly Delta's incremental-clustering contract. Pass ``()`` for
        ``CLUSTER BY NONE``."""
        spec = self.tables[name]
        declared = {f.name for f in spec.schema.fields}
        missing = [c for c in cluster_by if c not in declared]
        if missing:
            raise ValueError(
                f"{name}: clustering columns not in schema: {missing}"
            )
        overlap = [c for c in cluster_by if c in spec.partition_by]
        if overlap:
            raise ValueError(
                f"{name}: {overlap} are partition columns — Delta liquid"
                " clustering and directory partitioning are exclusive per"
                " column"
            )
        self._commit_meta(name, "set_clustering", cluster_by=cluster_by)

    # -- read-time governance: row filters + column masks ---------------------
    def set_row_filter(self, name: str, expr: str | None) -> None:
        """Declare (or clear, with ``None``) a row-filter predicate every
        governed read applies. Metadata-only: one commit, no data
        rewrite — the filter evaluates inside each reader's scan, so it
        pushes down into parquet like any literal predicate (the governed
        path costs what the user's own WHERE would). Validated against
        the declared schema at declare time, not first-read time."""
        spec = self.tables[name]
        if expr is not None:
            empty = empty_frame(self.spark, spec.schema)
            try:
                empty.filter(expr).schema
            except Exception as e:
                raise ValueError(
                    f"{name}: bad row filter {expr!r}: {e}"
                ) from e
        self._commit_meta(name, "set_row_filter", row_filter=expr)

    def set_column_mask(self, name: str, col: str, expr: str | None) -> None:
        """Declare (or clear) a mask expression for ``col``. The mask may
        reference any of the row's columns; its result is cast back to
        the column's declared type so the governed schema is IDENTICAL to
        the raw schema (downstream consumers can't tell a masked read
        from a raw one by shape). Masks see pre-mask values — one mask
        referencing another masked column composes on raw data, never on
        another mask's output (no ordering ambiguity)."""
        spec = self.tables[name]
        declared = {f.name: f.dataType for f in spec.schema.fields}
        if col not in declared:
            raise ValueError(f"{name}: no such column {col!r}")
        masks = dict(spec.column_masks)
        if expr is None:
            masks.pop(col, None)
        else:
            from pyspark.sql import functions as F

            empty = empty_frame(self.spark, spec.schema)
            try:
                empty.select(
                    F.expr(expr).cast(declared[col]).alias(col)
                ).schema
            except Exception as e:
                raise ValueError(
                    f"{name}: bad mask for {col!r}: {expr!r}: {e}"
                ) from e
            masks[col] = expr
        self._commit_meta(name, "set_column_mask", column_masks=masks)

    def _apply_policies(self, df: DataFrame, name: str) -> DataFrame:
        """Row filter first (evaluated on RAW values), then every column
        mask in one projection (each mask also sees raw values). Columns
        the policy doesn't know (e.g. the change feed's ``_change_type``
        / ``_commit_version``) pass through untouched."""
        from pyspark.sql import functions as F

        spec = self.tables[name]
        if spec.row_filter:
            df = df.filter(spec.row_filter)
        if spec.column_masks:
            declared = {f.name: f.dataType for f in spec.schema.fields}
            df = df.select(
                *[
                    F.expr(spec.column_masks[c])
                    .cast(declared[c])
                    .alias(c)
                    if c in spec.column_masks
                    else F.col(c)
                    for c in df.columns
                ]
            )
        return df

    def governed_table(
        self, name: str, version: int | None = None
    ) -> DataFrame:
        """The policy-applying read. Raw :meth:`table` remains the
        maintenance door; the SQL surface (DdlSession) binds THIS one, so
        ad-hoc readers get governed data while OPTIMIZE/MERGE/constraints
        keep operating on what is actually stored. Time travel reads
        enforce the CURRENT policy (policies govern access, not
        history)."""
        return self._apply_policies(self.table(name, version=version), name)

    def governed_changes(
        self, name: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Policy-applying change feed: the SQL surface's
        ``table_changes()`` binds this, so the CDC audit view can never
        leak rows or values the table's own reads would hide (the change
        rows carry the full data columns — an unguarded feed would be a
        trivial policy bypass). The metadata columns pass through."""
        return self._apply_policies(
            self.changes(name, from_version, to_version), name
        )

    def _matching_partition_dirs(self, name: str, where: str) -> set[str]:
        """Relative partition directories whose hive-encoded values
        satisfy ``where``. Evaluated by Spark on a tiny driver-built
        frame of the DISTINCT partition tuples — one row per live
        partition, metadata-sized — with each value cast to its declared
        column type so numeric/date predicates compare typed, not
        lexicographic. Hive URL-escaping and the null sentinel are
        decoded before the cast."""
        from urllib.parse import unquote

        from pyspark.sql import functions as F

        spec = self.tables[name]
        manifest = self._load_manifest(name)
        files = manifest[-1]["files"] if manifest else []
        dirs = sorted({os.path.dirname(rel) for rel in files})
        if not dirs:
            return set()
        rows = []
        for d in dirs:
            vals = {}
            for seg in d.split(os.sep):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    v = unquote(v)
                    vals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
            rows.append(tuple([d] + [vals.get(c) for c in spec.partition_by]))
        schema = T.StructType(
            [T.StructField("__dir__", T.StringType())]
            + [T.StructField(c, T.StringType()) for c in spec.partition_by]
        )
        df = self.spark.createDataFrame(rows, schema)
        tby = {f.name: f.dataType for f in spec.schema.fields}
        for c in spec.partition_by:
            df = df.withColumn(c, F.col(c).cast(tby[c]))
        return {r["__dir__"] for r in df.filter(F.expr(where)).collect()}

    def _compact_partitions(
        self,
        name: str,
        where: str,
        target_files_per_partition: int,
        cluster_by: tuple[str, ...],
        zorder_by: tuple[str, ...] = (),
    ) -> None:
        """``OPTIMIZE ... WHERE <partition predicate>`` (Delta parity):
        rewrite ONLY the partitions the predicate selects, via the
        dynamic-partition-overwrite path — at 100 TB you compact
        yesterday's partition, never the table. The predicate must
        reference partition columns only (guarded), so the selected row
        set is exactly a set of whole partitions and the rewrite can
        never lose or duplicate rows."""
        from pyspark.sql import functions as F

        spec = self.tables[name]
        if not spec.partition_by:
            raise ValueError(
                f"{name}: OPTIMIZE WHERE requires a partitioned table"
            )
        manifest = self._load_manifest(name)
        if manifest and self._mixed_layouts(spec, manifest[-1]["files"]):
            raise ValueError(
                f"{name}: partition layouts are mixed after partition "
                "evolution — run compact() to normalize first"
            )
        masked = re.sub(r"'[^']*'", "''", where)
        keywords = {
            "AND", "OR", "IN", "IS", "NOT", "NULL", "TRUE", "FALSE",
            "BETWEEN", "LIKE",
        }
        idents = {
            w
            for w in re.findall(r"[A-Za-z_]\w*", masked)
            if w.upper() not in keywords
        }
        if not idents or not idents <= set(spec.partition_by):
            raise ValueError(
                f"OPTIMIZE WHERE predicate must reference only partition "
                f"columns {spec.partition_by}: {where!r}"
            )
        # The filter is pushed below a one-partition read's coalesce(1),
        # which this coalesce then replaces (see one_partition_if_small).
        subset = self.table(name).filter(F.expr(where))
        subset = subset.coalesce(target_files_per_partition)
        if cluster_by:
            subset = subset.sortWithinPartitions(
                *spec.partition_by, *cluster_by
            )
        elif zorder_by:
            from ..functions.zorder import zorder_key

            key = zorder_key(subset, list(zorder_by))
            subset = subset.sortWithinPartitions(*spec.partition_by, key)
        self.overwrite_partitions(name, subset)

    def maybe_compact(
        self,
        name: str,
        max_small_files: int = 16,
        small_bytes: int = 32 * 1024 * 1024,
        target_files_per_partition: int = 1,
    ) -> bool:
        """Delta autoCompact analog: compact ONLY when the small-file
        count crosses the threshold. Streaming sinks and frequent small
        appends accrete tiny files (each a task + an open + a footer at
        read time — the classic small-file death at warehouse scale);
        calling this after a write batch keeps layout healthy without
        paying a rewrite on every append. Returns True if a compaction
        ran. Tables with TBLPROPERTIES 'delta.autoOptimize.autoCompact'
        = 'true' get this check automatically after every append."""
        spec = self.tables[name]
        manifest = self._load_manifest(name)
        if not manifest:
            return False
        small = 0
        for rel in manifest[-1]["files"]:
            p = os.path.join(spec.path, rel)
            if os.path.isfile(p) and os.path.getsize(p) < small_bytes:
                small += 1
        if small <= max_small_files:
            return False
        self.compact(
            name, target_files_per_partition=target_files_per_partition
        )
        return True

    def vacuum(
        self, name: str, retain_hours: float = 168.0, dry_run: bool = False
    ) -> int:
        """VACUUM RETAIN <h> HOURS (reference docs/runbook.md:103-104):
        purge retired table versions older than the retention window.
        Returns the number of versions deleted.

        ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) only COUNTS the
        versions the retention window would purge — the operator's
        pre-flight check before an irreversible delete — touching
        nothing, including the commit log.

        Also prunes commit-log files (Delta's log-cleanup analog) that are
        BOTH merged into the manifest checkpoint and older than the
        retention window — unbounded metadata growth is its own 100 TB
        operations problem. The time bound keeps the prune safe against
        in-flight readers: a reader holding a pre-merge checkpoint view
        finishes its log read in milliseconds, not hours."""
        trash = self._trash_dir(name)
        cutoff_ns = time.time_ns() - int(retain_hours * 3600 * 1e9)
        removed = 0
        # Tagged versions are PROTECTED: retention never deletes a file a
        # named ref still needs (Iceberg's expire-snapshots contract) —
        # a trash stamp survives while it holds any tagged version's file.
        manifest = self._load_manifest(name, full=True)
        tagged = set(self.tags(name).values())
        needed: set[str] = set()
        for e in manifest:
            if e["version"] in tagged:
                needed.update(e["files"])
        if os.path.isdir(trash):
            for entry in sorted(os.listdir(trash)):
                full = os.path.join(trash, entry)
                try:
                    version_ns = int(entry)
                except ValueError:
                    continue
                if version_ns < cutoff_ns:
                    if needed:
                        held = any(
                            os.path.relpath(
                                os.path.join(dirpath, fn), full
                            )
                            in needed
                            for dirpath, _, fns in os.walk(full)
                            for fn in fns
                        )
                        if held:
                            continue
                    if not dry_run:
                        shutil.rmtree(full)
                    removed += 1
        if dry_run:
            return removed
        cdir = self._commits_dir(name)
        ckpt = self._latest_checkpoint(name)
        ckpt_version = ckpt["version"] if ckpt else 0
        if os.path.isdir(cdir):
            merged: set[int] = set()
            if os.path.isfile(self._manifest_path(name)):
                with open(self._manifest_path(name)) as f:
                    merged = {e["version"] for e in json.load(f)}
            # A TAGGED pre-checkpoint version must stay readable after
            # its delta predecessors are pruned: pin it by rewriting its
            # commit file in snapshot form (full `files` list) first, so
            # the replay re-grounds at the tag (Iceberg keeps a tagged
            # snapshot's manifest for the same reason).
            by_v = {
                e["version"]: e for e in self._load_manifest(name, full=True)
            }
            for tv in sorted(tagged):
                e = by_v.get(tv)
                if e is None or tv > ckpt_version:
                    continue
                self._pin_snapshot(name, e)
            for fn in sorted(os.listdir(cdir)):
                if not fn.endswith(".json"):
                    continue
                full = os.path.join(cdir, fn)
                with open(full) as f:
                    entry = json.load(f)
                # Prunable when past retention AND subsumed — merged
                # into the manifest (whose entries are themselves only
                # dropped once a periodic checkpoint covers them) or at
                # or below the newest checkpoint. Tagged pins are kept.
                if (
                    entry["ts_ns"] < cutoff_ns
                    and (
                        entry["version"] in merged
                        or entry["version"] <= ckpt_version
                    )
                    and entry["version"] not in tagged
                ):
                    os.unlink(full)
        # Superseded checkpoints past retention: only the newest one is
        # ever read; older files are pure disk debt.
        ckdir = self._ckpt_dir(name)
        if os.path.isdir(ckdir):
            for fn in sorted(os.listdir(ckdir))[:-1]:
                if not fn.endswith(".json"):
                    continue
                full = os.path.join(ckdir, fn)
                with open(full) as f:
                    entry = json.load(f)
                if entry["ts_ns"] < cutoff_ns:
                    os.unlink(full)
        # Deletion-vector sidecars expire when NO version committed
        # inside the retention window references them (a sidecar's own
        # creation time is NOT the right clock: a long-lived DV that left
        # the live set yesterday is still referenced by yesterday's
        # versions, whose data files are also still readable — deleting
        # it by birth date would break in-retention time travel).
        dvdir = self._dv_dir(name)
        if name in self.tables and os.path.isdir(dvdir):
            manifest = self._load_manifest(name, full=True)
            referenced: set[str] = set()
            for e in manifest:
                # Tagged versions keep their sidecars for the same
                # reason they keep their data files: a named ref must
                # stay readable after retention purges its neighbors —
                # LAKEHOUSE_STRESS caught VACUUM RETAIN 0 deleting a
                # tagged snapshot's DV and breaking its time travel.
                if (
                    e is manifest[-1]
                    or e["ts_ns"] >= cutoff_ns
                    or e["version"] in tagged
                ):
                    referenced |= set(e.get("dv", []))
            for fn in sorted(os.listdir(dvdir)):
                if fn in referenced:
                    continue
                try:
                    created_ns = int(fn.rsplit("-", 1)[-1])
                except ValueError:
                    continue
                if created_ns < cutoff_ns:
                    shutil.rmtree(os.path.join(dvdir, fn), ignore_errors=True)
        return removed

    # ------------------------------------------------------------------
    # ANALYZE TABLE — column statistics for planner decisions
    # ------------------------------------------------------------------

    _STATS_ORDERABLE = (
        "int",
        "bigint",
        "smallint",
        "tinyint",
        "double",
        "float",
        "decimal",
        "date",
        "timestamp",
        "string",
        "boolean",
    )

    # --- file-level data skipping ----------------------------------------

    def file_stats(self, name: str) -> dict[str, dict]:
        """Per-file footer statistics (rows, per-column min/max/nulls) for
        the CURRENT version's live files — Delta's per-file stats analog,
        computed from parquet footers (metadata-sized reads) and cached in
        ``_meta/<table>/file_stats.json`` keyed by file size, so each
        footer is read once per file ever."""
        from .skipping import collect_file_stats

        spec = self.tables[name]
        manifest = self._load_manifest(name)
        files = manifest[-1]["files"] if manifest else []
        return collect_file_stats(
            spec.path,
            files,
            os.path.join(self._meta_dir(name), "file_stats.json"),
        )

    def _footer_row_sum(self, name: str, files: list[str]) -> int | None:
        """THE shared metadata-count core: sum of parquet footer row
        counts over ``files`` (metadata-sized reads through the same
        size-keyed ``file_stats.json`` cache as :meth:`file_stats`).
        Returns ``None`` when any file's footer stats are missing
        (vacuumed or unreadable) — the caller falls back to a real scan.
        The soundness gate (deletion vectors) stays with
        :meth:`fast_row_count`, the one caller."""
        if not files:
            return 0
        from .skipping import collect_file_stats

        spec = self.tables[name]
        stats = collect_file_stats(
            spec.path,
            files,
            os.path.join(self._meta_dir(name), "file_stats.json"),
        )
        total = 0
        for rel in files:
            rows = stats.get(rel, {}).get("rows")
            if rows is None:
                return None
            total += rows
        return total

    def fast_row_count(
        self, name: str, version: int | None = None
    ) -> int | None:
        """Metadata-only ``COUNT(*)``: the sum of parquet footer row
        counts over the version's live files — zero data scanned, the
        fast path warehouses answer bare counts with. Returns ``None``
        (caller falls back to a real scan) whenever the footer sum would
        be WRONG or unavailable: deletion vectors present (tombstoned
        rows are still in the footers), a live file's stats missing
        (vacuumed or unreadable), or no manifest yet."""
        manifest = self._load_manifest(name)
        if not manifest:
            return 0
        if version is None:
            entry = manifest[-1]
        else:
            matches = [e for e in manifest if e["version"] == version]
            if not matches:
                raise KeyError(f"{name}: no version {version} in manifest")
            entry = matches[-1]
        if entry.get("dv"):
            return None
        return self._footer_row_sum(name, entry["files"])

    def column_storage_report(self, name: str) -> DataFrame:
        """Per-column on-disk cost over the table's LIVE files (column,
        compressed/uncompressed bytes, values, share of total) — footer
        metadata only, nothing scans data. The 100 TB decision input:
        which column pays for the storage, how well it compresses, and
        what a projection that drops it saves."""
        # file_stats() owns the manifest/cache routing (size-keyed
        # footer cache: each footer is read once per file EVER).
        stats = self.file_stats(name)
        totals: dict[str, dict] = {}
        for rel in stats:
            for col, v in stats[rel].get("storage", {}).items():
                cur = totals.setdefault(
                    col,
                    {
                        "compressed_bytes": 0,
                        "uncompressed_bytes": 0,
                        "n_values": 0,
                    },
                )
                cur["compressed_bytes"] += v[0]
                cur["uncompressed_bytes"] += v[1]
                cur["n_values"] += v[2]
        grand = sum(v["compressed_bytes"] for v in totals.values()) or 1
        rows = [
            (
                col,
                v["compressed_bytes"],
                v["uncompressed_bytes"],
                v["n_values"],
                round(v["compressed_bytes"] / grand, 6),
            )
            for col, v in sorted(totals.items())
        ]
        return self.spark.createDataFrame(
            rows,
            "column string, compressed_bytes long, uncompressed_bytes long,"
            " n_values long, share double",
        )

    # -- Bloom-filter file index (Delta BLOOMFILTER INDEX parity) ----------
    _BLOOM_TYPES = (
        T.StringType,
        T.IntegerType,
        T.LongType,
        T.ShortType,
        T.ByteType,
        T.DateType,
        T.BooleanType,
    )

    def _bloom_path(self, name: str) -> str:
        return os.path.join(self._meta_dir(name), "bloom.json")

    def bloom_indexes(self, name: str) -> dict:
        """The persisted index: {logical_col: {"fpp":..., "files": {rel:
        {"m","k","bits"}}}} — metadata-sized, loaded per scan."""
        p = self._bloom_path(name)
        if not os.path.isfile(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _save_blooms(self, name: str, blooms: dict) -> None:
        p = self._bloom_path(name)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + f".tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(blooms, f)
        os.replace(tmp, p)

    def _build_bloom_entries(
        self, spec: TableSpec, col: str, files: list[str], fpp: float
    ) -> dict[str, dict]:
        """One column-projected Spark job over ``files``: distinct
        (file, hash60) pairs — map-side partial dedup, one shuffle sized
        by the column's ndv — then an Arrow-batched per-file pack on the
        EXECUTORS (the driver only ever sees the finished bitsets, so the
        index build is metadata-sized driver-side at any table size)."""
        import pandas as pd
        from pyspark.sql import functions as F

        from .skipping import BLOOM_HASH_SQL, pack_bloom

        if not files:
            return {}
        phys = spec.physical(col)
        paths = [os.path.join(spec.path, rel) for rel in files]
        # mergeSchema: era-mixed files may lack the column (it reads NULL
        # there, and NULLs never enter a bloom — equality can't match them).
        df = (
            load_paths(
                self.spark.read.format("parquet").option("mergeSchema", "true"),
                paths,
            )
            .where(F.col(phys).isNotNull())
            .select(
                F.input_file_name().alias("__f"),
                F.expr(BLOOM_HASH_SQL.format(col=f"`{phys}`"))
                .cast("long")
                .alias("__h"),
            )
            .distinct()
        )

        def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
            entry = pack_bloom(pdf["__h"].tolist(), len(pdf), fpp)
            return pd.DataFrame(
                [
                    {
                        "file": pdf["__f"].iloc[0],
                        "m": entry["m"],
                        "k": entry["k"],
                        "bits": entry["bits"],
                    }
                ]
            )

        rows = (
            df.groupBy("__f")
            .applyInPandas(_pack, "file string, m long, k long, bits string")
            .collect()
        )
        root = os.path.realpath(spec.path)
        out: dict[str, dict] = {}
        for r in rows:
            p = urllib.parse.unquote(urllib.parse.urlparse(r.file).path)
            rel = os.path.relpath(os.path.realpath(p), root)
            out[rel] = {"m": r.m, "k": r.k, "bits": r.bits}
        # A file whose every value is NULL produces no row above; give it
        # an explicit empty bloom so equality conjuncts can skip it.
        for rel in files:
            out.setdefault(
                rel, pack_bloom([], 0, fpp)
            )
        return out

    def create_bloom_index(
        self, name: str, col: str, fpp: float = 0.01
    ) -> int:
        """CREATE BLOOMFILTER INDEX parity: per-file bloom bitsets for a
        high-cardinality column, enabling point-lookup file skipping where
        min/max ranges all overlap. Incremental: only live files missing
        an entry are built (re-run after OPTIMIZE to re-index rewritten
        files); :meth:`append` maintains the index for new files in-line.
        Returns the number of file entries built."""
        spec = self.tables[name]
        field = {f.name: f for f in spec.schema.fields}.get(col)
        if field is None:
            raise KeyError(f"{name}: no such column {col!r}")
        if not isinstance(field.dataType, self._BLOOM_TYPES):
            raise ValueError(
                f"{name}.{col}: bloom index requires a string/integer/"
                f"date/boolean column, not {field.dataType.simpleString()}"
                " (float canonicalization is not engine-portable)"
            )
        if col in spec.partition_by:
            raise ValueError(
                f"{name}.{col} is a partition column — path pruning is"
                " already exact; a bloom index would add nothing"
            )
        if not 0 < fpp < 1:
            raise ValueError(f"fpp must be in (0, 1): {fpp}")
        blooms = self.bloom_indexes(name)
        idx = blooms.setdefault(col, {"fpp": fpp, "files": {}})
        manifest = self._load_manifest(name)
        live = manifest[-1]["files"] if manifest else []
        missing = [
            rel
            for rel in live
            if rel not in idx["files"]
            and os.path.isfile(os.path.join(spec.path, rel))
        ]
        idx["files"].update(
            self._build_bloom_entries(spec, col, missing, idx["fpp"])
        )
        self._save_blooms(name, blooms)
        return len(missing)

    def drop_bloom_index(self, name: str, col: str | None = None) -> None:
        """Drop one column's index, or the whole table's when col is
        None (DROP BLOOMFILTER INDEX parity)."""
        blooms = self.bloom_indexes(name)
        if col is None:
            blooms = {}
        else:
            blooms.pop(col, None)
        self._save_blooms(name, blooms)

    def _maintain_blooms(self, name: str, added: list[str]) -> None:
        """Keep the index current for freshly committed files — cost is
        proportional to the NEW data, never the table (Delta computes
        blooms at write time; this is the post-commit equivalent)."""
        if not added:
            return
        blooms = self.bloom_indexes(name)
        if not blooms:
            return
        spec = self.tables[name]
        for col, idx in blooms.items():
            new = [rel for rel in added if rel not in idx["files"]]
            idx["files"].update(
                self._build_bloom_entries(spec, col, new, idx["fpp"])
            )
        self._save_blooms(name, blooms)

    def files_metadata(self, name: str, version: int | None = None) -> DataFrame:
        """Per-file metadata relation (Iceberg's ``files`` table / the
        per-file complement of DESCRIBE DETAIL): one row per live data
        file of the requested version with its footer row count, size,
        Hive-style partition values (JSON), and per-column min/max/null
        stats (JSON) from the skipping cache. Metadata-sized — footers
        are read once per file ever; nothing scans data. SQL spelling:
        ``SELECT * FROM table_files('t'[, version])``.

        Files of an older version that VACUUM already retired report NULL
        stats (their footers are gone with the bytes)."""
        from .skipping import collect_file_stats, hive_partition_segments

        spec = self.tables[name]
        manifest = self._load_manifest(name)
        if version is None:
            entry = manifest[-1] if manifest else {"files": [], "version": 0}
        else:
            matches = [e for e in manifest if e["version"] == version]
            if not matches:
                raise KeyError(f"{name}: no version {version} in manifest")
            entry = matches[-1]
        files = entry["files"]
        stats = collect_file_stats(
            spec.path,
            files,
            os.path.join(self._meta_dir(name), "file_stats.json"),
        )
        rows = []
        for rel in files:
            st = stats.get(rel)
            parts = {
                k: v for k, v in hive_partition_segments(rel) if v is not None
            }
            rows.append(
                (
                    rel,
                    entry["version"],
                    st["rows"] if st else None,
                    st["size"] if st else None,
                    json.dumps(parts, sort_keys=True) if parts else None,
                    (
                        json.dumps(st.get("cols", {}), sort_keys=True)
                        if st
                        else None
                    ),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "file string, version int, rows bigint, size_bytes bigint,"
            " partition string, column_stats string",
        )

    def scan(self, name: str, predicate: str) -> DataFrame:
        """Predicate-pruned read: open ONLY the files whose footer stats
        (or partition-path values) admit a matching row, then apply the
        full predicate as a real filter — row-identical to
        ``table(name).filter(predicate)`` with strictly fewer files
        opened. At 100 TB this is the scan API: a selective predicate on
        a clustered column (see :meth:`compact` ``cluster_by``/
        ``zorder_by``) touches a handful of files instead of the fleet.
        Unrecognized predicate shapes prune nothing and still filter
        correctly."""
        from pyspark.sql import functions as F

        from .skipping import keep_file, parse_conjuncts

        spec = self.tables[name]
        manifest = self._load_manifest(name)
        if not manifest or not manifest[-1]["files"]:
            return self.table(name).filter(F.expr(predicate))
        head = manifest[-1]
        stats = self.file_stats(name)
        conjuncts = parse_conjuncts(predicate)
        blooms = self.bloom_indexes(name)
        kept = [
            rel
            for rel in head["files"]
            if keep_file(
                rel,
                stats.get(rel),
                conjuncts,
                spec.schema,
                spec.column_map,
                blooms,
            )
        ]
        if not kept:
            return empty_frame(self.spark, spec.schema)
        df = self._resolve_and_read(
            spec, kept, head["version"], dvs=head.get("dv", [])
        )
        return df.filter(F.expr(predicate))

    def pruned_files(self, name: str, predicate: str) -> tuple[int, int]:
        """(files a :meth:`scan` would open, total live files) — the
        skipping diagnostic (Delta's numFilesPruned)."""
        from .skipping import keep_file, parse_conjuncts

        spec = self.tables[name]
        manifest = self._load_manifest(name)
        files = manifest[-1]["files"] if manifest else []
        stats = self.file_stats(name)
        conjuncts = parse_conjuncts(predicate)
        blooms = self.bloom_indexes(name)
        kept = sum(
            1
            for rel in files
            if keep_file(
                rel,
                stats.get(rel),
                conjuncts,
                spec.schema,
                spec.column_map,
                blooms,
            )
        )
        return kept, len(files)

    def analyze(self, name: str, version: int | None = None) -> dict:
        """ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS parity:
        one aggregation pass computes row count plus per-column null
        count, HLL-approximate distinct count, and min/max for orderable
        atomic types, returned with the version they describe.

        These are the numbers a planner spends: row count and ndv drive
        join-side broadcast decisions and shuffle-partition sizing;
        min/max give partition-elimination bounds. One pass, one shuffle
        (a single global aggregate), never one job per column.

        ``version`` analyzes a time-travel snapshot instead of the head.
        """
        from pyspark.sql import functions as F

        df = self.table(name, version=version)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        cols = []
        for f in df.schema.fields:
            base = f.dataType.simpleString().split("(")[0]
            if base not in self._STATS_ORDERABLE:
                continue
            c = f.name
            cols.append(c)
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"__nulls__{c}")
            )
            aggs.append(
                F.approx_count_distinct(c).cast("long").alias(f"__ndv__{c}")
            )
            aggs.append(F.min(c).cast("string").alias(f"__min__{c}"))
            aggs.append(F.max(c).cast("string").alias(f"__max__{c}"))
        row = df.agg(*aggs).collect()[0].asDict()
        stats = {
            "table": name,
            "version": (
                self.current_version(name) if version is None else version
            ),
            "row_count": row["__rows"],
            "columns": {
                c: {
                    "null_count": row[f"__nulls__{c}"],
                    "approx_ndv": row[f"__ndv__{c}"],
                    "min": row[f"__min__{c}"],
                    "max": row[f"__max__{c}"],
                }
                for c in cols
            },
        }
        return stats


@dataclass
class ChangeCursor:
    """Durable per-consumer offset over a table's change feed (see
    :meth:`Catalog.change_cursor`). At-least-once delivery: ``poll``
    re-reads anything not yet ``ack``ed, so a consumer that crashes
    mid-batch replays it — pair with an idempotent sink (anti-join /
    merge), the same contract every offset-based source has."""

    catalog: Catalog
    table: str
    consumer: str

    def position(self) -> int:
        path = self.catalog._cursor_path(self.table, self.consumer)
        if not os.path.isfile(path):
            return 0
        with open(path) as f:
            return json.load(f)["version"]

    def poll(self) -> tuple[DataFrame, int]:
        """(changes since the acked offset, feed-end version to ack after
        the batch is durably consumed). An empty typed frame and the
        unchanged offset mean nothing new was committed."""
        start = self.position()
        end = self.catalog.current_version(self.table)
        if end <= start:
            return (
                self.catalog.changes(self.table, start, start),
                start,
            )
        return self.catalog.changes(self.table, start, end), end

    def ack(self, version: int) -> None:
        """Advance the stored offset to ``version`` (monotonic — acking
        backwards is a no-op, so replayed batches can re-ack safely)."""
        if version <= self.position():
            return
        path = self.catalog._cursor_path(self.table, self.consumer)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp-{os.getpid()}-{time.time_ns()}"
        with open(tmp, "w") as f:
            json.dump({"version": version, "ts_ns": time.time_ns()}, f)
        os.replace(tmp, path)
