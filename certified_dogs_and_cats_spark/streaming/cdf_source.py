"""Structured-Streaming source over the catalog change feed.

A PySpark 4 Python data source (``spark.dataSource.register``) that tails
a catalog table's commit log as a stream — the Spark-4-native equivalent
of ``spark.readStream.format("delta")``:

- **Offsets are table versions.** ``initialOffset`` starts after
  ``startingVersion`` (default 0 = from the beginning); ``latestOffset``
  is the manifest head. The stream is exactly-once replayable because a
  (start, end] version range always resolves to the same committed files.
- **Partitions are the commit's added files.** The driver diffs each
  version's manifest file list against its predecessor (reading two JSON
  entries — metadata-sized); each added file becomes one input partition
  read EXECUTOR-side with pyarrow and emitted as Arrow record batches, so
  the per-batch cost scales with the change, never the table.
- **Non-append commits follow Delta's streaming contract.** A commit that
  removes/rewrites files or grows the deletion-vector set is a "change
  commit"; the source raises by default and skips it with
  ``skipChangeCommits=true`` — exactly Delta's source semantics.

Rows carry ``_change_type`` ('insert') and ``_commit_version`` so a
downstream ``foreachBatch`` MERGE can apply them idempotently. Use
:func:`stream_table_changes` to wire schema + options from a live
:class:`~..pipeline.catalog.Catalog`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

FORMAT_NAME = "catalog_changes"


@dataclass
class _FilePartition(InputPartition):
    path: str  # absolute data-file path
    rel: str  # manifest-relative path (carries partition dirs)
    version: int


def _load_manifest(root: str, table: str) -> list[dict]:
    """Every retained version of ``table`` with its full ``files`` list:
    the catalog's own log read and replay (the view time travel uses).
    Reading the log needs no Spark session, which Spark's Python
    data-source worker does not have."""
    from ..pipeline.catalog import Catalog

    return Catalog(None, root)._load_manifest(table, full=True)


class CatalogChangesDataSource(DataSource):
    """``spark.readStream.format("catalog_changes")`` — options:

    - ``warehouse``: catalog root directory (required)
    - ``table``: dotted table name, e.g. ``core.events`` (required)
    - ``startingVersion``: stream changes AFTER this version (default 0)
    - ``skipChangeCommits``: 'true' to skip non-append commits instead of
      failing the stream (Delta's option, same default: fail)
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        raise ValueError(
            "catalog_changes requires an explicit schema (the table schema"
            " plus _change_type STRING, _commit_version INT); use"
            " streaming.stream_table_changes(catalog, name) to wire it"
            " from a live Catalog"
        )

    def streamReader(self, schema):
        return _ChangesStreamReader(schema, self.options)


class _ChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self._schema = schema
        root = options.get("warehouse")
        table = options.get("table")
        if not root or not table:
            raise ValueError(
                "catalog_changes requires 'warehouse' and 'table' options"
            )
        self._root, self._table = root, table
        self._table_path = os.path.join(root, *table.split("."))
        self._trash_dir = os.path.join(root, "_trash", *table.split("."))
        self._start = int(options.get("startingVersion", "0"))
        self._skip_changes = (
            options.get("skipChangeCommits", "false").lower() == "true"
        )
        # Delta's maxFilesPerTrigger analog at version granularity:
        # bound how far one micro-batch advances, so a stream catching up
        # on a long history emits bounded batches instead of one
        # unbounded catch-up batch.
        self._max_versions = int(options.get("maxVersionsPerTrigger", "0"))
        self._committed = self._start

    # -- offsets ----------------------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        entries = _load_manifest(self._root, self._table)
        head = entries[-1]["version"] if entries else 0
        head = max(head, self._start)
        if self._max_versions > 0:
            # Self-advancing floor: each trigger proposes at most
            # max_versions past the previous proposal (micro-batches run
            # synchronously between latestOffset calls; exactly-once
            # still comes from the engine's checkpointed offsets, the
            # floor only paces batch SIZE).
            head = min(head, self._committed + self._max_versions)
            self._committed = max(self._committed, head)
        return {"version": head}

    # -- planning ---------------------------------------------------------
    def partitions(self, start: dict, end: dict):
        # Restart safety for the rate limit: the restored checkpoint
        # offset arrives here, not via initialOffset — learn it so
        # latestOffset never proposes an end below a committed start.
        self._committed = max(self._committed, start["version"])
        entries = _load_manifest(self._root, self._table)
        by_version = {e["version"]: e for e in entries}
        parts: list[_FilePartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            entry = by_version.get(v)
            if entry is None:
                continue
            prev = by_version.get(v - 1)
            prev_files = set(prev["files"]) if prev else set()
            prev_dv = set(prev.get("dv", [])) if prev else set()
            files = set(entry["files"])
            pure_append = prev_files <= files and set(
                entry.get("dv", [])
            ) == prev_dv
            if not pure_append:
                if self._skip_changes:
                    continue
                raise RuntimeError(
                    f"catalog_changes: version {v} "
                    f"({entry['action']!r}) rewrites or deletes data;"
                    " streaming sources only tail appends — set"
                    " skipChangeCommits=true to skip such commits"
                    " (Delta's contract)"
                )
            for rel in sorted(files - prev_files):
                parts.append(
                    _FilePartition(
                        path=self._resolve(rel, v), rel=rel, version=v
                    )
                )
        # Spark requires >= 1 partition; an empty range reads nothing.
        return parts or [_FilePartition(path="", rel="", version=0)]

    def _resolve(self, rel: str, version: int) -> str:
        """A commit's file may have been retired to a _trash stamp by a
        LATER rewrite (same resolution rule as time-travel reads); vacuum
        purging it makes the version unstreamable — fail loudly."""
        live = os.path.join(self._table_path, rel)
        if os.path.isfile(live):
            return live
        if os.path.isdir(self._trash_dir):
            for stamp in sorted(os.listdir(self._trash_dir), reverse=True):
                cand = os.path.join(self._trash_dir, stamp, rel)
                if os.path.isfile(cand):
                    return cand
        raise RuntimeError(
            f"catalog_changes: version {version} file {rel!r} was vacuumed;"
            " start the stream from a later startingVersion"
        )

    # -- execution (runs on executors) ------------------------------------
    def read(self, partition):
        if not partition.path:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self._schema)
        data_names = [
            f.name
            for f in self._schema.fields
            if f.name not in ("_change_type", "_commit_version")
        ]
        from ..pipeline.skipping import hive_partition_segments

        tbl = pq.read_table(partition.path)
        n = tbl.num_rows
        # Partition-directory columns (col=value path segments) are not in
        # the file; synthesize them via the SHARED Hive-path parser
        # (percent-unescaped, NULL sentinel -> nulls). Everything is cast
        # to the declared arrow schema so emitted batches match the
        # stream schema exactly.
        partvals = dict(hive_partition_segments(partition.rel))
        cols = []
        for name in data_names:
            ftype = target.field(name).type
            if name in tbl.column_names:
                cols.append(tbl.column(name).cast(ftype))
            elif name in partvals:
                val = partvals[name]
                cols.append(
                    pa.nulls(n, type=ftype)
                    if val is None
                    else pa.array([val] * n).cast(ftype)
                )
            else:  # added after this file was written -> NULL
                cols.append(pa.nulls(n, type=ftype))
        cols.append(pa.array(["insert"] * n, type=pa.string()))
        cols.append(
            pa.array([partition.version] * n, type=pa.int32())
        )
        out = pa.table(
            cols, names=data_names + ["_change_type", "_commit_version"]
        ).cast(target)
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        # Advance the rate-limit floor: the next micro-batch may read
        # maxVersionsPerTrigger versions past what is now committed.
        self._committed = max(self._committed, end.get("version", 0))

    def stop(self) -> None:
        pass


def register(spark) -> None:
    """Register the format once per session (idempotent)."""
    spark.dataSource.register(CatalogChangesDataSource)


def stream_table_changes(
    catalog,
    name: str,
    starting_version: int = 0,
    skip_change_commits: bool = False,
):
    """``readStream`` over a catalog table's change feed, schema wired
    from the live spec: the declared columns + _change_type STRING +
    _commit_version INT."""
    from pyspark.sql import types as T

    register(catalog.spark)
    spec = catalog.tables[name]
    if getattr(spec, "column_map", None):
        raise ValueError(
            f"{name}: the streaming source reads physical file columns"
            " and does not translate column mapping yet — tail the"
            " change feed of column-mapped tables via Catalog.changes()"
        )
    schema = T.StructType(
        [
            *spec.schema.fields,
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_version", T.IntegerType(), False),
        ]
    )
    return (
        catalog.spark.readStream.format(FORMAT_NAME)
        .schema(schema)
        .option("warehouse", catalog.root)
        .option("table", name)
        .option("startingVersion", str(starting_version))
        .option("skipChangeCommits", str(skip_change_commits).lower())
        .load()
    )
