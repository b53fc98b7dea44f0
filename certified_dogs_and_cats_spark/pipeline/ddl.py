"""SQL DDL front door over the local :class:`~.catalog.Catalog`.

The reference manages its lakehouse through SQL DDL — schema creation
(`sql/breed_mapping.py:2-11`), table registration with partitioning,
collation, and location clauses (`notebooks/bronze.py:131-146`,
`notebooks/silver.py:141-161`, `sql/register_bronze.sql:1-4`), and
`CREATE OR REPLACE VIEW` for the health/gold layers
(`notebooks/bronze.py:151-158`). This module accepts that exact dialect
and executes it against the engine's catalog, closing the gap between the
Python `Catalog.register` API and a SQL-first user.

Supported statements (the reference's full DDL surface):

- ``USE CATALOG c`` / ``USE SCHEMA s``
- ``CREATE SCHEMA [IF NOT EXISTS] name [COMMENT '...']``
- ``CREATE TABLE [IF NOT EXISTS] name (col TYPE [NOT NULL], ...)
  [USING fmt] [PARTITIONED BY (...)] [CLUSTER BY (...)] [DEFAULT
  COLLATION ...] [LOCATION '...']`` — LOCATION is advisory locally
  (tables live under the catalog root); DELTA maps to parquet in this
  build; CLUSTER BY declares liquid clustering (every OPTIMIZE clusters
  by it; ``ALTER TABLE ... CLUSTER BY (...)|NONE`` changes it).
- ``CREATE [OR REPLACE] VIEW name AS <select>`` — the SELECT may
  reference fully-qualified table names; they are resolved against the
  catalog and the view is registered for ``spark.sql`` use.
- ``INSERT INTO name [(cols)] VALUES (...), ... | <select>`` — the
  reference's control-record spelling (notebooks/bronze.py:119-122);
  maps onto :meth:`Catalog.append` with positional cast to the declared
  schema.
- ``[WITH ctes] MERGE INTO target [AS] t USING source [AS] s ON cond``
  followed by Delta's full WHEN-clause surface — conditional multi-clause
  ``WHEN MATCHED [AND c] THEN UPDATE SET ...|UPDATE SET *|DELETE``,
  ``WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT (...) VALUES
  (...)|INSERT *``, ``WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET
  ...|DELETE`` — the reference's upsert spelling
  (sql/breed_mapping.py:596-618) plus the CDC-sync clauses; executed as a
  join rewrite (one shuffle on the merge keys, same cost shape as Delta
  MERGE's join phase) followed by a table overwrite.
- ``DROP TABLE|VIEW [IF EXISTS] name``
- ``ALTER TABLE name ADD COLUMN col TYPE`` — metadata-only schema
  evolution (old files read the new column as NULL).
- ``OPTIMIZE name [ZORDER BY (cols)]`` / ``VACUUM name [RETAIN n
  HOURS]`` — the reference's maintenance spellings
  (docs/runbook.md:55-58,103-104), mapped to :meth:`Catalog.compact`
  (coalesce + cluster sort) and :meth:`Catalog.vacuum`.
- ``SHOW SCHEMAS`` / ``SHOW TABLES`` / ``DESCRIBE [TABLE] name``

Statements are ``;``-separated and ``--`` comments are stripped — both
quote-aware, so literals containing ``;`` or ``--`` survive, and name
resolution never rewrites table references inside string literals. This
is a deliberate small-surface parser, not a SQL engine — anything
SELECT-shaped is delegated to Spark SQL untouched.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import Catalog, empty_frame

_TYPE_MAP = {
    "INT": T.IntegerType(),
    "INTEGER": T.IntegerType(),
    "BIGINT": T.LongType(),
    "SMALLINT": T.ShortType(),
    "STRING": T.StringType(),
    "BOOLEAN": T.BooleanType(),
    "TIMESTAMP": T.TimestampType(),
    "DATE": T.DateType(),
    "DOUBLE": T.DoubleType(),
    "FLOAT": T.FloatType(),
}


class DdlError(ValueError):
    pass


def _split_statements(sql: str) -> list[str]:
    """Split a script on ``;`` and drop ``--`` comments, tracking
    single-quote string state so neither applies inside a literal
    (``''`` is the SQL escape for a quote within a literal)."""
    stmts: list[str] = []
    buf: list[str] = []
    i, n = 0, len(sql)
    in_str = False
    while i < n:
        ch = sql[i]
        if in_str:
            buf.append(ch)
            if ch == "'":
                if i + 1 < n and sql[i + 1] == "'":
                    buf.append("'")
                    i += 1
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
            buf.append(ch)
        elif ch == "-" and i + 1 < n and sql[i + 1] == "-":
            while i < n and sql[i] != "\n":
                i += 1
            continue
        elif ch == ";":
            stmts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    stmts.append("".join(buf))
    return [s.strip() for s in stmts if s.strip()]


_STR_LIT = re.compile(r"'(?:[^']|'')*'")


def _balanced_parens(s: str, open_idx: int) -> tuple[str, str]:
    """Given ``s`` with an '(' at ``open_idx``, return (inner text, text
    after the matching ')') — nesting- and string-literal-aware, so
    column lists may contain expression parens (GENERATED ALWAYS AS)."""
    depth = 0
    in_str = False
    for i in range(open_idx, len(s)):
        ch = s[i]
        if in_str:
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return s[open_idx + 1 : i], s[i + 1 :]
    raise DdlError(f"unbalanced parentheses: {s[:120]}")


def _split_top_level(text: str, sep: str) -> list[str]:
    """Split on ``sep`` occurrences outside parentheses and single-quoted
    string literals (SET-clause lists may contain function calls and
    quoted commas)."""
    parts: list[str] = []
    depth = 0
    in_str = False
    cur: list[str] = []
    i = 0
    while i < len(text):
        ch = text[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                if i + 1 < len(text) and text[i + 1] == "'":
                    cur.append(text[i + 1])
                    i += 1
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts


def _mask_literals(sql: str) -> str:
    """Replace string-literal contents with spaces (same length, quotes
    kept) so positional regex matches never land inside a literal."""
    return _STR_LIT.sub(lambda m: "'" + " " * (len(m.group(0)) - 2) + "'", sql)


def _split_when_clauses(s: str) -> list[str]:
    """Split a MERGE tail into ``[head, clause, clause, ...]`` at top-level
    ``WHEN`` boundaries.

    A ``WHEN`` only starts a merge clause when it is outside parentheses /
    string literals AND is followed by ``MATCHED`` / ``NOT MATCHED`` — so a
    top-level ``CASE WHEN x THEN y END`` inside an UPDATE SET expression
    stays glued to its clause.
    """
    masked = _mask_literals(s).upper()
    bounds: list[int] = []
    depth = 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and masked.startswith(" WHEN ", i):
            rest = masked[i + 6 :].lstrip()
            if rest.startswith("MATCHED") or rest.startswith("NOT MATCHED"):
                bounds.append(i)
    if not bounds:
        return [s]
    parts = [s[: bounds[0]]]
    for a, b in zip(bounds, bounds[1:] + [len(s)]):
        parts.append(s[a + 1 : b])  # each part starts with "WHEN "
    return parts


def _split_top(s: str, sep: str) -> list[str]:
    """Split on `sep` at paren depth 0, outside string literals."""
    masked = _mask_literals(s)
    parts, depth, last = [], 0, 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(s[last:i])
            last = i + 1
    parts.append(s[last:])
    return parts


def _view_alias(name: str) -> str:
    return name.replace(".", "_")


@dataclass
class DdlSession:
    """Holds namespace state (USE CATALOG/SCHEMA) across statements."""

    catalog: Catalog
    current_catalog: str = "pets"
    current_schema: str = "core"
    schemas: set[str] = field(default_factory=lambda: {"core"})
    views: dict[str, str] = field(default_factory=dict)
    mviews: dict[str, object] = field(default_factory=dict)
    functions: dict[str, str] = field(default_factory=dict)
    # qualified fn name -> catalog tables its TABLE body references; used
    # to re-bind those tables' temp-view aliases before any statement
    # that calls the function (see _rebind_function_tables).
    function_tables: dict[str, tuple[str, ...]] = field(default_factory=dict)

    # -- name resolution -----------------------------------------------------
    def resolve(self, name: str) -> str:
        """3-part pets.core.t -> 'core.t'; 1-part t -> '<current_schema>.t'."""
        parts = name.split(".")
        if len(parts) == 3:
            if parts[0] != self.current_catalog:
                raise DdlError(
                    f"unknown catalog {parts[0]!r} (this build manages "
                    f"{self.current_catalog!r})"
                )
            return ".".join(parts[1:])
        if len(parts) == 2:
            return name
        return f"{self.current_schema}.{name}"

    # -- statement execution -------------------------------------------------
    def execute(self, sql: str) -> list[DataFrame | None]:
        """Run a ;-separated DDL script; returns one result per statement
        (DataFrames for SHOW/DESCRIBE/VIEW-select, else None)."""
        out: list[DataFrame | None] = []
        for stmt in _split_statements(sql):
            out.append(self._execute_one(stmt))
        return out

    def _execute_one(self, stmt: str) -> DataFrame | None:
        s = re.sub(r"\s+", " ", stmt).strip()
        u = s.upper()
        masked_u = _mask_literals(s).upper()
        if masked_u.startswith("INSERT INTO "):
            return self._insert_into(stmt)
        # MERGE, possibly prefixed by a WITH-CTE block (the reference's
        # seed-upsert shape, sql/breed_mapping.py:560-618).
        if re.search(r"\bMERGE (?:WITH SCHEMA EVOLUTION )?INTO\b", masked_u) and (
            masked_u.startswith("MERGE ") or masked_u.startswith("WITH ")
        ):
            return self._merge_into(stmt)
        if masked_u.startswith("DELETE FROM "):
            return self._delete_from(stmt)
        if masked_u.startswith("UPDATE "):
            return self._update(stmt)
        if u.startswith("TRUNCATE TABLE "):
            name = self.resolve(s.split()[-1])
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            spec = self.catalog.tables[name]
            self.catalog.overwrite(
                name, empty_frame(self.catalog.spark, spec.schema)
            )
            return None
        if u.startswith("USE CATALOG "):
            self.current_catalog = s.split()[2]
            return None
        if u.startswith("USE SCHEMA ") or u.startswith("USE "):
            self.current_schema = s.split()[-1].split(".")[-1]
            return None
        if u.startswith("CREATE SCHEMA"):
            return self._create_schema(s)
        if re.match(r"CREATE (OR REPLACE )?FUNCTION\b", u):
            return self._create_function(s)
        if u.startswith("DROP FUNCTION"):
            return self._drop_function(s)
        if u.startswith("SHOW USER FUNCTIONS"):
            rows = [
                (n, self.functions[n]) for n in sorted(self.functions)
            ]
            return self.catalog.spark.createDataFrame(
                rows, "function string, definition string"
            )
        if u.startswith("CREATE MATERIALIZED VIEW "):
            return self._create_materialized_view(s)
        if u.startswith("REFRESH MATERIALIZED VIEW "):
            return self._refresh_materialized_view(s)
        cm = re.match(
            r"CREATE TABLE (?:IF NOT EXISTS )?(?P<dst>[\w.]+) "
            r"(?P<depth>SHALLOW|DEEP) CLONE (?P<src>[\w.]+)"
            r"(?: VERSION AS OF (?P<v>\d+))?\s*$",
            s,
            re.I,
        )
        if cm:
            src = self.resolve(cm.group("src"))
            dst = self.resolve(cm.group("dst"))
            if src not in self.catalog.tables:
                raise DdlError(f"table not found: {src}")
            if dst in self.catalog.tables:
                if re.search(r"IF NOT EXISTS", s, re.I):
                    return None
                raise DdlError(f"table exists: {dst}")
            try:
                self.catalog.clone(
                    src,
                    dst,
                    shallow=cm.group("depth").upper() == "SHALLOW",
                    version=int(cm.group("v")) if cm.group("v") else None,
                )
            except ValueError as e:
                raise DdlError(str(e)) from e
            return None
        if re.match(r"CREATE (OR REPLACE )?TABLE", u):
            return self._create_table(stmt)
        if u.startswith("SHOW CREATE TABLE "):
            name = self.resolve(s.split()[-1])
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            return self.catalog.spark.createDataFrame(
                [(self._show_create(name),)], "createtab_stmt string"
            )
        if re.match(r"CREATE (OR REPLACE )?VIEW", u):
            return self._create_view(stmt)
        if u.startswith("DROP TABLE") or u.startswith("DROP VIEW"):
            return self._drop(s)
        if u.startswith("ALTER TABLE "):
            gm = re.match(
                r"ALTER TABLE (?P<name>[\w.]+)"
                r" (?:SET ROW FILTER \((?P<expr>.+)\)|DROP ROW FILTER)\s*$",
                s,
                re.I,
            )
            if gm:
                name = self.resolve(gm.group("name"))
                if name not in self.catalog.tables:
                    raise DdlError(f"table not found: {name}")
                try:
                    self.catalog.set_row_filter(name, gm.group("expr"))
                except ValueError as e:
                    raise DdlError(str(e)) from e
                return None
            gm = re.match(
                r"ALTER TABLE (?P<name>[\w.]+) ALTER COLUMN (?P<col>\w+)"
                r" (?:SET MASK \((?P<expr>.+)\)|DROP MASK)\s*$",
                s,
                re.I,
            )
            if gm:
                name = self.resolve(gm.group("name"))
                if name not in self.catalog.tables:
                    raise DdlError(f"table not found: {name}")
                try:
                    self.catalog.set_column_mask(
                        name, gm.group("col"), gm.group("expr")
                    )
                except ValueError as e:
                    raise DdlError(str(e)) from e
                return None
            cm = re.match(
                r"ALTER TABLE (?P<name>[\w.]+) ADD CONSTRAINT (?P<c>\w+)"
                r" CHECK \((?P<expr>.+)\)\s*$",
                s,
                re.I,
            )
            if cm:
                name = self.resolve(cm.group("name"))
                if name not in self.catalog.tables:
                    raise DdlError(f"table not found: {name}")
                self.catalog.add_constraint(
                    name, cm.group("c"), cm.group("expr")
                )
                return None
            dm = re.match(
                r"ALTER TABLE (?P<name>[\w.]+) DROP CONSTRAINT (?P<c>\w+)\s*$",
                s,
                re.I,
            )
            if dm:
                name = self.resolve(dm.group("name"))
                if name not in self.catalog.tables:
                    raise DdlError(f"table not found: {name}")
                self.catalog.drop_constraint(name, dm.group("c"))
                return None
            pm = re.match(
                r"ALTER TABLE (?P<name>[\w.]+) SET PARTITION SPEC"
                r" ?\((?P<cols>[^)]*)\)\s*$",
                s,
                re.I,
            )
            if pm:
                name = self.resolve(pm.group("name"))
                if name not in self.catalog.tables:
                    raise DdlError(f"table not found: {name}")
                cols = tuple(
                    c.strip()
                    for c in pm.group("cols").split(",")
                    if c.strip()
                )
                try:
                    self.catalog.set_partitioning(name, cols)
                except ValueError as e:
                    raise DdlError(str(e)) from e
                return None
            cm = re.match(
                r"ALTER TABLE (?P<name>[\w.]+) CLUSTER BY"
                r" (?:NONE|\((?P<cols>[^)]*)\))\s*$",
                s,
                re.I,
            )
            if cm:
                name = self.resolve(cm.group("name"))
                if name not in self.catalog.tables:
                    raise DdlError(f"table not found: {name}")
                cols = tuple(
                    c.strip()
                    for c in (cm.group("cols") or "").split(",")
                    if c.strip()
                )
                try:
                    self.catalog.set_clustering(name, cols)
                except ValueError as e:
                    raise DdlError(str(e)) from e
                return None
            rm = re.match(
                r"ALTER TABLE (?P<name>[\w.]+) RENAME COLUMN (?P<old>\w+)"
                r" TO (?P<new>\w+)\s*$",
                s,
                re.I,
            )
            if rm:
                name = self.resolve(rm.group("name"))
                if name not in self.catalog.tables:
                    raise DdlError(f"table not found: {name}")
                try:
                    self.catalog.rename_column(
                        name, rm.group("old"), rm.group("new")
                    )
                except ValueError as e:
                    raise DdlError(str(e)) from e
                return None
            xm = re.match(
                r"ALTER TABLE (?P<name>[\w.]+) DROP COLUMNS? ?\(?"
                r"(?P<col>\w+)\)?\s*$",
                s,
                re.I,
            )
            if xm:
                name = self.resolve(xm.group("name"))
                if name not in self.catalog.tables:
                    raise DdlError(f"table not found: {name}")
                try:
                    self.catalog.drop_column(name, xm.group("col"))
                except ValueError as e:
                    raise DdlError(str(e)) from e
                return None
            tm = re.match(
                r"ALTER TABLE (?P<name>[\w.]+)"
                r" (?:CREATE TAG '(?P<tag>[^']+)'"
                r"(?: AS OF VERSION (?P<v>\d+))?"
                r"|DROP TAG '(?P<dtag>[^']+)')\s*$",
                s,
                re.I,
            )
            if tm:
                name = self.resolve(tm.group("name"))
                if name not in self.catalog.tables:
                    raise DdlError(f"table not found: {name}")
                try:
                    if tm.group("dtag"):
                        self.catalog.drop_tag(name, tm.group("dtag"))
                    else:
                        self.catalog.set_tag(
                            name,
                            tm.group("tag"),
                            int(tm.group("v")) if tm.group("v") else None,
                        )
                except ValueError as e:
                    raise DdlError(str(e)) from e
                return None
            am = re.match(
                r"ALTER TABLE (?P<name>[\w.]+) ALTER COLUMN (?P<col>\w+)"
                r" (?:SET DEFAULT (?P<dflt>.+?)|(?P<drop>DROP DEFAULT))\s*$",
                s,
                re.I,
            )
            if am:
                name = self.resolve(am.group("name"))
                if name not in self.catalog.tables:
                    raise DdlError(f"table not found: {name}")
                try:
                    self.catalog.set_default(
                        name,
                        am.group("col"),
                        None if am.group("drop") else am.group("dflt").strip(),
                    )
                except ValueError as e:
                    raise DdlError(str(e)) from e
                return None
            # Two explicit forms — parenthesized ADD COLUMNS (...) and
            # bare ADD COLUMN ... — so the wrapper paren is matched
            # structurally and a DEFAULT expression's own trailing parens
            # (DEFAULT upper('x')) survive intact.
            m = re.match(
                r"ALTER TABLE (?P<name>[\w.]+) ADD COLUMNS?\s*\("
                r"(?P<col>\w+)\s+(?P<type>\w+)"
                r"(?:\s+DEFAULT\s+(?P<dflt>.+?))?\s*\)\s*$",
                s,
                re.I,
            ) or re.match(
                r"ALTER TABLE (?P<name>[\w.]+) ADD COLUMNS?\s+"
                r"(?P<col>\w+)\s+(?P<type>\w+)"
                r"(?:\s+DEFAULT\s+(?P<dflt>.+?))?\s*$",
                s,
                re.I,
            )
            if not m:
                raise DdlError(f"unsupported ALTER TABLE: {s[:120]}")
            name = self.resolve(m.group("name"))
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            ctype = m.group("type").upper()
            if ctype not in _TYPE_MAP:
                raise DdlError(f"unsupported type {ctype!r}")
            self.catalog.add_column(
                name, T.StructField(m.group("col"), _TYPE_MAP[ctype], True)
            )
            if m.group("dflt"):
                # Delta semantics: the DEFAULT applies to FUTURE writes
                # that omit the column; rows in existing files read NULL
                # (nothing is rewritten).
                self.catalog.set_default(
                    name, m.group("col"), m.group("dflt").strip()
                )
            return None
        if u.startswith("OPTIMIZE "):
            m = re.match(
                r"OPTIMIZE (?P<name>[\w.]+)"
                r"(?: WHERE (?P<where>.+?))?"
                r"(?: ZORDER BY \((?P<cols>[^)]*)\))?\s*$",
                s,
                re.I,
            )
            if not m:
                raise DdlError(f"bad OPTIMIZE: {s[:120]}")
            name = self.resolve(m.group("name"))
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            if m.group("where"):
                cluster = tuple(
                    c.strip()
                    for c in (m.group("cols") or "").split(",")
                    if c.strip()
                )
                # Same ZORDER routing as the whole-table branch: 2+
                # numeric columns get a true Morton key, anything else
                # the lexicographic cluster sort.
                numeric = (
                    T.IntegerType, T.LongType, T.ShortType, T.ByteType,
                    T.FloatType, T.DoubleType, T.DecimalType,
                )
                spec = self.catalog.tables[name]
                tby = {f.name: f.dataType for f in spec.schema.fields}
                use_z = len(cluster) >= 2 and all(
                    isinstance(tby.get(c), numeric) for c in cluster
                )
                try:
                    self.catalog.compact(
                        name,
                        where=m.group("where"),
                        cluster_by=() if use_z else cluster,
                        zorder_by=cluster if use_z else (),
                    )
                except ValueError as e:
                    raise DdlError(str(e)) from e
                return None
            cluster = tuple(
                c.strip() for c in (m.group("cols") or "").split(",") if c.strip()
            )
            # ZORDER BY over 2+ NUMERIC columns gets a true Morton key;
            # single column (or any non-numeric) falls back to the
            # lexicographic cluster sort, which is equivalent for one
            # column and the only sound choice for strings/dates.
            numeric = (
                T.IntegerType, T.LongType, T.ShortType, T.ByteType,
                T.FloatType, T.DoubleType, T.DecimalType,
            )
            spec = self.catalog.tables[name]
            types_by_name = {f.name: f.dataType for f in spec.schema.fields}
            if len(cluster) >= 2 and all(
                isinstance(types_by_name.get(c), numeric) for c in cluster
            ):
                self.catalog.compact(name, zorder_by=cluster)
            else:
                self.catalog.compact(name, cluster_by=cluster)
            return None
        if u.startswith("VACUUM "):
            m = re.match(
                r"VACUUM (?P<name>[\w.]+)"
                r"(?: RETAIN (?P<hours>\d+(?:\.\d+)?) HOURS)?"
                r"(?P<dry> DRY RUN)?\s*$",
                s,
                re.I,
            )
            if not m:
                raise DdlError(f"bad VACUUM: {s[:120]}")
            name = self.resolve(m.group("name"))
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            n = self.catalog.vacuum(
                name,
                retain_hours=float(m.group("hours") or 168.0),
                dry_run=bool(m.group("dry")),
            )
            if m.group("dry"):
                return self.catalog.spark.createDataFrame(
                    [(n,)], "versions_to_purge int"
                )
            return None
        if u.startswith("CREATE BLOOMFILTER INDEX"):
            # Databricks/Delta spelling: CREATE BLOOMFILTER INDEX ON TABLE
            # t FOR COLUMNS (c [OPTIONS (fpp = 0.01)], ...)
            m = re.match(
                r"CREATE BLOOMFILTER INDEX ON TABLE (?P<name>[\w.]+) "
                r"FOR COLUMNS\s*\((?P<cols>.+)\)\s*$",
                s,
                re.I,
            )
            if not m:
                raise DdlError(f"bad CREATE BLOOMFILTER INDEX: {s[:120]}")
            name = self.resolve(m.group("name"))
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            for part in _split_top(m.group("cols"), ","):
                cm = re.match(
                    r"\s*(?P<col>\w+)\s*(?:OPTIONS\s*\(\s*fpp\s*=?\s*"
                    r"(?P<fpp>[\d.]+)\s*\))?\s*$",
                    part,
                    re.I,
                )
                if not cm:
                    raise DdlError(f"bad BLOOMFILTER column clause: {part!r}")
                try:
                    self.catalog.create_bloom_index(
                        name,
                        cm.group("col"),
                        float(cm.group("fpp")) if cm.group("fpp") else 0.01,
                    )
                except (KeyError, ValueError) as e:
                    raise DdlError(str(e)) from e
            return None
        if u.startswith("DROP BLOOMFILTER INDEX"):
            m = re.match(
                r"DROP BLOOMFILTER INDEX ON TABLE (?P<name>[\w.]+)"
                r"(?: FOR COLUMNS\s*\((?P<cols>[^)]+)\))?\s*$",
                s,
                re.I,
            )
            if not m:
                raise DdlError(f"bad DROP BLOOMFILTER INDEX: {s[:120]}")
            name = self.resolve(m.group("name"))
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            if m.group("cols"):
                for col in m.group("cols").split(","):
                    self.catalog.drop_bloom_index(name, col.strip())
            else:
                self.catalog.drop_bloom_index(name)
            return None
        if u.startswith("ANALYZE TABLE "):
            m = re.match(
                r"ANALYZE TABLE (?P<name>[\w.]+)"
                r"(?: COMPUTE STATISTICS(?: FOR ALL COLUMNS)?)?\s*$",
                s,
                re.I,
            )
            if not m:
                raise DdlError(f"bad ANALYZE TABLE: {s[:120]}")
            name = self.resolve(m.group("name"))
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            st = self.catalog.analyze(name)
            rows = [
                (
                    c,
                    cs["null_count"],
                    cs["approx_ndv"],
                    cs["min"],
                    cs["max"],
                    st["row_count"],
                )
                for c, cs in sorted(st["columns"].items())
            ]
            return self.catalog.spark.createDataFrame(
                rows,
                "column string, null_count long, approx_ndv long,"
                " min string, max string, row_count long",
            )
        if u == "SHOW SCHEMAS":
            return self.catalog.spark.createDataFrame(
                [(x,) for x in sorted(self.schemas)], "schema_name string"
            )
        if u == "SHOW TABLES":
            rows = [
                (n.rsplit(".", 1)[0], n.rsplit(".", 1)[1], spec.fmt)
                for n, spec in sorted(self.catalog.tables.items())
            ]
            return self.catalog.spark.createDataFrame(
                rows or [], "schema_name string, table_name string, format string"
            )
        if u.startswith("SELECT ") or u.startswith("WITH "):
            mv = self._mv_rewrite(s)
            if mv is not None:
                return mv
            fast = self._count_star_fast_path(s)
            if fast is not None:
                return fast
            self._rebind_function_tables(s)
            return self.catalog.spark.sql(self._resolve_refs(stmt))
        if u.startswith("EXPLAIN "):
            plan = (
                self.catalog.spark.sql(self._resolve_refs(stmt[len("EXPLAIN "):]))
                ._jdf.queryExecution()
                .explainString(
                    self.catalog.spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted")
                )
            )
            return self.catalog.spark.createDataFrame(
                [(line,) for line in plan.splitlines()], "plan string"
            )
        if masked_u.startswith("COPY INTO "):
            m = re.match(
                r"COPY INTO (?P<name>[\w.]+) FROM '(?P<path>[^']+)'"
                r"(?: FILEFORMAT ?= ?(?P<fmt>\w+))?"
                r"(?: FORMAT_OPTIONS ?\((?P<opts>[^)]*)\))?\s*$",
                s,
                re.I,
            )
            if not m:
                raise DdlError(f"bad COPY INTO: {s[:120]}")
            name = self.resolve(m.group("name"))
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            opts = {}
            for pair in _split_top_level(m.group("opts") or "", ","):
                if not pair.strip():
                    continue
                om = re.match(
                    r"\s*'(?P<k>[^']+)'\s*=\s*'(?P<v>[^']*)'\s*$", pair
                )
                if not om:
                    raise DdlError(f"bad FORMAT_OPTIONS entry: {pair!r}")
                opts[om.group("k")] = om.group("v")
            n_files, n_rows = self.catalog.copy_into(
                name,
                m.group("path"),
                fmt=(m.group("fmt") or "csv").lower(),
                options=opts,
            )
            return self.catalog.spark.createDataFrame(
                [(n_files, n_rows)],
                "num_files_loaded int, num_rows_inserted long",
            )
        if u.startswith("RESTORE TABLE "):
            m = re.match(
                r"RESTORE TABLE (?P<name>[\w.]+) TO"
                r"(?: VERSION AS OF (?P<v>\d+)"
                r"| TIMESTAMP AS OF '(?P<ts>[^']+)')\s*$",
                s,
                re.I,
            )
            if not m:
                raise DdlError(f"bad RESTORE TABLE: {s[:120]}")
            name = self.resolve(m.group("name"))
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            try:
                v = (
                    int(m.group("v"))
                    if m.group("v")
                    else self.catalog.version_at_timestamp(
                        name, m.group("ts")
                    )
                )
            except ValueError as e:
                raise DdlError(str(e)) from e
            # Delta RESTORE semantics: the rollback is itself a new
            # version (history is never rewritten), so a restore can be
            # restored away again.
            snapshot = self.catalog.table(name, version=v)
            self.catalog.overwrite(name, snapshot)
            return None
        if u.startswith("SHOW TAGS FOR "):
            name = self.resolve(s.split()[-1])
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            return self.catalog.spark.createDataFrame(
                sorted(self.catalog.tags(name).items()) or [],
                "tag string, version int",
            )
        if u.startswith("SHOW PARTITIONS "):
            name = self.resolve(s.split()[-1])
            spec = self.catalog.tables.get(name)
            if spec is None:
                raise DdlError(f"table not found: {name}")
            if not spec.partition_by:
                raise DdlError(f"table is not partitioned: {name}")
            rows = (
                self.catalog.table(name)
                .select(*spec.partition_by)
                .distinct()
                .orderBy(*spec.partition_by)
                .collect()
            )
            return self.catalog.spark.createDataFrame(
                [
                    ("/".join(f"{c}={r[c]}" for c in spec.partition_by),)
                    for r in rows
                ],
                "partition string",
            )
        if u.startswith("SHOW TBLPROPERTIES "):
            name = self.resolve(s.split()[-1])
            spec = self.catalog.tables.get(name)
            if spec is None:
                raise DdlError(f"table not found: {name}")
            props = sorted(spec.properties.items())
            return self.catalog.spark.createDataFrame(
                props or [], "key string, value string"
            )
        if u.startswith("DESCRIBE DETAIL "):
            name = self.resolve(s.split()[-1])
            spec = self.catalog.tables.get(name)
            if spec is None:
                raise DdlError(f"table not found: {name}")
            n_files = (
                len(self.catalog._data_files(spec.path))
                if os.path.isdir(spec.path)
                else 0
            )
            manifest = self.catalog._load_manifest(name)
            n_dv = len(manifest[-1].get("dv", [])) if manifest else 0
            return self.catalog.spark.createDataFrame(
                [
                    (
                        name,
                        spec.fmt,
                        spec.path,
                        ",".join(spec.partition_by),
                        n_files,
                        self.catalog.current_version(name),
                        ",".join(sorted(spec.constraints)),
                        ",".join(
                            f"{k}={v}"
                            for k, v in sorted(spec.properties.items())
                        ),
                        n_dv,
                        ",".join(sorted(spec.generated)),
                        ",".join(sorted(spec.identity)),
                        ",".join(
                            f"{lg}->{ph}"
                            for lg, ph in sorted(spec.column_map.items())
                        ),
                    )
                ],
                "name string, format string, location string,"
                " partition_columns string, num_files int, version int,"
                " constraints string, properties string,"
                " num_deletion_vectors int, generated_columns string,"
                " identity_columns string, column_mapping string",
            )
        if u.startswith("DESCRIBE HISTORY "):
            name = self.resolve(s.split()[-1])
            if name not in self.catalog.tables:
                raise DdlError(f"table not found: {name}")
            rows = [
                (
                    h["version"],
                    h["action"],
                    h["ts_ns"],
                    h["n_files"],
                    h["n_added"],
                    h["n_removed"],
                )
                for h in reversed(self.catalog.history(name))
            ]
            return self.catalog.spark.createDataFrame(
                rows or [],
                "version int, action string, ts_ns long, n_files int,"
                " n_added int, n_removed int",
            )
        if u.startswith("DESCRIBE"):
            name = self.resolve(s.split()[-1])
            spec = self.catalog.tables.get(name)
            if spec is None:
                raise DdlError(f"table not found: {name}")
            rows = [
                (f.name, f.dataType.simpleString(), f.nullable,
                 f.name in spec.partition_by)
                for f in spec.schema.fields
            ]
            return self.catalog.spark.createDataFrame(
                rows,
                "col_name string, data_type string, nullable boolean, "
                "is_partition boolean",
            )
        raise DdlError(f"unsupported statement: {s[:80]}")

    def _create_schema(self, s: str) -> None:
        m = re.match(
            r"CREATE SCHEMA (IF NOT EXISTS )?(?P<name>[\w.]+)", s, re.I
        )
        if not m:
            raise DdlError(f"bad CREATE SCHEMA: {s}")
        name = m.group("name").split(".")[-1]
        if name in self.schemas and not m.group(1):
            raise DdlError(f"schema exists: {name}")
        self.schemas.add(name)
        return None

    def _show_create(self, name: str) -> str:
        """SHOW CREATE TABLE: reconstruct a statement this front door can
        replay — columns (with NOT NULL / GENERATED ALWAYS AS), USING,
        PARTITIONED BY, TBLPROPERTIES; CHECK constraints follow as ALTER
        TABLE lines (Delta prints them as table properties; explicit DDL
        is replayable here)."""
        spec = self.catalog.tables[name]
        type_names = {
            T.IntegerType(): "INT",
            T.LongType(): "BIGINT",
            T.ShortType(): "SMALLINT",
            T.StringType(): "STRING",
            T.BooleanType(): "BOOLEAN",
            T.TimestampType(): "TIMESTAMP",
            T.DateType(): "DATE",
            T.DoubleType(): "DOUBLE",
            T.FloatType(): "FLOAT",
        }
        cols = []
        for f in spec.schema.fields:
            t = type_names.get(f.dataType, f.dataType.simpleString().upper())
            col = f"  {f.name} {t}"
            if f.name in spec.generated:
                col += f" GENERATED ALWAYS AS ({spec.generated[f.name]})"
            if f.name in spec.defaults:
                col += f" DEFAULT {spec.defaults[f.name]}"
            if f.name in spec.identity:
                ident = spec.identity[f.name]
                col += (
                    " GENERATED ALWAYS AS IDENTITY (START WITH"
                    f" {ident.get('start', 1)} INCREMENT BY"
                    f" {ident.get('step', 1)})"
                )
            if not f.nullable:
                col += " NOT NULL"
            cols.append(col)
        out = (
            f"CREATE TABLE {self.current_catalog}.{name} (\n"
            + ",\n".join(cols)
            + f"\n) USING {spec.fmt}"
        )
        if spec.partition_by:
            out += f"\nPARTITIONED BY ({', '.join(spec.partition_by)})"
        if spec.cluster_by:
            out += f"\nCLUSTER BY ({', '.join(spec.cluster_by)})"
        if spec.properties:
            props = ", ".join(
                f"'{k}' = '{v}'" for k, v in sorted(spec.properties.items())
            )
            out += f"\nTBLPROPERTIES ({props})"
        for cname, expr in sorted(spec.constraints.items()):
            out += (
                f";\nALTER TABLE {self.current_catalog}.{name} "
                f"ADD CONSTRAINT {cname} CHECK ({expr})"
            )
        return out

    def _create_table(self, stmt: str) -> None:
        s = re.sub(r"\s+", " ", stmt).strip()
        ctas = re.match(
            r"CREATE (?P<replace>OR REPLACE )?TABLE (?P<ine>IF NOT EXISTS )?"
            r"(?P<name>[\w.]+)"
            r"(?: USING (?P<fmt>\w+))?"
            r"(?: PARTITIONED BY \((?P<parts>[^)]*)\))?"
            r" AS (?P<body>SELECT .*|WITH .*)$",
            s,
            re.I,
        )
        if ctas:
            return self._create_table_as(ctas)
        head = re.match(
            r"CREATE TABLE (?P<ine>IF NOT EXISTS )?(?P<name>[\w.]+) ?(?=\()",
            s,
            re.I,
        )
        if not head:
            raise DdlError(f"bad CREATE TABLE: {s[:120]}")
        # Balanced scan: the column list may itself contain parenthesized
        # expressions (GENERATED ALWAYS AS (expr)).
        cols_text, tail = _balanced_parens(s, head.end())
        m = re.match(
            r"(?: USING (?P<fmt>\w+))?"
            r"(?: PARTITIONED BY \((?P<parts>[^)]*)\))?"
            r"(?: CLUSTER BY \((?P<cluster>[^)]*)\))?"
            r"(?: DEFAULT COLLATION \w+)?"
            r"(?: LOCATION '(?P<loc>[^']*)')?"
            r"(?: TBLPROPERTIES ?\((?P<props>[^)]*)\))?\s*$",
            tail,
            re.I,
        )
        if not m:
            raise DdlError(f"bad CREATE TABLE clause tail: {tail[:120]}")
        name = self.resolve(head.group("name"))
        if name in self.catalog.tables:
            if head.group("ine"):  # IF NOT EXISTS
                return None
            raise DdlError(f"table exists: {name}")
        fields = []
        generated: dict[str, str] = {}
        identity: dict[str, dict] = {}
        defaults: dict[str, str] = {}
        for coldef in _split_top_level(cols_text, ","):
            coldef = coldef.strip()
            im = re.match(
                r"(?P<rest>.*?)\s+GENERATED ALWAYS AS IDENTITY"
                r"(?: ?\( ?START WITH (?P<start>-?\d+)"
                r" INCREMENT BY (?P<step>-?\d+) ?\))?\s*$",
                coldef,
                re.I | re.S,
            )
            if im:
                toks = im.group("rest").strip().split()
                if len(toks) < 2:
                    raise DdlError(f"bad column def: {coldef!r}")
                cname, ctype = toks[0], toks[1].upper()
                if ctype not in ("BIGINT", "INT", "INTEGER"):
                    raise DdlError(
                        f"identity column {cname!r} must be BIGINT/INT"
                    )
                fields.append(
                    T.StructField(cname, _TYPE_MAP[ctype], True)
                )
                identity[cname] = {
                    "start": int(im.group("start") or 1),
                    "step": int(im.group("step") or 1),
                }
                continue
            gm = re.match(
                r"(?P<rest>.*?)\s+GENERATED ALWAYS AS ?(?=\()",
                coldef,
                re.I | re.S,
            )
            if gm:
                expr, extra = _balanced_parens(coldef, gm.end())
                if extra.strip():
                    raise DdlError(f"bad column def: {coldef!r}")
                coldef = gm.group("rest")
            dm = re.match(
                r"(?P<rest>.*?)\s+DEFAULT\s+(?P<dflt>.+?)"
                r"(?P<nn>\s+NOT NULL)?\s*$",
                coldef,
                re.I | re.S,
            )
            default_expr = None
            if dm:
                default_expr = dm.group("dflt").strip()
                coldef = dm.group("rest") + (dm.group("nn") or "")
            toks = coldef.strip().split()
            if len(toks) < 2:
                raise DdlError(f"bad column def: {coldef!r}")
            cname, ctype = toks[0], toks[1].upper()
            if ctype not in _TYPE_MAP:
                raise DdlError(f"unsupported type {ctype!r} for {cname!r}")
            nullable = "NOT NULL" not in coldef.upper()
            fields.append(T.StructField(cname, _TYPE_MAP[ctype], nullable))
            if gm:
                generated[cname] = expr.strip()
            if default_expr is not None:
                defaults[cname] = default_expr
        parts = tuple(
            p.strip() for p in (m.group("parts") or "").split(",") if p.strip()
        )
        fmt = (m.group("fmt") or "parquet").lower()
        # DELTA maps onto the local parquet+manifest catalog (SURVEY §1.1).
        spec = self.catalog.register(
            name,
            T.StructType(fields),
            partition_by=parts,
            fmt="parquet" if fmt == "delta" else fmt,
        )
        # TBLPROPERTIES ('k' = 'v', ...) — stored on the spec; recognized:
        # 'delta.enableDeletionVectors' = 'true' switches DELETE FROM to
        # merge-on-read deletion vectors (Delta's own spelling).
        for pm in re.finditer(
            r"'([^']+)'\s*=\s*'([^']*)'", m.group("props") or ""
        ):
            spec.properties[pm.group(1)] = pm.group(2)
        spec.generated.update(generated)
        spec.identity.update(identity)
        for dc, de in defaults.items():
            try:
                self.catalog.set_default(name, dc, de)
            except ValueError as e:
                raise DdlError(str(e)) from e
        if m.group("cluster"):
            cluster = tuple(
                c.strip()
                for c in m.group("cluster").split(",")
                if c.strip()
            )
            try:
                self.catalog.set_clustering(name, cluster)
            except ValueError as e:
                raise DdlError(str(e)) from e
        return None

    def _create_table_as(self, m: "re.Match[str]") -> None:
        """CTAS: run the SELECT, register the table from the result
        schema, and write the rows as version 1 — the snapshot-building
        statement (gold extracts, backfills) the DDL front door lacked.
        OR REPLACE drops an existing table first; IF NOT EXISTS no-ops."""
        name = self.resolve(m.group("name"))
        exists = name in self.catalog.tables
        if exists and m.group("ine"):
            return None
        if exists and not m.group("replace"):
            raise DdlError(f"table exists: {name}")
        df = self.catalog.spark.sql(self._resolve_refs(m.group("body")))
        parts = tuple(
            p.strip() for p in (m.group("parts") or "").split(",") if p.strip()
        )
        missing = [p for p in parts if p not in df.columns]
        if missing:
            raise DdlError(f"CTAS partition columns not in SELECT: {missing}")
        if exists:
            self.catalog.drop(name)
        fmt = (m.group("fmt") or "parquet").lower()
        self.catalog.register(
            name,
            df.schema,
            partition_by=parts,
            fmt="parquet" if fmt == "delta" else fmt,
        )
        self.catalog.append(name, df)
        return None

    # -- SQL-language functions (scalar + table-valued) ----------------------
    def _create_function(self, s: str) -> None:
        """``CREATE [OR REPLACE] FUNCTION [IF NOT EXISTS] name(p type, ...)
        RETURNS type RETURN <expr>`` and the table-valued form ``RETURNS
        TABLE(col type, ...) RETURN SELECT ...`` — SQL-language UDFs, the
        only UDF path that stays inside Catalyst: the body is parsed once
        and INLINED into every calling plan as a column expression (or a
        lateral subquery for table functions), so calls keep whole-stage
        codegen, constant folding, and predicate pushdown — none of which
        survive a Python UDF boundary. The scale posture for reusable
        business logic at 100 TB is exactly this: ship the logic to the
        plan, never rows to Python.

        Functions are session-scoped like views (re-run the DDL script to
        re-register on attach); Spark temporary functions are single-part
        names, so the bare name must be unique across schemas — a clash
        is an error, not a silent rebind. A table-function body may
        reference catalog tables; references resolve through the same
        rewriter as views.
        """
        m = re.match(
            r"CREATE (?P<rep>OR REPLACE )?FUNCTION (?P<ine>IF NOT EXISTS )?"
            r"(?P<name>[\w.]+)\s*\((?P<params>.*?)\)\s+"
            r"RETURNS\s+(?P<ret>TABLE\s*\(.*?\)|.+?)\s+"
            r"RETURN\s+(?P<body>.+)$",
            s,
            re.I | re.S,
        )
        if not m:
            raise DdlError(f"bad CREATE FUNCTION: {s[:120]}")
        if m.group("rep") and m.group("ine"):
            raise DdlError(
                "CREATE FUNCTION: OR REPLACE and IF NOT EXISTS "
                "cannot be combined"
            )
        name = self.resolve(m.group("name"))
        bare = name.split(".")[-1]
        clash = [
            q
            for q in self.functions
            if q.split(".")[-1] == bare and q != name
        ]
        if clash:
            raise DdlError(
                f"function name {bare!r} already bound by {clash[0]} "
                "(temporary functions are single-part names)"
            )
        if name in self.functions and not m.group("rep"):
            if m.group("ine"):
                return None
            raise DdlError(f"function exists: {name}")
        ret = m.group("ret").strip()
        body = m.group("body").strip().rstrip(";").strip()
        if ret.upper().startswith("TABLE"):
            # Record which catalog tables the body references BEFORE the
            # rewrite replaces them with alias views: a later call whose
            # statement names no table must still re-bind these aliases
            # (fresh data + current governance), else the function would
            # serve the snapshot frozen at CREATE time.
            self.function_tables[name] = tuple(
                tbl for tbl in self.catalog.tables if self._refers_to(body, tbl)
            )
            body = self._resolve_refs(body)
        ddl = (
            f"CREATE OR REPLACE TEMPORARY FUNCTION {bare}"
            f"({m.group('params')}) RETURNS {ret} RETURN {body}"
        )
        try:
            self.catalog.spark.sql(ddl)
        except Exception as e:  # surface parse/analysis errors as DDL errors
            raise DdlError(f"CREATE FUNCTION {name}: {e}") from e
        self.functions[name] = ddl
        return None

    def _count_star_fast_path(self, s: str) -> DataFrame | None:
        """Metadata-only COUNT(*): a bare ``SELECT count(*) [AS a] FROM
        t`` (no WHERE/GROUP/JOIN) answers from parquet footer sums via
        :meth:`Catalog.fast_row_count` — zero data scanned, the same
        fast path Delta/warehouses apply. SOUNDNESS GATES, all bail to
        the real scan: deletion vectors or missing footer stats
        (fast_row_count returns None), and any governance row filter on
        the table (a policy-hidden row must not be counted)."""
        m = re.match(
            r"SELECT COUNT\(\*\)(?: AS (?P<alias>\w+))? FROM "
            r"(?P<name>[\w.]+)\s*;?\s*$",
            s,
            re.I,
        )
        if not m:
            return None
        try:
            name = self.resolve(m.group("name"))
        except DdlError:
            # foreign-catalog prefix (e.g. spark_catalog.db.t) — the
            # generic spark.sql path owns those, never this fast path
            return None
        if name not in self.catalog.tables:
            return None  # view or unknown — the generic path handles it
        if self.catalog.tables[name].row_filter:
            return None
        n = self.catalog.fast_row_count(name)
        if n is None:
            return None
        alias = m.group("alias") or "count(1)"
        return self.catalog.spark.createDataFrame(
            [(n,)], T.StructType([T.StructField(alias, T.LongType(), False)])
        )

    def _refers_to(self, body: str, tbl: str) -> bool:
        """True when ``body`` references catalog table ``tbl`` under any
        of the spellings the reference rewriter accepts (3-part, 2-part,
        bare under the current schema)."""
        prefixes = [f"{self.current_catalog}.{tbl}", tbl]
        if tbl.startswith(f"{self.current_schema}."):
            prefixes.append(tbl[len(self.current_schema) + 1 :])
        return any(
            re.search(rf"(?<![\w.]){re.escape(p)}(?![\w.])", body)
            for p in prefixes
        )

    def _rebind_function_tables(self, stmt: str) -> None:
        """Re-bind the alias views behind every table function the
        statement calls, so the call reads the table's CURRENT committed
        state under its CURRENT governance policies (temp-view bodies
        re-resolve at call analysis time — validated against Spark 4's
        SQL-function semantics). Without this, a call statement that
        names no catalog table would serve whatever snapshot happened to
        be bound when the function was created."""
        for fname, tables in self.function_tables.items():
            bare = fname.split(".")[-1]
            if not re.search(rf"(?<!\w){re.escape(bare)}\s*\(", stmt, re.I):
                continue
            for tbl in tables:
                self.catalog.governed_table(tbl).createOrReplaceTempView(
                    _view_alias(tbl)
                )

    def _drop_function(self, s: str) -> None:
        m = re.match(
            r"DROP FUNCTION (?P<ine>IF EXISTS )?(?P<name>[\w.]+)\s*$",
            s,
            re.I,
        )
        if not m:
            raise DdlError(f"bad DROP FUNCTION: {s[:120]}")
        name = self.resolve(m.group("name"))
        if name not in self.functions:
            if m.group("ine"):
                return None
            raise DdlError(f"function not found: {name}")
        bare = name.split(".")[-1]
        self.catalog.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {bare}")
        del self.functions[name]
        self.function_tables.pop(name, None)
        return None

    def _create_view(self, stmt: str) -> DataFrame:
        m = re.match(
            r"CREATE (OR REPLACE )?VIEW (?P<name>[\w.]+) AS (?P<body>.*)$",
            re.sub(r"\s+", " ", stmt).strip(),
            re.I | re.S,
        )
        if not m:
            raise DdlError(f"bad CREATE VIEW: {stmt[:120]}")
        name = self.resolve(m.group("name"))
        if name in self.views and not m.group(1):
            raise DdlError(f"view exists: {name}")
        body = self._resolve_refs(m.group("body"))
        df = self.catalog.spark.sql(body)
        df.createOrReplaceTempView(_view_alias(name))
        self.views[name] = body
        return df

    def _create_materialized_view(self, s: str) -> None:
        """``CREATE MATERIALIZED VIEW mv AS SELECT g1[, ...], COUNT(*) AS
        cnt, SUM(col) AS total FROM src GROUP BY g1[, ...]`` — the
        incrementally-maintainable shape (algebraic aggregates over one
        table; see pipeline/incremental.py). The view materializes as a
        real catalog table — readable by any SELECT, time-travelable —
        and ``REFRESH MATERIALIZED VIEW`` applies CDC deltas from the
        source's change feed instead of re-aggregating it. The MV handle
        is session-scoped; the backing table and its applied-watermark
        commits are durable, so re-declaring the same MV in a new session
        resumes maintenance where the last one stopped."""
        from .incremental import IncrementalAggregate

        from .incremental import IncrementalExtrema

        kind = IncrementalAggregate
        m = re.match(
            r"CREATE MATERIALIZED VIEW (?P<name>[\w.]+) AS "
            r"SELECT (?P<groups>[\w., ]+?), COUNT\(\*\) AS cnt, "
            r"SUM\((?P<val>\w+)\) AS total "
            r"FROM (?P<src>[\w.]+) GROUP BY (?P<gb>[\w., ]+)$",
            s,
            re.I,
        )
        if not m:
            m = re.match(
                r"CREATE MATERIALIZED VIEW (?P<name>[\w.]+) AS "
                r"SELECT (?P<groups>[\w., ]+?), COUNT\(\*\) AS cnt, "
                r"MIN\((?P<val>\w+)\) AS vmin, "
                r"MAX\((?P<val2>\w+)\) AS vmax "
                r"FROM (?P<src>[\w.]+) GROUP BY (?P<gb>[\w., ]+)$",
                s,
                re.I,
            )
            if m and m.group("val").lower() != m.group("val2").lower():
                raise DdlError(
                    "MIN and MAX must aggregate the same column: "
                    f"{m.group('val')} vs {m.group('val2')}"
                )
            kind = IncrementalExtrema
        if not m:
            raise DdlError(
                "bad CREATE MATERIALIZED VIEW (supported shapes: SELECT "
                "<group cols>, COUNT(*) AS cnt, SUM(<col>) AS total ... "
                "| SELECT <group cols>, COUNT(*) AS cnt, MIN(<col>) AS "
                "vmin, MAX(<col>) AS vmax FROM <table> GROUP BY "
                f"<group cols>): {s[:120]}"
            )
        groups = tuple(g.strip() for g in m.group("groups").split(","))
        gb = tuple(g.strip() for g in m.group("gb").split(","))
        if groups != gb:
            raise DdlError(
                f"SELECT group columns {groups} must equal GROUP BY {gb}"
            )
        src = self.resolve(m.group("src"))
        name = self.resolve(m.group("name"))
        if src not in self.catalog.tables:
            raise DdlError(f"table not found: {src}")
        if name in self.mviews:
            raise DdlError(f"materialized view exists: {name}")
        view = kind(self.catalog, src, name, groups, m.group("val"))
        self.mviews[name] = view
        view.refresh()  # initial population
        return None

    def _refresh_materialized_view(self, s: str) -> None:
        name = self.resolve(s.split()[-1])
        view = self.mviews.get(name)
        if view is None:
            raise DdlError(f"materialized view not found: {name}")
        view.refresh()
        return None

    def _mv_rewrite(self, s: str) -> DataFrame | None:
        """Materialized-view query rewrite: a SELECT whose shape matches a
        registered MV's definition over the same source is served from the
        MV's backing table instead of re-aggregating the source — the
        query-acceleration contract warehouses attach to MVs.

        SOUNDNESS GATE: the rewrite only fires when the MV's applied CDC
        watermark equals the source's current version (the view provably
        reflects every committed source row). A stale MV falls through to
        the real aggregation — results are always those of the query as
        written, the MV only changes the plan.
        """
        from .incremental import IncrementalAggregate, IncrementalExtrema

        m = re.match(
            r"SELECT (?P<groups>[\w., ]+?), COUNT\(\*\) AS cnt, "
            r"SUM\((?P<val>\w+)\) AS total "
            r"FROM (?P<src>[\w.]+) GROUP BY (?P<gb>[\w., ]+)$",
            s.strip(),
            re.I,
        )
        out_cols, kind = ("cnt", "total"), IncrementalAggregate
        if not m:
            m = re.match(
                r"SELECT (?P<groups>[\w., ]+?), COUNT\(\*\) AS cnt, "
                r"MIN\((?P<val>\w+)\) AS vmin, MAX\((?P<val2>\w+)\) AS vmax "
                r"FROM (?P<src>[\w.]+) GROUP BY (?P<gb>[\w., ]+)$",
                s.strip(),
                re.I,
            )
            if not m or m.group("val").lower() != m.group("val2").lower():
                return None
            out_cols, kind = ("cnt", "vmin", "vmax"), IncrementalExtrema
        groups = tuple(g.strip() for g in m.group("groups").split(","))
        lowered = tuple(g.lower() for g in groups)
        if lowered != tuple(
            g.strip().lower() for g in m.group("gb").split(",")
        ):
            return None
        src = self.resolve(m.group("src"))
        # SOUNDNESS GATE (governance): the MV backing table was built from
        # ungoverned source reads, so serving it to a reader whose view of
        # the source is policy-restricted would leak policy-hidden rows /
        # unmasked values through the SQL front door. Mirror
        # _count_star_fast_path: any row filter or column mask on the
        # source bails to the generic governed path.
        src_spec = self.catalog.tables.get(src)
        if src_spec is not None and (
            src_spec.row_filter or src_spec.column_masks
        ):
            return None
        for view in self.mviews.values():
            if (
                type(view) is kind
                and view.src == src
                and tuple(g.lower() for g in view.group_cols) == lowered
                and view.value_col.lower() == m.group("val").lower()
                and view._applied_watermark()
                == self.catalog.current_version(src)
            ):
                return self.catalog.table(view.dst).select(
                    *view.group_cols, *out_cols
                )
        return None

    def _resolve_refs(self, body: str) -> str:
        """Resolve fully-qualified table/view references in a SELECT body
        against the catalog: expose each referenced table as a sanitized
        temp view and rewrite the reference. Rewrites are applied segment-
        wise outside string literals only, so a table name mentioned inside
        a quoted string survives untouched. Known limitation: a column
        whose name equals a catalog table visible under the current schema
        would also be rewritten — alias such columns in the SELECT."""
        # table_changes('t', from[, to]) — Delta's CDF table-valued
        # function — binds BEFORE the literal split (the table name lives
        # inside a string literal, which the segment rewriter protects).
        def bind_cdf(m: re.Match) -> str:
            tbl = self.resolve(m.group(1))
            lo = int(m.group(2))
            hi = int(m.group(3)) if m.group(3) else None
            alias = (
                f"{_view_alias(tbl)}__cdf_{lo}_"
                f"{hi if hi is not None else 'now'}"
            )
            # Governed: the CDC audit surface applies the same row
            # filter + masks as every other SQL read of the table.
            self.catalog.governed_changes(tbl, lo, hi).createOrReplaceTempView(
                alias
            )
            return alias

        body = re.sub(
            r"table_changes\(\s*'([\w.]+)'\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)",
            bind_cdf,
            body,
            flags=re.I,
        )

        # `tbl VERSION AS OF 'tag'` — the TAG ref is a quoted string, so
        # it must bind before the literal split protects it (same reason
        # as table_changes above). Numeric `VERSION AS OF n` binds later
        # inside code segments.
        def bind_tag(m: re.Match) -> str:
            tbl = self.resolve(m.group(1))
            if tbl not in self.catalog.tables:
                raise DdlError(f"table not found: {tbl}")
            v = self.catalog.resolve_tag(tbl, m.group(2))
            alias = f"{_view_alias(tbl)}__v{v}"
            self.catalog.governed_table(tbl, version=v).createOrReplaceTempView(
                alias
            )
            return alias

        body = re.sub(
            r"(?<![\w.])([\w.]+)\s+VERSION\s+AS\s+OF\s+'([^']+)'",
            bind_tag,
            body,
            flags=re.I,
        )

        # table_files('t'[, version]) — per-file metadata relation
        # (footer row counts, sizes, partition values, column stats).
        def bind_files(m: re.Match) -> str:
            tbl = self.resolve(m.group(1))
            v = int(m.group(2)) if m.group(2) else None
            alias = f"{_view_alias(tbl)}__files_{v if v is not None else 'now'}"
            self.catalog.files_metadata(tbl, v).createOrReplaceTempView(alias)
            return alias

        body = re.sub(
            r"table_files\(\s*'([\w.]+)'\s*(?:,\s*(\d+)\s*)?\)",
            bind_files,
            body,
            flags=re.I,
        )

        # `tbl TIMESTAMP AS OF '<ts>'` binds before the literal split too
        # (the timestamp lives inside a string literal).
        def bind_ts(m: re.Match) -> str:
            tbl = self.resolve(m.group(1))
            if tbl not in self.catalog.tables:
                return m.group(0)
            v = self.catalog.version_at_timestamp(tbl, m.group(2))
            alias = f"{_view_alias(tbl)}__v{v}"
            self.catalog.governed_table(tbl, version=v).createOrReplaceTempView(
                alias
            )
            return alias

        body = re.sub(
            r"([\w.]+)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'",
            bind_ts,
            body,
            flags=re.I,
        )
        segments: list[tuple[bool, str]] = []  # (is_literal, text)
        last = 0
        for m in _STR_LIT.finditer(body):
            segments.append((False, body[last : m.start()]))
            segments.append((True, m.group(0)))
            last = m.end()
        segments.append((False, body[last:]))

        def rewrite(code: str) -> str:
            # Time travel first: `tbl VERSION AS OF n` (Delta's SQL
            # spelling) binds a snapshot view before the bare-name rewrite
            # could strip the table reference out from under it.
            for tbl in sorted(self.catalog.tables, key=len, reverse=True):
                tt_prefixes = [f"{self.current_catalog}.{tbl}", tbl]
                # Bare name resolves against the current schema, same as
                # the plain-reference rewrite below.
                if tbl.startswith(f"{self.current_schema}."):
                    tt_prefixes.append(tbl[len(self.current_schema) + 1 :])
                for prefix in tt_prefixes:
                    pat = (
                        rf"(?<![\w.]){re.escape(prefix)}"
                        r"\s+VERSION\s+AS\s+OF\s+(\d+)(?![\w.])"
                    )

                    def bind(m: re.Match, tbl: str = tbl) -> str:
                        v = int(m.group(1))
                        alias = f"{_view_alias(tbl)}__v{v}"
                        self.catalog.governed_table(
                            tbl, version=v
                        ).createOrReplaceTempView(alias)
                        return alias

                    code = re.sub(pat, bind, code, flags=re.I)
            for tbl in sorted(self.catalog.tables, key=len, reverse=True):
                prefixes = [f"{self.current_catalog}.{tbl}", tbl]
                # Bare name resolves against the current schema (same rule
                # as :meth:`resolve`), so `USE SCHEMA core; SELECT .. FROM t`
                # finds core.t.
                if tbl.startswith(f"{self.current_schema}."):
                    prefixes.append(tbl[len(self.current_schema) + 1 :])
                for prefix in prefixes:
                    if re.search(rf"(?<![\w.]){re.escape(prefix)}(?![\w.])", code):
                        alias = _view_alias(tbl)
                        # Governed read: the SQL surface sees row filters
                        # and masks; raw Catalog.table stays the
                        # maintenance door (see governed_table docstring).
                        self.catalog.governed_table(tbl).createOrReplaceTempView(
                            alias
                        )
                        code = re.sub(
                            rf"(?<![\w.]){re.escape(prefix)}(?![\w.])", alias, code
                        )
            for view in sorted(self.views, key=len, reverse=True):
                for prefix in (f"{self.current_catalog}.{view}", view):
                    code = re.sub(
                        rf"(?<![\w.]){re.escape(prefix)}(?![\w.])",
                        _view_alias(view),
                        code,
                    )
            return code

        return "".join(
            text if is_lit else rewrite(text) for is_lit, text in segments
        )

    # -- DML: INSERT INTO ------------------------------------------------------
    def _insert_into(self, stmt: str) -> None:
        """``INSERT INTO name [(cols)] VALUES ... | <select>`` → catalog
        append. Values/select columns bind positionally and are cast to the
        declared types (reference control-record insert,
        notebooks/bronze.py:119-122)."""
        s = re.sub(r"\s+", " ", stmt).strip()
        # Delta's row-range overwrite: INSERT INTO t REPLACE WHERE pred
        # SELECT ... — atomically replaces exactly the matching rows.
        rw = re.match(
            r"INSERT INTO (?P<name>[\w.]+) REPLACE WHERE (?P<pred>.+?) "
            r"(?P<body>VALUES .*|SELECT .*|WITH .*)$",
            s,
            re.I | re.S,
        )
        if rw:
            name = self.resolve(rw.group("name"))
            spec = self.catalog.tables.get(name)
            if spec is None:
                raise DdlError(f"table not found: {name}")
            body = rw.group("body")
            if body.upper().startswith("VALUES"):
                src = self.catalog.spark.sql(f"SELECT * FROM {body}")
            else:
                src = self.catalog.spark.sql(self._resolve_refs(body))
            writable = [
                f
                for f in spec.schema.fields
                if f.name not in spec.identity
            ]
            if len(src.columns) != len(writable):
                raise DdlError(
                    f"INSERT INTO {name} REPLACE WHERE: {len(src.columns)}"
                    f" values for {len(writable)} columns"
                )
            aligned = src.select(
                *[
                    F.col(sc).cast(f.dataType).alias(f.name)
                    for sc, f in zip(src.columns, writable)
                ]
            )
            try:
                self.catalog.replace_where(name, rw.group("pred"), aligned)
            except ValueError as e:
                raise DdlError(str(e)) from e
            return None
        m = re.match(
            r"INSERT INTO (?P<name>[\w.]+)\s*"
            r"(?:\((?P<cols>[^)]*)\)\s*)?"
            r"(?P<body>VALUES .*|SELECT .*|WITH .*)$",
            s,
            re.I | re.S,
        )
        if not m:
            raise DdlError(f"bad INSERT INTO: {s[:120]}")
        name = self.resolve(m.group("name"))
        spec = self.catalog.tables.get(name)
        if spec is None:
            raise DdlError(f"table not found: {name}")
        body = m.group("body")
        target_cols = (
            [c.strip() for c in m.group("cols").split(",")]
            if m.group("cols")
            else [f.name for f in spec.schema.fields]
        )
        by_name = {f.name: f for f in spec.schema.fields}
        unknown = [c for c in target_cols if c not in by_name]
        if unknown:
            raise DdlError(f"INSERT INTO {name}: unknown columns {unknown}")
        if body.upper().startswith("VALUES"):
            body = self._substitute_default_keyword(
                body, spec, target_cols, name
            )
            src = self.catalog.spark.sql(f"SELECT * FROM {body}")
        else:
            src = self.catalog.spark.sql(self._resolve_refs(body))
        if len(src.columns) != len(target_cols):
            raise DdlError(
                f"INSERT INTO {name}: {len(src.columns)} values for "
                f"{len(target_cols)} columns"
            )
        aligned = src.select(
            *[
                F.col(src_c).cast(by_name[tgt_c].dataType).alias(tgt_c)
                for src_c, tgt_c in zip(src.columns, target_cols)
            ]
        )
        full = aligned
        for f in spec.schema.fields:
            if f.name not in target_cols:
                # Unlisted generated/identity/DEFAULT columns stay absent
                # so the catalog computes them (Delta lets INSERT column
                # lists omit them); other unlisted columns fill with NULL.
                if (
                    f.name in spec.generated
                    or f.name in spec.identity
                    or f.name in spec.defaults
                ):
                    continue
                full = full.withColumn(f.name, F.lit(None).cast(f.dataType))
        self.catalog.append(name, full)
        return None

    def _substitute_default_keyword(
        self, body: str, spec, target_cols: list[str], name: str
    ) -> str:
        """Replace bare ``DEFAULT`` keywords inside a VALUES body with the
        positional column's default expression (SQL-standard
        ``INSERT ... VALUES (1, DEFAULT)``). Errors when the column
        carries no default — silently writing NULL would hide a typo."""
        if not re.search(r"\bDEFAULT\b", body, re.I):
            return body
        tuples = _split_top_level(body[len("VALUES") :].strip(), ",")
        out_tuples = []
        for tup in tuples:
            tup = tup.strip()
            if not (tup.startswith("(") and tup.endswith(")")):
                raise DdlError(f"bad VALUES tuple: {tup[:80]}")
            vals = _split_top_level(tup[1:-1], ",")
            if len(vals) != len(target_cols):
                raise DdlError(
                    f"INSERT INTO {name}: {len(vals)} values for "
                    f"{len(target_cols)} columns"
                )
            subbed = []
            for v, col in zip(vals, target_cols):
                if v.strip().upper() == "DEFAULT":
                    if col not in spec.defaults:
                        raise DdlError(
                            f"INSERT INTO {name}: column {col!r} has no "
                            "DEFAULT to substitute"
                        )
                    subbed.append(spec.defaults[col])
                else:
                    subbed.append(v)
            out_tuples.append("(" + ", ".join(s.strip() for s in subbed) + ")")
        return "VALUES " + ", ".join(out_tuples)

    # -- DML: DELETE / UPDATE --------------------------------------------------
    def _delete_from(self, stmt: str) -> None:
        """``DELETE FROM name [WHERE cond]`` — copy-on-write by default:
        surviving rows are rewritten as a new table version (Delta DML
        semantics; prior versions stay time-travel-readable until
        vacuumed). Tables created with TBLPROPERTIES
        ``'delta.enableDeletionVectors' = 'true'`` instead take the
        merge-on-read path (:meth:`Catalog.delete_where`): tombstone
        sidecars, zero data files rewritten."""
        s = re.sub(r"\s+", " ", stmt).strip()
        m = re.match(
            r"DELETE FROM (?P<name>[\w.]+)(?: WHERE (?P<cond>.+?))?\s*;?\s*$",
            s,
            re.I,
        )
        if not m:
            raise DdlError(f"bad DELETE FROM: {s[:120]}")
        name = self.resolve(m.group("name"))
        if name not in self.catalog.tables:
            raise DdlError(f"table not found: {name}")
        cond = m.group("cond")
        spec = self.catalog.tables[name]
        if (
            spec.properties.get("delta.enableDeletionVectors", "").lower()
            == "true"
        ):
            self.catalog.delete_where(name, cond if cond else "true")
            return None
        df = self.catalog.table(name)
        if cond is None:
            survivors = df.limit(0)
        else:
            from pyspark.sql import functions as F

            survivors = df.filter(~F.expr(cond) | F.expr(cond).isNull())
        self.catalog.overwrite(name, survivors)
        return None

    def _update(self, stmt: str) -> None:
        """``UPDATE name SET col = expr[, ...] [WHERE cond]`` — copy-on-
        write rewrite of the full table with the assignments applied to
        matching rows; assignment expressions see the pre-update row
        (standard SQL UPDATE semantics, all SETs evaluated simultaneously),
        and values are cast back to the declared column types."""
        s = re.sub(r"\s+", " ", stmt).strip()
        m = re.match(
            r"UPDATE (?P<name>[\w.]+) SET (?P<sets>.+?)"
            r"(?: WHERE (?P<cond>.+?))?\s*;?\s*$",
            s,
            re.I,
        )
        if not m:
            raise DdlError(f"bad UPDATE: {s[:120]}")
        name = self.resolve(m.group("name"))
        spec = self.catalog.tables.get(name)
        if spec is None:
            raise DdlError(f"table not found: {name}")
        from pyspark.sql import functions as F

        assignments: dict[str, str] = {}
        for part in _split_top_level(m.group("sets"), ","):
            am = re.match(r"\s*(?P<col>\w+)\s*=\s*(?P<expr>.+?)\s*$", part)
            if not am:
                raise DdlError(f"bad SET clause: {part!r}")
            col = am.group("col")
            if col not in spec.schema.fieldNames():
                raise DdlError(f"unknown column in SET: {col!r}")
            assignments[col] = am.group("expr")
        if (
            spec.properties.get("delta.enableDeletionVectors", "").lower()
            == "true"
        ):
            # Merge-on-read UPDATE: tombstone + append updated copies.
            self.catalog.update_where(
                name, assignments, m.group("cond") or "true"
            )
            return None
        df = self.catalog.table(name)
        cond = (
            F.expr(m.group("cond"))
            if m.group("cond") is not None
            else F.lit(True)
        )
        types = {f.name: f.dataType for f in spec.schema.fields}
        updated = df.select(
            *[
                (
                    F.when(cond, F.expr(assignments[c]))
                    .otherwise(F.col(c))
                    .cast(types[c])
                    .alias(c)
                    if c in assignments
                    else F.col(c)
                )
                for c in spec.schema.fieldNames()
            ]
        )
        # Generated columns not directly assigned re-derive from the
        # post-update row (the catalog computes dropped ones on write).
        regen = [c for c in spec.generated if c not in assignments]
        if regen:
            updated = updated.drop(*regen)
        self.catalog.overwrite(name, updated)
        return None

    # -- DML: MERGE INTO -------------------------------------------------------
    def _merge_into(self, stmt: str) -> None:
        """``[WITH ctes] MERGE INTO target [AS] t USING source [AS] s ON
        cond <when-clauses>`` with Delta's full clause surface:

        - ``WHEN MATCHED [AND cond] THEN UPDATE SET ...|UPDATE SET *|DELETE``
        - ``WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT (...)
          VALUES (...)|INSERT *``
        - ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ...|DELETE``

        Multiple clauses per category evaluate in statement order and the
        first whose condition holds wins (Delta's contract). Executed as a
        join rewrite: one left join for the target side (safe because the
        ambiguity probe raises when several source rows match a target row
        an UPDATE/DELETE would touch), one anti join for the insert side —
        the same join phases Delta MERGE runs — then an atomic overwrite.
        ``NOT MATCHED BY SOURCE`` conditions/assignments must reference
        target columns only (source columns are NULL there, and in the
        no-MATCHED-clause fast path the frame has no source columns at all).

        Replays the reference's upsert statements near-verbatim
        (sql/breed_mapping.py:596-618); the conditional/DELETE/BY SOURCE
        clauses are beyond-reference Delta parity for CDC-style sync
        (retire rows absent from the source in the same statement).
        """
        s = re.sub(r"\s+", " ", stmt).strip()
        masked = _mask_literals(s)
        mm = re.search(r"\bMERGE (?:WITH SCHEMA EVOLUTION )?INTO\b", masked, re.I)
        # Delta's `MERGE WITH SCHEMA EVOLUTION INTO`: NEW source columns
        # widen the target schema (nullable metadata-only adds) before the
        # merge, so UPDATE SET/INSERT may reference them. DOCUMENTED
        # DIVERGENCE from Delta: the widening is not atomic with the data
        # commit — if the merge itself fails afterwards, the schema stays
        # widened (added columns read NULL; harmless to data, but the
        # declared schema moved without a write landing).
        evolve = "SCHEMA EVOLUTION" in masked[mm.start() : mm.end()].upper()
        ctes = s[: mm.start()].strip()  # "" or "WITH ..."
        merge = s[mm.start() :]
        if evolve:
            merge = re.sub(
                r"^MERGE WITH SCHEMA EVOLUTION INTO\b",
                "MERGE INTO",
                merge,
                flags=re.I,
            )
        segments = _split_when_clauses(merge)
        head, clause_txts = segments[0], segments[1:]
        if not clause_txts:
            raise DdlError(f"MERGE INTO without WHEN clauses: {s[:120]}")
        masked_head = _mask_literals(head)
        m = re.match(
            r"MERGE INTO (?P<target>[\w.]+)(?: AS)? (?P<t_alias>\w+) "
            r"USING (?P<source>\((?:[^()]|\([^()]*\))*\)|[\w.]+)(?: AS)? "
            r"(?P<s_alias>\w+) ON (?P<cond>.+?)\s*$",
            masked_head,
            re.I,
        )
        if not m:
            raise DdlError(f"bad MERGE INTO: {s[:120]}")

        def span(group: str) -> str:
            return head[m.start(group) : m.end(group)] if m.group(group) else ""

        target = self.resolve(span("target"))
        spec = self.catalog.tables.get(target)
        if spec is None:
            raise DdlError(f"table not found: {target}")
        t_alias, s_alias = m.group("t_alias"), m.group("s_alias")
        if {t_alias.upper(), s_alias.upper()} & {"ON", "WHEN", "USING"}:
            raise DdlError(f"MERGE INTO requires explicit aliases: {s[:120]}")

        # Source DataFrame: CTE name (re-attach the WITH block), inline
        # subquery, or catalog table/view.
        source_txt = span("source")
        if source_txt.startswith("("):
            source_df = self.catalog.spark.sql(
                self._resolve_refs(f"{ctes} SELECT * FROM {source_txt} __src")
            )
        elif ctes:
            source_df = self.catalog.spark.sql(
                self._resolve_refs(f"{ctes} SELECT * FROM {source_txt}")
            )
        else:
            source_df = self.catalog.spark.sql(
                self._resolve_refs(f"SELECT * FROM {source_txt}")
            )

        if evolve:
            declared = {f.name for f in spec.schema.fields}
            for f in source_df.schema.fields:
                if f.name not in declared:
                    self.catalog.add_column(
                        target, T.StructField(f.name, f.dataType, True)
                    )

        # -- clause list: Delta's full MERGE surface ----------------------
        # matched / nmbs entries: (cond_or_None, kind, assignments) where
        # kind is "update" | "delete"; not_matched: (cond, "insert", map).
        src_cols = set(source_df.columns)

        def _star_map() -> dict[str, str]:
            # UPDATE SET * / INSERT *: assign every target column that has
            # a same-named source column (Delta's by-name resolution).
            return {
                f.name: f"{s_alias}.{f.name}"
                for f in spec.schema.fields
                if f.name in src_cols
            }

        def _parse_sets(body: str) -> dict[str, str]:
            out: dict[str, str] = {}
            for part in _split_top(body, ","):
                lhs, _, rhs = part.partition("=")
                if not rhs:
                    raise DdlError(f"bad UPDATE SET clause: {part!r}")
                out[lhs.strip().split(".")[-1]] = rhs.strip()
            return out

        matched: list[tuple[str | None, str, dict[str, str]]] = []
        nmbs: list[tuple[str | None, str, dict[str, str]]] = []
        not_matched: list[tuple[str | None, str, dict[str, str]]] = []
        for cl in clause_txts:
            mc = re.match(
                r"WHEN (?P<head>MATCHED|NOT MATCHED BY SOURCE|"
                r"NOT MATCHED(?: BY TARGET)?)"
                r"(?: AND (?P<cond>.+?))? THEN "
                r"(?P<act>(?:UPDATE SET|DELETE|INSERT)\b.*)$",
                _mask_literals(cl),
                re.I,
            )
            if not mc:
                raise DdlError(f"bad MERGE clause: {cl[:120]}")
            cond_txt = (
                cl[mc.start("cond") : mc.end("cond")] if mc.group("cond") else None
            )
            act_txt = cl[mc.start("act") :].strip()
            head_kw = re.sub(r"\s+", " ", mc.group("head").upper())
            act_up = act_txt.upper()
            if head_kw in ("MATCHED", "NOT MATCHED BY SOURCE"):
                if act_up == "DELETE":
                    entry = (cond_txt, "delete", {})
                elif act_up.startswith("UPDATE SET"):
                    body = act_txt[len("UPDATE SET") :].strip()
                    if body == "*":
                        if head_kw == "NOT MATCHED BY SOURCE":
                            raise DdlError(
                                "MERGE NOT MATCHED BY SOURCE cannot UPDATE"
                                " SET * (no source row to copy)"
                            )
                        entry = (cond_txt, "update", _star_map())
                    else:
                        entry = (cond_txt, "update", _parse_sets(body))
                else:
                    raise DdlError(
                        f"MERGE {head_kw} clause must UPDATE or DELETE:"
                        f" {cl[:120]}"
                    )
                (matched if head_kw == "MATCHED" else nmbs).append(entry)
            else:  # NOT MATCHED [BY TARGET] — insert only
                if not act_up.startswith("INSERT"):
                    raise DdlError(
                        f"MERGE NOT MATCHED clause must INSERT: {cl[:120]}"
                    )
                body = act_txt[len("INSERT") :].strip()
                if body == "*":
                    not_matched.append((cond_txt, "insert", _star_map()))
                else:
                    mi = re.match(
                        r"\((?P<cols>[^)]*)\) VALUES \((?P<vals>.*)\)\s*$",
                        _mask_literals(body),
                        re.I,
                    )
                    if not mi:
                        raise DdlError(f"bad MERGE INSERT clause: {cl[:120]}")
                    ins_cols = [
                        c.strip().split(".")[-1]
                        for c in body[mi.start("cols") : mi.end("cols")].split(",")
                    ]
                    ins_vals = [
                        v.strip()
                        for v in _split_top(
                            body[mi.start("vals") : mi.end("vals")], ","
                        )
                    ]
                    if len(ins_cols) != len(ins_vals):
                        raise DdlError("MERGE INSERT column/value count mismatch")
                    not_matched.append(
                        (cond_txt, "insert", dict(zip(ins_cols, ins_vals)))
                    )

        by_name = {f.name: f for f in spec.schema.fields}
        for _, _, amap in matched + nmbs + not_matched:
            for c in amap:
                if c not in by_name:
                    raise DdlError(f"MERGE INTO {target}: unknown column {c!r}")

        fields = spec.schema.fields
        t_df = self.catalog.table(target).alias(t_alias)
        s_df = source_df.withColumn("__s_hit", F.lit(True)).alias(s_alias)
        cond_expr = F.expr(span("cond"))

        def _tagged(entries, prefix, guard=None):
            """First-true-wins clause tag: Delta evaluates WHEN clauses in
            order and applies only the first whose condition holds."""
            w = None
            for i, (c_txt, _, _) in enumerate(entries):
                g = F.expr(c_txt) if c_txt else F.lit(True)
                if guard is not None:
                    g = guard & g
                tag = F.lit(f"{prefix}{i}")
                w = F.when(g, tag) if w is None else w.when(g, tag)
            return w

        def _delete_tags(entries, prefix):
            return [
                f"{prefix}{i}"
                for i, (_, kind, _) in enumerate(entries)
                if kind == "delete"
            ]

        def _tag_entries(entries, prefix):
            return [
                (f"{prefix}{i}", kind, amap)
                for i, (_, kind, amap) in enumerate(entries)
            ]

        def _apply_updates(act, tagged_entries, default):
            """Per-column value under each clause's tag, else ``default``."""
            cols = []
            for f in fields:
                val = default(f.name)
                for tag, kind, amap in tagged_entries:
                    if kind == "update" and f.name in amap:
                        val = F.when(act == tag, F.expr(amap[f.name])).otherwise(
                            val
                        )
                cols.append(val.cast(f.dataType).alias(f.name))
            return cols

        if matched:
            # Delta MERGE raises when several source rows match one target
            # row that an UPDATE/DELETE clause would touch (the rewrite
            # would silently duplicate it). Eager probe before the join.
            ambiguous = (
                self.catalog.table(target)
                .withColumn("__t_row", F.monotonically_increasing_id())
                .alias(t_alias)
                .join(s_df, cond_expr, "inner")
                .groupBy("__t_row")
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if ambiguous:
                raise DdlError(
                    f"MERGE INTO {target}: multiple source rows match a single"
                    " target row; deduplicate the source on the merge keys"
                    " first"
                )
            # Probe guarantees <=1 source match per target row, so a left
            # join yields exactly one output row per target row.
            joined = t_df.join(s_df, cond_expr, "left_outer")
            s_hit = F.col(f"{s_alias}.__s_hit").isNotNull()
            act = F.coalesce(
                _tagged(matched, "m", guard=s_hit),
                _tagged(nmbs, "n", guard=~s_hit) if nmbs else F.lit(None),
                F.lit("keep"),
            )
            dels = _delete_tags(matched, "m") + _delete_tags(nmbs, "n")
            kept = joined.filter(~act.isin(dels)) if dels else joined
            target_side = kept.select(
                *_apply_updates(
                    act,
                    _tag_entries(matched, "m") + _tag_entries(nmbs, "n"),
                    lambda c: F.col(f"{t_alias}.{c}"),
                )
            )
        elif nmbs:
            # No matched clause: matched target rows pass through untouched
            # (semi), unmatched ones get the BY SOURCE treatment (anti) —
            # no join fan-out even when several source rows match.
            semi = t_df.join(s_df, cond_expr, "left_semi")
            anti = t_df.join(s_df, cond_expr, "left_anti")
            act = F.coalesce(_tagged(nmbs, "n"), F.lit("keep"))
            dels = _delete_tags(nmbs, "n")
            kept = anti.filter(~act.isin(dels)) if dels else anti
            ident = [
                F.col(f"{t_alias}.{f.name}").cast(f.dataType).alias(f.name)
                for f in fields
            ]
            target_side = semi.select(*ident).unionByName(
                kept.select(
                    *_apply_updates(
                        act,
                        _tag_entries(nmbs, "n"),
                        lambda c: F.col(f"{t_alias}.{c}"),
                    )
                )
            )
        else:
            target_side = self.catalog.table(target)

        if not_matched:
            anti_s = s_df.join(t_df, cond_expr, "left_anti")
            act = _tagged(not_matched, "i")  # NULL = no clause fired -> drop
            ins = anti_s.filter(act.isNotNull())
            insert_side = ins.select(
                *_apply_updates(
                    act,
                    [
                        (tag, "update", amap)
                        for tag, _, amap in _tag_entries(not_matched, "i")
                    ],
                    lambda c: F.lit(None),
                )
            )
            out = target_side.unionByName(insert_side)
        else:
            out = target_side
        self.catalog.overwrite(target, out)
        return None

    def _drop(self, s: str) -> None:
        m = re.match(
            r"DROP (?P<kind>TABLE|VIEW) (IF EXISTS )?(?P<name>[\w.]+)", s, re.I
        )
        if not m:
            raise DdlError(f"bad DROP: {s}")
        name = self.resolve(m.group("name"))
        if m.group("kind").upper() == "TABLE":
            if name not in self.catalog.tables:
                if m.group(2):
                    return None
                raise DdlError(f"table not found: {name}")
            self.catalog.drop(name)
        else:
            if name not in self.views:
                if m.group(2):
                    return None
                raise DdlError(f"view not found: {name}")
            del self.views[name]
            self.catalog.spark.catalog.dropTempView(_view_alias(name))
        return None
