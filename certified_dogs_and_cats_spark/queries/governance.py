"""Read-time governance lifecycle under the oracle gate."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query


@query(
    "governance_end_to_end",
    oracle="""
    WITH visible(k, region, salary) AS (
      VALUES (1, 'emea', 'XXX'), (2, 'emea', 'XXX')
    )
    SELECT CAST(count(*) AS BIGINT) AS n_visible,
           CAST(count(DISTINCT salary) AS BIGINT) AS n_mask_values,
           CAST(4 AS BIGINT) AS n_raw,
           CAST(2 AS BIGINT) AS n_travel,
           CAST(4 AS BIGINT) AS n_after_drop,
           CAST(1 AS BIGINT) AS n_mv_groups_governed,
           CAST(6.0 AS DOUBLE) AS mv_total_governed
    FROM visible
    """,
)
def governance_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-filter + column-mask lifecycle through the SQL front door:
    policies are metadata-only (no data rewrite), every governed read —
    current AND time-travel — applies them, the raw maintenance door
    does not, and DROPping the policies restores full visibility without
    touching a file. The oracle pins the governed row count, the masked
    column's collapsed cardinality, the untouched raw count, the
    governed time-travel count, the post-drop count, and — since round
    6 — the MV-rewrite governance gate: a current materialized view over
    a row-filtered source must NOT serve the matching aggregate (the
    governed SELECT's group count and total reflect only visible
    rows)."""
    from ..pipeline import Catalog, DdlSession

    root = tempfile.mkdtemp(prefix="gov_e2e_")
    try:
        catalog = Catalog(spark, os.path.join(root, "warehouse"))
        ddl = DdlSession(catalog)
        ddl.execute("USE SCHEMA core")
        ddl.execute(
            "CREATE TABLE emp (k INT, region STRING, salary STRING)"
        )
        ddl.execute(
            "INSERT INTO emp VALUES (1, 'emea', '50k'), (2, 'emea', '60k')"
        )
        ddl.execute(
            "INSERT INTO emp VALUES (3, 'apac', '70k'), (4, 'apac', '80k')"
        )
        ddl.execute(
            "ALTER TABLE emp SET ROW FILTER (region = 'emea');"
            "ALTER TABLE emp ALTER COLUMN salary SET MASK ('XXX')"
        )
        governed = ddl.execute("SELECT k, region, salary FROM emp")[-1]
        rows = governed.collect()
        n_visible = len(rows)
        n_mask_values = len({r.salary for r in rows})
        # maintenance door: policies must NOT hide stored rows
        n_raw = catalog.table("core.emp").count()
        # governed time travel: version 1 held only the first insert
        n_travel = ddl.execute(
            "SELECT * FROM emp VERSION AS OF 1"
        )[-1].count()
        ddl.execute(
            "ALTER TABLE emp DROP ROW FILTER;"
            "ALTER TABLE emp ALTER COLUMN salary DROP MASK"
        )
        n_after_drop = ddl.execute("SELECT * FROM emp")[-1].count()
        if {r.salary for r in rows} != {"XXX"}:
            raise RuntimeError("mask must collapse every visible salary")
        # MV-rewrite governance gate: a CURRENT materialized view must
        # NOT serve a matching SELECT once the source is governed — the
        # MV backing table was built ungoverned, so serving it would
        # leak policy-hidden rows through the SQL front door. The
        # governed aggregate must reflect only visible rows.
        ddl.execute("CREATE TABLE pay (grp STRING, amt DOUBLE)")
        ddl.execute(
            "INSERT INTO pay VALUES ('a', 1.0), ('a', 5.0), ('b', 2.0)"
        )
        ddl.execute(
            "CREATE MATERIALIZED VIEW pay_agg AS SELECT grp, "
            "COUNT(*) AS cnt, SUM(amt) AS total FROM pay GROUP BY grp"
        )
        ddl.execute("ALTER TABLE pay SET ROW FILTER (grp = 'a')")
        mv_rows = ddl.execute(
            "SELECT grp, COUNT(*) AS cnt, SUM(amt) AS total "
            "FROM pay GROUP BY grp"
        )[-1].collect()
        n_mv_groups_governed = len(mv_rows)
        mv_total_governed = float(sum(r.total for r in mv_rows))
        return spark.createDataFrame(
            [
                (
                    n_visible,
                    n_mask_values,
                    n_raw,
                    n_travel,
                    n_after_drop,
                    n_mv_groups_governed,
                    mv_total_governed,
                )
            ],
            "n_visible bigint, n_mask_values bigint, n_raw bigint, "
            "n_travel bigint, n_after_drop bigint, "
            "n_mv_groups_governed bigint, mv_total_governed double",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "extrema_mv_end_to_end",
    oracle="""
    WITH final(grp, cnt, vmin, vmax) AS (
      VALUES ('a', 2, 3.0, 5.0), ('b', 1, 9.0, 9.0)
    )
    SELECT grp,
           CAST(cnt AS BIGINT) AS cnt,
           vmin, vmax,
           CAST(1 AS BIGINT) AS n_rewrites_served
    FROM final
    """,
)
def extrema_mv_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MIN/MAX materialized-view lifecycle through the SQL
    front door: create over seeded data, delete the stored minimum (the
    case a subtract-style merge cannot handle — the group must
    recompute), REFRESH applies the delta, and the matching SELECT is
    served from the MV only once its watermark is current (the stale
    window between overwrite and refresh must fall through to the real
    aggregation — asserted in-query). The oracle pins the final view
    rows plus the rewrite-served count."""
    from ..pipeline import Catalog, DdlSession

    root = tempfile.mkdtemp(prefix="extrema_e2e_")
    try:
        catalog = Catalog(spark, os.path.join(root, "warehouse"))
        ddl = DdlSession(catalog)
        ddl.execute("USE SCHEMA core")
        ddl.execute("CREATE TABLE vals (grp STRING, amt DOUBLE)")
        ddl.execute(
            "INSERT INTO vals VALUES ('a', 1.0), ('a', 5.0), ('a', 3.0), "
            "('b', 9.0)"
        )
        ddl.execute(
            "CREATE MATERIALIZED VIEW vext AS SELECT grp, COUNT(*) AS cnt, "
            "MIN(amt) AS vmin, MAX(amt) AS vmax FROM vals GROUP BY grp"
        )
        # delete a's min; the MV is now stale
        ddl.execute("DELETE FROM vals WHERE amt = 1.0")
        q = (
            "SELECT grp, COUNT(*) AS cnt, MIN(amt) AS vmin, "
            "MAX(amt) AS vmax FROM vals GROUP BY grp"
        )
        stale = {(r.grp, r.cnt, r.vmin) for r in ddl.execute(q)[-1].collect()}
        if ("a", 2, 3.0) not in stale:
            raise RuntimeError(
                "stale MV must fall through to the real aggregation"
            )
        ddl.execute("REFRESH MATERIALIZED VIEW vext")
        served = ddl.execute(q)[-1]
        # PLAN-level proof the rewrite fired: the served frame must scan
        # the MV's backing table, not re-aggregate vals (value equality
        # alone is vacuous — after REFRESH both paths agree).
        from ..plans import plan_text

        plan = plan_text(served)
        n_rewrites = 1 if ("vext" in plan and "vals" not in plan) else 0
        rows = {
            (r.grp, r.cnt, r.vmin, r.vmax) for r in served.collect()
        }
        return spark.createDataFrame(
            [(g, c, lo, hi, n_rewrites) for (g, c, lo, hi) in sorted(rows)],
            "grp string, cnt bigint, vmin double, vmax double, "
            "n_rewrites_served bigint",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "scd2_dimension_end_to_end",
    oracle="""
    WITH dim(k, city, valid_from, valid_to, is_current) AS (
      VALUES (1, 'nyc',     1, 2,    FALSE),
             (1, 'boston',  2, NULL, TRUE),
             (2, 'sf',      1, 3,    FALSE),
             (3, 'la',      3, NULL, TRUE)
    )
    SELECT k, city,
           CAST(valid_from AS INTEGER) AS valid_from,
           CAST(valid_to AS INTEGER) AS valid_to,
           is_current,
           CAST(2 AS BIGINT) AS n_at_v1,
           CAST(2 AS BIGINT) AS n_at_v3
    FROM dim
    """,
)
def scd2_dimension_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension lifecycle (pipeline/scd.py): three source
    commits — load, attribute change, delete+new-key — maintained
    incrementally from the change feed; the result is the FULL versioned
    dimension (validity chains exactly as a batch rebuild would produce,
    asserted in-query by building one) plus point-in-time row counts at
    two historical versions. The oracle pins every validity interval."""
    from ..pipeline import Catalog, Scd2Dimension

    root = tempfile.mkdtemp(prefix="scd2_e2e_")
    try:
        from pyspark.sql import types as T

        catalog = Catalog(spark, os.path.join(root, "warehouse"))
        schema = T.StructType(
            [
                T.StructField("k", T.IntegerType(), False),
                T.StructField("city", T.StringType(), True),
            ]
        )
        catalog.register("core.src", schema)

        def rows(data):
            return spark.createDataFrame(data, schema)

        dim = Scd2Dimension(catalog, "core.src", "core.dim", ("k",), ("city",))
        catalog.append("core.src", rows([(1, "nyc"), (2, "sf")]))       # v1
        dim.refresh()
        catalog.overwrite("core.src", rows([(1, "boston"), (2, "sf")]))  # v2
        dim.refresh()
        catalog.overwrite("core.src", rows([(1, "boston"), (3, "la")]))  # v3
        dim.refresh()
        # incremental == batch rebuild (the invariant that makes SCD2
        # trustworthy as an audit surface)
        rebuild = Scd2Dimension(
            catalog, "core.src", "core.dim_rebuild", ("k",), ("city",)
        )
        rebuild.refresh()
        key = ("k", "city", "valid_from", "valid_to", "is_current")
        a = sorted(tuple(r[c] for c in key) for r in catalog.table("core.dim").collect())
        b = sorted(
            tuple(r[c] for c in key)
            for r in catalog.table("core.dim_rebuild").collect()
        )
        if a != b:
            raise RuntimeError("incremental SCD2 != batch rebuild")
        n1 = dim.at_version(1).count()
        n3 = dim.at_version(3).count()
        return spark.createDataFrame(
            [(*row, n1, n3) for row in a],
            "k int, city string, valid_from int, valid_to int, "
            "is_current boolean, n_at_v1 bigint, n_at_v3 bigint",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
