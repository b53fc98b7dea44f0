"""Gold analytics stage: the reference's view stack over OUR silver table.

Capability parity with ``notebooks/gold.py:12-380`` plus the health views
(``notebooks/bronze.py:151-158``, ``notebooks/silver.py:166-175``): every
view is a builder over the engine's own Bronze/Silver catalog tables, and
:func:`gold_stage` registers the whole stack as temp views (the reference's
gold task is likewise DDL-only — views evaluate lazily).

Each builder is one SQL text run as ``spark.sql(text, src=frame)``, parsed
and analysed once in the JVM, rather than a tree of ``Column`` objects that
costs one Py4J round trip per node; registering the stack is what every
daily run pays, so its cost is the construction cost.

A small Bronze or Silver table reads as one partition
(``catalog.one_partition_if_small``), so no view needs a shuffle: each view
and each parameterised read over one runs as one Spark job of one task,
where each exchange would cost its own stage and job.

Scale posture: every view pre-aggregates to (group, cnt) BEFORE windows or
joins, so shuffles move grouped counts, never raw rows; share denominators
use windowed sums over the aggregated frame instead of a second scan+join
(the reference re-scans for its totals CTE at gold.py:169-177 — SURVEY.md §4
flags it; we deliberately do not copy that). Rankings pin deterministic
tie-breaks (cnt DESC, breed ASC — reference gold.py:58,105; README.md:138).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import Catalog
from .schemas import ANIMAL_TYPES
from .ingest import StageResult


def gold_src(silver: DataFrame) -> DataFrame:
    """Filtered/projected base for all gold views (gold.py:12-25): rows with
    a usable Year and whitelisted ANIMAL_TYPE; analytics columns only."""
    return silver.filter(
        F.col("Year").isNotNull() & F.col("ANIMAL_TYPE").isin(*ANIMAL_TYPES)
    ).select("Year", "ANIMAL_TYPE", "FSA", "FSA_VALID", "breed_standard",
             "breed_mapped", "ingestion_ts", "processed_ts")


def _pct(num: str, den: str, digits: int = 2) -> str:
    """SQL text of :func:`functions.scalar.pct`: 100*num/den rounded, NULL
    when den = 0 (Spark 4 runs ANSI mode, where an unguarded /0 fails).
    The Column form stays as the ``functions`` package's exported API;
    ``test_pct_sql_text_matches_column_form`` keeps the two in step."""
    return (
        f"ROUND(100.0D * CASE WHEN {den} <> 0 THEN "
        f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) END, {digits})"
    )


def _sql(src: DataFrame, text: str) -> DataFrame:
    """Run one view's SQL text with ``{src}`` bound to ``src``."""
    return src.sparkSession.sql(text, src=src)


#: Per-(Year, type, breed) counts, the base of the breed views.
_BREED_COUNTS = """
    SELECT Year, ANIMAL_TYPE, breed_standard, COUNT(1) AS cnt
    FROM {src} GROUP BY Year, ANIMAL_TYPE, breed_standard"""


def totals_by_year_type(src: DataFrame) -> DataFrame:
    """v_totals_by_year_type (gold.py:32-73): counts per (Year, type) with
    share-of-year and deterministic rank."""
    share = _pct("cnt", "SUM(cnt) OVER (PARTITION BY Year)")
    return _sql(src, f"""
        SELECT Year, ANIMAL_TYPE, cnt, {share} AS share_pct,
               ROW_NUMBER() OVER (PARTITION BY Year
                                  ORDER BY cnt DESC, ANIMAL_TYPE ASC) AS rnk
        FROM (SELECT Year, ANIMAL_TYPE, COUNT(1) AS cnt
              FROM {{src}} GROUP BY Year, ANIMAL_TYPE)""")


def breed_stats(src: DataFrame) -> DataFrame:
    """v_breed_stats (gold.py:88-136): per (Year, type, breed) counts, share
    via windowed sum, RANK (ties share), and LAG year-over-year deltas."""
    share = _pct("cnt", "SUM(cnt) OVER (PARTITION BY Year, ANIMAL_TYPE)")
    return _sql(src, f"""
        SELECT Year, ANIMAL_TYPE, breed_standard, cnt, share_pct, breed_rank,
               prev_cnt, cnt - prev_cnt AS yoy_diff,
               {_pct("cnt - prev_cnt", "prev_cnt")} AS yoy_pct
        FROM (
            SELECT Year, ANIMAL_TYPE, breed_standard, cnt, {share} AS share_pct,
                   RANK() OVER (PARTITION BY Year, ANIMAL_TYPE
                                ORDER BY cnt DESC, breed_standard ASC)
                       AS breed_rank,
                   LAG(cnt) OVER (PARTITION BY ANIMAL_TYPE, breed_standard
                                  ORDER BY Year) AS prev_cnt
            FROM ({_BREED_COUNTS}))""")


def _topk_breeds_by_area(src: DataFrame, area: str, area_name: str,
                         k: int = 3) -> DataFrame:
    """Shared shape of v_fsa_top3_breeds / v_fsa2_top3_breeds
    (gold.py:149-208, 219-278): per-(Year,type,area) breed counts -> top-k
    ROW_NUMBER -> MAX(CASE WHEN rnk = i) pivot to wide columns, plus the
    area total via windowed sum. ``area`` is a SQL expression over src."""
    part = f"Year, ANIMAL_TYPE, {area_name}"
    wide = ",\n".join(
        f"MAX(CASE WHEN rnk = {i} THEN {v} END) AS top{i}_{v}"
        for i in range(1, k + 1)
        for v in ("breed_standard", "cnt")
    )
    return _sql(src, f"""
        SELECT {part}, area_total, {wide}
        FROM (
            SELECT {part}, breed_standard, cnt,
                   SUM(cnt) OVER (PARTITION BY {part}) AS area_total,
                   ROW_NUMBER() OVER (PARTITION BY {part}
                                      ORDER BY cnt DESC, breed_standard ASC)
                       AS rnk
            FROM (SELECT Year, ANIMAL_TYPE, {area} AS {area_name},
                         breed_standard, COUNT(1) AS cnt
                  FROM {{src}} WHERE {area} IS NOT NULL
                  GROUP BY Year, ANIMAL_TYPE, {area}, breed_standard))
        WHERE rnk <= {k}
        GROUP BY {part}, area_total""")


def fsa_top3_breeds(src: DataFrame) -> DataFrame:
    return _topk_breeds_by_area(src, "FSA", "FSA")


def fsa2_top3_breeds(src: DataFrame) -> DataFrame:
    """FSA2 = substr(FSA,1,2) district granularity (gold.py:219-278)."""
    # No length pre-filter: Silver nulls any FSA not matching the 3-char
    # pattern, and NULL areas are excluded inside the helper.
    return _topk_breeds_by_area(src, "substring(FSA, 1, 2)", "FSA2")


def daily_totals(src: DataFrame) -> DataFrame:
    """v_daily_totals (gold.py:323-329): ingestion-day counts."""
    return _sql(src, """
        SELECT to_date(ingestion_ts) AS day, COUNT(1) AS cnt,
               COUNT(DISTINCT ANIMAL_TYPE) AS n_types
        FROM {src} GROUP BY to_date(ingestion_ts)""")


def breed_share_citywide(src: DataFrame) -> DataFrame:
    """v_breed_share_citywide (gold.py:341-353): breed count vs citywide
    total per (Year, type) — windowed-sum denominator, no second scan."""
    total = "SUM(cnt) OVER (PARTITION BY Year, ANIMAL_TYPE)"
    return _sql(src, f"""
        SELECT Year, ANIMAL_TYPE, breed_standard, cnt,
               {total} AS citywide_cnt, {_pct("cnt", total, 4)} AS share_pct
        FROM ({_BREED_COUNTS})""")


def breed_rank_citywide(src: DataFrame) -> DataFrame:
    """v_breed_rank_citywide (gold.py:364-373): deterministic row_number."""
    return _sql(src, f"""
        SELECT Year, ANIMAL_TYPE, breed_standard, cnt,
               ROW_NUMBER() OVER (PARTITION BY Year, ANIMAL_TYPE
                                  ORDER BY cnt DESC, breed_standard ASC) AS rnk
        FROM ({_BREED_COUNTS})""")


#: Rows whose breed came from the mapping table, and their share.
_MAPPED = "SUM(CASE WHEN breed_mapped THEN 1 ELSE 0 END)"
_PCT_MAPPED = _pct(_MAPPED, "COUNT(1)")


def gold_quality(silver: DataFrame) -> DataFrame:
    """licensed_pets_gold_quality (gold.py:287-309): per-(Year,type) quality
    metrics — conditional sums + guarded ratio + freshness."""
    return _sql(silver, f"""
        SELECT Year, ANIMAL_TYPE, COUNT(1) AS cnt,
               SUM(CASE WHEN NOT FSA_VALID THEN 1 ELSE 0 END)
                   AS invalid_fsa_cnt,
               SUM(CASE WHEN FSA IS NULL THEN 1 ELSE 0 END) AS null_fsa_rows,
               {_MAPPED} AS mapped_cnt, {_PCT_MAPPED} AS pct_mapped,
               MAX(processed_ts) AS freshness_ts
        FROM {{src}} GROUP BY Year, ANIMAL_TYPE""")


def bronze_health(bronze: DataFrame) -> DataFrame:
    """v_bronze_health (bronze.py:151-158): one-row global health metrics.
    ``n_years`` counts a set rather than a second ``COUNT(DISTINCT)``: two
    distinct aggregates make Spark plan an ``Expand``, whose output loses
    the one-partition read and brings back two exchanges."""
    return _sql(bronze, """
        SELECT COUNT(1) AS row_cnt, COUNT(DISTINCT _id) AS distinct_ids,
               CAST(size(collect_set(Year)) AS BIGINT) AS n_years,
               SUM(CASE WHEN NOT FSA_VALID THEN 1 ELSE 0 END)
                   AS invalid_fsa_cnt,
               MAX(ingestion_ts) AS max_ingestion_ts
        FROM {src}""")


def silver_health(silver: DataFrame) -> DataFrame:
    """v_silver_health (silver.py:166-175): one-row global health metrics."""
    return _sql(silver, f"""
        SELECT COUNT(1) AS row_cnt, COUNT(DISTINCT _id) AS distinct_ids,
               {_MAPPED} AS mapped_cnt, COUNT(1) - {_MAPPED} AS unmapped_cnt,
               {_PCT_MAPPED} AS pct_mapped,
               MAX(processed_ts) AS max_processed_ts
        FROM {{src}}""")


GOLD_VIEWS = {
    "v_totals_by_year_type": totals_by_year_type,
    "v_breed_stats": breed_stats,
    "v_fsa_top3_breeds": fsa_top3_breeds,
    "v_fsa2_top3_breeds": fsa2_top3_breeds,
    "v_daily_totals": daily_totals,
    "v_breed_share_citywide": breed_share_citywide,
    "v_breed_rank_citywide": breed_rank_citywide,
}


def build_views(catalog: Catalog) -> dict[str, DataFrame]:
    """Materialize the whole gold view stack as DataFrames (lazy)."""
    # Idempotent registration: gold must be buildable (as empty views) even
    # when upstream stages skipped before ever writing a table.
    from .ingest import register_tables as register_bronze_tables
    from .refine import register_tables as register_silver_tables

    register_bronze_tables(catalog)
    register_silver_tables(catalog)
    silver = catalog.table("core.licensed_pets_silver")
    bronze = catalog.table("core.licensed_pets_bronze")
    src = gold_src(silver)
    views = {name: fn(src) for name, fn in GOLD_VIEWS.items()}
    views["gold_quality"] = gold_quality(silver)
    views["v_bronze_health"] = bronze_health(bronze)
    views["v_silver_health"] = silver_health(silver)
    return views


def gold_stage(catalog: Catalog) -> StageResult:
    """The runner's 4th task (Workflow yaml:48-53): (re)create the view
    stack. DDL-only — no data moves until a view is queried."""
    views = build_views(catalog)
    for name, df in views.items():
        df.createOrReplaceTempView(f"pets_gold_{name}")
    return StageResult("done", rows=len(views))
