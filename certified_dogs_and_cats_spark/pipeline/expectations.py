"""Expectation/guard layer (reference batch guards, SURVEY.md §2.11).

The reference runs each guard as a separate action, re-executing the scan
per guard (notebooks/bronze.py:98-107 — flagged as an inefficiency in
SURVEY.md §4). Here every guard over the same frame is folded into ONE
aggregate pass: at 100 TB that's one scan instead of four.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class GuardError(AssertionError):
    """A batch failed a data-quality guard; the run must abort."""


def run_guards(
    df: DataFrame,
    *,
    no_nulls: Sequence[str] = (),
    unique: Sequence[str] = (),
    domain: dict[str, Sequence[str]] | None = None,
    counts: dict[str, DataFrame] | None = None,
) -> dict[str, int]:
    """Single-pass guard evaluation.

    - no_nulls: columns that must not contain NULL (bronze.py:98-100)
    - unique:   columns whose values must be unique  (bronze.py:102-103)
    - domain:   column -> allowed values whitelist   (bronze.py:105-107)
    - counts:   name -> frame whose row count the caller also needs,
      returned by name

    The counted frames are stacked under ``df`` by a tagged union and every
    figure is one conditional aggregate over the stack, so a stage's
    guards and counts cost one action and one aggregation (two exchanges
    for the distinct count), not one aggregation per frame.
    """
    domain = domain or {}
    counts = counts or {}
    tag = F.col("__part__")
    guarded = sorted({*no_nulls, *unique, *domain})
    stack = df.select(*guarded, F.lit(0).alias("__part__"))
    for i, frame in enumerate(counts.values(), 1):
        stack = stack.unionByName(
            frame.select(F.lit(i).alias("__part__")), allowMissingColumns=True
        )

    def rows_where(cond):
        return F.sum(F.when((tag == 0) & cond, 1).otherwise(0))

    aggs = [rows_where(F.lit(True)).alias("__n__")]
    for c in no_nulls:
        aggs.append(rows_where(F.col(c).isNull()).alias(f"__null__{c}"))
    for c in unique:
        aggs.append(
            F.countDistinct(F.when(tag == 0, F.col(c))).alias(f"__dist__{c}")
        )
    for c, allowed in domain.items():
        bad = (~F.col(c).isin(*allowed)) | F.col(c).isNull()
        aggs.append(rows_where(bad).alias(f"__bad__{c}"))
    for i, key in enumerate(counts, 1):
        aggs.append(
            F.sum(F.when(tag == i, 1).otherwise(0)).alias(f"__count__{key}")
        )
    # A SUM over no rows is NULL; here that means 0.
    row = {k: v or 0 for k, v in stack.agg(*aggs).collect()[0].asDict().items()}
    n = row["__n__"]
    problems = []
    for c in no_nulls:
        if row[f"__null__{c}"] > 0:
            problems.append(f"{row[f'__null__{c}']} NULL values in {c}")
    for c in unique:
        # distinct-count vs count on the same single pass; NULLs in a
        # `unique` column are caught by pairing it with no_nulls.
        nulls = row.get(f"__null__{c}", 0)
        if row[f"__dist__{c}"] != n - nulls:
            problems.append(
                f"duplicate values in {c} "
                f"({n - nulls} rows, {row[f'__dist__{c}']} distinct)"
            )
    for c in domain:
        if row[f"__bad__{c}"] > 0:
            problems.append(
                f"{row[f'__bad__{c}']} rows outside domain for {c}"
            )
    if problems:
        raise GuardError("; ".join(problems))
    return {key: row[f"__count__{key}"] for key in counts}


def assert_flag_consistency(
    df: DataFrame, value_col: str, flag_col: str
) -> None:
    """Invariant from docs/runbook.md:95-99: flag true <=> value present.
    Violations must be exactly 0."""
    bad = (
        (F.col(flag_col) & F.col(value_col).isNull())
        | (~F.col(flag_col) & F.col(value_col).isNotNull())
    ).cast("long")
    n_bad = df.agg(F.sum(bad).alias("bad")).collect()[0]["bad"] or 0
    if n_bad:
        raise GuardError(
            f"flag consistency violated for ({value_col}, {flag_col}): "
            f"{n_bad} rows"
        )


def is_empty(df: DataFrame) -> bool:
    """Cheap existence probe (reference .limit(1).count() idiom,
    notebooks/bronze.py:54)."""
    return df.isEmpty()
