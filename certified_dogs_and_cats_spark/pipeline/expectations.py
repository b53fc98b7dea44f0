"""Expectation/guard layer (reference batch guards, SURVEY.md §2.11).

The reference runs each guard as a separate action before its append
(notebooks/bronze.py:98-107, flagged as an inefficiency in SURVEY.md §4).
Here the guards cost no action of their own: :func:`append_new_rows` puts
them in a ``raise_error`` column of the batch, so the write of the new rows
checks every batch row, and only a failed write runs the counting
:func:`run_guards` to name what failed.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.joins import idempotent_new_rows

if TYPE_CHECKING:
    from .catalog import Catalog


class GuardError(AssertionError):
    """A batch failed a data-quality guard; the run must abort."""


#: Message of the ``raise_error`` that :func:`_guarded` plants in a batch.
_GUARD_VIOLATION = "__guard_violation__"


def _outside(c: str, allowed: Sequence[str]):
    """True where column ``c`` is NULL or not among ``allowed``."""
    return ~F.coalesce(F.col(c).isin(*allowed), F.lit(False))


def _guarded(
    df: DataFrame,
    key: str,
    *,
    no_nulls: Sequence[str] = (),
    unique: Sequence[str] = (),
    domain: dict[str, Sequence[str]] | None = None,
) -> DataFrame:
    """``df`` with column ``key`` replaced by one that raises
    :data:`_GUARD_VIOLATION` on any row failing a guard (the guards of
    :func:`run_guards`; uniqueness is a window count, which plans no
    exchange over a one-partition batch). A join on ``key`` above it
    cannot skip the check: the key it joins on is the checked column, so
    rows the join drops are checked too, and the optimizer cannot push
    the join below the window the check reads."""
    bad = F.lit(False)
    for c in no_nulls:
        bad = bad | F.col(c).isNull()
    for c in unique:
        # As in run_guards, a NULL in a unique column fails it.
        n = F.count(F.lit(1)).over(Window.partitionBy(c))
        bad = bad | F.col(c).isNull() | (n > 1)
    for c, allowed in (domain or {}).items():
        bad = bad | _outside(c, allowed)
    return df.withColumn(
        key,
        F.when(bad, F.raise_error(F.lit(_GUARD_VIOLATION))).otherwise(
            F.col(key)
        ),
    )


def append_new_rows(
    catalog: "Catalog",
    name: str,
    batch: DataFrame,
    key: str,
    **guards,
) -> int:
    """Append the rows of ``batch`` whose ``key`` table ``name`` does not
    hold yet (the reference's exactly-once anti-join), in the one job
    that also checks ``guards`` over every row of ``batch``, and return
    how many were appended (0 commits nothing, see
    :meth:`Catalog.append`). A guard failure fails the write, and then
    :func:`run_guards` raises the :class:`GuardError` that names it."""
    existing = catalog.table(name)
    new_rows = idempotent_new_rows(
        _guarded(batch, key, **guards), existing, [key]
    )
    try:
        return catalog.append(name, new_rows)
    except Exception as e:
        # Matched on the text, not the exception type: the marker
        # survives however the JVM error reaches Python.
        if _GUARD_VIOLATION not in str(e):
            raise
        run_guards(batch, **guards)
        raise


def run_guards(
    df: DataFrame,
    *,
    no_nulls: Sequence[str] = (),
    unique: Sequence[str] = (),
    domain: dict[str, Sequence[str]] | None = None,
) -> None:
    """Single-pass guard evaluation; raises :class:`GuardError` naming
    every guard that fails, with counts.

    - no_nulls: columns that must not contain NULL (bronze.py:98-100)
    - unique:   columns whose values must be unique  (bronze.py:102-103)
    - domain:   column -> allowed values whitelist   (bronze.py:105-107)

    Every guard is one aggregate over ``df``, so all of them cost one
    action (two exchanges for the distinct count), not one per guard.
    """
    domain = domain or {}
    aggs = [F.count(F.lit(1)).alias("__n__")]
    for c in no_nulls:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"__null__{c}"
            )
        )
    for c in unique:
        aggs.append(F.countDistinct(F.col(c)).alias(f"__dist__{c}"))
    for c, allowed in domain.items():
        aggs.append(
            F.sum(F.when(_outside(c, allowed), 1).otherwise(0)).alias(
                f"__bad__{c}"
            )
        )
    # A SUM over no rows is NULL; here that means 0.
    row = {k: v or 0 for k, v in df.agg(*aggs).collect()[0].asDict().items()}
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
