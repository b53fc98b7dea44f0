"""The scripts/ tooling is part of the evidence chain (PLANS / SCALING /
SHUFFLE / STREAMING_STATE / correctness gate); a syntax or helper
regression should fail the suite, not the next multi-minute regen."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name):
    path = os.path.join(REPO, "scripts", name)
    spec = importlib.util.spec_from_file_location(name[:-3], path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_all_probe_scripts_import():
    """Every evidence script imports cleanly (no Spark session is
    started at import time)."""
    for name in (
        "check_correctness.py",
        "audit_plans.py",
        "scaling_report.py",
        "scaling_sf1.py",
        "scaling_lakehouse.py",
        "shuffle_report.py",
        "streaming_state_report.py",
        "record_fingerprints.py",
        "jvm_cpu_split.py",
    ):
        _load(name)


def test_normalize_is_column_order_insensitive():
    """The correctness gate's row canonicalization: column permutation
    and row order must not change the normalized form, and floats keep
    full repr precision."""
    m = _load("check_correctness.py")
    cols_a, rows_a = ["b", "a"], [(2.5, 1), (0.1 + 0.2, 3)]
    cols_b, rows_b = ["a", "b"], [(3, 0.1 + 0.2), (1, 2.5)]
    na = m.normalize(rows_a, cols_a)
    nb = m.normalize(rows_b, cols_b)
    assert na == nb
    assert any("0.30000000000000004" in v for _, r in [na] for t in r for v in t)


def test_shingle_incidence_is_deterministic_and_positive():
    """The SHUFFLE.md accounting helper: repeatable and non-trivial on
    the smallest fixture."""
    m = _load("shuffle_report.py")
    a = m.shingle_incidence("/root/testdata/sf0.001")
    b = m.shingle_incidence("/root/testdata/sf0.001")
    assert a == b > 0


def test_audit_roster_has_no_ghost_exclusions():
    """Every roster exclusion names a registered query (audit_plans
    fails at runtime on ghosts; pin it at test time too)."""
    from certified_dogs_and_cats_spark.queries.registry import QUERIES
    from certified_dogs_and_cats_spark.queries.roster import (
        EXCLUDED,
        auditable,
    )

    assert set(EXCLUDED) <= set(QUERIES)
    assert set(auditable(QUERIES)) | set(EXCLUDED) == set(QUERIES)


def test_stress_reports_a_writer_that_exhausts_its_retries(monkeypatch):
    """lakehouse_stress: a writer that loses every OCC race stops after
    RETRY_LIMIT attempts, and its error is kept for the report's "every
    writer finished its batches" check instead of dying with the thread."""
    m = _load("lakehouse_stress.py")
    monkeypatch.setattr(m.time, "sleep", lambda s: None)

    class AlwaysConflicts:
        def createDataFrame(self, rows, schema):
            return self

        def coalesce(self, n):
            return self

        def append(self, name, df):
            raise m.ConcurrentWriteConflict(name)

    stub, ledger, errors = AlwaysConflicts(), m.Ledger(), {}
    m.writer_task(stub, stub, 3, ledger, errors)
    assert isinstance(errors[3], RuntimeError)
    assert ledger.retries == m.RETRY_LIMIT and ledger.commits == 0
