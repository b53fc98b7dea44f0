"""Registry and driver-evidence guards: every query carries an oracle,
its fingerprint covers its implementation closure, and the committed
QUERY_FINGERPRINTS.json stays in step with the driver artifacts and the
tree. Registry order is registration order: importing the package
registers queries and does nothing else."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

from certified_dogs_and_cats_spark import queries as pkg
from certified_dogs_and_cats_spark.queries import ORACLE, QUERIES
from certified_dogs_and_cats_spark.queries.fingerprints import (
    changed_since_recorded,
    current_fingerprints,
    driver_proven,
    is_green,
)

# An external driver proves the first 50 registry rows a run; it sizes
# the alarm in test_recorded_artifact_is_current_for_settled_queries.
DRIVER_WINDOW = 50


_IMPORT_PROBE = r"""
import inspect, itertools, json, os, sys

opened = []
sys.addaudithook(
    lambda event, args: event == "open" and opened.append(str(args[0]))
)
getsource_calls = []
_getsource = inspect.getsource


def _counting_getsource(obj):
    getsource_calls.append(obj)
    return _getsource(obj)


inspect.getsource = _counting_getsource  # fingerprinting's source reader

from certified_dogs_and_cats_spark.queries import QUERIES

print(json.dumps({
    "artifacts": sorted({
        p for p in opened
        if os.path.basename(p).startswith(
            ("CORRECTNESS_", "QUERY_FINGERPRINTS.json"))
    }),
    "getsource_calls": len(getsource_calls),
    "modules": [m for m, _ in itertools.groupby(
        fn.__module__ for fn in QUERIES.values())],
}))
"""


def test_registry_import_only_registers_in_import_order():
    """Importing the package reads no driver artifact, fingerprints
    nothing, and leaves QUERIES in registration order: grouped by
    defining module, in the order queries/__init__.py imports them."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE],
        cwd=root,
        capture_output=True,
        text=True,
        check=True,
    )
    seen = json.loads(probe.stdout.splitlines()[-1])
    assert seen["artifacts"] == [], "import opened driver artifacts"
    assert seen["getsource_calls"] == 0, "import fingerprinted queries"
    with open(pkg.__file__) as fh:
        tree = ast.parse(fh.read())
    import_order = [
        f"{pkg.__name__}.{alias.name}"
        for node in tree.body
        if isinstance(node, ast.ImportFrom) and node.level == 1 and not node.module
        for alias in node.names
    ]
    modules = seen["modules"]
    assert len(modules) == len(set(modules)), f"modules interleaved: {modules}"
    assert modules == [m for m in import_order if m in modules]


def test_every_query_has_oracle_and_unique_name():
    assert set(ORACLE) <= set(QUERIES)
    # Every registered query carries a DuckDB oracle — the round-8
    # series-ln rewrite (functions/detln.py) closed the last rows-only
    # entry (bm25_textbook_topk), so the allowlist is now EMPTY; any new
    # exception must re-argue its case here.
    assert set(QUERIES) == set(ORACLE)


# ---------------------------------------------------------------------------
# Fingerprint re-entry rule (VERDICT r7 ask #2): driver evidence tracks
# the CODE, not the name.
# ---------------------------------------------------------------------------


def test_fingerprint_covers_function_source_and_oracle():
    """Editing either the Spark callable or its oracle SQL must change
    the fingerprint (both sides of the contract need re-proving)."""
    from certified_dogs_and_cats_spark.queries.fingerprints import (
        query_fingerprint,
    )

    def q_v1(spark, sf_dir):
        return 1

    def q_v2(spark, sf_dir):
        return 2

    base = query_fingerprint(q_v1, "SELECT 1")
    assert query_fingerprint(q_v2, "SELECT 1") != base
    assert query_fingerprint(q_v1, "SELECT 2") != base
    assert query_fingerprint(q_v1, "SELECT 1") == base  # deterministic


def test_fingerprint_covers_extension_module_dependency():
    """A query whose body imports a package extension must embed that
    module's file hash — the round-7 gap: `fuzzy_name_pairs` was
    rewritten in extensions/dedup.py without its queries/ wrapper
    changing, and kept its stale green row."""
    from certified_dogs_and_cats_spark.queries import formats
    from certified_dogs_and_cats_spark.queries.fingerprints import (
        _file_sha,
        _gather,
    )

    _, _, deps = _gather(formats.fuzzy_name_pairs)
    assert "certified_dogs_and_cats_spark.extensions.dedup" in deps
    # and the dep participates via its FILE hash, so any edit flips it
    import certified_dogs_and_cats_spark.extensions.dedup as dmod

    assert len(_file_sha(dmod.__file__)) == 64


def test_fingerprint_covers_same_module_helpers():
    """bm25_textbook_topk delegates to _bm25_scored; editing the helper
    must invalidate the query even though the query's own 2-line body
    is unchanged."""
    from certified_dogs_and_cats_spark.queries import terms
    from certified_dogs_and_cats_spark.queries.fingerprints import _gather

    sources, consts, deps = _gather(terms.bm25_textbook_topk)
    assert any("_bm25_scored" in s for s in sources)
    # constants the scorer reads are value-pinned
    assert any("BM25_K1=1.2" in c for c in consts)
    # and the series-ln module is a captured dependency
    assert "certified_dogs_and_cats_spark.functions.detln" in deps


def test_stale_fingerprint_reenters_window():
    """A proven query recorded with a mismatching (or empty) fingerprint
    counts as changed, so it needs proving again."""
    current = {"a": "fp_a", "b": "fp_b", "c": "fp_c"}
    recorded = {"a": "fp_a", "b": "OLD", "c": ""}
    assert changed_since_recorded(
        ["a", "b", "c"], recorded=recorded, current=current
    ) == {"b", "c"}
    # unrecorded = changed (never proven at this code)
    assert changed_since_recorded(
        ["d"], recorded=recorded, current={"d": "x"}
    ) == {"d"}


def test_fingerprint_artifact_covers_registry_and_latest_greens():
    """The gap that survived rounds 10 AND 11: queries proven by the
    latest driver run were left unstamped because stamping was a manual
    round-start step. Mechanical guard, two invariants:

    1. QUERY_FINGERPRINTS.json has a key for EVERY registered query
       (scripts/record_fingerprints.py writes "" for new/needy entries,
       so "present but empty" is the only legal not-yet-proven state);
    2. every query green in the NEWEST committed CORRECTNESS_r*.json
       carries a NON-EMPTY stamp — driver evidence exists, so an empty
       stamp means `record_fingerprints.py --sync` was skipped.
    """
    import glob

    from certified_dogs_and_cats_spark.queries.fingerprints import (
        recorded_fingerprints,
    )

    recorded = recorded_fingerprints()
    missing_keys = sorted(set(QUERIES) - set(recorded))
    assert not missing_keys, (
        f"{len(missing_keys)} registered queries absent from "
        f"QUERY_FINGERPRINTS.json — run scripts/record_fingerprints.py: "
        f"{missing_keys[:10]}"
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    if not files:
        return
    with open(files[-1]) as fh:
        latest = json.load(fh)
    greens = [
        n
        for n, row in latest.items()
        if n in QUERIES and is_green(row)
    ]
    unstamped = sorted(n for n in greens if not recorded.get(n))
    assert not unstamped, (
        f"driver-green queries with no recorded fingerprint — run "
        f"scripts/record_fingerprints.py --sync: {unstamped}"
    )


def test_recorded_artifact_is_current_for_settled_queries():
    """QUERY_FINGERPRINTS.json must stay in sync with the tree: every
    driver-proven query not deliberately re-entered this round matches
    its recorded fingerprint (i.e. the stale set is an intentional,
    small set — a huge stale set means someone forgot to run
    scripts/record_fingerprints.py after changing implementations)."""
    now_fps = current_fingerprints()
    proven = driver_proven()
    stale = changed_since_recorded(proven, current=now_fps)
    assert stale <= proven
    # Mid-round, heavy extension edits legitimately invalidate many
    # consumers at once; the binding constraint is the WINDOW — needy
    # (unproven + stale) entries beyond it queue for the next round and
    # scripts/record_fingerprints.py keeps them unstamped. A stale set
    # larger than the whole window therefore still works, but signals
    # the re-record step was skipped for multiple rounds.
    needy = [
        n for n in QUERIES if n not in proven or n in stale
    ]
    if len(needy) <= DRIVER_WINDOW + 10:
        return
    # Optimization rounds legitimately re-enter several extension
    # families at once (r12: graph/dedup/text/olap edits -> ~70 needy),
    # and their driver pass re-proves the FULL registry, not a 50-row
    # window. That churn is not a forgotten re-record IF the full local
    # gate (scripts/check_correctness.py over all registered queries ->
    # CORRECTNESS_local.json) has re-proven every needy entry on the
    # current code: the alarm below then fires only for needy queries
    # with no current local proof — the genuinely unaccounted ones.
    # "Current code" is enforced, not trusted (ADVICE r12 #3): the gate
    # stamps each run with per-query fingerprints, and a local green
    # counts only when that stamp matches the query's fingerprint NOW.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    local: dict = {}
    try:
        with open(os.path.join(root, "CORRECTNESS_local.json")) as fh:
            local = json.load(fh)
    except (OSError, ValueError):
        pass
    gate_fps = local.pop("_fingerprints", {})
    full_local_gate = set(QUERIES) <= set(local)
    unaccounted = [
        n
        for n in needy
        if not (
            full_local_gate
            and is_green(local.get(n))
            and gate_fps.get(n) == now_fps.get(n)
        )
    ]
    assert not unaccounted, (
        f"{len(needy)} queries need (re-)proving — more than a round's "
        f"window can absorb, and {len(unaccounted)} of them have no "
        f"full-registry local proof either; re-record, stage the edits, "
        f"or run the full local gate: {sorted(unaccounted)[:10]}"
    )
