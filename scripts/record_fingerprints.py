"""Maintain QUERY_FINGERPRINTS.json — each query's implementation
fingerprint AS OF ITS LAST DRIVER-GREEN PROOF.

A query is settled when a committed driver artifact proves it
(``fingerprints.driver_proven``) and its current fingerprint equals its
recorded one (``fingerprints.changed_since_recorded``), so driver
evidence tracks the CODE, not the name. That fixes WHEN an entry may be
stamped: only once driver evidence exists for the code the stamp
describes.

Two modes:

- ``--sync`` (run after a new CORRECTNESS_r*.json lands): every query
  green in the NEWEST artifact gets stamped with its current fingerprint
  — the driver ran against the commit the tree is at, so current ==
  proven code. Queries not green in that artifact keep their old stamps.
- default (run at the last commit of a change): refresh stamps ONLY for
  queries that are settled (for them this is a no-op by definition) and
  leave every needy entry (unproven, or proven-but-since-edited)
  UNSTAMPED, so it keeps needing proof until a new artifact proves the
  new code. ``--stale n1 n2`` additionally blanks entries known to be
  stale (e.g. flagged by a review).

The bootstrap case (no file yet) records everything as-is; use
``--stale`` for any queries already known to have changed post-proof.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from certified_dogs_and_cats_spark.queries import ORACLE, QUERIES  # noqa: E402
from certified_dogs_and_cats_spark.queries.fingerprints import (  # noqa: E402
    changed_since_recorded,
    current_fingerprints,
    driver_proven,
    is_green,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "QUERY_FINGERPRINTS.json")


def _latest_artifact() -> dict:
    files = sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
    if not files:
        return {}
    with open(files[-1]) as fh:
        return json.load(fh)


def main() -> None:
    sync = len(sys.argv) > 1 and sys.argv[1] == "--sync"
    stale: set[str] = set()
    if len(sys.argv) > 1 and sys.argv[1] == "--stale":
        stale = set(sys.argv[2:])
        unknown = stale - set(QUERIES)
        if unknown:
            raise SystemExit(f"unknown query names: {sorted(unknown)}")
    cur = current_fingerprints(QUERIES, ORACLE)
    prior: dict[str, str] = {}
    try:
        with open(OUT) as fh:
            prior = json.load(fh)
    except (OSError, ValueError):
        pass
    if not prior:
        # Bootstrap: no recorded state — stamp everything as-is.
        fps = dict(cur)
        mode = "bootstrap"
    elif sync:
        fps = dict(prior)
        greens = [n for n, row in _latest_artifact().items() if is_green(row)]
        for n in greens:
            if n in cur:
                fps[n] = cur[n]
        mode = f"sync ({len(greens)} green rows stamped)"
    else:
        # Stamps may only describe driver-proven code — needy entries
        # keep their old (mismatching or absent) values, so they keep
        # needing proof until a driver run proves the new code.
        proven = driver_proven()
        changed = changed_since_recorded(proven, current=cur)
        fps = {}
        kept = 0
        for n in QUERIES:
            needy = n not in proven or n in changed
            if needy:
                if n in prior:
                    fps[n] = prior[n]
                kept += 1
            else:
                fps[n] = cur[n]
        mode = f"default ({kept} needy entries left unstamped)"
    for name in stale:
        fps[name] = ""
    # Full-registry coverage invariant (r11 VERDICT ask #2): every
    # registered query owns a key — new queries get an explicit empty
    # stamp ("" = never proven at this code, stays needy) so
    # tests/test_registry_window.py can mechanically detect a query
    # that was proven but never stamped.
    for n in QUERIES:
        fps.setdefault(n, "")
    fps = {n: v for n, v in fps.items() if n in QUERIES}
    with open(OUT, "w") as fh:
        json.dump(dict(sorted(fps.items())), fh, indent=1)
        fh.write("\n")
    print(
        f"recorded {len(fps)} fingerprints [{mode}]"
        + (f" ({len(stale)} forced stale)" if stale else "")
    )


if __name__ == "__main__":
    main()
