"""Local stand-in for the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the given
sf dir, compares row count, column names, and order-insensitive values
(exact equality after stringify-and-sort — stricter than a hash, same idea).

Usage: python scripts/check_correctness.py [sf_dir] [query ...]

When run over the FULL registry (no query filter), the per-query results
are also written to ``CORRECTNESS_local.json`` at the repo root in the
driver's row format, so the local gate is a committed, auditable
artifact covering every registered query, whether or not a driver
artifact (``CORRECTNESS_r*.json``) proves it. Keys starting with ``_`` are
reserved for artifact metadata, not queries: ``_fingerprints`` holds each
query's implementation fingerprint at gate time. A reader iterating the
query rows must skip them.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from certified_dogs_and_cats_spark.cache import release_cached
from certified_dogs_and_cats_spark.queries import ORACLE, QUERIES
from certified_dogs_and_cats_spark.session import get_spark
from certified_dogs_and_cats_spark.sources.testdata import TESTDATA_TABLES


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = repr(v)
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in order], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_correctness", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    failures = []
    results: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            # Release any frames the query persist()ed (dedup shingles):
            # a full-registry sweep must not accumulate executor cache.
            release_cached()
            spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark error: {e}",
            }
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in ORACLE:
            results[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None,
            }
            print(f"skip  {name}: no oracle ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(ORACLE[name])
            dcols = list(rel.columns)
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": None, "err": f"duckdb error: {e}",
            }
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        ok = True
        msgs = []
        schema_match = sorted(scols) == sorted(dcols)
        rows_match = len(srows) == len(drows)
        if not schema_match:
            ok = False
            msgs.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not rows_match:
            ok = False
            msgs.append(f"rows spark={len(srows)} duck={len(drows)}")
        hash_match = False
        if ok:
            _, sn = normalize(srows, scols)
            _, dn = normalize(drows, dcols)
            hash_match = sn == dn
            if not hash_match:
                ok = False
                diff = [
                    (a, b) for a, b in zip(sn, dn) if a != b
                ][:3]
                msgs.append(f"values differ, first diffs: {diff}")
        status = "ok   " if ok else "FAIL "
        if not ok:
            failures.append(name)
        results[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": "; ".join(msgs) if msgs else None,
        }
        print(f"{status} {name} ({len(srows)} rows, {time.time()-t0:.1f}s)"
              + ("  " + "; ".join(msgs) if msgs else ""))
    if not only:
        repo_root = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        # Bind the artifact to the CODE it proved (ADVICE r12 #3): the
        # registry-window escape hatch trusts this file, so each row
        # carries the query's implementation fingerprint at gate time —
        # a later edit makes the row visibly stale without any reliance
        # on git state or mtimes.
        from certified_dogs_and_cats_spark.queries.fingerprints import (
            current_fingerprints,
        )

        artifact = {**results, "_fingerprints": current_fingerprints()}
        with open(
            os.path.join(repo_root, "CORRECTNESS_local.json"), "w"
        ) as f:
            json.dump(artifact, f, indent=2)
        print(f"full-registry artifact: CORRECTNESS_local.json "
              f"({len(results)} queries)")
    checked = len(results) if only else len(QUERIES)
    scope = "checked queries" if only else "queries"
    print(f"\n{checked - len(failures)}/{checked} {scope} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
