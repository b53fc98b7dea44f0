"""Per-query implementation fingerprints and the driver-proof state.

A green row in a committed driver artifact (``CORRECTNESS_r*.json``)
proves a query's NAME; the code behind that name can change afterwards.
So every query gets a fingerprint — a hash of its implementation
closure — recorded (scripts/record_fingerprints.py) in
``QUERY_FINGERPRINTS.json`` next to the driver artifacts. A query is
settled only when it is driver-green (:func:`driver_proven`) AND its
current fingerprint equals the recorded one
(:func:`changed_since_recorded`); any later edit to the implementation
makes it need re-proving, which ``scripts/check_correctness.py`` does
locally for the queries named.

Nothing here runs at package import: the proof state is computed on
demand by the scripts and tests that ask for it.

What the fingerprint covers (the implementation closure, one module
level deep — pinned by tests/test_registry_window.py):

- the query function's own source, plus — recursively — the source of
  every same-module helper it references (e.g. ``_bm25_scored``);
- the repr of every same-module / package-imported simple constant the
  function references (``BM25_K1``, ``QUERY_PRED``, expanded oracle CTE
  strings, ...);
- the file hash of every package-internal module the gathered sources
  import (body-level ``from ..extensions.x import ...``) or whose
  functions they call via module-top imports — so an extension rewrite
  (the round-7 `fuzzy_name_pairs` sub-blocking, the ivfpq build path)
  invalidates its consumers;
- the registered DuckDB oracle SQL (an oracle edit needs re-proving as
  much as a Spark-side edit).

Infrastructure modules are excluded (``cache``, ``session``,
``queries.registry``, the ``queries`` package init): they change WHEN
and WHERE work happens, never results, and including them would mark
the whole registry as changed on every plumbing tweak.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import re
import textwrap
import types
from typing import Iterable

_PKG = "certified_dogs_and_cats_spark"

#: Result-neutral plumbing, excluded from dependency capture (see module
#: docstring).
_EXCLUDED_MODULES = {
    f"{_PKG}.cache",
    f"{_PKG}.session",
    f"{_PKG}.queries",
    f"{_PKG}.queries.registry",
    f"{_PKG}.queries.fingerprints",
}

_IMPORT_RE = re.compile(
    r"^\s*from\s+(\.+[\w.]*|certified_dogs_and_cats_spark[\w.]*)\s+import",
    re.M,
)

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

_FILE_SHA_CACHE: dict[str, str] = {}


def _file_sha(path: str) -> str:
    if path not in _FILE_SHA_CACHE:
        with open(path, "rb") as fh:
            _FILE_SHA_CACHE[path] = hashlib.sha256(fh.read()).hexdigest()
    return _FILE_SHA_CACHE[path]


def _resolve_relative(defining_module: str, spec: str) -> str | None:
    """``..extensions.dedup`` seen in module ``pkg.queries.terms`` ->
    ``pkg.extensions.dedup``; absolute package paths pass through."""
    if not spec.startswith("."):
        return spec if spec.startswith(_PKG) else None
    dots = len(spec) - len(spec.lstrip("."))
    base = defining_module.split(".")
    if dots > len(base):
        return None
    stem = base[: len(base) - dots]
    rest = spec.lstrip(".")
    return ".".join(stem + ([rest] if rest else []))


def _module_file(mod_name: str) -> str | None:
    import importlib

    try:
        mod = importlib.import_module(mod_name)
    except ImportError:
        return None
    path = getattr(mod, "__file__", None)
    return path if path and os.path.exists(path) else None


def _all_code_names(code: types.CodeType) -> set[str]:
    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _all_code_names(const)
    return names


def _gather(fn: types.FunctionType) -> tuple[list[str], list[str], set[str]]:
    """Transitively collect (sources, constant reprs, dep module names)
    for ``fn`` and every same-module function it references."""
    seen: set[str] = set()
    sources: list[tuple[str, str]] = []
    consts: list[str] = []
    deps: set[str] = set()
    stack = [fn]
    while stack:
        f = stack.pop()
        key = f"{f.__module__}.{f.__qualname__}"
        if key in seen:
            continue
        seen.add(key)
        try:
            src = textwrap.dedent(inspect.getsource(f))
        except (OSError, TypeError):
            src = f"<nosource:{key}>"
        sources.append((key, src))
        for spec in _IMPORT_RE.findall(src):
            resolved = _resolve_relative(f.__module__, spec)
            if resolved and resolved not in _EXCLUDED_MODULES:
                deps.add(resolved)
        g = f.__globals__
        for name in sorted(_all_code_names(f.__code__)):
            if name not in g:
                continue
            obj = g[name]
            if isinstance(obj, types.FunctionType):
                mod = getattr(obj, "__module__", "") or ""
                if mod == f.__module__:
                    stack.append(obj)
                elif mod.startswith(_PKG) and mod not in _EXCLUDED_MODULES:
                    deps.add(mod)
            elif isinstance(obj, (frozenset, set)):
                # set/frozenset repr order is PYTHONHASHSEED-dependent —
                # canonicalize or the fingerprint flaps across processes.
                canon = ",".join(sorted(repr(x) for x in obj))
                consts.append(f"{f.__module__}:{name}={{{canon}}}")
            elif isinstance(obj, (int, float, str, bool, tuple)):
                consts.append(f"{f.__module__}:{name}={obj!r}")
    return (
        [s for _, s in sorted(sources)],
        sorted(set(consts)),
        deps,
    )


def query_fingerprint(fn: types.FunctionType, oracle: str | None) -> str:
    sources, consts, deps = _gather(fn)
    dep_shas = []
    for mod_name in sorted(deps):
        path = _module_file(mod_name)
        if path:
            dep_shas.append(f"{mod_name}:{_file_sha(path)}")
    payload = "\n\x00\n".join(
        sources + consts + dep_shas + [oracle or "<no-oracle>"]
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def current_fingerprints(
    queries: dict | None = None, oracle: dict | None = None
) -> dict[str, str]:
    """Fingerprint every registered query (or the given mapping)."""
    if queries is None:
        from .registry import ORACLE, QUERIES

        queries, oracle = QUERIES, ORACLE
    oracle = oracle or {}
    return {
        name: query_fingerprint(fn, oracle.get(name))
        for name, fn in queries.items()
    }


def recorded_fingerprints(repo_root: str | None = None) -> dict[str, str]:
    """The committed fingerprint-at-proof artifact (empty if absent)."""
    path = os.path.join(repo_root or _REPO_ROOT, "QUERY_FINGERPRINTS.json")
    try:
        with open(path) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return {}
    return {k: v for k, v in data.items() if isinstance(v, str)}


def is_green(row: object) -> bool:
    """A CORRECTNESS row that proves its query: row count and schema
    match, the value hash matches (when checked) and nothing raised."""
    return (
        isinstance(row, dict)
        and bool(row.get("rows_match"))
        and bool(row.get("schema_match"))
        and bool(row.get("hash_match", True))
        and row.get("err") in (None, "")
    )


def driver_proven() -> frozenset[str]:
    """Names with a green row in any committed ``CORRECTNESS_r<N>.json``
    driver artifact (empty when none is reachable)."""
    names: set[str] = set()
    for path in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")):
        if not re.fullmatch(r"CORRECTNESS_r\d+\.json", os.path.basename(path)):
            continue
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        names.update(n for n, row in data.items() if is_green(row))
    return frozenset(names)


def changed_since_recorded(
    names: Iterable[str],
    recorded: dict[str, str] | None = None,
    current: dict[str, str] | None = None,
) -> set[str]:
    """Of ``names``, the subset whose implementation no longer matches
    the recorded fingerprint (missing recorded entry = changed: a query
    never recorded as proven at this code needs proving)."""
    if recorded is None:
        recorded = recorded_fingerprints()
    if current is None:
        current = current_fingerprints()
    return {
        n
        for n in names
        if recorded.get(n, "") != current.get(n, "<uncomputed>")
    }
