"""corpus_prep: the training-data operators on the sf0.1 corpus.

The inputs are the repository's sf0.1 ``documents`` and ``embeddings``
parquet files, kept as they are under ``perfbench/data/sf0.1/``; the seed
only orders the queries. One pass runs the 10 corpus queries of :data:`metrics.CORPUS_QUERIES` in a
seeded order, each planned through the public registry (``QUERIES[q]``) and
executed whole into Spark's ``noop`` sink, then ``cache.release_cached()``.
Set-up runs every query once with ``collect()`` and
compares its rows with the registered DuckDB oracle (``ORACLE[q]``): that
first pass warms the JIT and pays any build-once artifact
(``cache.memoized_build``) outside the timed window.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from .harness import Outcome, Session, Tally, tree_cpu_s
from .metrics import CORPUS_QUERIES
from .trace import Tracer

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def _normalized(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Column-order- and row-order-insensitive form, floats by repr (the
    repository's correctness gate compares the same way)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(repr(r[i]) if isinstance(r[i], float) else str(r[i]) for i in order)
        for r in rows
    )
    return [cols[i] for i in order], out


def _check_against_oracle(session: Session, tally: Tally, sf_dir: str) -> None:
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from certified_dogs_and_cats_spark.cache import release_cached
    from certified_dogs_and_cats_spark.queries import ORACLE, QUERIES

    con = duckdb.connect()
    con.execute("SET threads = 2")  # leave the other cores to Spark
    try:
        for table in ("documents", "embeddings"):
            path = os.path.join(sf_dir, f"{table}.parquet").replace("'", "''")
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")

        def oracle_rows(q: str):
            rel = con.sql(ORACLE[q])
            return list(rel.columns), rel.fetchall()

        # DuckDB releases the GIL while it runs, so the oracles run beside
        # Spark's first executions instead of after them (shorter set-up).
        with ThreadPoolExecutor(1) as pool:
            want = {q: pool.submit(oracle_rows, q) for q in CORPUS_QUERIES}
            for q in CORPUS_QUERIES:
                def spark_rows():
                    df = QUERIES[q](session.spark, sf_dir)
                    return df.columns, [tuple(r) for r in df.collect()]

                got, _, _ = tally.op(f"check {q}", spark_rows)
                release_cached()
                if got is None:
                    continue
                rows = want[q].result()
                tally.check(_normalized(*got) == _normalized(*rows),
                            f"{q}: Spark rows differ from the DuckDB oracle "
                            f"({len(got[1])} vs {len(rows[1])} rows)")
    finally:
        con.close()


def run(session: Session, tracer: Tracer, tally: Tally, work: str, seed: int,
        seconds: float) -> Outcome:
    from certified_dogs_and_cats_spark import cache
    from certified_dogs_and_cats_spark.queries import QUERIES

    for q in CORPUS_QUERIES:
        tracer.wrap(QUERIES, q, f"queries.{q}")
    rng = random.Random(f"corpus-order:{seed}")
    order = list(CORPUS_QUERIES)
    pass_s, pass_cpu_s, query_ms, query_cpu_ms, released = [], [], [], [], []

    def one_pass() -> None:
        rng.shuffle(order)
        t_pass = time.perf_counter()
        cpu_pass = tree_cpu_s()
        n_released = 0
        for q in order:
            with tracer.span(f"corpus.{q}"):
                _, dt, cpu = tally.op(q, execute, q)
            query_ms.append(dt * 1000.0)
            query_cpu_ms.append(cpu * 1000.0)
            n_released += cache.release_cached()
        pass_s.append(time.perf_counter() - t_pass)
        pass_cpu_s.append(tree_cpu_s() - cpu_pass)
        released.append(n_released)

    def execute(q: str) -> None:
        df = QUERIES[q](session.spark, SF_DIR)
        with tracer.span(f"sink.{q}"):
            df.write.format("noop").mode("overwrite").save()

    with tracer.span("session.warmup"):
        t0 = time.perf_counter()
        _check_against_oracle(session, tally, SF_DIR)
        warmup_s = time.perf_counter() - t0
    setup_s = session.get_spark_s + warmup_s

    tracer.measured = True
    start = time.perf_counter()
    while not pass_s or time.perf_counter() - start < seconds:
        one_pass()
    tracer.measured = False

    layers = {}
    if tracer.enabled:
        layers = {
            "session.get_spark_s": session.get_spark_s,
            "session.warmup_s": warmup_s,
            "corpus.plan_s": sum(
                s.end - s.start for s in tracer.select("queries.*")) / len(pass_s),
            "cache.build_s": sum(cache.BUILD_SECONDS.values()),
            "cache.builds": len(cache.BUILD_SECONDS),
            "cache.released_frames": statistics.fmean(released),
            "trace.spans_per_pass": len(tracer.select("*")) / len(pass_s),
            "trace.pass_cpu_s": statistics.median(pass_cpu_s),
        }
        for q in CORPUS_QUERIES:
            layers[f"corpus.query_s.{q}"] = tracer.median_s(f"corpus.{q}")
            layers[f"corpus.query_jobs.{q}"], _ = tracer.mean_counts(f"corpus.{q}")
    report = {"corpus": "perfbench/data/sf0.1", "warmup_s": warmup_s,
              "build_s": dict(cache.BUILD_SECONDS)}
    return Outcome(setup_s, pass_s, pass_cpu_s, query_ms, query_cpu_ms, layers, report)
