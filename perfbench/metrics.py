"""Names and units of every metric the benchmark prints.

``BENCHMARK.json`` at the repository root lists the same names; the
benchmark's tests keep the two in step. Every workload prints every name:
per-layer metrics of a layer the workload does not call read 0.
"""

from __future__ import annotations

GOLD_VIEWS = (
    "v_totals_by_year_type", "v_breed_stats", "v_fsa_top3_breeds",
    "v_fsa2_top3_breeds", "v_daily_totals", "v_breed_share_citywide",
    "v_breed_rank_citywide", "gold_quality", "v_bronze_health",
    "v_silver_health",
)

CORPUS_QUERIES = (
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "similarity_cosine_topk", "similarity_lsh_ann", "text_token_stats",
    "bm25_topk", "tfidf_top_terms", "winnow_fingerprints",
    "vocab_encode_docs",
)

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "pass_cpu_s": ("s", "lower", 0.25),
    "query_cpu_ms": ("ms", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.15),
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "runner.overhead_s": "s",
    "runner.attempts": "count",
    "ingest.bronze_s": "s",
    "ingest.bronze_jobs": "count",
    "ingest.bronze_tasks": "count",
    "ingest.rerun_s": "s",
    "ingest.rerun_jobs": "count",
    "ingest.self_s": "s",
    "refine.silver_s": "s",
    "refine.silver_jobs": "count",
    "refine.silver_tasks": "count",
    "refine.rerun_s": "s",
    "refine.rerun_jobs": "count",
    "refine.self_s": "s",
    "refdata.upsert_s": "s",
    "refdata.upsert_jobs": "count",
    "refdata.self_s": "s",
    "analytics.gold_stage_s": "s",
    "analytics.build_views_s": "s",
    **{f"analytics.view_s.{v}": "s" for v in GOLD_VIEWS},
    **{f"analytics.view_jobs.{v}": "count" for v in GOLD_VIEWS},
    "analytics.param_read_s": "s",
    "analytics.self_s": "s",
    "catalog.append_s": "s",
    "catalog.append_calls": "count",
    "catalog.table_s": "s",
    "catalog.table_calls": "count",
    "catalog.overwrite_s": "s",
    "catalog.data_files_per_day": "count",
    "catalog.bytes_per_row": "bytes",
    "catalog.log_bytes_per_commit": "bytes",
    "catalog.self_s": "s",
    **{f"corpus.query_s.{q}": "s" for q in CORPUS_QUERIES},
    **{f"corpus.query_jobs.{q}": "count" for q in CORPUS_QUERIES},
    "corpus.plan_s": "s",
    "cache.build_s": "s",
    "cache.builds": "count",
    "cache.released_frames": "count",
    "trace.spans_per_pass": "count",
    "trace.pass_cpu_s": "s",
}


def emit(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """The ``metrics`` object of the result line. End-to-end runs must
    supply every end-to-end name; traced runs supply what their layers
    measured and the rest reads 0. Unknown names are an error."""
    if trace:
        units = PER_LAYER
        values = {**dict.fromkeys(PER_LAYER, 0.0), **values}
    else:
        units = {k: u for k, (u, _, _) in END_TO_END.items()}
    unknown = set(values) - set(units)
    missing = set(units) - set(values)
    if unknown or missing:
        raise KeyError(f"metric names: unknown {sorted(unknown)}, missing {sorted(missing)}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def benchmark_spec(workloads: dict[str, str], run_seconds: int) -> dict:
    """The BENCHMARK.json document these tables describe."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": k, "why": v} for k, v in workloads.items()],
        "end_to_end": [
            {"name": k, "unit": u, "better": b, "bound": bound}
            for k, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": k, "unit": u, "better": "lower"} for k, u in PER_LAYER.items()
        ],
    }
