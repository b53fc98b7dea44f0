"""daily_etl: the reference's daily job and the dashboard that reads it.

One pass is one ingestion date, as the reference runs it
(Workflow/Daily_Licensed_Pets.yaml) followed by an analyst refreshing the
gold dashboard:

1. ``build_daily_pipeline(...).run(ingestion_date=d)`` on the new drop — the
   only step ``pass_cpu_s`` measures;
2. the same ``run`` again at once (the already-loaded skip path);
3. ``refdata.upsert_mapping`` with that date's batch of breed variants;
4. a dashboard refresh: every one of the 10 ``build_views`` frames read
   whole, plus parameterised reads (one FSA's top breeds, one breed's
   stats) over skewed keys — the samples of ``query_cpu_ms``.

Set-up loads date 0 (tables created, mapping seeded, JIT) with its run,
upsert and dashboard, and date 1 (the empty date) with its run and upsert,
so every timed pass is an ordinary date and commit history keeps growing
through the run. Re-runs start with the first timed date.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass
from datetime import datetime, time as dtime

from .gen import EMPTY_DAY, FSA_CODES, YEARS, PetsFeed, normalize_key, skewed, write_drop
from .harness import Outcome, Session, Tally
from .metrics import GOLD_VIEWS
from .trace import Tracer, self_time

# Sizes follow the reference's documented load (SURVEY.md, "Dataset size"):
# 173,937 Bronze rows of licences for 2023-2025, i.e. 159 a day. Every date
# brings one day's share; date 0 lands a hundredth of the whole load (about
# 11 days' worth), as a run's time budget does not fit the full load.
REFERENCE_ROWS = 173_937
FIRST_ROWS = REFERENCE_ROWS // 100
ROWS_PER_DAY = round(REFERENCE_ROWS / (3 * 365))
WARMUP_DAYS = 2  # date 0 and the empty date
PARAM_READS = 6
PARAM_BREEDS = ("GOLDEN RETRIEVER", "LABRADOR RETRIEVER", "POODLE", "BEAGLE",
                "HUSKY", "TABBY", "SIAMESE", "MAINE COON", "MIXED", "UNKNOWN")
FSA_QUERY = ("SELECT * FROM pets_gold_v_fsa_top3_breeds "
             "WHERE Year = :y AND ANIMAL_TYPE = :t AND FSA = :f")
BREED_QUERY = "SELECT * FROM pets_gold_v_breed_stats WHERE breed_standard = :b"


@dataclass
class Lake:
    raw: str
    catalog: object
    feed: PetsFeed


def _instrument(tracer: Tracer) -> None:
    from certified_dogs_and_cats_spark.pipeline import (
        Catalog, PipelineRunner, analytics, ingest, refdata, refine,
    )

    tracer.wrap(PipelineRunner, "run", "runner.run")
    # build_daily_pipeline imports the stage functions when called, so
    # patching the module attributes reaches every pipeline built later.
    tracer.wrap(ingest, "bronze_stage", "ingest.bronze_stage")
    tracer.wrap(refine, "silver_stage", "refine.silver_stage")
    tracer.wrap(analytics, "gold_stage", "analytics.gold_stage")
    tracer.wrap(analytics, "build_views", "analytics.build_views")
    tracer.wrap(refdata, "upsert_mapping", "refdata.upsert_mapping")
    for method in ("append", "table", "overwrite"):
        tracer.wrap(Catalog, method, f"catalog.{method}")


def _prepare(spark, root: str, seed: int) -> Lake:
    from certified_dogs_and_cats_spark.pipeline import Catalog
    from certified_dogs_and_cats_spark.pipeline.refdata import seed_rows

    raw = os.path.join(root, "raw", "licensed_pets")
    os.makedirs(raw)
    keys = {normalize_key(v) for v, _ in seed_rows()}
    feed = PetsFeed(seed, ROWS_PER_DAY, keys, first_rows=FIRST_ROWS)
    for i in range(WARMUP_DAYS):
        write_drop(raw, feed.drop(i))
    return Lake(raw, Catalog(spark, os.path.join(root, "warehouse")), feed)


class Day:
    """One pass over one ingestion date, with its output checks. Each step
    appends its wall time to its own sample list."""

    def __init__(self, session: Session, tracer: Tracer, tally: Tally, lake: Lake,
                 rng: random.Random) -> None:
        self.spark = session.spark
        self.tracer = tracer
        self.tally = tally
        self.lake = lake
        self.rng = rng
        self.reset()

    def reset(self) -> None:
        """Forget the samples taken so far (those of set-up)."""
        self.run_s: list[float] = []
        self.run_cpu_s: list[float] = []
        self.rerun_s: list[float] = []
        self.upsert_s: list[float] = []
        self.query_ms: list[float] = []
        self.query_cpu_ms: list[float] = []
        self.attempts: list[int] = []
        self.silver_rows = 0

    def run(self, i: int, rerun: bool = True, dashboard: bool = True) -> None:
        """The pass of date ``i``; set-up leaves out the steps it need not
        warm up."""
        from certified_dogs_and_cats_spark.pipeline import build_daily_pipeline, refdata

        lake, tally, tracer = self.lake, self.tally, self.tracer
        drop = lake.feed.drop(i)
        write_drop(lake.raw, drop)
        batch = self.spark.createDataFrame(
            list(drop.mapping_batch), "breed_variant_key STRING, breed_standard STRING")
        pipe = build_daily_pipeline(lake.catalog, lake.raw,
                                    clock=datetime.combine(drop.day, dtime(6)))
        steps = (("day", self.run_s), ("rerun", self.rerun_s))
        for phase, samples in steps if rerun else steps[:1]:
            tracer.phase = phase
            runs, dt, cpu = tally.op(f"{phase} {drop.day}", pipe.run, ingestion_date=drop.day)
            samples.append(dt)
            if phase == "day":
                self.run_cpu_s.append(cpu)
            self._check_runs(runs, drop, rerun=phase == "rerun")
        self.silver_rows += drop.silver_rows
        tracer.phase = "upsert"
        counts, dt, _ = tally.op(f"upsert {drop.day}", refdata.upsert_mapping, lake.catalog, batch)
        self.upsert_s.append(dt)
        n_keys = len(drop.mapping_batch)
        tally.check(counts is not None
                    and counts.get("inserted", 0) == drop.batch_inserts
                    and counts.get("updated", 0) == n_keys - drop.batch_inserts,
                    f"upsert {drop.day}: {counts} for {n_keys} keys, "
                    f"{drop.batch_inserts} new")
        if dashboard:
            tracer.phase = "dashboard"
            self._dashboard(drop.day)

    def _check_runs(self, runs, drop, rerun: bool) -> None:
        if drop.csv is None:
            want = {"bronze": ("skipped_no_files", 0), "silver": ("skipped_no_files", 0)}
        elif rerun:
            want = {"bronze": ("skipped_already_loaded", 0),
                    "silver": ("skipped_no_new_rows", 0)}
        else:
            want = {"bronze": ("loaded", drop.new_rows),
                    "silver": ("loaded", drop.silver_rows)}
        if runs is None:
            return  # the failed run() is already counted
        self.attempts.append(sum(r.attempts for r in runs.values()))
        got = {k: (r.state, r.result.status if r.result else None,
                   r.result.rows if r.result else None) for k, r in runs.items()}
        ok = all(state == "succeeded" for state, _, _ in got.values()) and all(
            got[k][1:] == v for k, v in want.items())
        self.tally.check(ok, f"{'rerun' if rerun else 'run'} {drop.day}: {got}, want {want}")

    def _read(self, label: str, span: str, fn):
        with self.tracer.span(span):
            rows, dt, cpu = self.tally.op(label, fn)
        self.query_ms.append(dt * 1000.0)
        self.query_cpu_ms.append(cpu * 1000.0)
        return rows

    def _dashboard(self, day) -> None:
        spark, rng = self.spark, self.rng
        views = list(GOLD_VIEWS)
        rng.shuffle(views)
        got = {}
        for v in views:
            got[v] = self._read(f"read {v} {day}", f"read.view.{v}",
                                lambda: spark.table(f"pets_gold_{v}").collect())
        # Half of the reads of each kind, so every pass has the same mix;
        # only the keys are drawn.
        for k in range(PARAM_READS):
            if k % 2 == 0:
                args = {"y": rng.choice(YEARS), "t": rng.choice(("DOG", "CAT")),
                        "f": skewed(rng, FSA_CODES)}
                query = FSA_QUERY
            else:
                args = {"b": skewed(rng, PARAM_BREEDS, 1.0)}
                query = BREED_QUERY
            self._read(f"param read {args} {day}", "read.param",
                       lambda: spark.sql(query, args=args).collect())
        feed = self.lake.feed
        totals = got["v_totals_by_year_type"]
        self.tally.check(
            totals is not None
            and {(r["Year"], r["ANIMAL_TYPE"]): r["cnt"] for r in totals} == feed.expected_totals(),
            f"v_totals_by_year_type {day} differs from the generator's counts")
        health = got["v_silver_health"]
        want = feed.expected_silver_health()
        self.tally.check(
            health is not None and {k: health[0][k] for k in want} == want,
            f"v_silver_health {day}: {health and health[0].asDict()}, want {want}")


def run(session: Session, tracer: Tracer, tally: Tally, work: str, seed: int,
        seconds: float) -> Outcome:
    _instrument(tracer)
    t0 = time.perf_counter()
    lake = _prepare(session.spark, os.path.join(work, "lake"), seed)
    prepare_s = time.perf_counter() - t0

    day = Day(session, tracer, tally, lake, random.Random(f"dashboard:{seed}"))
    with tracer.span("session.warmup"):
        t0 = time.perf_counter()
        for i in range(WARMUP_DAYS):
            # Date 0's dashboard warms the reads up; the empty date needs none.
            day.run(i, rerun=False, dashboard=i != EMPTY_DAY)
        warmup_s = time.perf_counter() - t0
    setup_s = session.get_spark_s + prepare_s + warmup_s

    day.reset()
    tracer.measured = True
    i = WARMUP_DAYS
    start = time.perf_counter()
    while not day.run_s or time.perf_counter() - start < seconds:
        day.run(i)
        i += 1
    tracer.measured = False

    silver = lake.catalog.table("core.licensed_pets_silver").count()
    tally.check(silver == len(lake.feed.silver),
                f"final Silver count {silver}, generator expects {len(lake.feed.silver)}")

    layers = {}
    if tracer.enabled:
        layers = _layers(tracer, lake, day)
        layers["session.get_spark_s"] = session.get_spark_s
        layers["session.warmup_s"] = warmup_s
    report = {
        "first_date_rows": FIRST_ROWS, "rows_per_date": ROWS_PER_DAY,
        "dates_loaded": i, "silver_rows": silver,
        "prepare_s": prepare_s, "warmup_s": warmup_s,
        "samples": len(day.run_s),
        "etl_rerun_p50_s": statistics.median(day.rerun_s),
        "mapping_upsert_p50_s": statistics.median(day.upsert_s),
        "etl_rows_per_s": day.silver_rows / sum(day.run_s),
    }
    return Outcome(setup_s, day.run_s, day.run_cpu_s, day.query_ms, day.query_cpu_ms,
                   layers, report)


def _layers(tracer: Tracer, lake: Lake, day: Day) -> dict[str, float]:
    passes = len(day.run_s)
    kids = tracer.children()
    runs = tracer.select("runner.run", "day")
    out = {
        "runner.overhead_s": statistics.median(
            self_time(s, kids.get(s.id, [])) for s in runs) if runs else 0.0,
        "runner.attempts": statistics.fmean(day.attempts) if day.attempts else 0.0,
        "ingest.bronze_s": tracer.median_s("ingest.bronze_stage", "day"),
        "ingest.rerun_s": tracer.median_s("ingest.bronze_stage", "rerun"),
        "refine.silver_s": tracer.median_s("refine.silver_stage", "day"),
        "refine.rerun_s": tracer.median_s("refine.silver_stage", "rerun"),
        "refdata.upsert_s": tracer.median_s("refdata.upsert_mapping", "upsert"),
        "analytics.gold_stage_s": tracer.median_s("analytics.gold_stage", "day"),
        "analytics.build_views_s": tracer.median_s("analytics.build_views"),
        "analytics.param_read_s": tracer.median_s("read.param"),
        "catalog.append_s": tracer.median_s("catalog.append"),
        "catalog.append_calls": len(tracer.select("catalog.append", "day")) / passes,
        "catalog.table_s": tracer.median_s("catalog.table"),
        "catalog.table_calls": len(tracer.select("catalog.table")) / passes,
        "catalog.overwrite_s": tracer.median_s("catalog.overwrite"),
        "trace.spans_per_pass": len(tracer.select("*")) / passes,
        "trace.pass_cpu_s": statistics.median(day.run_cpu_s),
    }
    for layer in ("ingest", "refine", "refdata", "analytics", "catalog"):
        out[f"{layer}.self_s"] = tracer.self_s(f"{layer}.*") / passes
    out["ingest.bronze_jobs"], out["ingest.bronze_tasks"] = tracer.mean_counts(
        "ingest.bronze_stage", "day")
    out["ingest.rerun_jobs"], _ = tracer.mean_counts("ingest.bronze_stage", "rerun")
    out["refine.silver_jobs"], out["refine.silver_tasks"] = tracer.mean_counts(
        "refine.silver_stage", "day")
    out["refine.rerun_jobs"], _ = tracer.mean_counts("refine.silver_stage", "rerun")
    out["refdata.upsert_jobs"], _ = tracer.mean_counts("refdata.upsert_mapping", "upsert")
    for v in GOLD_VIEWS:
        out[f"analytics.view_s.{v}"] = tracer.median_s(f"read.view.{v}")
        out[f"analytics.view_jobs.{v}"], _ = tracer.mean_counts(f"read.view.{v}")
    out.update(_storage(lake))
    return out


def _storage(lake: Lake) -> dict[str, float]:
    """Live files and bytes of Bronze and Silver (what a read opens), and
    the size of the commit log."""
    cat = lake.catalog
    files = 0
    silver_bytes = 0
    for name in ("core.licensed_pets_bronze", "core.licensed_pets_silver"):
        live = cat.files_metadata(name).select("size_bytes").collect()
        files += len(live)
        if name.endswith("silver"):
            silver_bytes = sum(r.size_bytes or 0 for r in live)
    log_bytes = 0
    for name in cat.tables:
        # The commit log of a table: _meta/<table path>/commits/ under the root.
        commits_dir = os.path.join(cat.root, "_meta", *name.split("."), "commits")
        for dirpath, _, names in os.walk(commits_dir):
            log_bytes += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    commits = sum(len(cat.history(name)) for name in cat.tables)
    return {
        "catalog.data_files_per_day": files / max(lake.feed.loaded_dates(), 1),
        "catalog.bytes_per_row": silver_bytes / max(len(lake.feed.silver), 1),
        "catalog.log_bytes_per_commit": log_bytes / max(commits, 1),
    }
