"""Interchange-format coverage under the oracle gate."""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import date

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.partitioning import spread
from .common import t
from .registry import query


@query(
    "export_roundtrip_orc",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS total_price,
           CAST(min(o_orderdate) AS DATE) AS first_day
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def export_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink round trip: write orders through the ORC export
    (zstd-compressed columnar, stripe-statistics footers), read the
    export BACK with Spark's ORC reader, and aggregate the round-tripped
    rows — a green row proves the columnar encode/decode is lossless for
    numeric, string, and date types alike. The money sum is
    DECIMAL-exact on both sides so the hash can't wobble on fold
    order."""
    from ..pipeline.export import export_view_orc

    orders = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_totalprice",
        # store a true DATE column in the ORC (the source testdata column
        # is a timestamp) so the round trip covers the date type
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    root = tempfile.mkdtemp(prefix="orc_export_rt_")
    try:
        out = export_view_orc(
            orders, root, "orders_feed", date(2026, 1, 1)
        )
        back = spark.read.orc(out)
        agg = back.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_price"),
            F.min("o_orderdate").alias("first_day"),
        )
        return spark.createDataFrame(agg.collect(), agg.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


FUZZY_MAX_BLOCK = 16


@query(
    "fuzzy_name_pairs",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, p_name, p_brand, p_size,
             CAST(floor((row_number() OVER (
               PARTITION BY p_brand, p_size
               ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST
             ) - 1) / {FUZZY_MAX_BLOCK}) AS INTEGER) AS sub
      FROM part
    ),
    pairs AS (
      SELECT a.p_brand,
             levenshtein(a.p_name, b.p_name) AS dist
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.sub = b.sub
       AND a.p_partkey < b.p_partkey
       AND abs(len(a.p_name) - len(b.p_name)) <= 12
      WHERE levenshtein(a.p_name, b.p_name) <= 12
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(dist) AS INTEGER) AS min_dist,
           CAST(sum(dist) AS BIGINT) AS dist_sum
    FROM pairs GROUP BY 1
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant fuzzy matching at scale (extensions.dedup.
    blocked_edit_distance_pairs): Levenshtein refinement over
    (brand, size)-blocked candidates — never all-pairs; the
    length-difference bound prunes inside the join condition before the
    quadratic distance runs. Blocks are CAPPED at FUZZY_MAX_BLOCK rows
    via sorted sub-blocking (fixed-cardinality keys fill linearly with
    the corpus, so uncapped in-block pairs grow quadratically — the sf1
    probe measured 100x candidates per 10x rows; the cap makes per-block
    work n * FUZZY_MAX_BLOCK, linear). The sub-block rank order is total,
    so the oracle replays the identical candidate set; Levenshtein is
    integer-exact on both engines, so every distance is hash-pinned."""
    from ..extensions.dedup import blocked_edit_distance_pairs

    p = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pid"), "p_name", "p_brand", "p_size"
    )
    pairs = blocked_edit_distance_pairs(
        p,
        "pid",
        "p_name",
        ["p_brand", "p_size"],
        max_dist=12,
        max_block=FUZZY_MAX_BLOCK,
    )
    # the block key rides along on every pair — no re-join needed
    return (
        pairs.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("dist").cast("int").alias("min_dist"),
            F.sum("dist").cast("bigint").alias("dist_sum"),
        )
    )


# The hash-critical shingle CTE has ONE definition (queries/dedup.py) —
# only the QUERY registration had to live in this later-imported module,
# not the oracle SQL.
from .dedup import _SHINGLES_CTE  # noqa: E402

PPJOIN_THRESHOLD = 0.5


@query(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           CAST(inter AS BIGINT) AS inter,
           CAST(sa.n + sb.n - inter AS BIGINT) AS "union",
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)
          >= {PPJOIN_THRESHOLD}
    """,
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-family set-similarity join (extensions.dedup.
    prefix_filter_jaccard_pairs): prefix filtering is LOSSLESS — unlike
    dedup_ngram_jaccard's df-cap heuristic, the oracle here is the
    uncapped exact all-pairs computation, and the prefix-filtered plan
    must reproduce it row-for-row. Candidates join only on each set's
    rarest tokens (prefix length n - ceil(t*n) + 1), the integer size
    bound prunes inside the join, and survivors verify with one map-side
    array_intersect."""
    from ..extensions.dedup import prefix_filter_jaccard_pairs
    from .dedup import shingles3

    sh = shingles3(spark, sf_dir)
    return prefix_filter_jaccard_pairs(sh, "doc_id", PPJOIN_THRESHOLD)


FUNNEL_GAP_HOURS = 6


@query(
    "sequence_match_funnel",
    oracle=f"""
    WITH v AS (
      SELECT user_id,
             first(struct_pack(ts := ts, eid := event_id)
                   ORDER BY ts, event_id)
               FILTER (WHERE event_type = 'view') AS vkey
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT e.user_id,
             first(struct_pack(ts := e.ts, eid := e.event_id)
                   ORDER BY e.ts, e.event_id) AS ckey
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND v.vkey IS NOT NULL
        AND struct_pack(ts := e.ts, eid := e.event_id) > v.vkey
        AND e.ts <= v.vkey.ts + INTERVAL {FUNNEL_GAP_HOURS} HOUR
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id,
             first(struct_pack(ts := e.ts, eid := e.event_id)
                   ORDER BY e.ts, e.event_id) AS pkey
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase'
        AND struct_pack(ts := e.ts, eid := e.event_id) > c.ckey
        AND e.ts <= c.ckey.ts + INTERVAL {FUNNEL_GAP_HOURS} HOUR
      GROUP BY 1
    )
    SELECT CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                WHEN v.vkey IS NOT NULL THEN 1
                ELSE 0 END AS INTEGER) AS depth,
           CAST(count(*) AS BIGINT) AS n_users
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    GROUP BY 1
    """,
)
def sequence_match_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-step funnel with a per-step time bound (the
    sequence-match operator product analytics engines ship): how deep
    does each user get through view -> click -> purchase when every next
    step must land within {gap}h of the previous one? FIRST-TOUCH
    anchoring, documented: the funnel anchors at the user's earliest
    view, then the earliest qualifying click, then the earliest
    qualifying purchase — a well-defined product-analytics semantic
    (NOT maximal matching: a later view that would complete the chain
    does not resurrect it), identical in both engines because every
    step is a min over (ts, event_id) structs — total order, no ties.
    Three narrow per-type aggregates + two key-wise joins; nothing
    touches the full event stream more than once per step."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.struct(F.col("ts"), F.col("event_id").alias("eid")).alias("k"),
    )
    gap = F.expr(f"INTERVAL {FUNNEL_GAP_HOURS} HOURS")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("k").alias("vkey"))
    )
    allv = ev.select("user_id").distinct().join(v, "user_id", "left")
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("k") > F.col("vkey"))
            & (F.col("k.ts") <= F.col("vkey.ts") + gap)
        )
        .groupBy("user_id")
        .agg(F.min("k").alias("ckey"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("k") > F.col("ckey"))
            & (F.col("k.ts") <= F.col("ckey.ts") + gap)
        )
        .groupBy("user_id")
        .agg(F.min("k").alias("pkey"))
    )
    depth = (
        F.when(F.col("pkey").isNotNull(), 3)
        .when(F.col("ckey").isNotNull(), 2)
        .when(F.col("vkey").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        allv.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(depth.cast("int").alias("depth"))
        .groupBy("depth")
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "per_group_ols_trend",
    oracle="""
    WITH x AS (
      SELECT event_type,
             CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS h,
             value AS y
      FROM events WHERE value IS NOT NULL
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(h) AS BIGINT) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
             CAST(sum(CAST(h * h AS DECIMAL(38,0))) AS DOUBLE) AS sxxd,
             CAST(sum(CAST(h AS DECIMAL(38,9)) * CAST(y AS DECIMAL(38,9)))
                  AS DOUBLE) AS sxy
      FROM x GROUP BY 1
    )
    SELECT event_type, n,
           CASE WHEN nd * sxxd - sxd * sxd != 0.0
                THEN round((nd * sxy - sxd * sy) / (nd * sxxd - sxd * sxd),
                           9) END AS slope_per_hour,
           CASE WHEN nd * sxxd - sxd * sxd != 0.0
                THEN round((sy - ((nd * sxy - sxd * sy)
                                  / (nd * sxxd - sxd * sxd)) * sxd) / nd,
                           6) END AS intercept
    FROM (SELECT *,
                 CAST(n AS DOUBLE) AS nd,
                 CAST(sx AS DOUBLE) AS sxd
          FROM stats)
    """,
)
def per_group_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed model fitting done the way 100 TB demands: per-group
    OLS (value vs. epoch-hour) via SUFFICIENT STATISTICS — five map-side
    partial sums per group (n, Σx, Σy, Σx², Σxy), then the closed-form
    slope/intercept on the driver-sized aggregate. No per-group collect,
    no Python, state O(groups). Σy and Σxy fold through exact DECIMAL
    sums (x is integer, y decimal-widened) so the statistics are
    order-independent; the final division is shared IEEE arithmetic,
    rounded to absorb nothing — it is deterministic, the rounding just
    keeps the printed precision stable."""
    x = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
            F.col("value").alias("y"),
        )
    )
    yd = F.col("y").cast("decimal(38,9)")
    stats = x.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("h").cast("bigint").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        # h*h fits BIGINT (epoch-hour squared ~ 2.4e11) but its SUM does
        # not beyond ~38M rows/group — aggregate in DECIMAL like sxy.
        F.sum((F.col("h") * F.col("h")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxxd"),
        F.sum(F.col("h").cast("decimal(38,9)") * yd)
        .cast("double")
        .alias("sxy"),
    )
    # All arithmetic in DOUBLE on both engines: the sufficient statistics
    # stay exact through aggregation, then convert ONCE (IEEE round-to-
    # nearest, identical cross-engine). Zero x-variance (e.g. n=1 groups)
    # yields NULL slope/intercept on both sides — ANSI Spark would throw
    # DIVIDE_BY_ZERO where DuckDB returns inf, so the guard is part of
    # the cross-engine contract, not cosmetics.
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy, sxy, sxx = F.col("sy"), F.col("sxy"), F.col("sxxd")
    denom = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / denom
    guard = denom != F.lit(0.0)
    return stats.select(
        "event_type",
        "n",
        F.when(guard, F.round(slope, 9)).alias("slope_per_hour"),
        F.when(guard, F.round((sy - slope * sx) / n, 6)).alias("intercept"),
    )


@query(
    "sorted_export_attest",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS total_rows,
           TRUE AS multiple_files,
           TRUE AS ranges_disjoint,
           CAST(min(o_orderkey) AS BIGINT) AS first_key,
           CAST(max(o_orderkey) AS BIGINT) AS last_key
    FROM orders
    """,
)
def sorted_export_attest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TOTAL-ORDER sort, attested from the written files:
    range-repartition on the sort key (sampled boundaries — the only
    scalable global sort; a single-partition orderBy is the anti-
    pattern), sort within partitions, write, then READ BACK and prove
    the files' key ranges are pairwise disjoint and internally ordered —
    i.e. concatenating files in range order IS the globally sorted
    dataset. The oracle pins the run-invariants (row count, disjointness
    verdict, global extremes); per-file boundaries are sampling-
    dependent by design and never surface in the result."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = tempfile.mkdtemp(prefix="sorted_export_")
    try:
        (
            orders.repartitionByRange(8, "o_orderkey")
            .sortWithinPartitions("o_orderkey")
            .write.mode("overwrite")
            .parquet(root)
        )
        back = spark.read.parquet(root).select(
            "o_orderkey", F.input_file_name().alias("f")
        )
        per_file = back.groupBy("f").agg(
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
            F.count("*").alias("n"),
        )
        rows = sorted(per_file.collect(), key=lambda r: r.lo)
        disjoint = all(
            rows[i].hi < rows[i + 1].lo for i in range(len(rows) - 1)
        )
        total = sum(r.n for r in rows)
        return spark.createDataFrame(
            [
                (
                    total,
                    len(rows) > 1,
                    disjoint,
                    int(rows[0].lo),
                    int(rows[-1].hi),
                )
            ],
            "total_rows bigint, multiple_files boolean, "
            "ranges_disjoint boolean, first_key bigint, last_key bigint",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (PARTITION BY prev_type), 9)
             AS p_next
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    one lag window per user (total (ts, event_id) order — no ties, so
    the chain is engine-identical), one hash aggregate on the
    (prev, next) pair, row-normalized into transition probabilities with
    a second tiny window over the 5x5 matrix. The per-user window is the
    only data-sized shuffle; the matrix itself is O(|types|^2). The
    probability is a ratio of exact integer counts — IEEE-deterministic,
    rounded only to pin printed precision."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
        )
        .select(
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
    )
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n_transitions")
    )
    norm = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(norm),
            9,
        ).alias("p_next"),
    )


@query(
    "storage_column_sizes",
    oracle="""
    SELECT c.column_name,
           CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_values,
           TRUE AS bytes_positive,
           TRUE AS expansion_bounded
    FROM information_schema.columns c
    WHERE c.table_name = 'documents'
    """,
)
def storage_column_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column storage attribution from parquet FOOTERS (pipeline.
    skipping.column_storage_stats — zero data pages read): which column
    pays for the bytes, and how well it compresses. The driver oracle
    pins the SQL-derivable invariants (every schema column present,
    footer value counts == row count, byte counters positive, codec
    expansion within the semantic worst-case bound); the EXACT chunk-size integers are
    pinned in pytest against DuckDB's parquet_metadata() over the same
    file, where the path is in hand (tests/test_storage_report.py)."""
    from ..pipeline.skipping import column_storage_stats

    stats = column_storage_stats(os.path.join(sf_dir, "documents.parquet"))
    rows = [
        (
            c,
            v["n_values"],
            v["compressed_bytes"] > 0,
            # SEMANTIC bound, not a data-dependent one: codec worst-case
            # expansion is a few percent plus per-page overhead, so 1.5x
            # + 64KB holds for ANY data (high-entropy columns may not
            # compress, but they cannot blow past this).
            v["compressed_bytes"]
            <= 1.5 * v["uncompressed_bytes"] + 65536,
        )
        for c, v in sorted(stats.items())
    ]
    return spark.createDataFrame(
        rows,
        "column_name string, n_values bigint, bytes_positive boolean, "
        "expansion_bounded boolean",
    )


@query(
    "seasonal_decompose_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    tr AS (
      SELECT d, y,
             CASE WHEN count(*) OVER w = 7 THEN
               CAST(sum(CAST(y AS DECIMAL(38,9))) OVER w AS DOUBLE) / 7
             END AS trend
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT d, y, trend, y - trend AS detr,
             CAST(dayofweek(d) AS INTEGER) AS dow
      FROM tr
    ),
    seas AS (
      SELECT dow,
             CAST(sum(CAST(detr AS DECIMAL(38,9))) AS DOUBLE)
               / count(detr) AS seasonal
      FROM det WHERE detr IS NOT NULL GROUP BY 1
    )
    SELECT det.d, round(det.y, 6) AS y,
           round(det.trend, 6) AS trend,
           round(seas.seasonal, 6) AS seasonal,
           round(det.detr - seas.seasonal, 6) AS remainder
    FROM det JOIN seas USING (dow)
    WHERE det.trend IS NOT NULL
    """,
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (STL-lite) of the daily value
    series: trend = centered 7-day moving average (full windows only),
    seasonal = per-weekday mean of the detrended series, remainder =
    what neither explains. Every mean folds an exact DECIMAL sum before
    one IEEE division, so the decomposition is bit-stable across
    engines and partitionings; the edge days without a full trend
    window are excluded rather than padded (no silent partial-window
    bias). One global-ordered window over the DAYS (years x 365 rows —
    driver-scale, never event-scale) after one hash aggregate over
    events."""
    daily = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(38,9)"))
            .cast("double")
            .alias("y")
        )
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trend = F.when(
        F.count("*").over(w) == 7,
        F.sum(F.col("y").cast("decimal(38,9)")).over(w).cast("double") / 7,
    )
    det = daily.select(
        "d",
        "y",
        trend.alias("trend"),
        (F.col("y") - trend).alias("detr"),
        F.dayofweek("d").cast("int").alias("dow"),
    )
    seas = (
        det.where(F.col("detr").isNotNull())
        .groupBy("dow")
        .agg(
            (
                F.sum(F.col("detr").cast("decimal(38,9)")).cast("double")
                / F.count("detr")
            ).alias("seasonal")
        )
    )
    return (
        det.join(F.broadcast(seas), "dow")
        .where(F.col("trend").isNotNull())
        .select(
            "d",
            F.round("y", 6).alias("y"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(F.col("detr") - F.col("seasonal"), 6).alias("remainder"),
        )
    )


@query(
    "holt_linear_forecast",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, list(y ORDER BY d) AS ys FROM daily GROUP BY 1
    ),
    fit AS (
      SELECT event_type, len(ys) AS n_days,
             list_reduce(
               list_prepend([ys[1], ys[2] - ys[1]],
                            list_transform(ys[2:], y -> [y, 0.0])),
               (acc, x) -> [
                 0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                 0.25 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                   + 0.75 * acc[2]
               ]
             ) AS lb
      FROM series WHERE len(ys) >= 2
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           round(lb[1], 6) AS level, round(lb[2], 6) AS trend,
           round(lb[1] + 7 * lb[2], 6) AS forecast_7d
    FROM fit
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend) per
    series, as a SEQUENTIAL FOLD over each key's day-ordered values —
    the per-key state is two doubles, never the series, so a million
    keys fit one pass. Initialization l=y1, b=y2-y1, then
    l' = a*y + (1-a)(l+b), b' = B*(l'-l) + (1-B)*b with a=0.5, B=0.25
    (dyadic constants: every multiply is exact, and the fold order is
    the day order on BOTH engines, so level/trend/forecast are
    bit-identical before the display rounding). Forecast = l + 7*b.
    The daily reduction is the only event-scale work; the fold runs on
    day-count-sized arrays."""
    daily = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(38,9)"))
            .cast("double")
            .alias("y")
        )
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("d", "y")))
        .getField("y")
        .alias("ys")
    )
    ys = F.col("ys")
    seed = F.struct(
        F.element_at(ys, 1).alias("l"),
        (F.element_at(ys, 2) - F.element_at(ys, 1)).alias("b"),
    )
    rest = F.slice(ys, 2, F.greatest(F.size(ys) - 1, F.lit(0)))

    def step(acc, y):
        level = F.lit(0.5) * y + F.lit(0.5) * (acc["l"] + acc["b"])
        trend = (
            F.lit(0.25) * (level - acc["l"]) + F.lit(0.75) * acc["b"]
        )
        return F.struct(level.alias("l"), trend.alias("b"))

    fit = series.where(F.size(ys) >= 2).select(
        "event_type",
        F.size(ys).cast("bigint").alias("n_days"),
        F.aggregate(rest, seed, step).alias("lb"),
    )
    return fit.select(
        "event_type",
        "n_days",
        F.round(F.col("lb.l"), 6).alias("level"),
        F.round(F.col("lb.b"), 6).alias("trend"),
        F.round(F.col("lb.l") + F.lit(7) * F.col("lb.b"), 6).alias(
            "forecast_7d"
        ),
    )


@query(
    "token_diversity_profile",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    tc AS (
      SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2
    ),
    perdoc AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(CAST(c AS DOUBLE) * c AS DECIMAL(38,6)))
                  AS DOUBLE) AS sum_c2
      FROM tc GROUP BY 1
    ),
    g AS (
      SELECT doc_id, n,
             1.0 - sum_c2 / (CAST(n AS DOUBLE) * n) AS gini,
             (CAST(n AS DOUBLE) * n) / sum_c2 AS eff_vocab
      FROM perdoc
    )
    SELECT CAST(floor(gini * 10) AS INTEGER) AS gini_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(CAST(sum(CAST(eff_vocab AS DECIMAL(24,9))) AS DOUBLE)
                / count(*) AS DOUBLE) AS mean_eff_vocab
    FROM g GROUP BY 1
    """,
)
def token_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signal, log-free by design: per-doc
    Gini impurity 1 - sum(p_i^2) and the inverse-Simpson effective
    vocabulary n^2 / sum(c_i^2) — the same repetition/diversity signal
    Shannon entropy gives, but every term is a ratio of exact integers
    (c_i^2 sums exactly in DECIMAL), so the profile is bit-identical
    cross-engine where a log2-based entropy would wobble in the last
    ulp. ZERO pre-histogram shuffles on the Spark side (the oracle's
    unnest+group replay is free to differ — semantics, not plan, is the
    contract): the grouping key would be the row key, so sum(c_i^2)
    folds map-side over each row's SORTED token array as run lengths —
    the same rewrite that took token_stats off the exploded-stream
    anti-pattern. The histogram is O(10) rows."""
    sorted_toks = F.array_sort(F.split(F.col("text"), " "))
    # Fold sorted tokens into (prev, run, sumsq); the finish lambda
    # closes the last run. Linear in tokens, zero shuffle.
    sumsq = F.aggregate(
        sorted_toks,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("acc"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(a["prev"]), a["run"] + 1)
            .otherwise(F.lit(1).cast("bigint"))
            .alias("run"),
            F.when(x.eqNullSafe(a["prev"]), a["acc"])
            .otherwise(a["acc"] + a["run"] * a["run"])
            .alias("acc"),
        ),
        lambda a: a["acc"] + a["run"] * a["run"],
    )
    perdoc = (
        spread(t(spark, sf_dir, "documents"))
        .where(F.col("text").isNotNull())
        .select(
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n"),
            sumsq.cast("double").alias("sum_c2"),
        )
    )
    nd = F.col("n").cast("double")
    g = perdoc.select(
        "n",
        (F.lit(1.0) - F.col("sum_c2") / (nd * nd)).alias("gini"),
        ((nd * nd) / F.col("sum_c2")).alias("eff_vocab"),
    )
    return g.groupBy(
        F.floor(F.col("gini") * 10).cast("int").alias("gini_bucket")
    ).agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.col("eff_vocab").cast("decimal(24,9)")).cast("double")
            / F.count("*")
        ).alias("mean_eff_vocab"),
    )


N_BINS = 10


@query(
    "quantile_binning_equiheight",
    oracle=f"""
    WITH b AS (
      SELECT list_transform(
               quantile_cont(o_totalprice,
                             [x / {N_BINS}.0 FOR x IN range(1, {N_BINS})]),
               q -> round(q, 6)
             ) AS qs
      FROM orders
    ),
    binned AS (
      SELECT len(list_filter(b.qs, q -> o.o_totalprice > q)) AS bin
      FROM orders o CROSS JOIN b
    )
    SELECT CAST(bin AS INTEGER) AS bin,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM binned GROUP BY 1
    """,
)
def quantile_binning_equiheight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height feature discretization (the quantile binning every
    tabular-ML pipeline runs before training): exact interpolated
    decile boundaries (one aggregate — at 100 TB swap in the
    approx_percentile sketch, same shape), broadcast back onto the
    scan, bin = number of boundaries below the value. Boundaries are
    rounded to 6dp BEFORE assignment on both engines, so a row
    compares against bit-identical cut points and the bucket histogram
    hash-matches; the histogram itself proves the equi-height property
    (bins within one row of n/10)."""
    o = t(spark, sf_dir, "orders").select("o_totalprice")
    probs = [i / N_BINS for i in range(1, N_BINS)]
    qs = o.agg(
        F.transform(
            F.percentile(
                F.col("o_totalprice"), F.array(*[F.lit(p) for p in probs])
            ),
            lambda q: F.round(q, 6),
        ).alias("qs")
    )
    binned = o.crossJoin(F.broadcast(qs)).select(
        F.size(
            F.filter(F.col("qs"), lambda q: F.col("o_totalprice") > q)
        ).alias("bin")
    )
    return binned.groupBy(F.col("bin").cast("int").alias("bin")).agg(
        F.count("*").alias("n_rows")
    )


@query(
    "impute_missing_features",
    oracle="""
    WITH masked AS (
      SELECT event_type,
             CASE WHEN (('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                        1, 8))::BIGINT % 10) = 0
                  THEN NULL ELSE value END AS v
      FROM events
    ),
    fill AS (
      SELECT event_type,
             CAST(sum(CAST(v AS DECIMAL(38,9))) AS DOUBLE) / count(v)
               AS fill_mean
      FROM masked GROUP BY 1
    )
    SELECT m.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(m.v) AS BIGINT) AS n_imputed,
           round(f.fill_mean, 6) AS fill_mean,
           round(CAST(sum(CAST(coalesce(m.v, f.fill_mean)
                                AS DECIMAL(38,9))) AS DOUBLE), 6)
             AS imputed_total
    FROM masked m JOIN fill f USING (event_type)
    GROUP BY 1, f.fill_mean
    """,
)
def impute_missing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean null imputation (the standard tabular-ML feature-prep
    step) with missingness synthesized DETERMINISTICALLY (md5 of the id,
    10%) so the math is provable on the clean testdata: the fill value
    is the group's non-null mean (DECIMAL-folded — order-independent),
    broadcast back onto the rows, and the imputed totals are
    DECIMAL-summed so the whole pipeline hash-matches. One aggregate +
    one broadcast join — no per-row Python, no second pass over the
    unimputed column. The mask reuses the repo's canonical md5 bucket
    (extensions.sampling.hash_bucket, 32-bit convention)."""
    from ..extensions.sampling import hash_bucket

    masked = t(spark, sf_dir, "events").select(
        "event_type",
        F.when(hash_bucket("event_id", 10) == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    fill = masked.groupBy("event_type").agg(
        (
            F.sum(F.col("v").cast("decimal(38,9)")).cast("double")
            / F.count("v")
        ).alias("fill_mean")
    )
    return (
        masked.join(F.broadcast(fill), "event_type")
        .groupBy("event_type", "fill_mean")
        .agg(
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count("v")).alias("n_imputed"),
            F.round(
                F.sum(
                    F.coalesce(F.col("v"), F.col("fill_mean")).cast(
                        "decimal(38,9)"
                    )
                ).cast("double"),
                6,
            ).alias("imputed_total"),
        )
        .select(
            "event_type",
            "n_rows",
            "n_imputed",
            F.round("fill_mean", 6).alias("fill_mean"),
            "imputed_total",
        )
    )


IDX_MIN_DF = 40


@query(
    "inverted_index_stats",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    postings AS (
      SELECT tok, list(doc_id ORDER BY doc_id) AS plist,
             count(*) AS df
      FROM tok GROUP BY 1
    )
    SELECT tok, CAST(df AS BIGINT) AS df,
           plist[1] AS first_doc,
           plist[len(plist)] AS last_doc,
           CAST(list_sum(list_transform(range(2, len(plist) + 1),
                                        i -> plist[i] - plist[i-1]))
                + plist[1] AS BIGINT) AS delta_checksum,
           CAST(list_max(list_transform(range(2, len(plist) + 1),
                                        i -> plist[i] - plist[i-1]))
                AS BIGINT) AS max_gap
    FROM postings WHERE df >= {IDX_MIN_DF}
    """,
)
def inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (the search/retrieval primitive):
    doc-sorted posting lists per token, DELTA-ENCODED — the gap form is
    what compresses (small positive ints instead of raw ids) and what
    this query attests: the delta checksum (first id + sum of gaps)
    must reconstruct the last id, and max_gap bounds the varint width a
    real codec would need. One explode + one token-keyed aggregate;
    posting arrays live only inside their own group, never collected.
    Restricted to df >= {IDX_MIN_DF} tokens so the result is the
    hot-vocabulary index head, not the full vocab dump."""
    from ..extensions.text import tokens

    tok = tokens(
        t(spark, sf_dir, "documents"), "doc_id", "text"
    ).distinct()
    postings = tok.groupBy("tok").agg(
        F.array_sort(F.collect_list("doc_id")).alias("plist"),
        F.count("*").alias("df"),
    )
    deltas = F.transform(
        F.sequence(F.lit(2), F.size("plist")),
        lambda i: F.element_at(F.col("plist"), i)
        - F.element_at(F.col("plist"), i - F.lit(1)),
    )
    return postings.where(F.col("df") >= IDX_MIN_DF).select(
        "tok",
        F.col("df").cast("bigint").alias("df"),
        F.element_at("plist", 1).alias("first_doc"),
        F.element_at(F.col("plist"), F.size("plist")).alias("last_doc"),
        (
            F.aggregate(deltas, F.lit(0).cast("bigint"), lambda a, x: a + x)
            + F.element_at("plist", 1)
        )
        .cast("bigint")
        .alias("delta_checksum"),
        F.array_max(deltas).cast("bigint").alias("max_gap"),
    )


# Sorted-neighborhood width for record linkage candidates: each record
# pairs with its RL_WINDOW successors in (name, partkey) order WITHIN its
# (brand, size-band) block — N*RL_WINDOW candidates, linear in the corpus.
RL_WINDOW = 10
_RL_FIELDS = ("p_partkey", "p_name", "p_type", "p_size", "p_retailprice")


def _rl_leads_cte() -> str:
    """Oracle leads CTE, GENERATED per offset so the SQL replays the
    Spark window exactly (one branch per lead offset: a lateral k would
    multiply the relation BEFORE the window and corrupt offsets)."""
    over = (
        "OVER (PARTITION BY p_brand, floor(p_size / 10) "
        "ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST)"
    )
    branches = []
    for k in range(1, RL_WINDOW + 1):
        lead_cols = ",\n             ".join(
            f"lead({c}, {k}) {over} AS b_{c}" for c in _RL_FIELDS
        )
        a_cols = ", ".join(f"{c} AS a_{c}" for c in _RL_FIELDS)
        branches.append(
            f"      SELECT {a_cols},\n             {lead_cols}\n      FROM p"
        )
    return "\n      UNION ALL\n".join(branches)


@query(
    "record_linkage_scores",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_size,
             p_retailprice FROM part
    ),
    leads AS (
{_rl_leads_cte()}
    ),
    pairs AS (
      SELECT CASE WHEN a_p_type = b_p_type THEN 3 ELSE 0 END
             + CASE WHEN a_p_size = b_p_size THEN 2 ELSE 0 END
             + CASE WHEN abs(a_p_retailprice - b_p_retailprice) <= 50.0
                    THEN 2 ELSE 0 END
             + CASE WHEN levenshtein(a_p_name, b_p_name) <= 15
                    THEN 3 ELSE 0 END AS score
      FROM leads WHERE b_p_partkey IS NOT NULL
    )
    SELECT CASE WHEN score >= 7 THEN 'match'
                WHEN score >= 4 THEN 'possible'
                ELSE 'non_match' END AS verdict,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(score) AS INTEGER) AS min_score,
           CAST(max(score) AS INTEGER) AS max_score
    FROM pairs GROUP BY 1
    """,
)
def record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter-style record linkage: sorted-neighborhood candidate
    pairs WITHIN a composed (brand x size-band) block, a weighted
    multi-field agreement score (exact equality on type/size, price
    within a tolerance band, bounded edit distance on the name), and the
    three-way match / possible / non-match classification every
    entity-resolution pipeline emits for clerical review.

    Candidate generation is the round-8 scale fix: the composed block
    key alone has FIXED cardinality (|brands| x |bands|), so blocks grow
    linearly with the corpus and in-block pairs quadratically — the
    sf0.01->sf0.1 report measured this query at 7.8x per 10x rows, the
    steepest on the roster, with the next decade uncovered. Each record
    now pairs with exactly its RL_WINDOW successors in (name, partkey)
    order within its block (Hernandez-Stolfo SIGMOD'95, the
    fuzzy_sorted_neighborhood machinery): N*RL_WINDOW candidates —
    LINEAR at any corpus size — and near-identical names sort adjacently
    so the bounded-edit-distance matches stay in-window; the
    clerical-review recall dial is RL_WINDOW (production runs multiple
    passes with different sort keys). Plan: ONE block-sort shuffle, lead
    structs, map-side scoring, tiny histogram. Integer scores; the
    candidate order (name ASC NULLS LAST, partkey) is pinned so the
    histogram hash-matches exactly."""
    from pyspark.sql import Window

    p = t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )
    w = Window.partitionBy(
        "p_brand", F.floor(F.col("p_size") / 10)
    ).orderBy(
        F.col("p_name").asc_nulls_last(),
        F.col("p_partkey").asc_nulls_last(),
    )
    lead_structs = [
        F.struct(
            *[F.lead(F.col(c), k).over(w).alias(f"b_{c}") for c in _RL_FIELDS]
        ).alias(f"n{k}")
        for k in range(1, RL_WINDOW + 1)
    ]
    withleads = p.select(
        *[F.col(c).alias(f"a_{c}") for c in _RL_FIELDS], *lead_structs
    )
    cand = withleads.select(
        *[f"a_{c}" for c in _RL_FIELDS],
        F.explode(
            F.array(*[F.col(f"n{k}") for k in range(1, RL_WINDOW + 1)])
        ).alias("nb"),
    ).filter(F.col("nb.b_p_partkey").isNotNull())
    score = (
        F.when(F.col("a_p_type") == F.col("nb.b_p_type"), 3).otherwise(0)
        + F.when(F.col("a_p_size") == F.col("nb.b_p_size"), 2).otherwise(0)
        + F.when(
            F.abs(
                F.col("a_p_retailprice") - F.col("nb.b_p_retailprice")
            )
            <= 50.0,
            2,
        ).otherwise(0)
        # threshold arg: early-exits the DP once the bound is exceeded
        # (returns -1), bounding the hot loop on every candidate pair
        + F.when(
            F.levenshtein(
                F.col("a_p_name"), F.col("nb.b_p_name"), 15
            )
            != -1,
            3,
        ).otherwise(0)
    )
    scored = cand.select(score.alias("score"))
    verdict = (
        F.when(F.col("score") >= 7, "match")
        .when(F.col("score") >= 4, "possible")
        .otherwise("non_match")
    )
    return scored.groupBy(verdict.alias("verdict")).agg(
        F.count("*").alias("n_pairs"),
        F.min("score").cast("int").alias("min_score"),
        F.max("score").cast("int").alias("max_score"),
    )


SESSION_GAP_MIN = 10


@query(
    "session_window_native",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL {SESSION_GAP_MIN} MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM e
    ),
    sess AS (
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(floor((floor(epoch(max(ts))) - floor(epoch(min(ts))))
                        / 60) AS BIGINT) AS dur_min
      FROM s GROUP BY 1, 2
    )
    SELECT n_events,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(dur_min) AS BIGINT) AS total_duration_min
    FROM sess GROUP BY 1
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session_window in batch mode (the declarative
    gap-session operator — one groupBy, no hand-rolled island keys; at
    scale this is the same operator Structured Streaming uses with
    watermarked state): sessions close after a {gap}-minute silence,
    and the result histogram (events-per-session, total duration) must
    match an island-key replay in DuckDB exactly. Durations floor both
    endpoints to whole seconds first (unix_timestamp semantics — the
    testdata carries sub-second parts, and flooring the DIFFERENCE
    instead would disagree at minute boundaries); the histogram
    proves session boundaries agree row-for-row, not just counts."""
    e = t(spark, sf_dir, "events").select("user_id", "ts")
    sess = e.groupBy(
        "user_id",
        F.session_window("ts", f"{SESSION_GAP_MIN} minutes"),
    ).agg(
        F.count("*").alias("n_events"),
        F.floor(
            (
                F.unix_timestamp(F.max("ts"))
                - F.unix_timestamp(F.min("ts"))
            )
            / 60
        )
        .cast("bigint")
        .alias("dur_min"),
    )
    return sess.groupBy("n_events").agg(
        F.count("*").alias("n_sessions"),
        F.sum("dur_min").cast("bigint").alias("total_duration_min"),
    )


N_FOLDS = 5


@query(
    "kfold_assignment_report",
    oracle=f"""
    WITH assigned AS (
      SELECT lang,
             CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT % {N_FOLDS}) AS INTEGER) AS fold
      FROM documents
    )
    SELECT fold, lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM assigned GROUP BY 1, 2
    """,
)
def kfold_assignment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment (the eval-split
    primitive hash_split generalizes to): fold = the canonical 32-bit
    md5 bucket mod k, a pure function of the id — backfill-stable, no
    shuffle to assign, reproducible on any engine — with the
    fold x stratum count matrix as the balance report a CV harness
    checks before trusting its variance estimates."""
    from ..extensions.sampling import hash_bucket

    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        d.select(
            "lang",
            hash_bucket("doc_id", N_FOLDS).cast("int").alias("fold"),
        )
        .groupBy("fold", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


# log10(1 + 1/d) for d=1..9, precomputed to 12dp as LITERALS on both
# engines — no runtime log, no cross-engine ulp exposure.
BENFORD_P = [
    0.301029995664, 0.176091259056, 0.124938736608, 0.096910013008,
    0.079181246048, 0.066946789631, 0.057991946978, 0.051152522447,
    0.045757490561,
]


@query(
    "benford_digit_audit",
    oracle=f"""
    WITH p(digit, p) AS (
      VALUES {", ".join(f"({d + 1}, {p})" for d, p in enumerate(BENFORD_P))}
    ),
    obs AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INTEGER) AS digit,
             count(*) AS n_obs
      FROM orders WHERE o_totalprice >= 1
      GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
    pd AS (SELECT digit, CAST(p AS DOUBLE) AS p FROM p)
    SELECT pd.digit,
           CAST(coalesce(obs.n_obs, 0) AS BIGINT) AS n_obs,
           round(pd.p * tot.n, 6) AS n_expected,
           round((coalesce(obs.n_obs, 0) - pd.p * tot.n)
                 * (coalesce(obs.n_obs, 0) - pd.p * tot.n)
                 / (pd.p * tot.n), 6) AS chi2_term
    FROM pd LEFT JOIN obs USING (digit) CROSS JOIN tot
    """,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit audit (the data-forensics screen for
    fabricated or truncated numeric columns): observed first-digit
    counts of the money column against the Benford expectation, with
    per-digit chi-squared terms. The Benford probabilities are 12dp
    LITERALS on both engines — no runtime log10, so the only arithmetic
    is IEEE multiply/divide on exact integer counts and the rows
    hash-match. One pruned scan, one 9-group aggregate."""
    obs = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") >= 1)
        .select(
            # floor explicitly: DuckDB's double->BIGINT cast rounds
            # while Spark's truncates — floor() agrees everywhere
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    p = spark.createDataFrame(
        [(d + 1, pv) for d, pv in enumerate(BENFORD_P)],
        "digit int, p double",
    )
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    n_obs = F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint")
    expected = F.col("p") * F.col("n")
    return (
        p.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            n_obs.alias("n_obs"),
            F.round(expected, 6).alias("n_expected"),
            F.round(
                (n_obs - expected) * (n_obs - expected) / expected, 6
            ).alias("chi2_term"),
        )
    )


@query(
    "cusum_changepoint_scan",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) / count(*)
               AS mu
      FROM daily
    ),
    series AS (
      SELECT list(y ORDER BY d) AS ys FROM daily
    ),
    fold AS (
      SELECT b.n_days, b.mu,
             list_reduce(
               list_prepend(CAST([0.0, 0.0, 0.0] AS DOUBLE[]),
                            list_transform(s.ys, y -> [y, 0.0, 0.0])),
               (acc, x) -> [
                 greatest(0.0, acc[1] + (x[1] - b.mu)),
                 greatest(acc[2], greatest(0.0, acc[1] + (x[1] - b.mu))),
                 acc[3] + CASE WHEN greatest(0.0, acc[1] + (x[1] - b.mu))
                                    > 2000.0 THEN 1.0 ELSE 0.0 END
               ]
             ) AS st
      FROM series s CROSS JOIN base b
    )
    SELECT n_days,
           round(mu, 6) AS mean_daily,
           round(st[2], 6) AS max_cusum,
           CAST(st[3] AS BIGINT) AS n_alarm_days
    FROM fold
    """,
)
def cusum_changepoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the daily value series (the
    monitoring primitive that catches a sustained level shift long
    before any single day looks anomalous): the positive cumulative sum
    c' = max(0, c + (y - mu)) folds day-ordered values with three
    doubles of state (current, running max, alarm-day count at the
    2000 threshold). Mean is DECIMAL-folded; the fold order is the day
    order on both engines, so every intermediate is bit-identical. The
    fold runs on the day-count array — driver-scale after one
    event-scale aggregate."""
    daily = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(38,9)"))
            .cast("double")
            .alias("y")
        )
    )
    base = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        (
            F.sum(F.col("y").cast("decimal(38,9)")).cast("double")
            / F.count("*")
        ).alias("mu"),
    )
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "y")))
        .getField("y")
        .alias("ys")
    )
    mu = F.col("mu")

    def step(acc, y):
        c = F.greatest(F.lit(0.0), acc["c"] + (y - mu))
        return F.struct(
            c.alias("c"),
            F.greatest(acc["mx"], c).alias("mx"),
            (
                acc["al"]
                + F.when(c > F.lit(2000.0), F.lit(1.0)).otherwise(0.0)
            ).alias("al"),
        )

    seed = F.struct(
        F.lit(0.0).alias("c"), F.lit(0.0).alias("mx"), F.lit(0.0).alias("al")
    )
    folded = series.crossJoin(base).select(
        "n_days",
        F.round(mu, 6).alias("mean_daily"),
        F.aggregate(F.col("ys"), seed, step).alias("st"),
    )
    return folded.select(
        "n_days",
        "mean_daily",
        F.round(F.col("st.mx"), 6).alias("max_cusum"),
        F.col("st.al").cast("bigint").alias("n_alarm_days"),
    )


SNM_WINDOW = 5
SNM_MAX_DIST = 12


@query(
    "fuzzy_sorted_neighborhood",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, p_name, p_brand FROM part
    ),
    leads AS (
      -- one branch per lead offset: a lateral k would multiply the
      -- relation BEFORE the window and corrupt the offsets
      SELECT p_brand, p_partkey AS id_a, p_name AS t_a,
             lead(p_partkey, 1) OVER (
               PARTITION BY p_brand
               ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST
             ) AS id_b,
             lead(p_name, 1) OVER (
               PARTITION BY p_brand
               ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST
             ) AS t_b
      FROM p
      UNION ALL
      SELECT p_brand, p_partkey AS id_a, p_name AS t_a,
             lead(p_partkey, 2) OVER (
               PARTITION BY p_brand
               ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST
             ) AS id_b,
             lead(p_name, 2) OVER (
               PARTITION BY p_brand
               ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST
             ) AS t_b
      FROM p
      UNION ALL
      SELECT p_brand, p_partkey AS id_a, p_name AS t_a,
             lead(p_partkey, 3) OVER (
               PARTITION BY p_brand
               ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST
             ) AS id_b,
             lead(p_name, 3) OVER (
               PARTITION BY p_brand
               ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST
             ) AS t_b
      FROM p
      UNION ALL
      SELECT p_brand, p_partkey AS id_a, p_name AS t_a,
             lead(p_partkey, 4) OVER (
               PARTITION BY p_brand
               ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST
             ) AS id_b,
             lead(p_name, 4) OVER (
               PARTITION BY p_brand
               ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST
             ) AS t_b
      FROM p
      UNION ALL
      SELECT p_brand, p_partkey AS id_a, p_name AS t_a,
             lead(p_partkey, 5) OVER (
               PARTITION BY p_brand
               ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST
             ) AS id_b,
             lead(p_name, 5) OVER (
               PARTITION BY p_brand
               ORDER BY p_name ASC NULLS LAST, p_partkey ASC NULLS LAST
             ) AS t_b
      FROM p
    ),
    cand AS (
      SELECT p_brand, id_a, id_b,
             levenshtein(t_a, t_b) AS dist
      FROM leads WHERE id_b IS NOT NULL
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN dist <= {SNM_MAX_DIST} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs,
           CAST(min(CASE WHEN dist <= {SNM_MAX_DIST} THEN dist END)
                AS INTEGER) AS min_dist,
           CAST(sum(CASE WHEN dist <= {SNM_MAX_DIST} THEN dist ELSE 0 END)
                AS BIGINT) AS dist_sum
    FROM cand GROUP BY 1
    """,
)
def fuzzy_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood fuzzy matching (extensions.dedup.
    sorted_neighborhood_pairs) — the LINEAR-candidate counterpart of
    fuzzy_name_pairs: candidates are each name's 5 successors in
    brand-sorted name order (N*5 total), never an in-block self-join
    whose pair count grows quadratically as fixed-cardinality blocks
    fill up (the sf1 scaling probe measured that cliff: 100x candidates
    for 10x rows on the blocked path). One shuffle (the sort); the
    per-brand report pins candidate AND match counts so the oracle
    verifies the candidate generation itself, not just the survivors."""
    from ..extensions.dedup import sorted_neighborhood_pairs

    p = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pid"), "p_name", "p_brand"
    )
    pairs = sorted_neighborhood_pairs(
        p, "pid", "p_name", ["p_brand"], window=SNM_WINDOW, max_dist=10**9
    )
    # max_dist=inf above: keep ALL candidates so the report can count
    # them; the match filter applies here with the real threshold.
    return pairs.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum((F.col("dist") <= SNM_MAX_DIST).cast("long"))
        .cast("bigint")
        .alias("n_pairs"),
        F.min(F.when(F.col("dist") <= SNM_MAX_DIST, F.col("dist")))
        .cast("int")
        .alias("min_dist"),
        F.sum(F.when(F.col("dist") <= SNM_MAX_DIST, F.col("dist")).otherwise(0))
        .cast("bigint")
        .alias("dist_sum"),
    )
