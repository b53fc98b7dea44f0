"""Corpus profiling: activity streaks, model-based quality scoring,
token-distribution drift, and content-defined chunking.

Cross-engine determinism notes (the reason two of these look the way
they do):
- IEEE 754 +, -, *, / are exactly specified, so any formula built ONLY
  from them produces bit-identical doubles on Spark's JVM and DuckDB's
  C++ — that is why drift is chi-squared (rational terms), not KL
  (log2 is correctly-rounded on neither engine and ulp differences
  would poison a value-hash).
- Double SUMS are order-dependent, so every floating aggregate here
  folds through an exact DECIMAL sum (the dsum pattern) or divides two
  exact integer sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import tracked_persist
from ..operators.partitioning import spread
from .common import t
from .registry import query


@query(
    "activity_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      FROM events
    ),
    isl AS (
      SELECT user_id,
             d - row_number() OVER (PARTITION BY user_id ORDER BY d)
               AS island
      FROM days
    ),
    runs AS (
      SELECT user_id, CAST(count(*) AS INTEGER) AS streak_len
      FROM isl GROUP BY user_id, island
    )
    SELECT streak_len,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM runs GROUP BY 1
    """,
)
def activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user, via the classic daynumber-minus-row_number island key — no
    self-join, no loop: one distinct, one window sort, one aggregate.
    The day is normalized to an epoch-day INTEGER before the subtraction
    so the island key is pure integer math on both engines. Output is
    the streak-length histogram (how many maximal runs of each length,
    how many distinct users own one)."""
    # ONE shuffle keyed on user_id serves the whole chain: hash
    # partitioning on user_id satisfies the clustered distribution of
    # the (user_id, d) dedup, the window's partitionBy, AND the
    # (user_id, island) aggregate — only the tiny final histogram
    # re-shuffles (audited: 2 exchanges total, vs 3 for distinct-first).
    days = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d"),
        )
        .repartition("user_id")
        .dropDuplicates(["user_id", "d"])
    )
    w = Window.partitionBy("user_id").orderBy("d")
    runs = (
        days.withColumn("island", F.col("d") - F.row_number().over(w))
        .groupBy("user_id", "island")
        .agg(F.count("*").cast("int").alias("streak_len"))
    )
    return runs.groupBy("streak_len").agg(
        F.count("*").alias("n_islands"),
        F.count_distinct("user_id").alias("n_users"),
    )


# Fixed logistic-regression weights: a stand-in for a trained quality
# classifier (fasttext-style linear model). The POINT is the serving
# path — features and the sigmoid evaluate as one map-side codegen
# expression per row, weights inlined as literals (at real scale:
# broadcast), zero Python — not the particular coefficients.
_W_BIAS = -3.0
_W_STOP = 6.0
_W_AVGLEN = 0.35
_W_NTOK = 0.002

_EN_MARKERS = ("the", "and", "of", "to", "a", "in", "is", "it")


@query(
    "quality_classifier_scores",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(len(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_len,
             CAST(len(list_filter(string_split(text, ' '),
                      x -> list_contains({list(_EN_MARKERS)!r}, x)))
                  AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio
      FROM documents WHERE text IS NOT NULL
    ),
    scored AS (
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-({_W_BIAS}
                                      + {_W_STOP} * stop_ratio
                                      + {_W_AVGLEN} * avg_len
                                      + {_W_NTOK} * n_tokens))), 6)
               AS score
      FROM feat
    )
    SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
                / count(*) AS DOUBLE) AS mean_score
    FROM scored GROUP BY 1
    """,
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve a trained linear quality classifier at corpus scale: per-doc
    features (token count, average token length, stopword ratio — the
    same map-side array expressions as extensions.text) feed a logistic
    score in ONE codegen projection, then a 10-bucket score histogram.
    At 100 TB this is a narrow scan + 10-group aggregate; a real model
    swaps the literal weights for a broadcast map, nothing else moves.
    Scores round to 6dp before bucketing/summing (absorbs exp() ulp
    variance across engines); the mean folds through an exact DECIMAL
    sum so aggregation order can't wiggle the hash."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    avg_len = (
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).cast(
            "double"
        )
        / n
    )
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*_EN_MARKERS))).cast("double")
        / n
    )
    z = (
        F.lit(_W_BIAS)
        + F.lit(_W_STOP) * stop_ratio
        + F.lit(_W_AVGLEN) * avg_len
        + F.lit(_W_NTOK) * n.cast("double")
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    scored = (
        spread(t(spark, sf_dir, "documents"))
        .where(F.col("text").isNotNull())
        .select(
            F.least(F.floor(score * 10), F.lit(9)).cast("int").alias(
                "bucket"
            ),
            score.alias("score"),
        )
    )
    return scored.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("mean_score"),
    )


@query(
    "token_chi2_drift",
    oracle="""
    WITH tok AS (
      SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 2) AS split,
             unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    counts AS (
      SELECT tok,
             CAST(sum(CASE WHEN split = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS a_c,
             CAST(sum(CASE WHEN split = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS b_c
      FROM tok GROUP BY tok
    ),
    tot AS (
      SELECT CAST(sum(a_c) AS BIGINT) AS a_tot,
             CAST(sum(b_c) AS BIGINT) AS b_tot,
             CAST(count(*) AS BIGINT) AS v
      FROM counts
    ),
    terms AS (
      SELECT CAST(a_c + 1 AS DOUBLE) / (a_tot + v) AS p,
             CAST(b_c + 1 AS DOUBLE) / (b_tot + v) AS q,
             a_tot, b_tot, v
      FROM counts CROSS JOIN tot
    )
    SELECT max(a_tot) AS n_tokens_a,
           max(b_tot) AS n_tokens_b,
           max(v) AS vocab_size,
           round(CAST(sum(CAST((p - q) * (p - q) / q
                               AS DECIMAL(38,30))) AS DOUBLE), 9)
             AS chi2_drift
    FROM terms
    """,
)
def token_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two halves of the corpus (md5
    hash split — backfill-stable, same fingerprint family as
    extensions.sampling): add-one-smoothed unigram distributions P and
    Q, compared by chi-squared divergence sum((p-q)^2/q). Chi-squared,
    not KL, is deliberate: every term is built from IEEE-exact
    +,-,*,/ on integer-derived doubles, so each term is bit-identical
    on any engine (log2 is not), and the term SUM folds through an
    exact DECIMAL so aggregation order is irrelevant. The plan is one
    explode + one (token) hash aggregate + a broadcast of the 1-row
    totals — the same shape at any corpus size; this is the cheap
    every-release regression check for 'did the crawl mix shift?'."""
    split = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 2
    )
    toks = (
        spread(t(spark, sf_dir, "documents"))
        .where(F.col("text").isNotNull())
        .select(split.alias("split"), F.explode(F.split("text", " ")).alias("tok"))
    )
    # counts feeds two consumers (the totals aggregate and the term
    # projection); persist so the explode + token shuffle — the only
    # data-sized work in the query — runs once, not twice.
    counts = tracked_persist(
        toks.groupBy("tok").agg(
            F.sum(F.when(F.col("split") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("a_c"),
            F.sum(F.when(F.col("split") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("b_c"),
        )
    )
    tot = counts.agg(
        F.sum("a_c").cast("bigint").alias("a_tot"),
        F.sum("b_c").cast("bigint").alias("b_tot"),
        F.count("*").cast("bigint").alias("v"),
    )
    p = (F.col("a_c") + 1).cast("double") / (F.col("a_tot") + F.col("v"))
    q = (F.col("b_c") + 1).cast("double") / (F.col("b_tot") + F.col("v"))
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "a_tot",
        "b_tot",
        "v",
        ((p - q) * (p - q) / q).alias("term"),
    )
    return terms.agg(
        F.max("a_tot").alias("n_tokens_a"),
        F.max("b_tot").alias("n_tokens_b"),
        F.max("v").alias("vocab_size"),
        F.round(
            F.sum(F.col("term").cast("decimal(38,30)")).cast("double"), 9
        ).alias("chi2_drift"),
    )


CDC_MOD = 32  # expected chunk length in tokens (boundary probability 1/32)


@query(
    "cdc_chunk_stats",
    oracle=f"""
    WITH perdoc AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             1 + len(list_filter(string_split(text, ' '),
                     x -> (('0x' || substr(md5(x), 1, 15))::BIGINT
                           % {CDC_MOD}) = 0)) AS n_chunks
      FROM documents WHERE text IS NOT NULL
    )
    SELECT CAST(n_chunks AS INTEGER) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_tokens) AS DOUBLE) / sum(n_chunks)
             AS mean_tokens_per_chunk
    FROM perdoc GROUP BY 1
    """,
)
def cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: a token ends a chunk when its 60-bit
    fingerprint (extensions.text._md5_prefix60 — the repo's ONE
    fingerprint hash) is 0 mod CDC_MOD, so chunk boundaries depend only
    on CONTENT, never position — insert one word at the front of a doc
    and every chunk after the next boundary still hashes identically
    (the property fixed-size chunking lacks, and the basis of
    rsync/LBFS-style dedup). Entirely map-side per row (filter over the
    token array, no explode, no shuffle before the tiny histogram
    aggregate); the output is the chunks-per-doc histogram with exact
    integer totals and an IEEE-exact mean."""
    from ..extensions.text import _md5_prefix60

    toks = F.split(F.col("text"), " ")
    n_chunks = F.lit(1) + F.size(
        F.filter(toks, lambda x: _md5_prefix60(x) % CDC_MOD == 0)
    )
    perdoc = (
        spread(t(spark, sf_dir, "documents"))
        .where(F.col("text").isNotNull())
        .select(
            F.size(toks).cast("long").alias("n_tokens"),
            n_chunks.cast("int").alias("n_chunks"),
        )
    )
    return perdoc.groupBy("n_chunks").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (
            F.sum("n_tokens").cast("double") / F.sum("n_chunks")
        ).alias("mean_tokens_per_chunk"),
    )


@query(
    "resample_interpolate_6h",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             CAST(floor(floor(epoch(ts)) / 21600) AS BIGINT) AS b,
             ts, value
      FROM events WHERE user_id < 5
    ),
    latest AS (
      SELECT user_id, b, value AS v FROM (
        SELECT user_id, b, value,
               row_number() OVER (
                 PARTITION BY user_id, b
                 ORDER BY ts DESC, value DESC
               ) AS rn
        FROM ev
      ) WHERE rn = 1
    ),
    spans AS (
      SELECT user_id, min(b) AS lo, max(b) AS hi FROM latest GROUP BY 1
    ),
    grid AS (
      SELECT s.user_id, gs.g AS b
      FROM spans s, LATERAL (
        SELECT unnest(generate_series(s.lo, s.hi)) AS g
      ) gs
    ),
    g AS (
      SELECT g.user_id, g.b,
             l.v,
             l.user_id IS NOT NULL AS obs
      FROM grid g LEFT JOIN latest l
        ON g.user_id = l.user_id AND g.b = l.b
    ),
    n AS (
      -- anchor = observed AND non-null value (matches the operator:
      -- value and bucket anchors always come from the same rows)
      SELECT user_id, b, v, obs,
             last_value(CASE WHEN obs AND v IS NOT NULL
                             THEN CAST(v AS DOUBLE) END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN obs AND v IS NOT NULL
                             THEN CAST(b AS DOUBLE) END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             first_value(CASE WHEN obs AND v IS NOT NULL
                              THEN CAST(v AS DOUBLE) END
                         IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN obs AND v IS NOT NULL
                              THEN CAST(b AS DOUBLE) END
                         IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM g
    )
    SELECT user_id,
           CAST(b * 21600 AS BIGINT) AS bucket_epoch,
           CASE WHEN obs AND v IS NOT NULL THEN CAST(v AS DOUBLE)
                ELSE pv + (nv - pv) * (CAST(b AS DOUBLE) - pb) / (nb - pb)
           END AS value,
           obs AS is_observed
    FROM n
    """,
)
def resample_interpolate_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling (pandas `.interpolate('linear')`
    on a distributed per-key grid — operators.resample.
    resample_interpolate): dense 6-hour grid per user, latest-in-bucket
    reduction, gap values interpolated between neighboring observed
    buckets with IEEE-exact arithmetic (bit-identical to the DuckDB
    replay, no rounding needed). One key-wise window sort serves both
    the backward and forward neighbor lookups."""
    from ..operators.resample import resample_interpolate

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 5)
        .select("user_id", "ts", "value")
    )
    out = resample_interpolate(ev, "user_id", "ts", "value", step_seconds=21600)
    return out.select(
        "user_id",
        F.col("bucket_start").cast("long").alias("bucket_epoch"),
        "value",
        "is_observed",
    )


@query(
    "source_vocab_overlap",
    oracle="""
    WITH v AS (
      SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    sizes AS (SELECT source, count(*) AS n FROM v GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(sa.n + sb.n - inter AS BIGINT) AS vocab_union,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS vocab_jaccard
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise VOCABULARY overlap between sources (distinct-token
    Jaccard per source pair) — the corpus-mixing diagnostic that shows
    which sources are redundant and which add genuinely new language
    before weighting a data mixture. The self-join runs on the
    source-level DISTINCT vocabulary (|sources| x |vocab| rows, already
    collapsed from the corpus by one aggregate), never on documents —
    output is |sources|^2/2 rows at any corpus size. Exact-integer
    division, hash-pinned."""
    from pyspark.sql import functions as F

    v = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    from ..cache import tracked_persist

    v = tracked_persist(v)
    sizes = v.groupBy("source").agg(F.count("*").alias("n"))
    a = v.select(F.col("source").alias("src_a"), "tok")
    b = v.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, ["tok"])
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("inter"))
    )
    both = inter.join(
        F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                 F.col("n").alias("na"))),
        "src_a",
    ).join(
        F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                 F.col("n").alias("nb"))),
        "src_b",
    )
    return both.select(
        "src_a",
        "src_b",
        F.col("inter").cast("bigint").alias("inter"),
        (F.col("na") + F.col("nb") - F.col("inter"))
        .cast("bigint")
        .alias("vocab_union"),
        (
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter"))
        ).alias("vocab_jaccard"),
    )
