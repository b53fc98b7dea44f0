"""Term-statistics queries: tf-idf characteristic terms and collocation
mining over the `documents` table — the corpus-analysis siblings of the
vocabulary block in queries/vocab.py.

Both scores are deliberately log-free (rational idf, lift instead of
PMI): ln differs in the last ulp between libm implementations, while IEEE
division/multiplication are exactly specified — so scores, and therefore
tie-breaks and value hashes, replay bit-identically in the oracle. The
induced rankings are unchanged (the dropped ln is monotone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..extensions.vocab import bigram_lift, tfidf_top_terms
from .common import t
from .registry import query

TFIDF_K = 3
LIFT_MIN_COUNT = 5
LIFT_K = 20


def _slit(s: str) -> str:
    """SQL single-quoted-string body for ``s``: escape backslashes (Spark
    SQL literals treat ``\\`` as an escape character, so a term ending in
    one would swallow the closing quote), then double any embedded quote.
    The module's own term constants are plain lowercase words, but
    ``_bm25_scored`` accepts caller-supplied terms, and a quote or
    backslash in a term must not break parsing or inject SQL."""
    return s.replace("\\", "\\\\").replace("'", "''")


def _dlit(x: float) -> str:
    """Canonical DOUBLE literal for a Python float, shared by every
    generated-SQL scorer (ADVICE r12 #2): repr round-trips the exact
    value; an explicit exponent is appended only when repr carries none
    (plain decimal literals parse as DECIMAL, not DOUBLE, in both
    Spark and DuckDB), so ``1e-05`` stays ``1e-05`` instead of the
    unparseable ``1e-05E0``, and an int input is pinned to double via
    ``float()`` first."""
    r = repr(float(x))
    return r if "e" in r or "E" in r else f"{r}E0"


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
    dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    s AS (
      SELECT tf.doc_id, tf.tok, tf.tf, dfq.df,
             tf.tf * (n.n_docs + 1.0) / (dfq.df + 1.0) AS tfidf
      FROM tf JOIN dfq USING (tok) CROSS JOIN n
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC
      ) AS rnk FROM s
    )
    SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, tok,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(tfidf, 6) AS tfidf
    FROM r WHERE rnk <= {TFIDF_K}
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf (rational idf
    ``(N+1)/(df+1)``). Two hash aggregates + a vocabulary-sized join +
    a per-doc top-k window; the document text itself never re-shuffles."""
    docs = t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=TFIDF_K)


@query(
    "bigram_lift_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    tk AS (
      SELECT doc_id, toks[i] AS tok
      FROM d, UNNEST(generate_series(1, len(toks))) AS u(i)
    ),
    uni AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
    total AS (SELECT count(*) AS t FROM tk),
    bi AS (
      SELECT toks[i] AS x, toks[i + 1] AS y, count(*) AS c_xy
      FROM d, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 2
      GROUP BY 1, 2
      HAVING count(*) >= {LIFT_MIN_COUNT}
    ),
    nb AS (
      SELECT sum(CASE WHEN len(toks) >= 1 THEN len(toks) - 1 ELSE 0 END)
        AS b FROM d
    ),
    s AS (
      SELECT bi.x, bi.y, bi.c_xy,
             (bi.c_xy / nb.b) /
               ((cx.c / total.t) * (cy.c / total.t)) AS lift
      FROM bi
      JOIN uni cx ON bi.x = cx.tok
      JOIN uni cy ON bi.y = cy.tok
      CROSS JOIN total CROSS JOIN nb
    ),
    r AS (
      SELECT *, row_number() OVER (
        ORDER BY lift DESC, x ASC, y ASC
      ) AS rnk FROM s
    )
    SELECT CAST(rnk AS INTEGER) AS rnk, x, y,
           CAST(c_xy AS BIGINT) AS c_xy, round(lift, 6) AS lift
    FROM r WHERE rnk <= {LIFT_K}
    """,
)
def bigram_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations by lift (the log-free core of
    PMI), with a min-count floor suppressing low-frequency noise. Bigram
    and unigram aggregates shuffle token counts only; the global top-k is
    TakeOrderedAndProject, never a full sort."""
    docs = t(spark, sf_dir, "documents")
    return bigram_lift(
        docs, "doc_id", "text", min_count=LIFT_MIN_COUNT, k=LIFT_K
    )


# BM25 constants (Robertson et al., TREC-3): k1 saturates term frequency,
# b normalizes by document length. The idf keeps the repo's LOG-FREE
# convention (module docstring): the rational Robertson idf core
# (N - df + 0.5) / (df + 0.5) WITHOUT the ln wrapper — ln differs in the
# last ulp across libm implementations while IEEE division replays
# bit-identically, so scores and tie-breaks hash-match cross-engine.
# (Unlike per-term tf-idf ranking, dropping the monotone ln does change
# the multi-term SUM's ranking vs textbook BM25 — this is the engine's
# deterministic variant, documented as such.)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("join", "hash", "window")
BM25_K = 10


def _bm25_ctes(idf_mode: str = "rational") -> str:
    """The BM25 oracle CTE stack, GENERATED from BM25_TERMS/K1/B so the
    SQL can never drift from the Python constants the Spark side loops
    over. Ends in CTE ``r`` = (doc_id, n_terms_hit, score, rnk) where —
    critically — the rounded score is materialized in ``rounded`` and
    the rank window runs in a SEPARATE outer CTE ordering by it: DuckDB
    resolves ``ORDER BY score`` inside the same SELECT to the RAW input
    column, not the ``round(...) AS score`` alias, while Spark ranks by
    the rounded value — ranking in one CTE would be a latent
    cross-engine mismatch whenever two raw scores collide only after
    rounding.

    ``idf_mode="series_ln"`` swaps the rational Robertson idf core for
    textbook ``ln(1 + core) = ln((2N+2)/(2df+1))`` evaluated with the
    deterministic series (functions/detln.py) — the same IEEE op
    sequence the Spark side runs, so even the ln-based score
    hash-matches bit-for-bit."""
    from ..functions.detln import series_ln_sql

    n = len(BM25_TERMS)
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(toks, x -> x = '{tm}')) AS BIGINT) AS tf{i}"
        for i, tm in enumerate(BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}"
        for i in range(n)
    )
    hits = " + ".join(
        f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END" for i in range(n)
    )
    def idf(i: int) -> str:
        if idf_mode == "series_ln":
            return series_ln_sql(
                f"(2 * stats.n_docs + 2)", f"(2 * stats.df{i} + 1)", "duck"
            )
        return f"((stats.n_docs - stats.df{i} + 0.5) / (stats.df{i} + 0.5))"

    score = "\n             + ".join(
        f"{idf(i)}"
        f" * ((b.tf{i} * ({BM25_K1} + 1.0)) / (b.tf{i} + {BM25_K1}"
        f" * (1.0 - {BM25_B} + {BM25_B} * b.dl / stats.avgdl)))"
        for i in range(n)
    )
    return f"""b AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS dl,
             {tf_cols}
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             {df_cols}
      FROM b
    ),
    scored AS (
      SELECT b.doc_id,
             CAST({hits} AS INTEGER) AS n_terms_hit,
             {score}
               AS score
      FROM b CROSS JOIN stats
      WHERE {hits} > 0
    ),
    rounded AS (
      SELECT doc_id, n_terms_hit, round(score, 6) AS score FROM scored
    ),
    r AS (
      SELECT doc_id, n_terms_hit, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                  AS INTEGER) AS rnk
      FROM rounded
    )"""


_BM25_CTES = _bm25_ctes()
_BM25_LN_CTES = _bm25_ctes(idf_mode="series_ln")


def _bm25_scored(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    idf_mode: str = "rational",
    terms: tuple[str, ...] | None = None,
) -> DataFrame:
    """Shared BM25 scoring core: the top-``k`` (doc_id, n_terms_hit,
    score, rnk) ranking over all hit documents, as ONE corpus scan —
    per-term tf via size(filter(...)) over the split-token array (a
    codegen projection; no explode, so no postings ever shuffle), the
    df/avgdl stats collapsed into a single tiny broadcast aggregate,
    per-term contributions summed in FIXED WRITTEN ORDER (a zero tf
    contributes exact +0.0, IEEE-identical on both engines — no
    collect/sort fold needed). The top-k comes from orderBy(...).limit(k)
    — TakeOrderedAndProject, each task keeping k rows — and the rnk
    column is then assigned over only those k survivors; an unpartitioned
    rank window over ALL hit docs would funnel a large corpus fraction
    through one task. bm25_topk returns the head directly;
    hybrid_bm25_rerank takes a longer shortlist and reranks it.

    ``idf_mode``: "rational" (default) is the repo's log-free Robertson
    core — bit-reproducible cross-engine, hash-pinned by the oracle;
    "series_ln" is textbook Lucene-standard BM25, ``ln(1 + core) =
    ln((2N+2)/(2df+1))`` — what a user comparing against
    Lucene/Elasticsearch expects — with ln evaluated by the
    deterministic fixed-sequence series (functions/detln.py) so it too
    is bit-reproducible cross-engine and oracle-hash-pinned (max
    1.3e-12 relative deviation from libm ln; tolerance-pytested against
    a pure-Python math.log replay in tests/test_retrieval.py)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.detln import series_ln_sql

    if idf_mode not in ("rational", "series_ln"):
        raise ValueError(f"unknown idf_mode {idf_mode!r}")
    terms = list(BM25_TERMS if terms is None else terms)

    from ..cache import tracked_persist

    # base feeds the stats aggregate AND the scoring projection; without
    # the persist the corpus tokenize + per-term tf columns ran twice
    # (two identical scan subtrees) in every consumer of this core.
    # The projection/aggregate expressions are generated SQL text parsed
    # once in the JVM (r12, the simhash64_text treatment): the Column-
    # object form paid one Py4J round-trip per node of every tf/score
    # tree, which dominated this family's CONSTRUCTION wall clock. The
    # parsed trees are the same expressions (same literals, same
    # left-associated operator order), so every score is bit-identical.
    base = tracked_persist(
        t(spark, sf_dir, "documents").selectExpr(
            "doc_id",
            "CAST(size(split(text, ' ')) AS BIGINT) AS dl",
            *[
                "CAST(size(filter(split(text, ' '),"
                f" x -> x = '{_slit(tm)}')) AS BIGINT) AS tf{i}"
                for i, tm in enumerate(terms)
            ],
        )
    )
    stats = base.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(sum(dl) AS DOUBLE) / count(*)").alias("avgdl"),
        *[
            F.expr(
                f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    # Hoist each term's idf into the 1-row stats frame: it depends only
    # on (n_docs, df_i), yet inlined in term_score it was re-evaluated
    # per DOCUMENT row — for the series-ln mode that is a ~40-op
    # deterministic-ln expansion per term per row (guide §4, per-row
    # work; the dominant exec cost of bm25_textbook_topk, r12). Computed
    # once here, the value is bit-identical (same IEEE sequence on the
    # same inputs) and rides the same broadcast.
    def idf_sql(i: int) -> str:
        if idf_mode == "rational":
            return f"(n_docs - df{i} + 0.5E0) / (df{i} + 0.5E0)"
        return series_ln_sql(f"(2 * n_docs + 2)", f"(2 * df{i} + 1)", "spark")

    stats = stats.selectExpr(
        "*", *[f"{idf_sql(i)} AS idf{i}" for i in range(len(terms))]
    )
    # Literals in exponent form parse as DOUBLE (plain decimals parse as
    # DECIMAL); repr round-trips the exact Python float, so the parsed
    # constants equal the old F.lit values bit-for-bit.
    k1, b = _dlit(BM25_K1), _dlit(BM25_B)

    def term_score_sql(i: int) -> str:
        return (
            f"idf{i} * ((tf{i} * ({k1} + 1.0E0))"
            f" / (tf{i} + {k1} * (1.0E0 - {b} + {b} * dl / avgdl)))"
        )

    hits_sql = " + ".join(
        f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END"
        for i in range(len(terms))
    )
    score_sql = " + ".join(term_score_sql(i) for i in range(len(terms)))
    scored = (
        base.crossJoin(F.broadcast(stats))
        .filter(F.expr(f"({hits_sql}) > 0"))
        .selectExpr(
            "doc_id",
            f"CAST({hits_sql} AS INT) AS n_terms_hit",
            f"round({score_sql}, 6) AS score",
        )
    )
    top = scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


@query(
    "bm25_topk",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, n_terms_hit, score, rnk FROM r WHERE rnk <= {BM25_K}
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus for a literal 3-term query — the
    ranking function every lexical-search / hybrid-RAG retrieval stack
    runs (see :func:`_bm25_scored` for the single-scan plan). Top-10 is
    TakeOrderedAndProject. The idf keeps the module's log-free
    convention: the rational Robertson core without the ln wrapper (ln
    differs last-ulp across libms) — the engine's documented
    deterministic variant. At 100 TB: one scan, one metadata-sized
    stats broadcast, zero data shuffles before the top-k."""
    return _bm25_scored(spark, sf_dir, BM25_K)


@query(
    "bm25_textbook_topk",
    oracle=f"""
    WITH {_BM25_LN_CTES}
    SELECT doc_id, n_terms_hit, score, rnk FROM r WHERE rnk <= {BM25_K}
    """,
)
def bm25_textbook_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTBOOK BM25 (Robertson/Lucene): the same single-scan plan as
    bm25_topk with the standard ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    idf — the ranking a user comparing against Lucene/Elasticsearch
    expects. Native libm ``ln`` differs in the last ulp between the JVM
    and DuckDB (enough to flip a round(.,6) boundary or tie-break), so
    the idf argument is rewritten as the integer rational
    ``(2N+2)/(2df+1)`` and ln is evaluated by the deterministic
    fixed-IEEE-sequence series in functions/detln.py — identical
    operation DAG in both engines, hence a REAL hash-compared oracle
    row (1.3e-12 max relative deviation from libm ln, far inside the
    round-to-6-digits quantum for these O(1..10) scores; deviation and
    ranking additionally pinned by tests/test_retrieval.py)."""
    return _bm25_scored(spark, sf_dir, BM25_K, idf_mode="series_ln")


HYBRID_SHORTLIST = 30
HYBRID_K = 10

# Canonical embeddings CTE shared with queries/similarity.py — one
# definition (queries/common.py) so the vector/norm derivation can
# never drift between the two oracles.
from .common import VEC_CTE as _HYBRID_VEC_CTE  # noqa: E402


@query(
    "hybrid_bm25_rerank",
    oracle=f"""
    WITH {_BM25_CTES},
    shortlist AS (
      SELECT doc_id, rnk AS bm25_rnk, score AS bm25_score
      FROM r WHERE rnk <= {HYBRID_SHORTLIST}
    ),{_HYBRID_VEC_CTE},
    qv AS (
      SELECT v.e AS qe, v.nrm AS qnrm
      FROM v JOIN shortlist s ON v.vec_id = s.doc_id
      WHERE s.bm25_rnk = 1
    ),
    rr AS (
      SELECT s.doc_id, s.bm25_rnk, s.bm25_score,
             round(list_dot_product(v.e, qv.qe) / (v.nrm * qv.qnrm), 6)
               AS cos_sim
      FROM shortlist s JOIN v ON v.vec_id = s.doc_id CROSS JOIN qv
    ),
    rk AS (
      SELECT doc_id, bm25_rnk, bm25_score, cos_sim,
             CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC)
                  AS INTEGER) AS rerank
      FROM rr
    )
    SELECT doc_id, bm25_rnk, bm25_score, cos_sim, rerank
    FROM rk WHERE rerank <= {HYBRID_K}
    """,
)
def hybrid_bm25_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval, the standard RAG two-stage stack:
    a BM25 shortlist (top-30, the cheap recall stage) is reranked by
    embedding cosine to a PSEUDO-RELEVANCE-FEEDBACK query vector — the
    embedding of the top lexical hit (Rocchio-style: 'more like the
    best match'), which keeps the whole pipeline deterministic and
    SQL-replayable with no model in the loop. The embeddings table
    joins the 30-row shortlist (broadcast — the corpus-sized side never
    shuffles) and the 1-row query vector cross-joins broadcast; cosine
    uses the repo's sequential-fold dot product, bit-identical to
    DuckDB's list_dot_product. At 100 TB this is the shortlist-sized
    rerank every retrieval service runs: dense scoring touches only
    |shortlist| vectors regardless of corpus size."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..extensions.similarity import dot, with_norm

    from ..cache import tracked_persist

    # 30 rows, but computing them costs a corpus scan — persist so the
    # rerank branch and the query-vector branch share ONE BM25 pass.
    shortlist = tracked_persist(
        _bm25_scored(spark, sf_dir, HYBRID_SHORTLIST).select(
            "doc_id",
            F.col("rnk").alias("bm25_rnk"),
            F.col("score").alias("bm25_score"),
        )
    )
    from ..extensions.similarity import as_double_vec

    v = with_norm(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        ),
        "e",
        "nrm",
    )
    cand = v.join(
        F.broadcast(shortlist), v.vec_id == F.col("doc_id")
    )
    qv = F.broadcast(
        cand.filter(F.col("bm25_rnk") == 1).select(
            F.col("e").alias("qe"), F.col("nrm").alias("qnrm")
        )
    )
    rr = cand.crossJoin(qv).select(
        "doc_id",
        "bm25_rnk",
        "bm25_score",
        F.round(
            dot(F.col("e"), F.col("qe")) / (F.col("nrm") * F.col("qnrm")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
    return rr.withColumn(
        "rerank", F.row_number().over(w).cast("int")
    ).filter(F.col("rerank") <= HYBRID_K)


@query(
    "token_gini_by_source",
    oracle="""
    WITH m AS (
      SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok_mass
      FROM documents GROUP BY source
    ),
    r AS (
      SELECT source, tok_mass,
             row_number() OVER (ORDER BY tok_mass ASC, source ASC) AS i,
             count(*) OVER () AS n,
             sum(tok_mass) OVER () AS total
      FROM m
    )
    SELECT CAST(max(n) AS BIGINT) AS n_sources,
           CAST(max(total) AS BIGINT) AS total_tokens,
           round(
             CAST(2 * sum(i * tok_mass) - (max(n) + 1) * max(total)
                  AS DOUBLE) / (max(n) * max(total)), 9) AS gini
    FROM r
    """,
)
def token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass concentration across sources as a Gini coefficient —
    the corpus-mixing diagnostic that says whether one crawl dominates
    the training mix (0 = perfectly balanced, ->1 = one source owns the
    tokens). All sums stay INTEGER until the single final division
    (G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending-sorted
    masses), so the value replays bit-identically; rank ties can permute
    equal masses but the formula is invariant under that. One hash
    aggregate per source + a sources-sized window — the heavy table
    contributes one shuffle of per-source partial sums only."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    m = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " ")))
            .cast("bigint")
            .alias("tok_mass")
        )
    )
    wr = Window.orderBy(F.col("tok_mass").asc(), F.col("source").asc())
    wall = Window.partitionBy()
    r = m.select(
        "tok_mass",
        F.row_number().over(wr).alias("i"),
        F.count("*").over(wall).alias("n"),
        F.sum("tok_mass").over(wall).alias("total"),
    )
    return r.agg(
        F.max("n").cast("bigint").alias("n_sources"),
        F.max("total").cast("bigint").alias("total_tokens"),
        F.round(
            (
                F.lit(2) * F.sum(F.col("i") * F.col("tok_mass"))
                - (F.max("n") + F.lit(1)) * F.max("total")
            ).cast("double")
            / (F.max("n") * F.max("total")),
            9,
        ).alias("gini"),
    )
