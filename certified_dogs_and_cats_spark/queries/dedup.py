"""Deduplication queries over the `documents` table (north-star extensions).

Oracles replay the exact same md5-based algorithms in DuckDB SQL, so value
hashes match bit-for-bit (validated: md5 / string-min / integer-division
parity across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..extensions.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    word_shingles,
)
from ..extensions.incidence import (
    BUDGET_DEN,
    BUDGET_NUM,
    budget_filter,
    cap_ctes_sql,
)
from ..cache import tracked_persist
from .common import t
from .registry import query

JACCARD_THRESHOLD = 0.5

# Shared oracle CTE: distinct word-3-gram shingles per doc, hashed to the
# same 60-bit integers the Spark side emits (word_shingles as_hash=True).
_SHINGLES_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]),
                             1, 15))::BIGINT AS shingle
      FROM toks, UNNEST(range(0, len(a) - 2)) AS u(i)
      WHERE len(a) >= 3
    )
"""


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keep_id,
           count(*) AS dup_count
    FROM documents WHERE text IS NOT NULL GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


# Shingles with document frequency above this cap are dropped from the
# Jaccard universe (skew gate — see extensions/dedup.py:jaccard_pairs).
# 1000 is far above any sf0.01/sf0.1 shingle frequency, so small-scale
# results are identical to the uncapped computation; at corpus scale the cap
# bounds the self-join fan-out.
MAX_SHINGLE_DF = 1000

# Adaptive incidence budget (extensions/incidence.py, VERDICT r10 #4):
# the candidate stage may emit at most 3 candidate pairs per 4 posting
# rows, enforced by a data-derived df cap replayed identically in the
# oracle. At sf0.01 it does not bind (max 3-shingle df is 7); at sf0.1
# it binds at cap~8, holding the exact-overlap family's shuffle growth
# near the data ratio instead of the uncapped 90x incidence blow-up.
_CAP_CTES = cap_ctes_sql(
    "sh", "shingle", "doc_id", BUDGET_NUM, BUDGET_DEN, ceiling=MAX_SHINGLE_DF
)


def budgeted_shingles3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared shingle relation with the adaptive incidence budget
    applied — the universe every exact-overlap pair query draws from.
    Materialized once per corpus (same memo contract as shingles3):
    jaccard_pairs/containment_pairs branch their input 4+ ways, and
    without the materialization every branch re-plans the full
    freq+histogram+cap chain (70 Exchange nodes in the containment
    audit vs 17 with it — reuse would carry the runtime, but the
    warehouse shape is to persist the post-budget universe next to the
    shingle table anyway)."""
    from ..cache import memoized_parquet

    return memoized_parquet(
        spark,
        ("budgeted_shingles3", sf_dir, BUDGET_NUM, BUDGET_DEN),
        lambda: budget_filter(shingles3(spark, sf_dir), "shingle"),
        "budgeted_shingles3",
    )


def shingles3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared hashed word-3-shingle relation (doc_id, shingle), built
    ONCE per (input) within a process and re-read as parquet by every
    set-similarity consumer — ngram-Jaccard, containment, and the PPJoin
    prefix filter each used to re-tokenize + re-explode the corpus. A
    warehouse materializes the shingle table once per corpus version (the
    canonical FineWeb/CC dedup pipeline shape); the similarity joins are
    downstream of that artifact. Deterministic (md5 of the shingle text),
    so memoization changes when work happens, never results."""
    from ..cache import memoized_parquet

    return memoized_parquet(
        spark,
        ("shingles3", sf_dir),
        lambda: word_shingles(
            t(spark, sf_dir, "documents"), "doc_id", "text", n=3, as_hash=True
        ),
        "shingles3",
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},{_CAP_CTES},
    sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
    pairs AS (
      SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter
      FROM shc x JOIN shc y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The shingle set is branched 4 ways downstream (freq gate, sizes, both
    # join sides); the memoized parquet build (shingles3) materializes the
    # tokenize+explode once per corpus instead of paying it 4x per branch
    # and once more per consumer query. The adaptive incidence budget
    # (budgeted_shingles3) bounds the candidate stage to <=3 pairs per 4
    # postings at any scale.
    sh = budgeted_shingles3(spark, sf_dir)
    return jaccard_pairs(
        sh, "doc_id", JACCARD_THRESHOLD, max_shingle_df=MAX_SHINGLE_DF
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (
      SELECT doc_id,
             min(('0x' || substr(md5('0#' || shingle), 1, 15))::BIGINT) AS mh0,
             min(('0x' || substr(md5('1#' || shingle), 1, 15))::BIGINT) AS mh1,
             min(('0x' || substr(md5('2#' || shingle), 1, 15))::BIGINT) AS mh2,
             min(('0x' || substr(md5('3#' || shingle), 1, 15))::BIGINT) AS mh3,
             min(('0x' || substr(md5('4#' || shingle), 1, 15))::BIGINT) AS mh4,
             min(('0x' || substr(md5('5#' || shingle), 1, 15))::BIGINT) AS mh5,
             min(('0x' || substr(md5('6#' || shingle), 1, 15))::BIGINT) AS mh6,
             min(('0x' || substr(md5('7#' || shingle), 1, 15))::BIGINT) AS mh7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band_idx, mh0 || '|' || mh1 AS band_val FROM sig
      UNION ALL
      SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
      UNION ALL
      SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
      UNION ALL
      SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM bands x
      JOIN bands y ON x.band_idx = y.band_idx AND x.band_val = y.band_val
                   AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    verified AS (
      SELECT c.a_id, c.b_id, count(*) AS inter
      FROM cand c
      JOIN sh x ON x.doc_id = c.a_id
      JOIN sh y ON y.doc_id = c.b_id AND y.shingle = x.shingle
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM verified
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..extensions.dedup import minhash_shingle_sets

    docs = t(spark, sf_dir, "documents")
    # Per-doc shingle-hash sets and signatures from one aggregate whose
    # only exchange carries one row per doc — the corpus-wide shingle
    # stream (10-100x the corpus bytes) is never shuffled, so the only
    # other shuffles are the band self-join and the candidate id-joins.
    # Branched 3 ways (signature, both verify sides) — persist, as Spark
    # does not dedupe common subplans (see dedup_ngram_jaccard).
    base = tracked_persist(
        minhash_shingle_sets(docs, "doc_id", "text", n=3, num_hashes=8)
    )
    cand = lsh_candidate_pairs(base, "doc_id", num_hashes=8, band_size=2)
    # Verify candidates with exact Jaccard (LSH = recall filter, not truth):
    # pull both docs' shingle arrays onto the candidate row and intersect
    # in the projection — arrays are distinct by construction, so
    # size(array_intersect) IS the exact intersection count.
    a = base.select(F.col("doc_id").alias("a_id"), F.col("sh_arr").alias("a_arr"))
    b = base.select(F.col("doc_id").alias("b_id"), F.col("sh_arr").alias("b_arr"))
    inter = F.size(F.array_intersect(F.col("a_arr"), F.col("b_arr")))
    jac = F.col("inter").cast("double") / (
        F.col("a_n") + F.col("b_n") - F.col("inter")
    )
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            inter.alias("inter"),
            F.size("a_arr").alias("a_n"),
            F.size("b_arr").alias("b_n"),
        )
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@query(
    "dedup_simhash",
    oracle="""
    WITH tk AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    bits AS (
      SELECT doc_id, tok, md5(tok) AS h, i AS pos
      FROM tk, UNNEST(range(0, 64)) AS u(i)
    ),
    votes AS (
      SELECT doc_id, pos,
             sum(((strpos('0123456789abcdef',
                          substr(h, CAST(floor(pos/4) AS INTEGER) + 1, 1)) - 1
                   >> (pos % 4)) & 1) * 2 - 1) AS s
      FROM bits GROUP BY 1, 2
    ),
    nibbles AS (
      SELECT doc_id, CAST(floor(pos/4) AS INTEGER) AS nibble_idx,
             sum((CASE WHEN s >= 0 THEN 1 ELSE 0 END) << (pos % 4)) AS nibble
      FROM votes GROUP BY 1, 2
    )
    SELECT doc_id,
           string_agg(substr('0123456789abcdef', CAST(nibble AS INTEGER) + 1, 1),
                      '' ORDER BY nibble_idx) AS simhash
    FROM nibbles GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.dedup import simhash64_text

    docs = t(spark, sf_dir, "documents")
    # Zero-shuffle map-side signature (bit-identical to
    # simhash64(tokens(docs).distinct()) — the oracle replays the
    # exploded form and hash-matches).
    return simhash64_text(docs, "doc_id", "text")


# --- strategy 5: embedding-cosine near-dup (semantic dedup) -----------------
# The synthetic embeddings have no true duplicates, so the threshold is set
# where LSH-bucketed candidates exist (bits=4, t=0.3 -> 135 pairs at sf0.01);
# the point pinned here is the algorithm: bucket-join candidates + exact
# cosine verify, never all-pairs.
NEAR_DUP_BITS = 4  # the sf0.01 resolution of _near_dup_bits (oracle-pinned)
NEAR_DUP_PROBES = 2  # probe 0: dims 1-4, probe 1: dims 5-8 (at 4 bits)
NEAR_DUP_THRESHOLD = 0.3


def _near_dup_bits(n_rows: int) -> int:
    """Count-scaled sign-LSH width — the scale contract
    embedding_near_dup_pairs documents: per-bucket pair work is
    ~(N/2^bits)^2, so FIXED bits grows candidates quadratically with the
    corpus (the sf1 probe measured 12x per 10x rows at bits=4). One more
    bit per doubling (bit_length - 6, clamped to [4, 16]) keeps expected
    bucket occupancy — and therefore candidate growth — linear; the
    recall cost of finer boundaries is paid back by the multi-probe OR.
    Integer-exact (no libm), resolves to 4 at the sf0.01 oracle gate so
    the committed SQL replays bit-for-bit there."""
    return max(4, min(16, n_rows.bit_length() - 6))


def _near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared near-dup -> connected-components labeling, built ONCE
    per (input, threshold, bucketing) within a process (cache.
    memoized_build) and re-read by every consumer — the components query
    itself, the survivors/kill-list, and the cluster-size histogram each
    used to recompute the full pair pipeline + O(log^2 n) star rounds
    from scratch. A warehouse pays the labeling once per corpus version;
    the consumers are cheap aggregates over it. Deterministic (bucketed
    candidates, exact rounded cosine, min-label components), so the memo
    changes when work happens, never results."""
    from ..cache import memoized_parquet
    from ..extensions.dedup import (
        connected_components,
        embedding_near_dup_pairs,
    )
    from ..extensions.similarity import as_double_vec

    def build() -> DataFrame:
        e = t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        )
        pairs = embedding_near_dup_pairs(
            e,
            NEAR_DUP_THRESHOLD,
            bits=_near_dup_bits(e.count()),
            n_probes=NEAR_DUP_PROBES,
        )
        return connected_components(pairs)

    return memoized_parquet(
        spark,
        (
            "near_dup_components",
            sf_dir,
            NEAR_DUP_THRESHOLD,
            "count_scaled_bits",
            NEAR_DUP_PROBES,
        ),
        build,
        "near_dup_components",
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, e, nrm,
             concat(
               CASE WHEN e[1] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[2] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[3] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[4] >= 0 THEN '1' ELSE '0' END) AS b0,
             concat(
               CASE WHEN e[5] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[6] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[7] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[8] >= 0 THEN '1' ELSE '0' END) AS b1
      FROM v
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
             round(list_dot_product(a.e, bb.e) / (a.nrm * bb.nrm), 6) AS cos_sim
      FROM b a JOIN b bb ON a.b0 = bb.b0
      WHERE a.vec_id < bb.vec_id
      UNION
      SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
             round(list_dot_product(a.e, bb.e) / (a.nrm * bb.nrm), 6) AS cos_sim
      FROM b a JOIN b bb ON a.b1 = bb.b1
      WHERE a.vec_id < bb.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM pairs
    WHERE cos_sim >= {NEAR_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe (OR of 2 independent sign-bucketings) near-dup pairs:
    candidates missed by a sign boundary in probe 0 are recovered when
    probe 1's bit-selection agrees; exact cosine verifies once. Bucket
    width is count-scaled (:func:`_near_dup_bits` — one more bit per
    corpus doubling, resolved from a metadata-sized count) so per-bucket
    candidate work stays linear in the corpus; at the sf0.01 oracle gate
    the rule resolves to the committed SQL's 4 bits."""
    from ..extensions.dedup import embedding_near_dup_pairs
    from ..extensions.similarity import as_double_vec

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("e")
    )
    return embedding_near_dup_pairs(
        e,
        NEAR_DUP_THRESHOLD,
        bits=_near_dup_bits(e.count()),
        n_probes=NEAR_DUP_PROBES,
    )


# --- SimHash hamming-banded near-dup search ---------------------------------
# Pigeonhole-complete at (max_hamming=3, n_bands=4): any pair within 3 bit
# flips shares at least one 16-bit band. 1026 pairs at sf0.01.
SIMHASH_MAX_HAMMING = 3

# Adaptive incidence budget for the band-collision candidate stage
# (VERDICT r11 #1: 103x incidence growth per 10x rows uncapped). 10 pairs
# per posting row — deliberately richer than the shingle family's 3/4: a
# shared 16-bit band is a strong signal and the verify is cheap JVM
# popcount, so the budget's job is bounding GROWTH (linear in postings by
# construction), not minimizing the constant. Does NOT bind at the sf0.01
# oracle gate (raw incidence 18,751 <= 10 * 2,000 postings — results
# bit-identical to uncapped, pinned by the no-bind pytest); at sf0.1 it
# caps 1.93M raw candidates to 186k (9.9x per 10x rows, vs 103x).
SIMHASH_BUDGET_NUM = 10
SIMHASH_BUDGET_DEN = 1
SIMHASH_BANDS = 4

_SIMHASH_SIG_CTE = """
    tk AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    bits AS (
      SELECT doc_id, tok, md5(tok) AS h, i AS pos
      FROM tk, UNNEST(range(0, 64)) AS u(i)
    ),
    votes AS (
      SELECT doc_id, pos,
             sum(((strpos('0123456789abcdef',
                          substr(h, CAST(floor(pos/4) AS INTEGER) + 1, 1)) - 1
                   >> (pos % 4)) & 1) * 2 - 1) AS s
      FROM bits GROUP BY 1, 2
    ),
    nibbles AS (
      SELECT doc_id, CAST(floor(pos/4) AS INTEGER) AS nibble_idx,
             sum((CASE WHEN s >= 0 THEN 1 ELSE 0 END) << (pos % 4)) AS nibble
      FROM votes GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             string_agg(substr('0123456789abcdef', CAST(nibble AS INTEGER) + 1, 1),
                        '' ORDER BY nibble_idx) AS simhash
      FROM nibbles GROUP BY doc_id
    )
"""


# Shared oracle CTE chain: band postings keyed by band_idx:band_val, then
# the adaptive-cap replay (sh_freq/sh_hist/sh_scored/sh_cap/sh_shc) — the
# exact-integer cap decision the Spark side's budget_filter makes.
_SIMHASH_BAND_BUDGET_CTE = f"""
    bands AS (
      SELECT doc_id,
             CAST(b AS VARCHAR) || ':' || substr(simhash, b*4 + 1, 4)
               AS band_key
      FROM sig, UNNEST(range(0, {SIMHASH_BANDS})) AS u(b)
    ),
    {cap_ctes_sql("bands", "band_key", "doc_id",
                  num=SIMHASH_BUDGET_NUM, den=SIMHASH_BUDGET_DEN,
                  prefix="sh_")},
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM sh_shc x
      JOIN sh_shc y ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    dist AS (
      SELECT a_id, b_id,
             CAST((SELECT sum(bit_count(xor(
                     strpos('0123456789abcdef', substr(sa.simhash, i, 1)) - 1,
                     strpos('0123456789abcdef', substr(sb.simhash, i, 1)) - 1)))
                   FROM UNNEST(range(1, 17)) AS u(i)) AS INTEGER) AS hamming
      FROM cand
      JOIN sig sa ON sa.doc_id = cand.a_id
      JOIN sig sb ON sb.doc_id = cand.b_id
    )
"""


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_SIG_CTE},
    {_SIMHASH_BAND_BUDGET_CTE}
    SELECT a_id, b_id, hamming FROM dist
    WHERE hamming <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs under the adaptive incidence budget
    (SIMHASH_BUDGET_NUM/DEN note above): candidate generation stays
    linear in band postings at any corpus size, and the cap decision is
    replayed exactly by the oracle's sh_* CTE chain. At the sf0.01 gate
    the budget does not bind, so results equal the lossless pigeonhole
    computation bit-for-bit."""
    from ..extensions.dedup import simhash64_text, simhash_near_dup_pairs

    docs = t(spark, sf_dir, "documents")
    sig = simhash64_text(docs, "doc_id", "text")
    return simhash_near_dup_pairs(
        sig,
        "doc_id",
        max_hamming=SIMHASH_MAX_HAMMING,
        n_bands=SIMHASH_BANDS,
        budget=(SIMHASH_BUDGET_NUM, SIMHASH_BUDGET_DEN),
    )


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, e, nrm,
             concat(
               CASE WHEN e[1] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[2] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[3] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[4] >= 0 THEN '1' ELSE '0' END) AS b0,
             concat(
               CASE WHEN e[5] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[6] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[7] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[8] >= 0 THEN '1' ELSE '0' END) AS b1
      FROM v
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, bb.vec_id AS id_b
      FROM b a JOIN b bb ON a.b0 = bb.b0
      WHERE a.vec_id < bb.vec_id
        AND round(list_dot_product(a.e, bb.e) / (a.nrm * bb.nrm), 6)
            >= {NEAR_DUP_THRESHOLD}
      UNION
      SELECT a.vec_id AS id_a, bb.vec_id AS id_b
      FROM b a JOIN b bb ON a.b1 = bb.b1
      WHERE a.vec_id < bb.vec_id
        AND round(list_dot_product(a.e, bb.e) / (a.nrm * bb.nrm), 6)
            >= {NEAR_DUP_THRESHOLD}
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(node, label) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT node, min(label) AS component FROM reach GROUP BY node
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters: transitively close the multi-probe near-dup
    pair list into connected components (min reachable id = component id,
    deterministic) via iterative min-label propagation — the step that
    turns pairwise similarity into actual dedup decisions (keep one doc
    per component). Verified against a DuckDB recursive-CTE transitive
    closure over the identical edge set. The labeling is built once per
    process and shared with the survivors/histogram consumers
    (_near_dup_components)."""
    return _near_dup_components(spark, sf_dir)


@query(
    "dedup_semantic_survivors",
    oracle=f"""
    WITH RECURSIVE
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, e, nrm,
             concat(
               CASE WHEN e[1] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[2] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[3] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[4] >= 0 THEN '1' ELSE '0' END) AS b0,
             concat(
               CASE WHEN e[5] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[6] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[7] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN e[8] >= 0 THEN '1' ELSE '0' END) AS b1
      FROM v
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, bb.vec_id AS id_b
      FROM b a JOIN b bb ON a.b0 = bb.b0
      WHERE a.vec_id < bb.vec_id
        AND round(list_dot_product(a.e, bb.e) / (a.nrm * bb.nrm), 6)
            >= {NEAR_DUP_THRESHOLD}
      UNION
      SELECT a.vec_id AS id_a, bb.vec_id AS id_b
      FROM b a JOIN b bb ON a.b1 = bb.b1
      WHERE a.vec_id < bb.vec_id
        AND round(list_dot_product(a.e, bb.e) / (a.nrm * bb.nrm), 6)
            >= {NEAR_DUP_THRESHOLD}
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(node, label) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (
      SELECT node, min(label) AS component FROM reach GROUP BY node
    )
    SELECT component AS keep_id,
           CAST(count(*) AS BIGINT) AS cluster_size,
           CAST(count(*) - 1 AS BIGINT) AS removed_cnt,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node)
             FILTER (WHERE node != component) AS dropped_ids
    FROM comp GROUP BY component
    """,
)
def dedup_semantic_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION, end to end: near-dup pairs -> connected
    components -> one canonical survivor per cluster (min id) plus the
    kill list of dropped ids — the artifact a training-data pipeline
    actually applies to the corpus (anti-join the dropped ids away).
    Composition of embedding_near_dup_pairs + alternating-star
    connected_components + one aggregate; the dropped ids are serialized
    as a sorted CSV string so the whole kill list is hash-compared against
    the DuckDB replay. Consumes the shared once-per-process components
    labeling (_near_dup_components)."""
    from pyspark.sql import functions as F

    comp = _near_dup_components(spark, sf_dir)
    return comp.groupBy(F.col("component").alias("keep_id")).agg(
        F.count("*").alias("cluster_size"),
        (F.count("*") - F.lit(1)).alias("removed_cnt"),
        F.concat_ws(
            ",",
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("node") != F.col("component"), F.col("node")
                    )
                )
            ),
        ).alias("dropped_ids"),
    )


@query(
    "dedup_incremental_batch",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT t1.doc_id,
             ('0x' || substr(md5(concat_ws(' ', t1.tok, t2.tok, t3.tok)),
                             1, 15))::BIGINT AS shingle
      FROM tk t1
      JOIN tk t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
      JOIN tk t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
    ),
    sig AS (
      SELECT doc_id,
             {", ".join(f"min(('0x' || substr(md5(concat('{i}#', shingle)), 1, 15))::BIGINT) AS mh{i}" for i in range(8))}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b AS band_idx,
             CASE b WHEN 0 THEN concat_ws('|', mh0, mh1)
                    WHEN 1 THEN concat_ws('|', mh2, mh3)
                    WHEN 2 THEN concat_ws('|', mh4, mh5)
                    ELSE concat_ws('|', mh6, mh7) END AS band_val
      FROM sig, UNNEST(range(0, 4)) AS u(b)
    )
    SELECT nb.doc_id AS batch_id, cb.doc_id AS corpus_id
    FROM (SELECT * FROM bands WHERE doc_id >= 400) nb
    JOIN (SELECT * FROM bands WHERE doc_id < 400) cb
      ON nb.band_idx = cb.band_idx AND nb.band_val = cb.band_val
    GROUP BY 1, 2
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental arrival-path dedup: docs with id >= 400 play the new
    batch, the rest the stored corpus; candidates come from joining ONLY
    the batch's MinHash bands against the corpus bands — cost proportional
    to the batch, never corpus x corpus (the property that lets a 100 TB
    corpus absorb daily arrivals). 8-hash / 4-band signatures replayed
    exactly in SQL."""
    from pyspark.sql import functions as F

    from ..extensions.dedup import incremental_lsh_candidates, minhash_shingle_sets

    docs = t(spark, sf_dir, "documents")
    sig = minhash_shingle_sets(docs, "doc_id", "text", n=3, num_hashes=8)
    stack_args = []
    for b in range(4):
        cols = [f"mh{b * 2 + r}" for r in range(2)]
        stack_args.append(f"{b}, concat_ws('|', {', '.join(cols)})")
    bands = tracked_persist(
        sig.select(
            "doc_id",
            F.expr(f"stack(4, {', '.join(stack_args)}) AS (band_idx, band_val)"),
        )
    )
    corpus = bands.filter(F.col("doc_id") < 400)
    batch = bands.filter(F.col("doc_id") >= 400)
    return incremental_lsh_candidates(corpus, batch, "doc_id")


# The components transitive-closure oracle is reused VERBATIM as a
# subquery below (DuckDB allows WITH RECURSIVE inside a derived table),
# so the cluster histogram can never drift from the component
# definition it summarizes.
from .registry import ORACLE as _ORACLE  # noqa: E402

_COMPONENTS_ORACLE = _ORACLE["dedup_connected_components"]


@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
    SELECT n_members,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_members - 1) AS BIGINT) AS n_dropped
    FROM (
      SELECT component, CAST(count(*) AS INTEGER) AS n_members
      FROM ({_COMPONENTS_ORACLE}) GROUP BY component
    ) GROUP BY n_members
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup story's closing report: near-dup pairs -> connected
    components -> CLUSTER-SIZE HISTOGRAM (how many clusters of each
    size, and how many documents dedup would drop — members minus the
    one survivor per cluster). This is the number a corpus owner reads
    before approving a dedup run; at 100 TB it is two tiny hash
    aggregates on top of the already-scale-safe components output. The
    oracle wraps the EXACT components oracle as a subquery, so the
    histogram is verified against the same transitive closure. Consumes
    the shared once-per-process components labeling
    (_near_dup_components) instead of recomputing the pair pipeline."""
    from pyspark.sql import functions as F

    comp = _near_dup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("int").alias("n_members")
    )
    return sizes.groupBy("n_members").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum(F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
    )


CONTAIN_THRESHOLD = 0.6


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},{_CAP_CTES},
    sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
    pairs AS (
      SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter
      FROM shc x JOIN shc y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    directed AS (
      SELECT a_id AS src_id, b_id AS dst_id, inter, sa.n AS src_n
      FROM pairs JOIN sizes sa ON sa.doc_id = a_id
      UNION ALL
      SELECT b_id, a_id, inter, sb.n
      FROM pairs JOIN sizes sb ON sb.doc_id = b_id
    )
    SELECT src_id, dst_id,
           CAST(inter AS BIGINT) AS inter,
           CAST(src_n AS BIGINT) AS src_n,
           CAST(inter AS DOUBLE) / src_n AS containment
    FROM directed
    WHERE CAST(inter AS DOUBLE) / src_n >= {CONTAIN_THRESHOLD}
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection (extensions.dedup.
    containment_pairs): |A∩B|/|A| finds short documents quoted/embedded
    inside longer ones — pairs Jaccard structurally misses (the union in
    its denominator is dominated by the long doc). Same shared-shingle
    candidate generator + df-cap skew gate as dedup_ngram_jaccard; one
    intersection count scores both directions. Containment is an
    exact-integer division, hash-pinned. Candidate universe is the
    incidence-budgeted shingle relation (see budgeted_shingles3)."""
    from ..extensions.dedup import containment_pairs

    sh = budgeted_shingles3(spark, sf_dir)
    return containment_pairs(
        sh, "doc_id", CONTAIN_THRESHOLD, max_shingle_df=MAX_SHINGLE_DF
    )


_MH_N = 8
_MH_SIG_COLS = ",\n             ".join(
    f"min(('0x' || substr(md5('{i}#' || shingle), 1, 15))::BIGINT) AS mh{i}"
    for i in range(_MH_N)
)
_MH_BANDS = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {b} AS band_idx,"
    f" mh{2 * b} || '|' || mh{2 * b + 1} AS band_val FROM sig"
    for b in range(_MH_N // 2)
)
_MH_MATCHES = " + ".join(
    f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(_MH_N)
)


@query(
    "minhash_estimate_calibration",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (
      SELECT doc_id,
             {_MH_SIG_COLS}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
{_MH_BANDS}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM bands x
      JOIN bands y ON x.band_idx = y.band_idx AND x.band_val = y.band_val
                   AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    verified AS (
      SELECT c.a_id, c.b_id, count(*) AS inter
      FROM cand c
      JOIN sh x ON x.doc_id = c.a_id
      JOIN sh y ON y.doc_id = c.b_id AND y.shingle = x.shingle
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT v.a_id, v.b_id,
             CAST({_MH_MATCHES} AS INTEGER) AS n_hash_matches,
             CAST({_MH_MATCHES} AS DOUBLE) / {_MH_N} AS est_jaccard,
             CAST(v.inter AS DOUBLE) / (za.n + zb.n - v.inter)
               AS exact_jaccard
      FROM verified v
      JOIN sig sa ON sa.doc_id = v.a_id
      JOIN sig sb ON sb.doc_id = v.b_id
      JOIN sizes za ON za.doc_id = v.a_id
      JOIN sizes zb ON zb.doc_id = v.b_id
    )
    SELECT a_id, b_id, n_hash_matches, est_jaccard, exact_jaccard,
           abs(est_jaccard - exact_jaccard) AS abs_err
    FROM scored
    """,
)
def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the sketch tell the truth? For every LSH candidate pair, the
    MinHash-ESTIMATED Jaccard (matching signature components / 8 — the
    unbiased estimator the banding decision rests on) side by side with
    the exact shingle Jaccard, plus the absolute error — the calibration
    report that justifies a banding threshold before a 100 TB dedup run.
    Every value is integer counting or a single IEEE division/subtraction
    (estimates are exact eighths), so the whole report hash-pins. Plan:
    the signature/candidate path of dedup_minhash_lsh + one extra
    broadcast-sized signature join; no new shuffle shape."""
    from pyspark.sql import functions as F

    from ..extensions.dedup import lsh_candidate_pairs, minhash_shingle_sets

    docs = t(spark, sf_dir, "documents")
    base = tracked_persist(
        minhash_shingle_sets(docs, "doc_id", "text", n=3, num_hashes=_MH_N)
    )
    cand = lsh_candidate_pairs(base, "doc_id", num_hashes=_MH_N, band_size=2)
    a = base.select(F.col("doc_id").alias("a_id"), F.col("sh_arr").alias("a_arr"))
    b = base.select(F.col("doc_id").alias("b_id"), F.col("sh_arr").alias("b_arr"))
    sa = base.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(_MH_N)],
    )
    sb = base.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(_MH_N)],
    )
    matches = sum(
        F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
        for i in range(_MH_N)
    )
    inter = F.size(F.array_intersect(F.col("a_arr"), F.col("b_arr")))
    joined = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            matches.cast("int").alias("n_hash_matches"),
            inter.alias("inter"),
            F.size("a_arr").alias("na"),
            F.size("b_arr").alias("nb"),
        )
    )
    est = F.col("n_hash_matches").cast("double") / F.lit(_MH_N)
    exact = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return joined.select(
        "a_id",
        "b_id",
        "n_hash_matches",
        est.alias("est_jaccard"),
        exact.alias("exact_jaccard"),
        F.abs(est - exact).alias("abs_err"),
    )


@query(
    "dedup_token_savings",
    oracle=f"""
    WITH comp AS ({_COMPONENTS_ORACLE}),
    dropped AS (SELECT node FROM comp WHERE node != component),
    d AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             CASE WHEN dropped.node IS NOT NULL THEN 1 ELSE 0 END AS is_drop
      FROM documents LEFT JOIN dropped ON dropped.node = documents.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_total,
           CAST(sum(n) AS BIGINT) AS tokens_total,
           CAST(sum(is_drop) AS BIGINT) AS n_docs_dropped,
           CAST(sum(is_drop * n) AS BIGINT) AS tokens_dropped,
           CAST((1000 * sum(is_drop * n)) // sum(n) AS BIGINT)
             AS saved_permille
    FROM d GROUP BY 1
    """,
)
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What dedup actually buys, in TOKENS: join the components kill-list
    (node != component — the docs a min-id-survivor dedup would drop)
    back onto the corpus and report, per source, the document and token
    mass removed — the number that turns a dedup pair list into a
    training-budget decision. Consumes the shared once-per-process
    components labeling (_near_dup_components: embeddings vec_id IS the
    document id in this corpus); the kill-list is cluster-scale, so the
    corpus-side join broadcasts it. Integer-exact throughout."""
    from pyspark.sql import functions as F

    comp = _near_dup_components(spark, sf_dir)
    dropped = (
        comp.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"), F.lit(1).alias("is_drop"))
    )
    d = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("bigint").alias("n"),
        )
        .join(F.broadcast(dropped), "doc_id", "left")
        .fillna(0, subset=["is_drop"])
    )
    return d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs_total"),
        F.sum("n").cast("bigint").alias("tokens_total"),
        F.sum("is_drop").cast("bigint").alias("n_docs_dropped"),
        F.sum(F.col("is_drop") * F.col("n"))
        .cast("bigint")
        .alias("tokens_dropped"),
        F.expr("(1000 * sum(is_drop * n)) div sum(n)")
        .cast("bigint")
        .alias("saved_permille"),
    )
