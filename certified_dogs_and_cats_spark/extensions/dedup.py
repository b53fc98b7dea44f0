"""Deduplication operators for document-scale corpora.

Five strategies, cheapest to most robust:

1. exact        — hash-groupBy on md5(text). One shuffle on the hash.
2. shingle      — n-gram (word) shingle sets + exact Jaccard on candidate
                  pairs that share >= 1 shingle, gated by a document-
                  frequency cap on shingles (ungated, the self-join is
                  quadratic in shingle frequency — a skew bomb at scale).
3. MinHash+LSH  — the 100 TB path: constant-size signatures (H mins), band
                  join produces candidates in ~linear time, then exact
                  Jaccard verification only on candidates.
4. SimHash      — 64-bit near-dup fingerprint per doc
                  (:func:`simhash64`), plus banded hamming search
                  (:func:`simhash_near_dup_pairs`, pigeonhole-complete
                  below ``n_bands`` bit flips).
5. embedding    — semantic near-dup via sign-LSH bucketed candidates +
                  exact cosine verify (:func:`embedding_near_dup_pairs`).

All hashing is md5-based (deterministic, engine-portable) rather than
``xxhash64``/``hash`` so results are reproducible everywhere and the DuckDB
oracle can replay them bit-for-bit. At 100 TB swap md5 for ``xxhash64`` (2-3x
faster, same plan shape) if cross-engine replay is not needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.partitioning import spread

HEX = "0123456789abcdef"


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts: md5 -> (hash, keeper id, multiplicity).

    Keeper = min id (deterministic). One hash-aggregate shuffle; at scale the
    md5 is computed map-side and only (hash, id) shuffles, not the text.

    NULL-text documents are EXCLUDED: unknown content is not "identical"
    content, and md5(NULL)=NULL would otherwise collapse every failed
    extraction into one giant duplicate group whose members a downstream
    kill-list would wrongly delete.
    """
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    as_hash: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Docs with < n tokens produce no shingles (and thus can never pair).

    ``as_hash=True`` emits each shingle as a 60-bit integer (top 15 md5
    hex chars, base-16) instead of the raw n-gram string: at corpus scale
    the shingle table is the largest intermediate in the whole dedup
    pipeline, and an 8-byte key makes its distinct, df-cap, and every
    downstream equi-join shuffle ~3-4x fewer bytes with long (not string)
    comparisons. 2^60 keyspace makes collisions negligible, and the same
    hash replays in the oracle so both engines agree even on them.
    """
    toks = F.split(F.col(text_col), " ")
    parts = ", ".join(f"__toks__[i+{j}]" for j in range(n))
    shingle = F.expr(
        f"transform(sequence(0, size(__toks__)-{n}), i -> concat_ws(' ', {parts}))"
    )
    out = (
        spread(df).select(F.col(id_col), toks.alias("__toks__"))
        .filter(F.size("__toks__") >= n)
        .select(F.col(id_col), F.explode(shingle).alias("shingle"))
    )
    if as_hash:
        out = out.select(
            F.col(id_col),
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("shingle"),
        )
    return out.distinct()


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    threshold: float,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard over pairs sharing >= 1 shingle.

    (a_id, b_id, jaccard) with a_id < b_id and jaccard >= threshold.
    jaccard = |A∩B| / (|A|+|B|-|A∩B|) as exact-integer division -> DOUBLE.

    Scale gate: the shingle self-join is quadratic in per-shingle document
    frequency — one shingle shared by d docs emits d(d-1)/2 pairs, so a
    stop-word trigram at corpus scale is a skew bomb. ``max_shingle_df``
    drops shingles whose document frequency exceeds the cap from the
    *universe* (sizes and intersections both computed post-cap, so Jaccard
    stays internally consistent); such shingles carry no dedup signal
    anyway. Pair count is then bounded by sum_s df_s^2 <= cap * |shingles|.
    None disables the gate (exact textbook Jaccard).
    """
    if max_shingle_df is not None:
        df_counts = shingles.groupBy("shingle").agg(
            F.count("*").alias("__df__")
        )
        shingles = (
            shingles.join(df_counts, "shingle")
            .filter(F.col("__df__") <= max_shingle_df)
            .drop("__df__")
        )
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n"))
    x = shingles.alias("x")
    y = shingles.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .groupBy(
            F.col(f"x.{id_col}").alias("a_id"), F.col(f"y.{id_col}").alias("b_id")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.withColumnRenamed(id_col, "a_id").withColumnRenamed("n", "a_n")
    sb = sizes.withColumnRenamed(id_col, "b_id").withColumnRenamed("n", "b_n")
    jac = F.col("inter").cast("double") / (
        F.col("a_n") + F.col("b_n") - F.col("inter")
    )
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def tune_lsh(
    threshold: float,
    num_hashes: int = 32,
    fn_weight: float = 1.0,
) -> tuple[int, int]:
    """Pick the (n_bands, band_size) banding for :func:`lsh_candidate_pairs`
    that best matches a target Jaccard ``threshold``: the candidate
    probability S-curve is ``p(s) = 1 - (1 - s^r)^b`` (r = band_size,
    b = n_bands), and the chosen banding minimizes the integrated error
    ``fn_weight * (misses above threshold) + (false candidates below)``
    — the standard MMDS construction, computed by brute force over the
    divisors of ``num_hashes`` (there are only a handful). ``fn_weight``
    > 1 biases toward recall: a missed near-dup is usually worse than a
    wasted exact-verify.

    Pure driver-side math (no Spark); returns the tuple to pass as
    (num_hashes // band_size, band_size) consumers. Rule-of-thumb check:
    the curve's midpoint (1/b)^(1/r) lands near ``threshold``.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1): {threshold}")
    steps = 1000
    best: tuple[float, tuple[int, int]] | None = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        err = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s**r) ** b
            if s >= threshold:
                err += fn_weight * (1.0 - p)  # miss above threshold
            else:
                err += p  # false candidate below
        err /= steps
        if best is None or err < best[0]:
            best = (err, (b, r))
    assert best is not None
    return best[1]


def containment_pairs(
    shingles: DataFrame,
    id_col: str,
    threshold: float,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """ASYMMETRIC set-containment join: containment(A in B) =
    |A∩B| / |A| — the quote/subset detector Jaccard misses (a short doc
    embedded verbatim in a long one has low Jaccard but containment ~1).

    Returns DIRECTED rows (src_id, dst_id, inter, src_n, containment)
    with containment >= threshold: src's shingle set is (mostly) inside
    dst's. Each unordered candidate pair is computed once (same
    shared-shingle equijoin + df-cap skew gate as :func:`jaccard_pairs`
    — pair fan-out stays bounded by cap * |shingles|) and scored in both
    directions from the one intersection count.
    """
    if max_shingle_df is not None:
        df_counts = shingles.groupBy("shingle").agg(
            F.count("*").alias("__df__")
        )
        shingles = (
            shingles.join(df_counts, "shingle")
            .filter(F.col("__df__") <= max_shingle_df)
            .drop("__df__")
        )
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n"))
    x = shingles.alias("x")
    y = shingles.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .groupBy(
            F.col(f"x.{id_col}").alias("a_id"),
            F.col(f"y.{id_col}").alias("b_id"),
        )
        .agg(F.count("*").alias("inter"))
    )
    both = inter.join(
        sizes.select(F.col(id_col).alias("a_id"), F.col("n").alias("na")),
        "a_id",
    ).join(
        sizes.select(F.col(id_col).alias("b_id"), F.col("n").alias("nb")),
        "b_id",
    )
    directed = both.select(
        F.col("a_id").alias("src_id"),
        F.col("b_id").alias("dst_id"),
        "inter",
        F.col("na").alias("src_n"),
    ).unionByName(
        both.select(
            F.col("b_id").alias("src_id"),
            F.col("a_id").alias("dst_id"),
            "inter",
            F.col("nb").alias("src_n"),
        )
    )
    cont = F.col("inter").cast("double") / F.col("src_n")
    return directed.select(
        "src_id",
        "dst_id",
        F.col("inter").cast("bigint").alias("inter"),
        F.col("src_n").cast("bigint").alias("src_n"),
        cont.alias("containment"),
    ).filter(F.col("containment") >= threshold)


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, num_hashes: int = 32, band_size: int = 4
) -> DataFrame:
    """Band the signature (rows=band_size) and emit distinct candidate pairs
    (a_id, b_id) that collide on >= 1 band. Linear-ish: one explode + one
    equi-join on (band_idx, band_val); hot bands are true near-dup clusters."""
    if num_hashes % band_size != 0:
        raise ValueError(
            f"band_size {band_size} must divide num_hashes {num_hashes}:"
            " trailing hashes would silently drop out of the S-curve"
        )
    n_bands = num_hashes // band_size
    stack_args = []
    for b in range(n_bands):
        cols = [
            f"cast(mh{b * band_size + r} as string)"
            for r in range(band_size)
        ]
        stack_args.append(f"{b}, concat_ws('|', {', '.join(cols)})")
    bands = signatures.select(
        F.col(id_col),
        F.expr(
            f"stack({n_bands}, {', '.join(stack_args)}) AS (band_idx, band_val)"
        ),
    ).select(id_col, "band_idx", "band_val")
    x = bands.alias("x")
    y = bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("a_id"), F.col(f"y.{id_col}").alias("b_id")
        )
        .distinct()
    )


def minhash_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 32
) -> DataFrame:
    """(id, sh_arr, mh0..mh{num_hashes-1}) per document: ``sh_arr`` is the
    set of DISTINCT word n-gram shingles as 60-bit integers (top 15 md5
    hex chars, base-16 — the values of ``word_shingles(as_hash=True)``),
    and ``mh{i}`` the MinHash component: the min over the shingles of the
    60-bit hash of ``"{i}#{shingle}"``. ``sh_arr`` order is unspecified;
    consumers use it as a set (``size``, ``array_intersect``).

    Docs with < n tokens are dropped (no shingles -> can never pair),
    matching ``word_shingles``' row semantics; so are docs whose text is
    NULL.

    Plan: the docs are repartitioned by id (the one exchange, one row per
    document), then split, exploded into shingle positions, hashed as
    plain row expressions and aggregated by id (``collect_set`` + one
    ``min`` per seed) with the partial and final aggregate in the same
    stage: the shingle stream is never shuffled, and every md5 runs in
    whole-stage codegen. Per-element ``transform`` lambdas over an array
    compute the same values interpreted (``ArrayTransform`` is a
    ``CodegenFallback``): ``dedup_minhash_lsh`` on the sf0.1 corpus took
    12.2 CPU-s per run that way against 7.9 with this plan (4 vCPU, warm
    JVM, ``scripts/jvm_cpu_split.py``).
    """
    idc = f"`{id_col}`"
    parts = ", ".join(f"__toks__[__i__ + {j}]" for j in range(n))

    def h60(expr: str) -> str:
        return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"

    shingles = (
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks__"))
        .filter(F.size("__toks__") >= n)
        .repartition(id_col)
        .selectExpr(
            idc, "__toks__", f"explode(sequence(0, size(__toks__) - {n})) AS __i__"
        )
        .selectExpr(idc, h60(f"concat_ws(' ', {parts})") + " AS __sh__")
        .selectExpr(
            idc,
            "__sh__",
            *(
                h60(f"concat('{i}#', CAST(__sh__ AS STRING))") + f" AS __h{i}__"
                for i in range(num_hashes)
            ),
        )
    )
    return shingles.groupBy(id_col).agg(
        F.collect_set("__sh__").alias("sh_arr"),
        *(F.min(f"__h{i}__").alias(f"mh{i}") for i in range(num_hashes)),
    )


def _simhash_hex(votes: DataFrame, id_col: str) -> DataFrame:
    """Fold 64 vote-sum columns s0..s63 into the 16-hex-char signature."""
    digits = [
        F.substring(
            F.lit(HEX),
            sum(
                (
                    F.when(F.col(f"s{4 * i + j}") >= 0, F.lit(1 << j)).otherwise(
                        F.lit(0)
                    )
                    for j in range(4)
                ),
                start=F.lit(0),
            )
            + 1,
            1,
        )
        for i in range(16)
    ]
    return votes.select(F.col(id_col), F.concat(*digits).alias("simhash"))


def simhash64_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Zero-shuffle set-SimHash: 64-bit signature per document computed
    entirely map-side from the text column.

    Bit-identical to ``simhash64(tokens(df).distinct(), ...)`` — one +1/-1
    vote per DISTINCT token per bit of md5(token)'s first 64 bits — but
    the distinct and the vote sums are array expressions
    (``array_distinct`` + one SWAR fold, see below), so the exploded
    token stream never exists and nothing shuffles: at 100 TB the whole
    computation is a narrow scan projection. The md5 hex is parsed ONCE
    per token into a 64-bit integer word (``conv``), replacing the
    exploded form's 16 string-position ops per token with constant
    integer shifts.

    NULL-text docs drop (explode semantics: no tokens -> no row).

    Construction cost (r12): the expression tree is generated as SQL
    text and submitted through three ``selectExpr`` layers — the prior
    Column-object construction (hundreds of Py4J round-trips plus eager
    re-analysis of the growing 64-vote tree at every chained select)
    dominated the operator's wall clock at bench scale (1.6 s construct
    vs 0.4 s execute). Identical expressions, parsed once in the JVM.
    """
    # One signed 64-bit word per DISTINCT token carrying md5's first 64
    # bits (hi<<32|lo is bit-exact even when hi's top bit makes the long
    # negative — only bit patterns matter below). The nested transform
    # computes md5 ONCE per token; ``conv`` parses its hex ONCE into an
    # integer word, replacing the exploded form's 16 string-position ops
    # per token with constant integer shifts.
    words = (
        f"transform(transform(array_distinct(split({text_col}, ' ')), "
        "__t__ -> md5(__t__)), __h__ -> "
        "shiftleft(CAST(conv(substring(__h__, 1, 8), 16, 10) AS BIGINT), 32)"
        " | CAST(conv(substring(__h__, 9, 8), 16, 10) AS BIGINT))"
    )
    base = (
        spread(df)
        .filter(F.col(text_col).isNotNull())
        .selectExpr(id_col, f"{words} AS __hw__")
    )
    # ENFORCED contract (not just a comment): the 16-bit SWAR lanes
    # below overflow into the adjacent bit-plane counter at 65536
    # distinct tokens, which would produce a silently-wrong signature —
    # raise with the offending doc id instead. The guard sits in the
    # data path (the value IS the guarded column), so the optimizer
    # cannot prune it away.
    guard_msg = (
        "simhash64_text: document has >= 65536 distinct"
        " tokens (16-bit SWAR lane contract); chunk it"
        " upstream: id="
    )
    base = base.selectExpr(
        id_col,
        "CASE WHEN size(__hw__) < 65536 THEN __hw__ ELSE raise_error("
        f"concat('{guard_msg}', CAST({id_col} AS STRING))) END AS __hw__",
    )
    # SWAR bit-plane counting: plane word k accumulates the ones-counts
    # of bit planes {k, k+16, k+32, k+48} in four independent 16-bit
    # lanes of a single long ((h >> k) & 0x0001000100010001 adds 0 or 1
    # to each lane) — 16 packed counters instead of 64 scalar ones.
    # Higher-order-function lambdas are interpreted per element, so the
    # work per element is the dominant cost. The arithmetic shift's
    # sign-extension only reaches bits > 48 for k <= 15, which the lane
    # mask never selects. ONE fold with a 16-field struct accumulator
    # (measured ~25% faster than 16 separate folds: one traversal doing
    # 16 adds beats 16 traversals). CONTRACT: < 65536 distinct tokens
    # per doc (16-bit lanes); chunk monster docs upstream.
    lane_mask = 0x0001000100010001
    init = ", ".join(f"'p{k}', CAST(0 AS BIGINT)" for k in range(16))
    steps = ", ".join(
        f"'p{k}', __acc__.p{k} + (shiftright(__x__, {k}) & {lane_mask})"
        for k in range(16)
    )
    planes = base.selectExpr(
        id_col,
        "size(__hw__) AS __n__",
        f"aggregate(__hw__, named_struct({init}), "
        f"(__acc__, __x__) -> named_struct({steps})) AS __P__",
    )
    # Vote sum for simhash bit b = 2*ones - n; only its sign matters.
    # Bit-numbering parity with simhash64: simhash bit b is hex char
    # b//4+1's LSB-first offset b%4, and hex char i+1 covers bits
    # 63-4i..60-4i of the 64-bit word — so bit b=4i+j maps to word bit
    # m = 4*(15 - i) + j, which lives in plane m%16, lane m//16. The
    # vote and hex-digit folds are ONE generated select (struct-field
    # reads recompute nothing).
    def vote(i: int, j: int) -> str:
        m = 4 * (15 - i) + j
        return (
            f"(shiftright(__P__.p{m % 16}, {16 * (m // 16)}) & 65535)"
            " * 2 - __n__"
        )

    digits = ", ".join(
        f"substring('{HEX}', 1 + "
        + " + ".join(
            f"(CASE WHEN {vote(i, j)} >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(4)
        )
        + ", 1)"
        for i in range(16)
    )
    return planes.selectExpr(id_col, f"concat({digits}) AS simhash")


def simhash64(tokens: DataFrame, id_col: str, token_col: str) -> DataFrame:
    """64-bit SimHash per document as a 16-char lowercase hex string.

    Votes one +1/-1 per INPUT ROW: pass distinct (doc, token) pairs for
    the unweighted set-SimHash (what the registry queries feed it), or
    raw token occurrences for the frequency-weighted variant — the two
    produce incomparable signatures, so pick one per corpus. For each
    bit position b of md5(token)'s first 64 bits, the sign of the vote
    sum is bit b of the signature; near-duplicate docs land within small
    hamming distance.

    Plan shape: NO row explosion — the 64 bit votes are 64 aggregate
    expressions over (doc, token) rows, so the whole computation is one
    groupBy(doc) with map-side partial aggregation (one shuffle of 64 longs
    per doc per partition), then a single projection folds the 64 vote
    signs back into hex. All JVM-side exprs, whole-stage codegen.
    """
    h = F.md5(F.col(token_col))
    # 16 nibble values covering md5's first 64 bits (hex chars 1..16).
    nibs = tokens.select(
        F.col(id_col), h.alias("h")
    ).select(
        id_col,
        *[
            F.expr(f"position(substr(h, {i + 1}, 1) IN '{HEX}') - 1").alias(
                f"n{i}"
            )
            for i in range(16)
        ],
    )
    # Bit b lives in nibble b//4 at in-nibble offset b%4 (LSB-first).
    votes = nibs.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"n{b // 4}"), b % 4).bitwiseAND(
                        F.lit(1)
                    )
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(64)
        ]
    )
    return _simhash_hex(votes, id_col)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "e",
    bits: int = 8,
    n_probes: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (strategy 5: semantic dedup).

    Candidate generation is multi-probe sign-LSH bucketing: probe ``p``
    buckets every vector by the signs of dims ``[p*bits, (p+1)*bits)``
    (independent re-bucketings of the same vectors), vectors sharing ANY
    probe's bucket become candidates (union across probes), and exact
    cosine verifies each candidate once against ``threshold`` — never an
    all-pairs cross join. Returns distinct (id_a, id_b, cos_sim) with
    id_a < id_b.

    Scale contract: the self-join shuffles on (probe, bucket) — no
    broadcast — so work per bucket is ~(N/2^bits)^2/2 per probe; scale
    `bits` with log2(N) and recover the recall lost to more/finer
    boundaries by raising ``n_probes`` (each probe is a cheap re-keying,
    cost is linear in probes while recall loss decays exponentially: a
    near-dup pair is missed only if it straddles a sign boundary in EVERY
    probe's bit-selection). Requires ``n_probes * bits`` <= vector dim —
    enforced at execution time with a per-row ``raise_error`` guard
    (an out-of-range component would otherwise read NULL and silently
    collapse later probes into near-constant buckets: quadratic candidate
    blowup with zero recall gain).

    Caching contract: the bucketed frame feeds both join sides and is
    persisted via :func:`~certified_dogs_and_cats_spark.cache.tracked_persist`;
    long-lived callers should call
    :func:`certified_dogs_and_cats_spark.cache.release_cached` (or
    ``spark.catalog.clearCache()``) after consuming the result.
    """
    from ..cache import tracked_persist
    from .similarity import dot, sign_bucket, with_norm

    needed = n_probes * bits
    vec = F.col(vec_col)
    probes = F.explode(
        F.array(
            *[
                F.when(
                    F.size(vec) < needed,
                    F.raise_error(
                        F.format_string(
                            f"embedding_near_dup_pairs: n_probes*bits={needed}"
                            f" (n_probes={n_probes}, bits={bits}) exceeds"
                            " vector dim %s",
                            F.size(vec),
                        )
                    ),
                )
                .otherwise(
                    F.concat(
                        F.lit(f"{p}:"), sign_bucket(vec_col, bits, offset=p * bits)
                    )
                )
                for p in range(n_probes)
            ]
        )
    )
    # Both join sides read this frame; persist so the scan+norm+explode
    # runs once, not once per side.
    b = tracked_persist(
        with_norm(spread(embeddings), vec_col, "nrm").select(
            F.col(id_col), F.col(vec_col), "nrm", probes.alias("bucket")
        )
    )
    left = b.select(
        F.col("bucket"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("ea"),
        F.col("nrm").alias("nrm_a"),
    )
    right = b.select(
        F.col("bucket"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("eb"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = F.round(
        dot(F.col("ea"), F.col("eb")) / (F.col("nrm_a") * F.col("nrm_b")),
        round_digits,
    )
    # distinct() collapses pairs surfaced by more than one probe: cos_sim is
    # a deterministic fold of the same two vectors, so duplicates are exact.
    return (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def simhash_near_dup_pairs(
    signatures: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    budget: tuple[int, int] | None = None,
) -> DataFrame:
    """Near-duplicate pairs from 64-bit SimHash signatures via band-join.

    Pigeonhole guarantee: a pair within ``max_hamming`` bit flips shares at
    least one identical band whenever ``max_hamming < n_bands``, so banding
    loses NO true pairs at the default (3, 4). Candidates equi-join on the
    band key (band_idx:band_val) — shuffle-keyed, ~N/2^16 per 16-bit band
    value — then exact hamming (16 nibble XOR popcounts, all JVM exprs)
    verifies. Returns (a_id, b_id, hamming) with a_id < b_id.

    Scale contract (``budget``): each band has only 2^(64/n_bands) values,
    so in-bucket candidate pairs grow ~quadratically with corpus density —
    measured 103x incidence per 10x rows on the synthetic corpus
    (SHUFFLE.md r11), the same wall the shingle family hit. Wider bands
    cannot fix it here: the hamming-``h`` pigeonhole needs ``> h`` bands
    out of 64 bits, capping band width. Passing ``budget=(num, den)``
    applies the adaptive incidence budget (extensions/incidence.py) to the
    band-key posting lists: buckets whose occupancy would push the
    candidate stage past ``num/den`` pairs per posting row are DROPPED
    whole (boilerplate-hot signature regions — templated/near-constant
    docs), holding the candidate stage linear in postings at any corpus
    size. Drop-don't-sample semantics: a true near-dup pair is lost only
    if EVERY band it shares is hot, and the exact-integer cap decision is
    replayable in a DuckDB oracle (incidence.cap_ctes_sql). ``None``
    (default) keeps the lossless pigeonhole guarantee.

    Caching contract (budgeted path only): the budget filter feeds the
    bands frame into the df aggregate AND both join sides, so it is
    persisted via :func:`~certified_dogs_and_cats_spark.cache.tracked_persist`;
    long-lived callers should call
    :func:`certified_dogs_and_cats_spark.cache.release_cached` after
    consuming the result.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands})"
        )
    if not 1 <= n_bands <= 16 or 16 % n_bands != 0:
        # band_w = 0 would make every band the empty string (a full
        # O(N^2) cross join); a non-divisor would silently ignore the
        # trailing hex digits and weaken the pigeonhole guarantee.
        raise ValueError(
            f"n_bands must divide the 16 hex digits evenly: {n_bands}"
        )
    band_w = 16 // n_bands
    # Integer wire format (r12, guide §2.3/§4): the hex signature is
    # parsed ONCE per document into a signed 64-bit word (two 8-hex-char
    # conv halves — bit pattern exact even when the top bit sets), band
    # values are constant shift+mask slices of it, and the band key is
    # one BIGINT ((band_idx << band_bits) | band_val — a bijection of
    # the old 'idx:hexval' string, so posting groups, the budget's df
    # histogram, and hence the candidate set are IDENTICAL). Everything
    # that shuffles (band key, id, signature word) is fixed-width
    # integers instead of strings, and the exact verify is ONE
    # bit_count(xor) per candidate instead of 16 per-nibble string
    # position lookups — same hamming by nibble-decomposition of XOR.
    band_bits = 4 * band_w
    word = (
        "shiftleft(CAST(conv(substring(simhash, 1, 8), 16, 10) AS BIGINT),"
        " 32) | CAST(conv(substring(simhash, 9, 8), 16, 10) AS BIGINT)"
    )
    stack_args = ", ".join(
        # n_bands=1 degenerates to the whole word (the mask literal
        # 2^64-1 would not fit a BIGINT).
        "__w__"
        if band_bits >= 64
        else (
            f"CAST({(b << band_bits)} AS BIGINT) + "
            f"(shiftright(__w__, {64 - band_bits * (b + 1)})"
            f" & {(1 << band_bits) - 1})"
        )
        for b in range(n_bands)
    )
    bands = signatures.selectExpr(
        id_col, f"({word}) AS __w__"
    ).selectExpr(
        id_col,
        "__w__",
        f"explode(array({stack_args})) AS band_key",
    )
    if budget is not None:
        from ..cache import tracked_persist
        from .incidence import budget_filter

        bands = tracked_persist(budget_filter(bands, "band_key", *budget))
    x = bands.alias("x")
    y = bands.alias("y")
    # Verify BEFORE dedup (r12): hamming is a row-wise function of the
    # pair, so filter-then-distinct equals distinct-then-filter — but
    # the exact popcount verify is one JVM xor+popcount while the
    # distinct is an exchange. Running the verify map-side on each band
    # collision (a multi-band pair is re-verified once per shared band —
    # bounded by n_bands) means the distinct shuffles only SURVIVING
    # pairs (3 narrow columns), never candidate signatures.
    return (
        x.join(
            y,
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("a_id"),
            F.col(f"y.{id_col}").alias("b_id"),
            F.expr("CAST(bit_count(x.__w__ ^ y.__w__) AS INT)").alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _checkpointer(spark, reliable_checkpoint_dir: str | None):
    """Round-boundary lineage truncation. localCheckpoint is executor-local
    RDD storage: fast, but an executor loss mid-iteration loses blocks and
    kills the job — fine on local[n], lossy on a real cluster. Passing
    ``reliable_checkpoint_dir`` switches to HDFS/object-store checkpoints
    that survive executor failure (the durability option a 1000-executor
    run needs)."""
    if reliable_checkpoint_dir is None:
        return lambda df: df.localCheckpoint(eager=True)
    spark.sparkContext.setCheckpointDir(reliable_checkpoint_dir)
    return lambda df: df.checkpoint(eager=True)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    algorithm: str = "alternating",
    reliable_checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a pair list — the pairs -> clusters step of
    every dedup pipeline (near-dup PAIRS are not deduplicable until
    transitively closed into components, from which one canonical doc per
    component survives).

    Returns (node, component) for every node appearing in an edge, where
    component is the minimum node id reachable — deterministic.

    ``algorithm``:

    - ``"alternating"`` (default): large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14) — converges
      in O(log^2 n) rounds on ANY graph shape, including the power-law /
      long-chain graphs where label propagation needs diameter rounds.
    - ``"minlabel"``: one-hop min-label propagation — one join + one
      min-aggregate per round, rounds = graph diameter. Fine for shallow
      near-dup graphs (small cliques, short chains); kept for comparison
      and for its marginally cheaper per-round plan.

    ``reliable_checkpoint_dir`` switches round checkpoints from
    executor-local blocks to a durable store (see :func:`_checkpointer`).
    ``stats``, if given, receives {"rounds": n} for round-count assertions.
    Raises RuntimeError if ``max_iter`` rounds pass without convergence.
    """
    if algorithm == "alternating":
        return alternating_components(
            edges,
            src=src,
            dst=dst,
            max_iter=max_iter,
            reliable_checkpoint_dir=reliable_checkpoint_dir,
            stats=stats,
        )
    if algorithm != "minlabel":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    ckpt = _checkpointer(edges.sparkSession, reliable_checkpoint_dir)
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .persist()
    )
    labels = ckpt(
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        prop = sym.join(labels, sym["s"] == labels["node"]).select(
            F.col("d").alias("node"), F.col("label")
        )
        new_labels = ckpt(
            labels.union(prop).groupBy("node").agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter}"
            " rounds (graph diameter exceeds the budget); raise max_iter or"
            " use the alternating algorithm for high-diameter graphs"
        )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def alternating_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    reliable_checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., SoCC'14): provably O(log^2 n) rounds on any graph, vs diameter
    rounds for label propagation — the difference between 5 and 500 rounds
    on the long chains and power-law tangles real near-dup graphs contain.

    Each round rewires the edge set toward per-component stars whose center
    is the component's minimum node id:

    - large-star: every node u connects its LARGER neighbors to
      m(u) = min(neighbors(u) + [u]) — emits (v, m(u)) for v > u;
    - small-star: on the (larger -> smaller)-directed result, every node u
      connects its smaller neighbors AND ITSELF to its minimum neighbor.

    Both steps are one groupBy-min plus one join, shuffled on the node id —
    the same primitives as label propagation, just a rewiring rule that
    halves star depth geometrically instead of peeling one hop per round.
    Convergence = edge-set fixpoint, detected with a (count, bit_xor-of-xxhash64)
    checksum per round and CONFIRMED with an exact set-difference probe
    before exiting (the checksum alone admits a theoretical collision).
    Lineage is truncated each round (see :func:`_checkpointer`;
    ``reliable_checkpoint_dir`` makes rounds survive executor loss).

    Returns (node, component); ``stats`` receives {"rounds": n}. Raises
    RuntimeError on max_iter exhaustion.
    """
    ckpt = _checkpointer(edges.sparkSession, reliable_checkpoint_dir)
    # Ids keep their OWN type: the algorithm only needs a total order
    # (min) and hashing, which strings have too — casting to long would
    # silently NULL non-numeric ids and collapse every component.
    raw = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
        .persist()
    )
    # Both derivations checkpoint EAGERLY off the cached input, so the
    # (possibly expensive — e.g. an LSH pair pipeline) edge plan runs
    # exactly once; the cache is released before iteration starts.
    e = ckpt(raw.filter(F.col("s") != F.col("d")).distinct())
    nodes = ckpt(
        raw.select(F.col("s").alias("node"))
        .union(raw.select(F.col("d").alias("node")))
        .distinct()
    )
    raw.unpersist()

    def _checksum(frame: DataFrame) -> tuple:
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(s, d))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(e)
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # Large-star: symmetrize, find m(u) per node, point larger
        # neighbors at it. Result edges always run larger -> smaller.
        sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        mins = sym.groupBy("s").agg(F.min("d").alias("mn"))
        large = (
            sym.join(mins, "s")
            .filter(F.col("d") > F.col("s"))
            .select(
                F.col("d").alias("s"),
                F.least(F.col("s"), F.col("mn")).alias("d"),
            )
            .filter(F.col("s") != F.col("d"))
            .distinct()
        )
        # Small-star: per larger-endpoint group, point every smaller
        # neighbor and the node itself at the minimum neighbor.
        mins2 = large.groupBy("s").agg(F.min("d").alias("mn"))
        e_next = ckpt(
            large.join(mins2, "s")
            .select(F.col("d").alias("s"), F.col("mn").alias("d"))
            .union(mins2.select(F.col("s"), F.col("mn").alias("d")))
            .filter(F.col("s") != F.col("d"))
            .distinct()
        )
        cur = _checksum(e_next)
        if cur == prev and e_next.exceptAll(e).limit(1).count() == 0:
            e = e_next
            converged = True
            break
        prev = cur
        e = e_next
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter}"
            " rounds; raise max_iter"
        )
    # Fixpoint edges are (node, component-min) stars; nodes never on the
    # larger side (component minima, self-paired inputs) label themselves.
    labels = e.select(F.col("s").alias("node"), F.col("d").alias("component"))
    roots = nodes.join(
        e.select(F.col("s").alias("node")), "node", "left_anti"
    ).select(F.col("node"), F.col("node").alias("component"))
    return labels.union(roots)


def incremental_lsh_candidates(
    corpus_bands: DataFrame,
    batch_bands: DataFrame,
    id_col: str,
    include_batch_pairs: bool = False,
) -> DataFrame:
    """Incremental dedup candidates: NEW docs vs the EXISTING corpus.

    The production arrival path — when a batch lands, recomputing the full
    corpus x corpus pair set is O(N^2)-ish waste; the only new information
    is batch x corpus collisions plus (``include_batch_pairs=True``) the
    batch's INTRA-batch collisions — two near-identical documents arriving
    in the same batch match nothing stored and would otherwise both be
    admitted permanently. Both candidate sets cost ~|batch|, never
    corpus x corpus: the property that lets a 100 TB corpus absorb daily
    arrivals. Output: distinct (batch_id, corpus_id) candidates to
    exact-verify downstream (for intra-batch pairs, corpus_id is the
    OTHER batch document and batch_id < corpus_id).

    Both inputs are (id, band_idx, band_val) frames (see
    :func:`lsh_candidate_pairs` banding); the corpus side would be a
    stored table in production, appended as batches are admitted.
    """
    b = batch_bands.select(
        F.col(id_col).alias("batch_id"), "band_idx", "band_val"
    )
    c = corpus_bands.select(
        F.col(id_col).alias("corpus_id"), "band_idx", "band_val"
    )
    out = b.join(c, ["band_idx", "band_val"]).select(
        "batch_id", "corpus_id"
    )
    if include_batch_pairs:
        b2 = batch_bands.select(
            F.col(id_col).alias("corpus_id"), "band_idx", "band_val"
        )
        intra = (
            b.join(b2, ["band_idx", "band_val"])
            .filter(F.col("batch_id") < F.col("corpus_id"))
            .select("batch_id", "corpus_id")
        )
        out = out.unionByName(intra)
    return out.distinct()


def blocked_edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_dist: int,
    max_block: int | None = None,
) -> DataFrame:
    """Typo-tolerant pair matching: exact Levenshtein refinement over
    BLOCKED candidates — the fuzzy-join shape that survives scale.

    Never all-pairs: candidates form only inside a blocking key (pair
    count is sum over blocks of n_b^2, bounded by the largest block, not
    the corpus — choose block_cols so blocks stay small, and measure
    with key_skew_report). Two cheap pre-filters prune before the
    O(len*len) distance evaluates: ``id_a < id_b`` halves the join, and
    the length-difference bound (edit distance >= abs(len(a) - len(b)),
    so a pair whose lengths differ by more than ``max_dist`` can never
    match) drops most candidates inside the join condition itself,
    before the expensive predicate runs.

    ``max_block`` caps the quadratic term STRUCTURALLY: fixed-cardinality
    blocking keys (brand, brand x size, ...) have blocks that fill
    linearly with the corpus, so in-block pair counts grow QUADRATICALLY
    (the sf1 scaling probe measured 100x candidates for 10x rows on this
    path). When set, each block is split into sorted sub-blocks of at
    most ``max_block`` rows — sub-block id = floor(rank / max_block) in
    (text, id)-sorted order — and candidates form only within a
    sub-block: per-block work becomes n_b * max_block, LINEAR in the
    corpus. Sorting by the match text keeps typo variants in the same
    sub-block for all but boundary rows; pairs straddling a sub-block
    boundary are the scheme's implicit non-matches — the same
    recall/cost dial as sorted-neighborhood windows (run a
    complementary pass, e.g. :func:`sorted_neighborhood_pairs`, to
    recover boundary matches). Blocks smaller than ``max_block`` are
    untouched, so the cap only engages where the quadratic bite is.
    The rank order is total ((text, id), id unique) — sub-block
    assignment, and therefore the output, replays identically in SQL.

    Output: (*block_cols, id_a, id_b, dist) for pairs with
    dist <= max_dist — the block key rides along (it is constant within
    a pair by construction), so per-block rollups need no re-join
    against the source.
    """
    join_cols = list(block_cols)
    if max_block is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*block_cols).orderBy(
            F.col(text_col).asc_nulls_last(), F.col(id_col).asc_nulls_last()
        )
        df = df.withColumn(
            "__sub",
            F.floor((F.row_number().over(w) - 1) / F.lit(max_block)).cast(
                "int"
            ),
        )
        join_cols.append("__sub")
    cols = [F.col(c) for c in join_cols]
    a = df.select(
        *cols,
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("__ta"),
        F.length(text_col).alias("__la"),
    )
    b = df.select(
        *[F.col(c).alias(f"__b_{c}") for c in join_cols],
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("__tb"),
        F.length(text_col).alias("__lb"),
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in join_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__b_{c}"))
    cond = cond & (
        F.abs(F.col("__la") - F.col("__lb")) <= F.lit(max_dist)
    )
    return (
        a.join(b, cond)
        .withColumn("dist", F.levenshtein("__ta", "__tb"))
        .filter(F.col("dist") <= max_dist)
        .select(*block_cols, "id_a", "id_b", "dist")
    )


def prefix_filter_jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-threshold Jaccard pairs via PREFIX FILTERING (the
    PPJoin/AllPairs family — Xiao et al. WWW'08, Bayardo et al. WWW'07):
    the candidate generator that replaces :func:`jaccard_pairs`' df-cap
    heuristic with a lossless bound.

    Sets sharing Jaccard >= t MUST share a token inside each other's
    PREFIX — the first ``|T| - ceil(t*|T|) + 1`` tokens when every set is
    ordered by ascending global document frequency. Joining on prefix
    tokens (instead of all tokens) shrinks the candidate blow-up to the
    RAREST tokens' df^2, provably missing no qualifying pair; the size
    bound ``t*|B| <= |A|`` (ceil, integer form) prunes further inside the
    join. The candidate shuffle carries ONLY (id, n); the deduped
    surviving pairs then join the per-id token arrays back (once per
    side — cheap: the arrays frame is doc-count-sized) and verify with
    one exact ``array_intersect`` per pair.

    (a_id, b_id, inter, union, jaccard) with a_id < b_id and
    jaccard >= threshold; inter/union are exact integers, jaccard their
    IEEE-exact quotient — hash-stable across engines.
    """
    # PRECONDITION (same contract as jaccard_pairs): ``shingles`` holds
    # DISTINCT (id, shingle) rows — word_shingles() already guarantees
    # it, and re-distincting here would shuffle the largest intermediate
    # a second time behind the caller's persist barrier.
    toks = shingles.select(F.col(id_col).alias("__id"), "shingle")
    # Global frequency ordering: rare tokens first, ties on the token
    # itself — a TOTAL order that needs no global rank assignment (no
    # single-partition row_number over the vocab, which would be the
    # scale bottleneck): sorting each doc's (df, token) structs yields
    # the same order distributedly.
    vocab = toks.groupBy("shingle").agg(F.count("*").alias("__df"))
    from ..cache import tracked_persist

    # per_id feeds FOUR plan branches (both prefix-explode sides of the
    # candidate join, then both array-verify sides); without the persist
    # the df-join + collect_list aggregation over the full shingle stream
    # executes once per branch (4 identical subtrees in the physical
    # plan, no exchange reuse across the differing downstream aliases).
    per_id = tracked_persist(
        toks.join(vocab, "shingle")
        .groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__df", "shingle"))
            ).alias("__ordered"),
        )
        .select(
            "__id",
            F.col("__ordered.shingle").alias("__toks"),
            F.size("__ordered").alias("__n"),
        )
    )
    # prefix length = n - ceil(t*n) + 1. The prefix join carries ONLY
    # (id, n) — the token arrays would otherwise ride through the
    # candidate shuffle once per candidate pair (measured 5.1s -> 2.x s
    # at sf0.1 by deferring them); the arrays join back exactly once per
    # SURVIVING deduped pair.
    plen = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")).cast(
        "int"
    ) + F.lit(1)
    prefixes = per_id.select(
        "__id",
        "__n",
        F.explode(F.slice("__toks", F.lit(1), plen)).alias("__ptok"),
    )
    a = prefixes.select(
        F.col("__id").alias("a_id"), F.col("__n").alias("__na"), "__ptok"
    )
    b = prefixes.select(
        F.col("__id").alias("b_id"), F.col("__n").alias("__nb"), "__ptok"
    )
    cands = (
        a.join(b, "__ptok")
        .filter(F.col("a_id") < F.col("b_id"))
        # size bound: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|)
        .filter(
            F.least("__na", "__nb").cast("double")
            >= F.lit(threshold) * F.greatest("__na", "__nb")
        )
        .select("a_id", "b_id", "__na", "__nb")
        .dropDuplicates(["a_id", "b_id"])
    )
    arrays = per_id.select("__id", "__toks")
    verified = (
        cands.join(
            arrays.select(
                F.col("__id").alias("a_id"), F.col("__toks").alias("__ta")
            ),
            "a_id",
        )
        .join(
            arrays.select(
                F.col("__id").alias("b_id"), F.col("__toks").alias("__tb")
            ),
            "b_id",
        )
    )
    inter = F.size(F.array_intersect("__ta", "__tb"))
    union = F.col("__na") + F.col("__nb") - inter
    return (
        verified.select(
            "a_id",
            "b_id",
            inter.cast("bigint").alias("inter"),
            union.cast("bigint").alias("union"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    window: int,
    max_dist: int,
) -> DataFrame:
    """Sorted-neighborhood fuzzy matching (Hernandez & Stolfo, SIGMOD'95)
    — the LINEAR-candidate scale path for edit-distance joins.

    Fixed-cardinality blocking keys (brand, brand x size-band, ...) have
    blocks that grow linearly with the corpus, so in-block candidate
    pairs grow QUADRATICALLY — measured on the sf1 probe:
    blocked_edit_distance_pairs' candidates grew 100x for 10x rows (time
    12x only because the bounded-DP early-exit absorbs it; the next
    decade would not be absorbed). Sorted neighborhood caps candidates
    at N * window instead: sort each block by the match key, pair every
    record with exactly its ``window`` successors in that order. Typo
    variants sort adjacently, so small windows catch most true matches —
    the classic recall/cost dial every production ER pipeline ships
    (run multiple passes with different sort keys to push recall).

    Plan: ONE shuffle (the block sort); candidates come from ``window``
    lead() columns over that sort — no self-join, no candidate blow-up;
    the bounded-DP levenshtein verifies each of the N*window pairs.
    Deterministic: the sort key is (text, id), so candidate sets — and
    therefore the exact output — replay identically in SQL.

    Output: (*block_cols, id_a, id_b, dist) for neighborhood pairs with
    dist <= max_dist; id_a is the sort-order predecessor.
    """
    from pyspark.sql import Window

    # Nulls-last EXPLICITLY: Spark's bare asc() is NULLS FIRST while the
    # SQL oracles' ORDER BY ... ASC defaults to NULLS LAST (DuckDB /
    # ANSI), so a nullable sort column would silently produce different
    # neighbor candidate sets cross-engine. Pinning asc_nulls_last makes
    # the Spark window replay the oracle's order on any input.
    w = Window.partitionBy(*block_cols).orderBy(
        F.col(text_col).asc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    withleads = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("t_a"),
        *[
            F.struct(
                F.lead(F.col(id_col), k).over(w).alias("id_b"),
                F.lead(F.col(text_col), k).over(w).alias("t_b"),
            ).alias(f"n{k}")
            for k in range(1, window + 1)
        ],
    )
    r = withleads.select(
        *block_cols,
        "id_a",
        "t_a",
        F.explode(
            F.array(*[F.col(f"n{k}") for k in range(1, window + 1)])
        ).alias("nb"),
    ).filter(F.col("nb.id_b").isNotNull())
    return (
        r.withColumn("dist", F.levenshtein("t_a", F.col("nb.t_b"), max_dist))
        .filter(F.col("dist") != -1)
        .select(
            *block_cols,
            "id_a",
            F.col("nb.id_b").alias("id_b"),
            "dist",
        )
    )
