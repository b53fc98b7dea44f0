"""minhash_shingle_sets: the shingle sets and MinHash signatures of every
document from one codegen'd aggregate. Values are pinned against a
pure-Python md5 reference on edge documents, and the plan against the one
shape that keeps the shingle stream off the network."""

from __future__ import annotations

from hashlib import md5

from certified_dogs_and_cats_spark.extensions.dedup import minhash_shingle_sets
from certified_dogs_and_cats_spark.plans import plan_text

N_HASHES = 8

EDGE_DOCS = [
    (1, None),  # NULL text: no shingles, no row
    (2, "two tokens"),  # fewer than 3 tokens: no row
    (3, ""),  # one empty token: no row
    (4, "one two three"),  # exactly one shingle
    (5, "a b c a b c a b c"),  # repeated shingles collapse
    (6, "x  y z  w"),  # double spaces make empty tokens
    (7, " lead and trail "),  # leading/trailing empty tokens
    (8, "Grüße aus Köln über 東京 タワー"),  # non-ASCII (md5 of UTF-8)
]


def _h60(s: str) -> int:
    return int(md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _reference(text: str | None, n: int = 3) -> tuple[set[int], list[int]] | None:
    if text is None:
        return None
    toks = text.split(" ")
    if len(toks) < n:
        return None
    sh = {_h60(" ".join(toks[i:i + n])) for i in range(len(toks) - n + 1)}
    return sh, [min(_h60(f"{k}#{v}") for v in sh) for k in range(N_HASHES)]


def _docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


def test_sets_and_signatures_match_python_md5_on_edge_docs(spark):
    rows = {
        r.doc_id: r
        for r in minhash_shingle_sets(
            _docs(spark), "doc_id", "text", n=3, num_hashes=N_HASHES
        ).collect()
    }
    want = {i: _reference(t) for i, t in EDGE_DOCS}
    assert sorted(rows) == sorted(i for i, ref in want.items() if ref)
    for doc_id, row in rows.items():
        sh, mh = want[doc_id]
        assert len(row.sh_arr) == len(set(row.sh_arr))  # a set, no repeats
        assert set(row.sh_arr) == sh, doc_id
        assert [row[f"mh{k}"] for k in range(N_HASHES)] == mh, doc_id
    assert len(rows[5].sh_arr) == 3  # "a b c" / "b c a" / "c a b"


def test_one_exchange_and_none_between_explode_and_aggregate(spark):
    """The only exchange carries the tokenized documents (one row each);
    the exploded shingle stream goes straight into the partial and final
    aggregate of the same stage."""
    df = minhash_shingle_sets(
        _docs(spark), "doc_id", "text", n=3, num_hashes=N_HASHES
    )
    df.collect()  # AQE: the final plan exists only after execution
    final = plan_text(df, mode="simple").split("== Initial Plan ==")[0]
    lines = final.splitlines()
    assert sum("Exchange" in ln for ln in lines) == 1, final
    top_agg = next(i for i, ln in enumerate(lines) if "Aggregate" in ln)
    generate = next(i for i, ln in enumerate(lines) if "Generate" in ln)
    assert top_agg < generate, final
    between = lines[top_agg:generate]
    assert not any(
        "Exchange" in ln or "QueryStage" in ln or "AQEShuffleRead" in ln
        for ln in between
    ), final
