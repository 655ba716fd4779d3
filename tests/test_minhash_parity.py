"""The Arrow-vectorized minhash path must produce EXACTLY the signatures of
the pure Column-expression spec (``array_min(transform(bh, xxhash64(h, i)))``
per permutation) — the numpy implementation re-derives Spark's chained
XXH64 (hashInt(i, hashLong(h, 42))) in closed form, so any drift is a real
bug, not representation noise. Checked on hand-picked edge cases and on the
sf0.01 ``documents`` corpus at the default 64 permutations: equal
signatures on every document imply equal bands, and so equal LSH
candidates."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from angelo_bravo_etl_task_spark.operators.dedup import (
    _band_explode,
    _minhash_signature_arrow,
    _permutation_mix,
    _self_join_candidates,
    gram_hashes_frame,
    minhash_lsh_candidates_from_hashes,
    shingle_hashes,
)


def _spec_signature(k):
    """The k-slot signature as the pure Column-expression spec."""
    return F.array(
        *[
            F.array_min(F.transform(F.col("_bh"), _permutation_mix(i)))
            for i in range(k)
        ]
    )


def _signatures(hashed, k):
    """(spec, arrow) signature dicts keyed by doc_id."""
    spec = {
        r["doc_id"]: r["sig"]
        for r in hashed.select(
            "doc_id", _spec_signature(k).alias("sig")
        ).collect()
    }
    arrow = {
        r["doc_id"]: r["sig"]
        for r in hashed.select(
            "doc_id", _minhash_signature_arrow(k)(F.col("_bh")).alias("sig")
        ).collect()
    }
    return spec, arrow


def test_arrow_matches_expression_spec(spark, sf_dir):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely different words about query engines and shuffles"),
        (3, "short doc"),
        (4, ""),  # empty: every signature slot NULL on both paths
        (5, "one two three one two three one two three"),
    ]
    k = 16
    df = spark.createDataFrame(texts, "doc_id LONG, text STRING")
    hashed = df.select(
        "doc_id", shingle_hashes(F.col("text"), 3).alias("_bh")
    )
    spec, arrow = _signatures(hashed, k)
    assert spec == arrow
    assert arrow[4] == [None] * k

    corpus_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    hashed = docs.select(
        "doc_id", shingle_hashes(F.col("text"), 3).alias("_bh")
    )
    spec, arrow = _signatures(hashed, 64)
    assert spec == arrow
    assert len(arrow) == docs.count() > 0


def test_candidate_pairs_identical_on_real_data(spark, sf_dir):
    """End-to-end consequence of signature parity: the engine's LSH
    candidates equal the candidates banded from the expression-spec
    signatures on the real ``documents`` table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    h = gram_hashes_frame(docs)
    fast = set(map(tuple, minhash_lsh_candidates_from_hashes(h).collect()))
    spec_sig = h.select("doc_id", _spec_signature(64).alias("_sig"))
    spec = set(
        map(
            tuple,
            _self_join_candidates(
                _band_explode(spec_sig, "doc_id", 64, 16), "doc_id"
            ).collect(),
        )
    )
    assert fast == spec
    assert len(fast) > 0
