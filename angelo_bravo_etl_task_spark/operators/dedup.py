"""Deduplication operators.

Reference surface: the last-wins lookup-map build
(``pd.Series(...).to_dict()``, Angelo_ETL_Task.py:163-176) — duplicate keys
resolve to the LAST row in file order. Spark has no implicit row order, so
the operator takes an explicit order column (SURVEY.md §7.4).

LLM-pipeline surface (100 TB training-data dedup): content-hash and
normalized-text exact dedup, and near-dup over ONE shared gram-hash frame
(:func:`gram_hashes_frame`) — MinHash+LSH candidates (self-join or
probe-vs-index), gram-Jaccard confirm, and SimHash. All are shuffle-on-key
group-bys or bucket-joins — nothing collects to the driver; candidate
generation is always blocked/banded so no O(n²) pair explosion.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .partitioning import spread as _spread


def last_wins(
    df: DataFrame, keys: Sequence[str], order_col: str | Sequence[str]
) -> DataFrame:
    """Keep, per key, the row with the greatest ``order_col`` (last-wins).

    Spark-native equivalent of ``pd.Series(values, index=keys).to_dict()``
    duplicate-key semantics (Angelo_ETL_Task.py:163,166,169,176): one
    aggregate, ``max_by(struct(non-key columns), struct(order columns))``,
    so one shuffle on the key and no sort. Use `first_wins` semantics by
    passing a negated/inverted order column.

    ``order_col`` may be a list of columns, compared left to right. A NULL
    order value ranks below every non-NULL one (as ``row_number`` over
    ``DESC`` would rank it last); a key whose only row has a NULL order
    still keeps that row, because the order struct itself is never NULL.
    The combined ordering must be UNIQUE within each key group or the
    survivor is engine/run-dependent — pass enough tiebreakers. Output
    columns keep the input's names, order and types.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    values = [c for c in df.columns if c not in keys]
    kept = df.groupBy(*keys).agg(
        F.max_by(F.struct(*values), F.struct(*order_cols)).alias("_last")
    )
    return kept.select(
        *[c if c in keys else F.col("_last")[c].alias(c) for c in df.columns]
    )


def exact_dedup_by_hash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content dedup via md5(text): keeps the minimum id per distinct content.

    Deterministic survivor (min id) — unlike dropDuplicates — so results are
    reproducible run to run, which matters for training-data lineage. Only
    the 32-char digest and the id shuffle, not the document bodies.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )


def normalize_text(col: Column) -> Column:
    """Canonical text form for near-dup detection: lowercase, strip
    punctuation, collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def normalized_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup level 0: dedup on normalized text (case/punct/ws-insensitive)."""
    return (
        df.select(
            F.md5(normalize_text(F.col(text_col))).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup.
#
# Pipeline: word n-grams → per-gram 64-bit hashes (:func:`gram_hashes_frame`,
# materialized once and shared by every consumer) → k minhash values (one per
# permutation, computed as min over re-mixed hashes — the standard "one hash
# function, k mixers" trick) → band the signature → exact equi-join on
# (band, band_hash) → candidate pairs → optional exact gram-Jaccard confirm.
# Every step is a map or a key-shuffle; candidate volume is bounded by band
# collisions, never n².


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array from raw text (normalized first).

    Built from n shifted slices zipped together rather than a
    sequence+slice-per-index transform: output is identical, but the
    zip_with form materializes ~2x faster (measured 5.7s vs 9-10.5s
    persisting sf0.1's corpus) because each token is copied a constant
    number of times instead of once per covering window. Documents
    shorter than n tokens contribute their single whole-text shingle,
    matching the old sequence(0, max(L-n, 0)) behavior."""
    toks = F.split(normalize_text(col), r"\s+")
    length = F.size(toks)
    win = F.greatest(length - (n - 1), F.lit(0))
    zipped = F.slice(toks, 1, win)
    for k in range(1, n):
        zipped = F.zip_with(
            zipped,
            F.slice(toks, k + 1, win),
            lambda acc, t: F.concat_ws(" ", acc, t),
        )
    short = F.when(
        length < n, F.array(F.concat_ws(" ", toks))
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(
        F.filter(F.concat(zipped, short), lambda s: F.length(s) > 0)
    )


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """64-bit hash per word-n-gram WITHOUT building shingle strings.

    Hash each token once (``xxhash64``), then fold n consecutive token
    hashes into one value by chained long-mixing (``xxhash64(acc, next)``)
    — (n-1) vectorized ``zip_with`` passes over long arrays. Same blocking
    power as hashing the concatenated shingle string, at a fraction of the
    cost: one string hash per TOKEN instead of one per (token × n) plus n
    string copies. Documents shorter than n tokens fold all their tokens
    into a single hash (mirroring :func:`shingles`' single short shingle);
    empty documents yield an empty array.
    """
    toks = F.filter(
        F.split(normalize_text(col), r"\s+"), lambda s: F.length(s) > 0
    )
    th = F.transform(toks, lambda s: F.xxhash64(s))
    size = F.size(th)
    chain = th
    for k in range(1, n):
        chain = F.zip_with(
            F.slice(chain, 1, size - k),
            F.slice(th, k + 1, size - k),
            lambda a, b: F.xxhash64(a, b),
        )
    # < n tokens: left-fold every token hash into one (CASE branches are
    # lazily evaluated per row, so the size >= n slices never see negative
    # lengths under ANSI)
    short = F.array(
        F.aggregate(
            F.slice(th, 2, F.greatest(size - 1, F.lit(0))),
            F.element_at(th, 1),
            lambda acc, h: F.xxhash64(acc, h),
        )
    )
    return F.array_distinct(
        F.when(size >= n, chain)
        .when(size > 0, short)
        .otherwise(F.array().cast("array<bigint>"))
    )


def _permutation_mix(i: int):
    """Permutation ``i`` of the minhash signature as a Column lambda — the
    reference spec: signature slot i is ``array_min(transform(bh,
    _permutation_mix(i)))``. The engine runs :func:`_minhash_signature_arrow`;
    the parity tests compare it against this spec."""
    # closure factory: a 1-arg lambda so F.transform doesn't treat the second
    # parameter as the element index
    return lambda h: F.xxhash64(h, F.lit(i))


def _minhash_signature_arrow(num_hashes: int = 64):
    """Arrow-vectorized minhash: array<int64> shingle hashes → k-element
    signature, BIT-EXACT with the Column-expression spec
    (:func:`_permutation_mix`), parity-tested in
    ``tests/test_minhash_parity.py``.

    The Column spec evaluates ``array_min(transform(bh, xxhash64(h, i)))``
    k times — k interpreted Catalyst lambda dispatches per shingle. Here
    the same math runs as numpy C: Spark's ``xxhash64(h, lit(i))`` chains
    XXH64 over its children (``hashInt(i, hashLong(h, 42))``), and both
    single-block XXH64 forms have closed-form vectorizable expressions
    (multiply/rotate/xor on uint64). ``hashLong(h, 42)`` is i-independent,
    so it runs once per shingle; each of the k seeds then costs one cheap
    ``hashInt`` pass plus a segmented signed min (``minimum.reduceat``).
    Same documented exception to the no-Python rule as the simhash Arrow
    path: built-ins CAN express it, but k lambda dispatches per shingle
    make the hot path interpreter-bound."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)

    def _rotl(x, r):
        r = np.uint64(r)
        return (x << r) | (x >> (np.uint64(64) - r))

    def _fmix(h):
        h = h ^ (h >> np.uint64(33))
        h = h * P2
        h = h ^ (h >> np.uint64(29))
        h = h * P3
        h = h ^ (h >> np.uint64(32))
        return h

    def _hash_long(x, seed):  # XXH64 of one 8-byte block (Spark hashLong)
        h = seed + P5 + np.uint64(8)
        h = h ^ (_rotl(x * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        return _fmix(h)

    def _hash_int(i, seed):  # XXH64 of one 4-byte block (Spark hashInt)
        h = seed + P5 + np.uint64(4)
        h = h ^ (np.uint64(i) * P1)
        h = _rotl(h, 23) * P2 + P3
        return _fmix(h)

    @pandas_udf("array<bigint>")
    def minhash_from_hashes(bh: pd.Series) -> pd.Series:
        # uint64 wraparound IS the XXH64 arithmetic — silence the benign
        # numpy overflow warning for this scope only
        np.seterr(over="ignore")
        n = len(bh)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in bh), dtype=np.int64, count=n
        )
        nonempty = lens > 0
        out = [None] * n
        if nonempty.any():
            flat = np.concatenate(
                [
                    np.asarray(a, dtype=np.int64)
                    for a in bh
                    if a is not None and len(a)
                ]
            ).view(np.uint64)
            offsets = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            starts = offsets[nonempty]
            h1 = _hash_long(flat, np.uint64(42))  # i-independent inner hash
            sigs = np.empty((int(nonempty.sum()), num_hashes), dtype=np.int64)
            for i in range(num_hashes):
                mixed = _hash_int(i, h1).view(np.int64)
                sigs[:, i] = np.minimum.reduceat(mixed, starts)
            rows = sigs.tolist()
            for idx, j in zip(np.nonzero(nonempty)[0], range(len(rows))):
                out[idx] = rows[j]
        # empty docs mirror the Column path: array_min(empty) is NULL per slot
        for idx in np.nonzero(~nonempty)[0]:
            out[idx] = [None] * num_hashes
        return pd.Series(out, dtype=object)

    return minhash_from_hashes


def gram_hashes_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    extra: list[Column] | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """(id, [extra...], _bh) — distinct word-n-gram 64-bit hashes per doc,
    spread across cores and (by default) eagerly checkpointed.

    The normalize+tokenize+hash map over raw text is THE expensive stage of
    every near-dup pipeline; queries that need grams more than once (LSH
    signature build + exact-jaccard confirm + premise audits) share ONE
    materialized pass through this frame instead of re-deriving the text
    expression per consumer (guide §2.4/§5 — optimization r11). ``extra``
    lets callers piggyback cheap projections of the same scan (e.g.
    ``length(text)``) so the raw table is not re-scanned later.
    """
    cols = [F.col(id_col)]
    if extra:
        cols.extend(extra)
    out = _spread(df).select(
        *cols, shingle_hashes(F.col(text_col), shingle_n).alias("_bh")
    )
    return out.localCheckpoint(eager=True) if checkpoint else out


def _band_explode(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, _sig) → (id, band, band_hash): bands× explode of the signature.

    A trivial JVM map — cheaper recomputed per consumer than stored, which
    is why callers checkpoint BEFORE this step, never after."""
    rows = num_hashes // bands
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",", F.slice(F.col("_sig"), b * rows + 1, rows)
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select(id_col, "bh.band", "bh.band_hash")


def _signature_select(
    hashed: DataFrame, id_col: str, bh_col: str, num_hashes: int
) -> DataFrame:
    """(id, gram hashes) → (id, _sig): the k-slot minhash signature."""
    return hashed.select(
        F.col(id_col),
        _minhash_signature_arrow(num_hashes)(F.col(bh_col)).alias("_sig"),
    )


def banded_minhash_from_hashes(
    hashed: DataFrame,
    id_col: str = "doc_id",
    bh_col: str = "_bh",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Per-document banded MinHash signatures (id, band, band_hash) from a
    PRECOMPUTED gram-hash frame (:func:`gram_hashes_frame`).

    At 100 TB this frame IS the near-dup index a production pipeline
    persists (bucketed by (band, band_hash)); here it is built inline per
    query. No checkpoint here: the input frame is already materialized, and
    the signature map runs once per consumer — callers that fan a side out
    more than once checkpoint themselves."""
    return _band_explode(
        _signature_select(hashed, id_col, bh_col, num_hashes),
        id_col,
        num_hashes,
        bands,
    )


def _self_join_candidates(banded: DataFrame, id_col: str) -> DataFrame:
    """(id, band, band_hash) → distinct (id_a < id_b) bucket collisions —
    the one (band, band_hash) self-join body."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _probe_join_candidates(
    bp: DataFrame, bi: DataFrame, id_col: str
) -> DataFrame:
    """Banded probe frame × banded index frame → distinct
    (probe_id, index_id) bucket hits — the one probe-join body."""
    bp = bp.alias("p")
    bi = bi.alias("i")
    return (
        bp.join(
            bi,
            on=[
                F.col("p.band") == F.col("i.band"),
                F.col("p.band_hash") == F.col("i.band_hash"),
            ],
        )
        .select(
            F.col(f"p.{id_col}").alias("probe_id"),
            F.col(f"i.{id_col}").alias("index_id"),
        )
        .distinct()
    )


def minhash_lsh_candidates_from_hashes(
    hashed: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH over a PRECOMPUTED
    gram-hash frame (:func:`gram_hashes_frame`) — the caller's single text
    pass is shared with the confirm stage.

    rows = num_hashes/bands; P(candidate) ≈ 1-(1-j^rows)^bands for Jaccard j.
    Defaults (64 hashes, 16 bands × 4 rows) catch j ≳ 0.5 reliably.

    Scale shape: signature build is a pure map; banding explodes each doc
    into ``bands`` rows; the self-join on (band, band_hash) is an equi-join
    whose cost is bounded by real collisions. Returns (id_a, id_b) with
    id_a < id_b, distinct.
    """
    # Eager local checkpoint of the per-DOC signatures: the self-join would
    # otherwise (a) launch BOTH join sides concurrently, each computing the
    # full signature pipeline (persist() alone is lazy — the two sides race
    # before the cache fills), and (b) let constraint inference push the
    # whole signature expression into the scan as an IsNotNull filter.
    # Checkpointing materializes once, truncates lineage, and the blocks are
    # GC'd by the ContextCleaner when the frame drops out of scope (no
    # unpersist bookkeeping). Checkpoint BEFORE the bands× explode — banding
    # is a trivial JVM map, cheaper recomputed per join side than stored.
    # Signatures are tiny next to the text — safe at any scale.
    sig = _signature_select(
        hashed, id_col, "_bh", num_hashes
    ).localCheckpoint(eager=True)
    banded = _band_explode(sig, id_col, num_hashes, bands)
    return _self_join_candidates(banded, id_col)


def lsh_probe_candidates_from_hashes(
    probe_hashed: DataFrame,
    index_hashed: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Asymmetric banded-LSH candidates: probe docs vs an indexed corpus,
    both as PRECOMPUTED gram-hash frames (:func:`gram_hashes_frame`).

    The INCREMENTAL dedup shape: a (small) delta of new documents is
    checked against a (huge) existing corpus without the corpus ever
    self-joining — the equi-join on (band, band_hash) touches only the
    index buckets the probe's band hashes actually hit. At 100 TB the
    index side is a PRECOMPUTED, persisted banded-signature table
    (bucketed by band_hash so the probe join is shuffle-free on the
    corpus side); cost is O(|delta| · bands) probe rows × bucket hit
    size, independent of corpus row count. Returns distinct
    (probe_id, index_id) pairs; ids may overlap between frames — the
    caller guarantees disjointness (incremental pipelines key deltas
    into fresh id space).
    """
    return _probe_join_candidates(
        banded_minhash_from_hashes(
            probe_hashed, id_col, "_bh", num_hashes, bands
        ),
        banded_minhash_from_hashes(
            index_hashed, id_col, "_bh", num_hashes, bands
        ),
        id_col,
    )


def jaccard_pairs_from_hashes(
    a_hashed: DataFrame,
    b_hashed: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact gram Jaccard over candidate pairs (the confirm stage after
    LSH), from PRECOMPUTED gram-hash frames: ``id_a`` keys ``a_hashed``,
    ``id_b`` keys ``b_hashed``.

    Joins the gram-hash arrays back onto the (id_a, id_b) candidates — two
    broadcast-able joins when the candidate set is small, shuffled
    otherwise — and computes |A∩B|/|A∪B| with JVM array intrinsics. Over
    distinct 64-bit gram hashes this equals the string-gram Jaccard except
    under an xxhash64 collision *within one candidate pair's gram sets*
    (~|grams|²/2⁶⁴ — negligible and deterministic; every caller is
    oracle-verified tri-SF). The joins carry 8-byte hash arrays instead of
    n-gram strings (guide §2.3)."""
    out = (
        candidates.join(
            a_hashed.select(
                F.col(id_col).alias("id_a"), F.col("_bh").alias("_sh_a")
            ),
            on="id_a",
        )
        .join(
            b_hashed.select(
                F.col(id_col).alias("id_b"), F.col("_bh").alias("_sh_b")
            ),
            on="id_b",
        )
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return out.select("id_a", "id_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def simhash_quadrants(hashes: Column) -> Column:
    """64-bit SimHash fingerprint as 4×16-bit quadrants (array<int>, len 4),
    computed from a MATERIALIZED array of per-shingle int64 hashes (callers
    project ``transform(shingles, xxhash64)`` into a column first so the
    string hashing runs once, not once per bit).

    For each bit position the weighted vote (+1/-1) is summed across shingle
    hashes; the sign of the sum sets the output bit. Packing into 16-bit
    quadrants (instead of one int64) keeps arithmetic overflow-free under
    ANSI mode and gives the LSH blocking key for free. All higher-order
    array functions — no UDF.

    The reference spec of :func:`_simhash_quadrants_arrow`, which the
    engine runs; the parity tests compare the two.
    """

    def vote_bit(pos: Column) -> Column:
        # +1 if majority of shingle hashes have this bit set, else 0
        tally = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(F.getbit(h, pos) == 1, 1).otherwise(-1),
        )
        return F.when(tally > 0, 1).otherwise(0)

    def quadrant(q: int) -> Column:
        # Horner over the 16 bits of quadrant q, MSB first: acc*2 + bit
        return F.aggregate(
            F.sequence(F.lit(15), F.lit(0), F.lit(-1)),
            F.lit(0),
            lambda acc, i: acc * 2 + vote_bit(F.lit(q * 16) + i),
        )

    return F.array(*[quadrant(q) for q in range(4)])


def _simhash_quadrants_arrow():
    """Arrow-vectorized simhash: array<int64> shingle hashes → 4×16-bit
    quadrants. Produces EXACTLY the same fingerprints as
    :func:`simhash_quadrants` (parity-tested) but ~100× faster: the per-bit
    vote matrix is numpy C instead of one interpreted Catalyst lambda per
    (shingle × bit). This is the documented exception to the no-Python rule:
    built-ins CAN express it, but 64 interpreted lambda dispatches per
    shingle make the hot path Python-slow anyway; Arrow+numpy is the
    scale-correct implementation."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def simhash_from_hashes(bh: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        # MSB-first packing within each 16-bit quadrant (bit q*16+15 is the
        # quadrant's MSB) — must match simhash_quadrants' Horner order
        weights = 1 << np.arange(16, dtype=np.int64)  # bit i → 2^i
        n = len(bh)
        if n == 0:
            return pd.Series([], dtype=object)
        # one flat (total_hashes, 64) bit matrix for the WHOLE batch, then a
        # segmented per-row sum via reduceat — no Python loop over rows
        lens = np.fromiter(
            (0 if a is None else len(a) for a in bh), dtype=np.int64, count=n
        )
        flat = (
            np.concatenate([np.asarray(a, dtype=np.int64) for a in bh if a is not None and len(a)])
            if lens.sum()
            else np.empty(0, dtype=np.int64)
        )
        bits = ((flat.astype(np.uint64)[:, None] >> shifts) & np.uint64(1)).astype(
            np.int64
        )
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        # reduceat over NON-EMPTY rows only: their starts are strictly
        # increasing (each segment has ≥1 element) so no segment aliasing;
        # empty rows scatter back as zero
        nonempty = lens > 0
        row_sums = np.zeros((n, 64), dtype=np.int64)
        if nonempty.any():
            row_sums[nonempty] = np.add.reduceat(
                bits, offsets[nonempty], axis=0
            )
        votes = 2 * row_sums - lens[:, None]
        fpb = (votes > 0).astype(np.int64)  # (n, 64)
        quads = fpb.reshape(n, 4, 16) @ weights  # (n, 4)
        quads[lens == 0] = 0
        return pd.Series([[int(a), int(b), int(c), int(d)] for a, b, c, d in quads])

    return simhash_from_hashes


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 2,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Candidate generation blocks on the 16-bit quadrants (pigeonhole: any
    pair within Hamming 3 must agree on at least one of 4 quadrants), so the
    join is equi on (quadrant_idx, quadrant_bits), never a cross product.
    Fingerprints come from the Arrow path (:func:`_simhash_quadrants_arrow`).
    """
    hashed = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        shingle_hashes(F.col(text_col), shingle_n).alias("_bh"),
    )
    fp = hashed.select(
        F.col(id_col), _simhash_quadrants_arrow()(F.col("_bh")).alias("_fp")
    )
    # eager checkpoint of the per-DOC fingerprints before the self-join:
    # compute them ONCE (a lazy persist would let both join-side stages race
    # through the full pipeline concurrently) and truncate lineage so
    # constraint inference can't re-derive them inside the file scan; blocks
    # are GC'd with the frame. Checkpoint BEFORE the 4× posexplode — the
    # explode is a trivial JVM map, cheaper recomputed per side than stored.
    fp = fp.localCheckpoint(eager=True)
    quads = fp.select(
        id_col,
        "_fp",
        F.posexplode(F.col("_fp")).alias("q", "qbits"),
    )
    a = quads.alias("a")
    b = quads.alias("b")
    hamming = F.aggregate(
        F.zip_with(
            F.col("a._fp"),
            F.col("b._fp"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            on=[
                F.col("a.q") == F.col("b.q"),
                F.col("a.qbits") == F.col("b.qbits"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        # project hamming ONCE, then filter — not one evaluation in the
        # filter and another in the output projection
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
