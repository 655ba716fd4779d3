"""Unit tests for operators whose semantics the oracle harness can't cover:
planted near-duplicates for MinHash/SimHash, LSH recall vs brute force,
as-of/range joins on constructed frames, multimodal mapInPandas plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from angelo_bravo_etl_task_spark.operators import dedup as D
from angelo_bravo_etl_task_spark.operators import joins as J
from angelo_bravo_etl_task_spark.operators import similarity as SIM
from angelo_bravo_etl_task_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the spark engine "
        "shuffles partitions across the cluster and the optimizer prunes "
        "columns before the scan even starts running today"
    )
    near = base.replace("lazy dog", "sleepy dog")  # one token changed
    far = (
        "completely different content about databases indexes transactions "
        "and write ahead logs with nothing shared beyond english words"
    )
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "doc_id LONG, text STRING"
    )


def test_minhash_lsh_finds_planted_dups(docs):
    h = D.gram_hashes_frame(docs, shingle_n=3)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_candidates_from_hashes(
            h, num_hashes=32, bands=16
        ).collect()
    }
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup caught
    assert (1, 4) not in pairs and (2, 4) not in pairs  # far doc not caught


def test_jaccard_confirm(docs):
    h = D.gram_hashes_frame(docs)
    cands = D.minhash_lsh_candidates_from_hashes(h, num_hashes=32, bands=16)
    confirmed = D.jaccard_pairs_from_hashes(
        h, h, cands, threshold=0.5
    ).collect()
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in confirmed}
    assert by_pair[(1, 2)] == 1.0
    assert all(j >= 0.5 for j in by_pair.values())


def test_simhash_near_dups(spark):
    # SimHash with quadrant blocking guarantees detection only within
    # Hamming 3, i.e. SMALL relative change — plant a 1-token edit in a
    # 300-token doc (<1% shingle churn), not a short doc where one edit
    # perturbs a large fraction of the votes. (Verified hamming(1,3)=2 for
    # this fixture under the current hash derivation.)
    base = " ".join(f"word{i} item{i}" for i in range(150))
    near = base.replace("word75 ", "changedtoken ", 1)
    far = (
        "completely different content about databases indexes transactions "
        "and write ahead logs with nothing shared beyond english words"
    )
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "doc_id LONG, text STRING"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_dups(docs, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert (1, 4) not in pairs


def test_last_wins(spark):
    df = spark.createDataFrame(
        [("k1", "a", 1), ("k1", "b", 2), ("k2", "c", 5)], "k STRING, v STRING, ord INT"
    )
    out = {r["k"]: r["v"] for r in D.last_wins(df, ["k"], "ord").collect()}
    assert out == {"k1": "b", "k2": "c"}

    # a NULL order ranks below any value (row_number over DESC puts it
    # last), and a key whose only row has a NULL order keeps that row
    nulls = spark.createDataFrame(
        [(1, None, "a"), (1, 5, "b"), (2, None, "c")], "k INT, o INT, v STRING"
    )
    out = {r["k"]: r["v"] for r in D.last_wins(nulls, ["k"], "o").collect()}
    assert out == {1: "b", 2: "c"}

    # list order (r2's shape): the first column ties, the second decides
    tie = spark.createDataFrame(
        [(1, 7, 1, "lo"), (1, 7, 3, "hi"), (1, 6, 9, "older")],
        "k INT, o1 INT, o2 INT, v STRING",
    )
    out = D.last_wins(tie, ["k"], ["o1", "o2"]).collect()
    assert [r["v"] for r in out] == ["hi"]

    # a payload column outside keys and order: names, order and types of
    # the input columns survive the aggregate
    wide = spark.createDataFrame(
        [("x", 1.5, 1, 10), ("x", 2.5, 2, 20)],
        "p STRING, amount DOUBLE, ord INT, k BIGINT",
    )
    got = D.last_wins(wide, ["k"], "ord")
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in wide.schema.fields
    ]
    assert sorted(tuple(r) for r in got.collect()) == [
        ("x", 1.5, 1, 10),
        ("x", 2.5, 2, 20),
    ]
    got = D.last_wins(wide, ["p"], "ord").collect()
    assert [tuple(r) for r in got] == [("x", 2.5, 2, 20)]


def test_asof_join_backward(spark):
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("B", 3, 20.0)],
        "sym STRING, qt INT, px DOUBLE",
    )
    trades = spark.createDataFrame(
        [("A", 2), ("A", 5), ("A", 0), ("B", 9)], "sym STRING, tt INT"
    )
    out = J.asof_join(
        trades, quotes, on="sym", left_time="tt", right_time="qt"
    ).collect()
    got = {(r["sym"], r["tt"]): r["px"] for r in out}
    assert got == {("A", 2): 10.0, ("A", 5): 11.0, ("A", 0): None, ("B", 9): 20.0}


def test_asof_join_nearest_tie_goes_backward(spark):
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("A", 9, 12.0), ("B", 30, 20.0)],
        "sym STRING, qt INT, px DOUBLE",
    )
    trades = spark.createDataFrame(
        [("A", 3), ("A", 6), ("A", 0), ("B", 10), ("C", 7)],
        "sym STRING, tt INT",
    )
    out = J.asof_join(
        trades,
        quotes,
        on="sym",
        left_time="tt",
        right_time="qt",
        direction="nearest",
    ).collect()
    got = {(r["sym"], r["tt"]): r["px"] for r in out}
    # tt=3: gap to qt=1 is 2, to qt=5 is 2 — exact tie, backward (10.0) wins
    # tt=6: qt=5 (gap 1) beats qt=9 (gap 3); tt=0: only forward exists
    assert got == {
        ("A", 3): 10.0,
        ("A", 6): 11.0,
        ("A", 0): 10.0,
        ("B", 10): 20.0,
        ("C", 7): None,
    }


def test_asof_join_nearest_with_tolerance(spark):
    quotes = spark.createDataFrame(
        [("A", 0, 10.0), ("A", 100, 11.0)], "sym STRING, qt INT, px DOUBLE"
    )
    trades = spark.createDataFrame(
        [("A", 4), ("A", 60), ("A", 97)], "sym STRING, tt INT"
    )
    out = J.asof_join(
        trades,
        quotes,
        on="sym",
        left_time="tt",
        right_time="qt",
        direction="nearest",
        tolerance_seconds=5,
        right_time_as="matched",
    ).collect()
    got = {r["tt"]: (r["px"], r["matched"]) for r in out}
    # tt=4 matches qt=0 (gap 4 <= 5); tt=60 matches nothing (gaps 60/40);
    # tt=97 matches qt=100 (gap 3)
    assert got == {4: (10.0, 0), 60: (None, None), 97: (11.0, 100)}


def test_range_join_bucketed(spark):
    points = spark.createDataFrame([(1, 5), (2, 15), (3, 25)], "id INT, x INT")
    bands = spark.createDataFrame(
        [(0, 10, "lo"), (10, 20, "mid"), (20, 30, "hi")],
        "lo INT, hi INT, name STRING",
    )
    out = J.range_join(points, bands, "x", "lo", "hi", bucket_width=7).collect()
    got = {r["id"]: r["name"] for r in out}
    assert got == {1: "lo", 2: "mid", 3: "hi"}
    assert len(out) == 3  # no duplicate matches from bucket overlap


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    from angelo_bravo_etl_task_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(queries, emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.lsh_topk(
            queries, emb, dim=64, k=5, num_planes=4, num_tables=16
        ).collect()
    }
    # high-recall config (wide buckets, many tables): measured ~0.9
    recall = len(exact & approx) / len(exact)
    assert recall > 0.6, f"recall {recall}"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from angelo_bravo_etl_task_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    centroids = emb.where(F.col("vec_id") % 20 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(queries, emb, k=5).collect()
    }
    n_cells = centroids.count()
    nprobe = 4
    approx_rows = SIM.ivf_topk(queries, emb, centroids, k=5, nprobe=nprobe).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    # random 64-dim embeddings have essentially no cluster structure, so
    # absolute IVF recall is bounded; the meaningful property is that
    # probing nprobe/|C| of the cells recovers FAR more than that fraction
    # of the true neighbors (i.e. near neighbors concentrate in near cells).
    # Measured here: ~0.46 recall at a 0.16 probe fraction.
    probe_fraction = nprobe / n_cells
    assert recall > 2 * probe_fraction, f"recall {recall} vs fraction {probe_fraction}"
    # deterministic: same inputs → same result set
    rerun = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivf_topk(queries, emb, centroids, k=5, nprobe=nprobe).collect()
    }
    assert rerun == approx


def test_multimodal_decode_plumbing(spark):
    assets = spark.createDataFrame(
        [(1, "image", bytearray(b"fakepng-bytes-1"), None, "image/png"),
         (2, "image", bytearray(b"other-bytes-22"), None, "image/png")],
        MM.ASSET_SCHEMA,
    )
    feats = {r["asset_id"]: r for r in MM.extract_image_features(assets, fake=True).collect()}
    assert set(feats) == {1, 2}
    assert 64 <= feats[1]["width"] < 256 and feats[1]["channels"] == 3
    assert len(feats[1]["sha256"]) == 64
    # deterministic: same bytes → same fake dims
    again = {r["asset_id"]: r for r in MM.extract_image_features(assets, fake=True).collect()}
    assert again[1]["width"] == feats[1]["width"]


def test_multimodal_real_decode_is_stubbed(spark):
    assets = spark.createDataFrame(
        [(1, "image", bytearray(b"x"), None, "image/png")], MM.ASSET_SCHEMA
    )
    with pytest.raises(Exception):  # NotImplementedError surfaces via Py4J
        MM.extract_image_features(assets, fake=False).collect()


def test_frame_sampling(spark):
    assets = spark.createDataFrame(
        [(1, "video", bytearray(bytes(5000)), None, "video/mp4")], MM.ASSET_SCHEMA
    )
    frames = MM.sample_frames(assets, every_n_bytes=1024, max_frames=8).collect()
    assert len(frames) == 4  # 5000 // 1024
    assert all(len(bytes(f["frame_bytes"])) <= 1024 for f in frames)


def test_winnow_arrow_matches_column_spec(spark, sf_dir):
    """The Arrow winnowing fast path must produce EXACTLY the spec's
    fingerprints (hashlib.md5 ≡ engine md5 on utf-8 bytes)."""
    from angelo_bravo_etl_task_spark.operators.text import (
        rolling_fingerprints,
        tokens,
        winnow_arrow,
        winnow_from_grams,
    )
    from angelo_bravo_etl_task_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    spec_g = d.select("doc_id", rolling_fingerprints(F.col("text"), window=8).alias("_g"))
    spec = {
        (r["doc_id"], r["fp"])
        for r in spec_g.select(
            "doc_id", F.explode(winnow_from_grams(F.col("_g"), 4)).alias("fp")
        ).collect()
    }
    fast = {
        (r["doc_id"], r["fp"])
        for r in d.select(
            "doc_id",
            F.explode(winnow_arrow(8, 4)(tokens(F.col("text")))).alias("fp"),
        ).collect()
    }
    assert spec == fast and len(spec) > 0


def test_connected_components_basic(spark):
    """Chain 1-2-3, pair 10-11, isolated 99 (not in edges -> not returned);
    component = min node id; edge orientation does not matter."""
    from angelo_bravo_etl_task_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (3, 2)], "src long, dst long"
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_connected_components_long_chain(spark):
    """A 12-node path needs multiple propagation rounds (diameter > 1)."""
    from angelo_bravo_etl_task_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long"
    )
    rows = connected_components(edges).collect()
    assert len(rows) == 12 and all(r["component"] == 0 for r in rows)


def test_salted_join_equals_plain_join(spark):
    from angelo_bravo_etl_task_spark.operators.partitioning import salted_join

    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1, 401)],
        "id long, k string, v double",
    )
    dim = spark.createDataFrame(
        [("hot", 1), ("cold", 2)], "k string, grp int"
    )
    plain = {tuple(r) for r in fact.join(dim, "k").select("id", "grp").collect()}
    salted = {
        tuple(r)
        for r in salted_join(fact, dim, on="k", n_salts=8, salt_from="id")
        .select("id", "grp")
        .collect()
    }
    assert salted == plain and len(plain) == 400


def test_stratified_hash_sample_rates(spark):
    from angelo_bravo_etl_task_spark.operators.sampling import (
        stratified_hash_sample,
    )

    df = spark.range(0, 30000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("s")
    )
    out = (
        stratified_hash_sample(df, "id", "s", {"0": 0.5, "1": 0.1})
        .groupBy("s")
        .count()
        .collect()
    )
    got = {r["s"]: r["count"] for r in out}
    assert set(got) == {"0", "1"}  # stratum "2" dropped entirely
    assert 0.45 < got["0"] / 10000 < 0.55 and 0.07 < got["1"] / 10000 < 0.13


def test_repetition_features_edges(spark):
    from angelo_bravo_etl_task_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # fully repetitive
            (2, "w x y z"),          # no repetition
            (3, "solo"),             # shorter than any n-gram
            (4, ""),                 # empty
            (5, "go go go stop"),    # partial
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_features(df).collect()}
    r1 = rows[1]
    assert r1["rep_dup_bigram_frac"] == pytest.approx(2 / 3)  # 3 grams, 1 uniq
    assert r1["rep_top_word_frac"] == 1.0
    r2 = rows[2]
    assert r2["rep_dup_bigram_frac"] == 0.0
    assert r2["rep_top_word_frac"] == 0.25
    assert rows[3]["rep_dup_bigram_frac"] == 0.0  # no bigrams -> 0, not null
    r4 = rows[4]
    assert r4["rep_words"] == 0 and r4["rep_top_word_frac"] == 0.0
    assert rows[5]["rep_dup_bigram_frac"] == pytest.approx(1 / 3)  # 'go go' x2


def test_word_ngrams_short_input(spark):
    from angelo_bravo_etl_task_spark.operators.text import word_ngrams

    df = spark.createDataFrame([("a b c",), ("a b",), ("a",), ("",)], ["t"])
    out = [r[0] for r in df.select(word_ngrams(F.col("t"), 3)).collect()]
    assert out == [["a b c"], [], [], []]


def test_pii_redaction_roundtrip(spark):
    from angelo_bravo_etl_task_spark.operators.text import (
        EMAIL_RE,
        PHONE_RE,
        match_count,
        redact,
    )

    df = spark.createDataFrame(
        [("write bob.smith@corp.io or +44-020-7946 x two a@b.cc +1-555-0100",)],
        ["t"],
    )
    t = F.col("t")
    row = df.select(
        match_count(t, EMAIL_RE).alias("e"),
        match_count(t, PHONE_RE).alias("p"),
        redact(redact(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>").alias("r"),
    ).first()
    assert row["e"] == 2 and row["p"] == 2
    assert "@" not in row["r"] or "<EMAIL>" in row["r"]
    assert "bob.smith" not in row["r"] and "+1-555-0100" not in row["r"]
    assert row["r"].count("<EMAIL>") == 2 and row["r"].count("<PHONE>") == 2


def test_a2_estimate_within_rsd_of_a3_exact(spark, sf_dir):
    """The HLL estimate must land within its configured relative standard
    deviation of the exact distinct counts its oracle-checked twin (a3)
    computes — tying the sketch to checked ground truth. 4 sigma keeps
    flake probability negligible while still catching a broken sketch
    (off by orders of magnitude). The registered a2 no longer emits the
    raw estimate (upgraded to a law-certified hash-green output, verdict
    r7 item 6), so the estimate is computed inline here, and the
    registered query's within_tolerance certification must be all-TRUE
    and agree with a3's exact counts."""
    from pyspark.sql import functions as F

    from angelo_bravo_etl_task_spark.queries import QUERIES
    from angelo_bravo_etl_task_spark.sources.readers import load_table

    approx = {
        r["l_returnflag"]: r["approx_orders"]
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias(
                "approx_orders"
            )
        )
        .collect()
    }
    exact = {
        r["l_returnflag"]: r["exact_orders"]
        for r in QUERIES["a3_exact_distinct"][0](spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for flag, ex in exact.items():
        assert abs(approx[flag] - ex) <= max(4 * 0.02 * ex, 1), (
            flag, approx[flag], ex
        )

    cert = {
        r["l_returnflag"]: r
        for r in QUERIES["a2_approx_distinct"][0](spark, sf_dir).collect()
    }
    assert set(cert) == set(exact)
    for flag, ex in exact.items():
        assert cert[flag]["exact_orders"] == ex
        assert cert[flag]["within_tolerance"], cert[flag]


def test_profile_columns_single_pass_and_hostile_names(spark):
    from angelo_bravo_etl_task_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 5.0), (None, "b", 5.0)],
        ["id num", "the.cat", "x-y'z"],
    )
    out = profile_columns(df, ["id num", "the.cat", "x-y'z"])
    rows = {r["col_name"]: r for r in out.collect()}
    assert rows["id num"]["n_nulls"] == 1
    assert rows["id num"]["n_distinct"] == 2
    assert rows["the.cat"]["min_str"] == "a"
    assert rows["the.cat"]["max_str"] == "b"
    assert rows["x-y'z"]["n_nulls"] == 1
    assert rows["x-y'z"]["n_distinct"] == 1
    # single-pass shape: the input is scanned exactly once (AQE explain
    # repeats the tree under "== Initial Plan ==" — inspect the final only)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") == 1
    # unknown columns fail fast with a clear error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in DataFrame"):
        profile_columns(df, ["nope"])


def test_cp1_compaction_reduces_file_count(spark, sf_dir):
    """cp1's rewrite must actually shrink the file count 64 -> 4."""
    import glob
    import os

    from angelo_bravo_etl_task_spark.queries import QUERIES
    from angelo_bravo_etl_task_spark.queries_scale import _SCRATCH

    QUERIES["cp1_compaction"][0](spark, sf_dir).collect()
    tag = os.path.basename(sf_dir.rstrip("/"))
    n_frag = len(glob.glob(os.path.join(_SCRATCH, f"cp1_frag_{tag}", "*.parquet")))
    n_compact = len(
        glob.glob(os.path.join(_SCRATCH, f"cp1_compact_{tag}", "*.parquet"))
    )
    assert n_frag == 64 and n_compact == 4


def test_sh1_shards_are_curriculum_ordered_and_capped(spark, sf_dir):
    """sh1's layout contract: every shard file holds <= 100 records, there
    are multiple files, and the per-file [min,max] n_chars ranges are
    pairwise non-overlapping up to shared boundary values (range
    partitioning puts equal scores on a boundary in adjacent files; the
    (n_chars, doc_id) sort key makes ranges strictly ordered by file)."""
    import os

    from pyspark.sql import functions as F

    from angelo_bravo_etl_task_spark.queries import QUERIES
    from angelo_bravo_etl_task_spark.queries_scale import _SCRATCH

    QUERIES["sh1_curriculum_shards"][0](spark, sf_dir).collect()
    tag = os.path.basename(sf_dir.rstrip("/"))
    sink = os.path.join(_SCRATCH, f"sh1_shards_{tag}")
    per_file = (
        spark.read.parquet(sink)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .collect()
    )
    assert len(per_file) > 1
    assert all(r.n <= 100 for r in per_file)
    ranges = sorted((r.lo, r.hi) for r in per_file)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (ranges,)


def test_pq_topk_codes_recall_and_determinism(spark, sf_dir):
    """PQ pipeline invariants: recall vs brute force clears the measured
    floor (random embeddings are PQ's worst case), and the result set is
    deterministic across runs (fixed codebooks + tie-breaks)."""
    from angelo_bravo_etl_task_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(queries, emb, k=5).collect()
    }
    rows = SIM.pq_topk(
        queries, emb, dim=64, k=5, m=8, n_codewords=32, rerank=100
    ).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall > 0.5, f"recall {recall}"
    # per-query k results, exact cosine carried through the rerank
    per_q: dict[int, int] = {}
    for r in rows:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
        assert -1.0 <= r["cosine_sim"] <= 1.0
    assert set(per_q.values()) == {5}
    rerun = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.pq_topk(
            queries, emb, dim=64, k=5, m=8, n_codewords=32, rerank=100
        ).collect()
    }
    assert rerun == approx


def test_local_rows_df_raises_on_wrong_arity(spark):
    """A generator is materialized once; a row that does not fit the
    schema raises instead of falling back to an empty frame."""
    from angelo_bravo_etl_task_spark.operators.localframe import local_rows_df

    ok = local_rows_df(spark, ((i, f"v{i}") for i in range(3)), "k INT, v STRING")
    assert sorted(tuple(r) for r in ok.collect()) == [
        (0, "v0"), (1, "v1"), (2, "v2")
    ]

    def rows():
        yield (1, "a")
        yield (2, "b", "extra")

    with pytest.raises(ValueError):
        local_rows_df(spark, rows(), "k INT, v STRING")
