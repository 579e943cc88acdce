"""Dedup-family and ANN operator tests on synthetic documents with
planted duplicates/near-duplicates."""

import pytest
from pyspark.sql import functions as F

from etl_orders_to_bq_spark.operators.ann import ann_topk_bruteforce, ann_topk_lsh
from etl_orders_to_bq_spark.operators.dedup import (
    exact_dedup,
    first_occurrence_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm window sill and the birds sing in the garden"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE + " quietly"),  # near dup of 1
        (4, "completely different content about spark query planning and shuffles"),
        (5, "THE  quick   brown fox jumps over the lazy dog while the cat watches from the warm window sill and the birds sing in the garden"),  # normalized dup of 1
        (6, "short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    # 2 and 5 collapse into 1 (5 via whitespace/case normalization)
    assert kept == [1, 3, 4, 6]


def test_first_occurrence_dedup_multipartition(spark):
    """First-occurrence must hold across partitions — the reference's
    keep='first' semantic under a distributed read (SURVEY.md §7 hard
    part (a))."""
    rows = [(k, i, f"v{i}") for i, k in enumerate([1, 2, 1, 3, 2, 1, 3, 1] * 50)]
    df = spark.createDataFrame(rows, "k long, ord long, v string").repartition(8)
    out = first_occurrence_dedup(df, ["k"], "ord").collect()
    got = {r["k"]: r["v"] for r in out}
    assert got == {1: "v0", 2: "v1", 3: "v3"}


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, num_hashes=8, bands=4, shingle_len=3
        ).collect()
    }
    assert (1, 2) in pairs  # exact dups always collide
    assert (1, 5) in pairs  # normalized dup
    assert (2, 5) in pairs
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_ngram_jaccard_verifies_candidates(docs, spark):
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(cands, docs, threshold=0.0).collect()
    }
    assert verified[(1, 2)] == 1.0  # identical
    assert 0.5 < verified[(1, 3)] < 1.0  # near dup
    assert verified[(1, 4)] == 0.0  # unrelated


def test_simhash_hamming_pairs_complete_vs_bruteforce(spark):
    """Pigeonhole blocking must find EVERY pair brute force finds — the
    load-bearing property (any pair within Hamming max_dist shares at
    least one exact block, so the block equi-join loses nothing)."""
    from etl_orders_to_bq_spark.operators.dedup import simhash_hamming_pairs

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = [
        (i, " ".join(words[j % len(words)] for j in range(i, i + 5)))
        for i in range(40)
    ] + [(100 + i, " ".join(words[: 5 + (i % 2)])) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(df, bits=32, max_dist=3).collect()
    }
    hashes = {r["doc_id"]: r["simhash"] for r in simhash(df, bits=32).collect()}
    ids = sorted(hashes)
    expect = {
        (a, b): bin(hashes[a] ^ hashes[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(hashes[a] ^ hashes[b]).count("1") <= 3
    }
    assert got == expect
    assert expect, "fixture must plant at least one close pair"


def test_simhash_near_dups_close_in_hamming(docs):
    hashes = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=32).collect()}
    assert hashes[1] == hashes[2]  # identical text -> identical simhash
    assert hashes[1] == hashes[5]  # normalized dup
    ham_near = bin(hashes[1] ^ hashes[3]).count("1")
    ham_far = bin(hashes[1] ^ hashes[4]).count("1")
    assert ham_near < ham_far  # near-dup is closer than unrelated


@pytest.fixture(scope="module")
def embeddings(spark):
    import math

    rows = []
    for i in range(200):
        angle = (i % 20) / 20.0 * math.pi
        rows.append((i, [math.cos(angle), math.sin(angle), (i % 5) / 5.0, 1.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_bruteforce_topk(embeddings):
    q = [1.0, 0.0, 0.0, 1.0]
    top = ann_topk_bruteforce(embeddings, q, k=5).collect()
    assert len(top) == 5
    sims = [r["cos_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)
    # identity-direction vectors (angle 0, i%5==0) must rank first
    assert top[0]["cos_sim"] > 0.99


def test_ann_lsh_subset_of_bucket_and_reasonable_recall(embeddings):
    q = [1.0, 0.0, 0.0, 1.0]
    exact = [r["vec_id"] for r in ann_topk_bruteforce(embeddings, q, k=10).collect()]
    approx = [r["vec_id"] for r in ann_topk_lsh(embeddings, q, k=10, bits=4).collect()]
    assert len(approx) > 0
    # LSH scores must be a subset of the full ranking's scores (it scans
    # fewer rows, never invents values); recall sanity: some overlap
    assert len(set(approx) & set(exact)) >= 3


def test_asof_join_semantics(spark):
    """Backward as-of: latest right at-or-before left ts, per key;
    inclusive on equal timestamps; null when no prior right row."""
    from datetime import datetime as dt

    from etl_orders_to_bq_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [
            (1, 10, dt(2024, 1, 1, 10, 0)),
            (2, 10, dt(2024, 1, 1, 12, 0)),
            (3, 10, dt(2024, 1, 1, 9, 0)),   # before any right row
            (4, 20, dt(2024, 1, 1, 11, 0)),  # key with no right rows
            (5, 10, dt(2024, 1, 1, 11, 30)), # exactly at a right ts
        ],
        "id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, dt(2024, 1, 1, 9, 30), 1.0),
            (10, dt(2024, 1, 1, 11, 30), 2.0),
            (10, dt(2024, 1, 1, 13, 0), 3.0),
        ],
        "k long, ts timestamp, v double",
    )
    out = {
        r["id"]: r["v"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["v"]
        ).collect()
    }
    assert out == {1: 1.0, 2: 2.0, 3: None, 4: None, 5: 2.0}


def test_asof_join_tolerance(spark):
    from datetime import datetime as dt

    from etl_orders_to_bq_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, dt(2024, 1, 1, 12, 0))], "id long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, dt(2024, 1, 1, 9, 0), 1.0)], "k long, ts timestamp, v double"
    )
    wide = asof_join(left, right, "k", "ts", "ts", ["v"], tolerance="4 hours")
    tight = asof_join(left, right, "k", "ts", "ts", ["v"], tolerance="30 minutes")
    assert wide.first()["v"] == 1.0
    assert tight.first()["v"] is None


def test_connected_components(spark):
    """Min-label propagation must resolve chains and isolate disjoint
    components, at any partitioning."""
    from etl_orders_to_bq_spark.operators.graph import connected_components

    # chain 1-2-3-4, pair 10-11, triangle 20-21-22 (+ redundant edge)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    ).repartition(4)
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_ann_ivf_recall(spark, embeddings):
    """IVF with n_probe=all clusters must equal brute force; fewer
    probes must return a subset of valid scores."""
    from etl_orders_to_bq_spark.operators.ann import (
        ann_topk_bruteforce,
        ann_topk_ivf,
    )

    q = [1.0, 0.0, 0.0, 1.0]
    exact = [(r["vec_id"], r["cos_sim"])
             for r in ann_topk_bruteforce(embeddings, q, k=10).collect()]
    full_probe = [(r["vec_id"], r["cos_sim"])
                  for r in ann_topk_ivf(embeddings, q, k=10, n_clusters=4,
                                        n_probe=4).collect()]
    assert full_probe == exact  # probing every cluster == exact search
    partial = ann_topk_ivf(embeddings, q, k=10, n_clusters=4, n_probe=1)
    scores = {r["vec_id"]: r["cos_sim"] for r in partial.collect()}
    exact_scores = dict(exact)
    for vid, s in scores.items():
        if vid in exact_scores:
            assert s == exact_scores[vid]  # never invents values


def test_int8_quantization_roundtrip(spark, embeddings):
    """Quantize -> dequantize must stay within 1/127 relative error and
    preserve cosine ranking."""
    from etl_orders_to_bq_spark.operators.ann import (
        dequantize_embeddings,
        quantize_embeddings_int8,
    )
    from etl_orders_to_bq_spark.functions.vectors import cosine_similarity

    from pyspark.sql import functions as F2

    q = quantize_embeddings_int8(embeddings)
    dq = dequantize_embeddings(q)
    err = dq.select(
        F2.max(
            F2.aggregate(
                F2.zip_with(
                    F2.col("embedding").cast("array<double>"),
                    F2.col("dq_embedding"),
                    lambda a, b: F2.abs(a - b),
                ),
                F2.lit(0.0),
                lambda acc, x: F2.greatest(acc, x),
            )
        ).alias("max_abs_err")
    ).first()["max_abs_err"]
    # max component is 1.0 -> quantization step <= 1/127
    assert err <= 1.0 / 127.0 + 1e-9
    # cosine between original and dequantized self ~ 1
    sim = dq.select(
        F2.min(cosine_similarity(F2.col("embedding"), F2.col("dq_embedding")))
    ).first()[0]
    assert sim > 0.999


def test_ann_lsh_multiprobe_improves_recall(embeddings):
    """Probing Hamming-1 neighbor buckets must not lower recall, and
    probing ALL buckets (multi_probe=bits) must equal brute force."""
    from etl_orders_to_bq_spark.operators.ann import (
        ann_topk_bruteforce,
        ann_topk_lsh,
    )

    q = [1.0, 0.0, 0.0, 1.0]
    exact = [r["vec_id"] for r in ann_topk_bruteforce(embeddings, q, k=10).collect()]
    r0 = [r["vec_id"] for r in ann_topk_lsh(embeddings, q, k=10, bits=4).collect()]
    r1 = [r["vec_id"] for r in
          ann_topk_lsh(embeddings, q, k=10, bits=4, multi_probe=1).collect()]
    rall = [r["vec_id"] for r in
            ann_topk_lsh(embeddings, q, k=10, bits=4, multi_probe=4).collect()]
    assert len(set(r1) & set(exact)) >= len(set(r0) & set(exact))
    assert rall == exact  # full probe == exact search


def test_dedup_strategies_equivalent(spark):
    """window and min_by strategies must return identical rows."""
    rows = [(k, i, f"v{i}") for i, k in enumerate([1, 2, 1, 3, 2, 1] * 100)]
    df = spark.createDataFrame(rows, "k long, ord long, v string").repartition(7)
    w = {(r["k"], r["v"]) for r in
         first_occurrence_dedup(df, ["k"], "ord", strategy="window").collect()}
    m = {(r["k"], r["v"]) for r in
         first_occurrence_dedup(df, ["k"], "ord", strategy="min_by").collect()}
    assert w == m == {(1, "v0"), (2, "v1"), (3, "v3")}


def test_build_training_corpus(spark):
    """The corpus composition must filter, dedup (exact + near), and
    chunk — each planted pathology removed."""
    from etl_orders_to_bq_spark.pipeline.corpus import build_training_corpus

    en = ("the quick brown fox is seen in the garden and it is watched by "
          "the cat that sits on the warm sill of the house ") * 3
    rows = [
        (1, en),
        (2, en),                      # exact dup -> dropped
        (3, en + " tail words here"), # near dup -> clustered, dropped
        (4, "der hund und die katze und das haus und der baum und die "
            "sonne und der mond sind nicht hier " * 3),  # German -> dropped
        (5, "@@ ## $$ %% ^^ && ** (( )) !!"),  # garbage -> quality-dropped
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = build_training_corpus(
        docs, lang="en", min_quality=0.5, chunk_tokens=20, overlap=4
    )
    kept_docs = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    assert kept_docs == {1}
    chunks = out.orderBy("chunk_idx").collect()
    assert len(chunks) > 1  # long doc actually chunked
    assert all(r["n_tokens"] <= 20 for r in chunks)


def test_null_text_robustness(spark):
    """Every text operator must pass null text through without
    crashing (nulls happen at 100 TB)."""
    from etl_orders_to_bq_spark.functions.text import (
        doc_fingerprint,
        language_id,
        quality_score,
        token_count,
    )
    from etl_orders_to_bq_spark.operators.chunk import chunk_documents
    from etl_orders_to_bq_spark.operators.dedup import minhash_signature, simhash

    df = spark.createDataFrame(
        [(1, None), (2, "real text here")], "doc_id long, text string"
    )
    r = df.select(
        token_count("text").alias("tc"),
        language_id("text").alias("lid"),
        quality_score("text").alias("q"),
        doc_fingerprint("text").alias("fp"),
    ).collect()
    assert r[0]["tc"] in (0, -1, None)  # null in -> defined out, no crash
    assert r[1]["lid"] is not None
    mh = {x["doc_id"]: x["mh_0"] for x in minhash_signature(df, num_hashes=1).collect()}
    assert mh[1] is None and mh[2] is not None
    sh = {x["doc_id"]: x["simhash"] for x in simhash(df, bits=8).collect()}
    assert sh[2] is not None
    ch = chunk_documents(df, chunk_tokens=3, overlap=1)
    assert {x["doc_id"] for x in ch.collect()} == {2}  # null doc emits nothing


def test_connected_components_high_diameter_chain(spark):
    """A path graph converges in O(log diameter) rounds via pointer
    doubling — a 60-node chain must resolve well within 8 rounds."""
    from etl_orders_to_bq_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    ).repartition(4)
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, max_iter=8).collect()
    }
    assert got == {i: 0 for i in range(61)}


def test_connected_components_exhaustion_raises(spark):
    """Exhausting max_iter with labels still moving must raise, never
    silently return split components (ADVICE r1)."""
    import pytest as _pytest

    from etl_orders_to_bq_spark.operators.graph import connected_components
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    # local-fold limit 0: the driver-local fast path is exact
    # union-find and never exhausts, so pin the distributed loop
    with local_fold_max_rows(spark, 0):
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iter=2)
        # warn mode returns partial labels instead
        with _pytest.warns(UserWarning, match="did not converge"):
            out = connected_components(
                edges, max_iter=2, on_exhaustion="warn"
            )
            assert out.count() == 41


def test_minhash_xxhash64_fast_path(spark):
    """The xxhash64 production path must agree with md5 on WHAT is a
    duplicate: identical docs collide in every band, distinct docs get
    distinct signatures."""
    from etl_orders_to_bq_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signature,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "a completely different document about spark shuffles here"),
        ],
        "doc_id long, text string",
    )
    sig = minhash_signature(docs, num_hashes=8, hash_fn="xxhash64")
    rows = {r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(8))
            for r in sig.collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, num_hashes=8, bands=4, hash_fn="xxhash64"
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_fuzzy_join_blocked(spark):
    """Blocked fuzzy join finds within-distance pairs across length-
    bucket boundaries and never pairs different first letters."""
    from etl_orders_to_bq_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame(
        [(1, "spark"), (2, "flink"), (3, "sparky"), (4, "zzzzz")],
        "lid long, lname string",
    )
    right = spark.createDataFrame(
        [(10, "spark"), (11, "sparks"), (12, "blink"), (13, "spork")],
        "rid long, rname string",
    )
    got = {
        (r["lid"], r["rid"], r["edit_dist"])
        for r in fuzzy_join(left, right, "lname", "rname", max_dist=1).collect()
    }
    assert (1, 10, 0) in got          # exact
    assert (1, 11, 1) in got          # insertion, crosses length bucket
    assert (3, 11, 1) in got          # substitution at end
    assert (1, 13, 1) in got          # substitution mid-word
    assert not any(l == 2 for l, _, _ in got)  # flink vs blink: blocked
    assert not any(l == 4 for l, _, _ in got)  # no match at all


def test_pack_sequences_layout(spark):
    """Packing lays chunks end to end per bucket: offsets accumulate,
    bins advance at capacity boundaries, buckets are independent."""
    from etl_orders_to_bq_spark.operators.pack import pack_sequences

    ch = spark.createDataFrame(
        [(1, 0, 60), (1, 1, 60), (1, 2, 60), (2, 0, 100)],
        "doc_id long, chunk_idx long, n_tokens long",
    )
    out = pack_sequences(ch, capacity=100, buckets=1).collect()
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["bin_idx"], r["bin_offset"])
        for r in out
    }
    # stream order: (1,0)@0, (1,1)@60, (1,2)@120, (2,0)@180
    assert got[(1, 0)] == (0, 0)
    assert got[(1, 1)] == (0, 60)    # starts in bin 0, straddles seam
    assert got[(1, 2)] == (1, 20)
    assert got[(2, 0)] == (1, 80)
    # multi-bucket: every bucket starts its own stream at offset 0
    out8 = pack_sequences(ch, capacity=100, buckets=8).collect()
    starts = [r for r in out8 if r["bin_idx"] == 0 and r["bin_offset"] == 0]
    n_buckets = len({r["pack_bucket"] for r in out8})
    assert len(starts) == n_buckets


def test_bm25_idf_and_tf_behave(spark):
    """BM25 sanity: a doc matching the RARE query term outscores docs
    matching only the ubiquitous one (idf), and among docs matching the
    same term, higher tf with equal length scores higher (saturating,
    so the gap narrows but stays positive)."""
    from etl_orders_to_bq_spark.operators.bm25 import bm25_scores

    rows = [
        (1, "common word filler one"),        # 1x common
        (2, "common common filler two"),      # 2x common, same length
        (3, "rare word filler three"),        # 1x rare
        (4, "nothing matches here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(df, ["common", "rare"]).collect()
    }
    assert set(scores) == {1, 2, 3}  # doc 4 absent (no hits)
    assert scores[3] > scores[1]  # rare term's idf dominates
    assert scores[2] > scores[1]  # tf monotone at equal length


def test_unigram_logprob_ranks_typical_above_gibberish(spark):
    """A doc of corpus-common tokens must outscore a doc of hapax
    gibberish (higher avg log prob), and scores must be <= log10 of
    the most probable token's probability (sanity bound)."""
    from etl_orders_to_bq_spark.operators.lm import unigram_logprob_scores

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the rug"),
        (3, "xqzt vrplm wfjkd"),  # all hapax
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {
        r["doc_id"]: r["unigram_logprob"]
        for r in unigram_logprob_scores(df).collect()
    }
    assert len(scores) == 3
    assert scores[1] > scores[3] and scores[2] > scores[3]
    assert all(v < 0 for v in scores.values())

    # empty-token docs are absent, not erroring
    with_empty = spark.createDataFrame(
        rows + [(4, "   ")], "doc_id long, text string"
    )
    assert unigram_logprob_scores(with_empty).count() == 3


def test_token_budget_mix_fill_until_full(spark):
    """Per-source budgets fill in the given order, the row crossing the
    budget line is kept ("fill until full"), later rows are dropped,
    and a Column budget applies per source."""
    from pyspark.sql import functions as F

    from etl_orders_to_bq_spark.operators.mix import token_budget_mix

    rows = [
        # source a: tokens 40, 40, 40 in id order — budget 100 keeps
        # ids 1, 2 (cum_before 0, 40), and 3 (cum_before 80 < 100);
        # id 4 (cum_before 120) is dropped
        ("a", 1, 40), ("a", 2, 40), ("a", 3, 40), ("a", 4, 40),
        # source b: budget 50 keeps only id 10 (cum_before 0) and
        # id 11 (cum_before 45 < 50); id 12 at 90 is dropped
        ("b", 10, 45), ("b", 11, 45), ("b", 12, 45),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, toks long")
    budget = F.when(F.col("source") == "a", 100).otherwise(50).cast("long")
    kept = token_budget_mix(
        df, "source", "toks", budget, [F.asc("doc_id")], cum_col="cum"
    )
    got = {(r["source"], r["doc_id"], r["cum"]) for r in kept.collect()}
    assert got == {
        ("a", 1, 0), ("a", 2, 40), ("a", 3, 80),
        ("b", 10, 0), ("b", 11, 45),
    }

    # uniform int budget + determinism across repartitioning
    k1 = {r["doc_id"] for r in token_budget_mix(
        df, "source", "toks", 90, [F.asc("doc_id")]).collect()}
    k2 = {r["doc_id"] for r in token_budget_mix(
        df.repartition(7), "source", "toks", 90, [F.asc("doc_id")]).collect()}
    assert k1 == k2 == {1, 2, 3, 10, 11}


def test_pagerank_ring_uniform(spark):
    """A directed ring has uniform PageRank 1/N at any iteration count."""
    from etl_orders_to_bq_spark.operators.graph import pagerank

    n = 6
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    ranks = {r["id"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}
    assert len(ranks) == n
    for v in ranks.values():
        assert abs(v - 1.0 / n) < 1e-12


def test_pagerank_star_orders_hub_first(spark):
    """All spokes point at a hub: the hub must outrank every spoke, and
    ranks of symmetric spokes must be identical."""
    from etl_orders_to_bq_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)], "src long, dst long"
    )
    ranks = {r["id"]: r["rank"] for r in pagerank(edges, iterations=10).collect()}
    spoke_ranks = {round(ranks[i], 12) for i in range(1, 5)}
    assert len(spoke_ranks) == 1
    assert ranks[0] > max(ranks[i] for i in range(1, 5))


def test_pagerank_durable_staging_and_tol_early_exit(spark, tmp_path):
    """Durable staging (spark.graft.stagingDir) must produce identical
    ranks to the in-memory path, and tol= must stop early on a converged
    graph: a directed ring is at its fixpoint (uniform 1/N) after round
    one, so the staged-rank round directories prove the loop exited
    instead of running all 10 iterations."""
    from etl_orders_to_bq_spark.operators.graph import pagerank
    from etl_orders_to_bq_spark.operators.staging import durable_staging

    n = 6
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    mem = {
        (r["id"], round(r["rank"], 12))
        for r in pagerank(edges, iterations=5).collect()
    }
    dur_path = tmp_path / "pr"
    with durable_staging(spark, str(dur_path)):
        dur = {
            (r["id"], round(r["rank"], 12))
            for r in pagerank(edges, iterations=5).collect()
        }
    assert dur == mem and len(dur) == n
    assert list(dur_path.glob("pr_edges_*"))

    tol_path = tmp_path / "pr_tol"
    with durable_staging(spark, str(tol_path)):
        ranks = {
            r["id"]: r["rank"]
            for r in pagerank(edges, iterations=10, tol=1e-9).collect()
        }
    for v in ranks.values():
        assert abs(v - 1.0 / n) < 1e-12
    staged_rounds = list(tol_path.glob("pr_ranks_r*"))
    assert len(staged_rounds) == 1, staged_rounds


def test_lsh_chain_parquet_staging_identical(docs, spark, tmp_path):
    """The durable-staging path (spark.graft.stagingDir -> parquet
    write+reread instead of localCheckpoint) must produce the identical
    candidate pairs and components as the in-memory path."""
    from etl_orders_to_bq_spark.operators.graph import connected_components
    from etl_orders_to_bq_spark.operators.staging import durable_staging

    mem_pairs = minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    with durable_staging(spark, str(tmp_path / "lsh")):
        dur_pairs = minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    mem = {(r["id_a"], r["id_b"]) for r in mem_pairs.collect()}
    dur = {(r["id_a"], r["id_b"]) for r in dur_pairs.collect()}
    assert dur == mem and len(dur) > 0
    assert list((tmp_path / "lsh").glob("minhash_signatures_*"))

    mem_cc = {
        (r["id"], r["component"])
        for r in connected_components(mem_pairs).collect()
    }
    with durable_staging(spark, str(tmp_path / "cc")):
        dur_cc = {
            (r["id"], r["component"])
            for r in connected_components(dur_pairs).collect()
        }
    assert dur_cc == mem_cc and len(dur_cc) > 0
    assert list((tmp_path / "cc").glob("cc_edges_*"))


def test_hll_sketch_merge_is_lossless(spark):
    """The scale contract of sketch rollups: merging per-day HLL
    sketches must yield the IDENTICAL estimate as one pass over the
    union (register-wise max merge), and track the exact count."""
    from pyspark.sql import functions as F

    from etl_orders_to_bq_spark.operators.sketches import hll_merge, hll_rollup
    from etl_orders_to_bq_spark.sources.parquet import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    merged = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_merge(
            hll_rollup(ev, ["event_type", "day"], "user_id"), ["event_type"]
        ).collect()
    }
    direct = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_merge(
            hll_rollup(ev, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }
    assert merged == direct
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k in exact:
        assert abs(merged[k] - exact[k]) / exact[k] < 0.05


def test_kll_and_theta_sketches_track_exact(spark):
    """KLL merged quantiles must land within rank-error of the exact
    percentile; theta distinct estimates within HLL-like tolerance."""
    from pyspark.sql import functions as F

    from etl_orders_to_bq_spark.operators.sketches import (
        kll_quantile_rollup,
        kll_quantiles,
        theta_distinct,
    )
    from etl_orders_to_bq_spark.sources.parquet import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    kq = {
        r["event_type"]: r["q_50"]
        for r in kll_quantiles(
            kll_quantile_rollup(ev, ["event_type", "day"], "value"),
            ["event_type"],
            [0.5],
        ).collect()
    }
    # exact rank window: KLL(k=200) has ~1.3% rank error; check the
    # sketch p50 sits between the exact p45 and p55
    bounds = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.45)").alias("lo"),
            F.expr("percentile(value, 0.55)").alias("hi"),
        )
        .collect()
    }
    for k, v in kq.items():
        lo, hi = bounds[k]
        assert lo <= v <= hi, (k, v, lo, hi)
    th = {
        r["event_type"]: r["approx_distinct"]
        for r in theta_distinct(ev, ["event_type"], "user_id").collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k in exact:
        assert abs(th[k] - exact[k]) / exact[k] < 0.05


def test_incremental_exact_dedup_against_seen_corpus(spark):
    """A new batch must drop (a) its own internal dups and (b) docs
    whose content the existing corpus already holds — keeping the
    smallest id per surviving content."""
    from etl_orders_to_bq_spark.functions.text import doc_fingerprint
    from etl_orders_to_bq_spark.operators.dedup import incremental_exact_dedup

    existing = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id long, text string",
    )
    seen = existing.select(doc_fingerprint("text").alias("fingerprint")).distinct()
    new_batch = spark.createDataFrame(
        [
            (10, "ALPHA  beta gamma"),   # normalized dup of corpus doc 1
            (11, "zeta eta"),            # genuinely new
            (12, "zeta eta"),            # in-batch dup of 11
            (13, "theta iota"),          # new
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_exact_dedup(new_batch, seen).collect()
    )
    assert kept == [11, 13]
    # keep_fingerprint=True returns the rows to APPEND to the side table
    with_fp = incremental_exact_dedup(new_batch, seen, keep_fingerprint=True)
    assert "fingerprint" in with_fp.columns
    assert with_fp.count() == 2


def test_incremental_lsh_matches_corpus_band_table(docs, spark):
    """A new batch's near-dups of corpus docs must surface by joining
    the batch's band keys against the corpus's PERSISTED band table —
    without re-signing the corpus."""
    from etl_orders_to_bq_spark.operators.dedup import (
        incremental_lsh_matches,
        minhash_band_keys,
    )

    corpus_bands = minhash_band_keys(docs, num_hashes=8, bands=4)
    new_batch = spark.createDataFrame(
        [
            (100, BASE),            # exact dup of corpus doc 1
            (101, BASE + " extra"), # near dup
            (102, "totally unrelated text about distributed query engines"),
        ],
        "doc_id long, text string",
    )
    matches = {
        (r["new_id"], r["corpus_id"])
        for r in incremental_lsh_matches(
            new_batch, corpus_bands, num_hashes=8, bands=4
        ).collect()
    }
    assert (100, 1) in matches
    assert not any(n == 102 for n, _ in matches)


def test_incremental_lsh_max_bucket_guard_drops_hot_corpus_buckets(spark):
    """Degenerate corpus band buckets (> max_bucket docs sharing a band
    key — boilerplate) must be dropped BEFORE the join: a batch doc
    matching such a bucket would otherwise explode into |bucket| pairs.
    The registry oracles (incremental_lsh / incremental_refresh) mirror
    this same corpus-side guard, so the two can never silently diverge
    on a heavy-dup fixture."""
    from etl_orders_to_bq_spark.operators.dedup import (
        incremental_lsh_matches,
        minhash_band_keys,
    )

    boiler = "the same boilerplate footer text repeated on every page"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(6)] + [(50, BASE)],
        "doc_id long, text string",
    )
    corpus_bands = minhash_band_keys(corpus, num_hashes=8, bands=4)
    batch = spark.createDataFrame(
        [(100, boiler), (101, BASE)], "doc_id long, text string"
    )

    guarded = {
        (r["new_id"], r["corpus_id"])
        for r in incremental_lsh_matches(
            batch, corpus_bands, num_hashes=8, bands=4, max_bucket=5
        ).collect()
    }
    # the 6-doc boilerplate bucket is dropped; the healthy 1-doc bucket joins
    assert not any(n == 100 for n, _ in guarded)
    assert (101, 50) in guarded

    unguarded = {
        (r["new_id"], r["corpus_id"])
        for r in incremental_lsh_matches(
            batch, corpus_bands, num_hashes=8, bands=4, max_bucket=1000
        ).collect()
    }
    assert {(100, i) for i in range(6)} <= unguarded


def test_graph_and_incremental_ops_handle_empty_inputs(spark):
    """Empty edge lists / empty seen tables must yield empty/identity
    results, not errors — the first batch of an incremental pipeline
    and an all-unique corpus both hit these paths."""
    from etl_orders_to_bq_spark.functions.text import doc_fingerprint
    from etl_orders_to_bq_spark.operators.dedup import incremental_exact_dedup
    from etl_orders_to_bq_spark.operators.graph import connected_components

    no_edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(no_edges).count() == 0

    batch = spark.createDataFrame(
        [(1, "one text"), (2, "two text")], "doc_id long, text string"
    )
    empty_seen = spark.createDataFrame([], "fingerprint string")
    assert incremental_exact_dedup(batch, empty_seen).count() == 2

    empty_batch = spark.createDataFrame([], "doc_id long, text string")
    seen = batch.select(doc_fingerprint("text").alias("fingerprint"))
    assert incremental_exact_dedup(empty_batch, seen).count() == 0


def test_incremental_dedup_equals_full_recompute(spark):
    """Append-only invariant: when corpus ids precede batch ids,
    corpus-kept ∪ incremental-batch-survivors must equal a full
    exact-dedup recompute over the union."""
    from etl_orders_to_bq_spark.functions.text import doc_fingerprint
    from etl_orders_to_bq_spark.operators.dedup import (
        exact_dedup,
        incremental_exact_dedup,
    )

    texts = ["a b c", "d e f", "a  B c", "g h", "d e f", "i j k", "g H"]
    rows = [(i, t) for i, t in enumerate(texts)]
    all_docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = all_docs.filter("doc_id < 4")
    batch = all_docs.filter("doc_id >= 4")

    corpus_kept = exact_dedup(corpus, "text", "doc_id")
    seen = corpus_kept.select(doc_fingerprint("text").alias("fingerprint"))
    incr = {
        r["doc_id"]
        for r in incremental_exact_dedup(batch, seen).collect()
    } | {r["doc_id"] for r in corpus_kept.collect()}
    full = {
        r["doc_id"] for r in exact_dedup(all_docs, "text", "doc_id").collect()
    }
    assert incr == full


def test_lsh_candidates_superset_of_exact_dups_property(spark):
    """Property (hypothesis-driven word soup): normalized-exact
    duplicate pairs MUST always surface as LSH candidates — identical
    shingle sets give identical signatures, which collide in every
    band. Near-miss docs may or may not pair (that's the approximate
    part); exact dups may NEVER be missed."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    words = st.sampled_from(
        ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    )
    doc = st.lists(words, min_size=4, max_size=12).map(" ".join)

    @settings(max_examples=10, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(doc, min_size=2, max_size=5, unique=True))
    def check(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        # plant an exact dup of every doc at id+100
        rows += [(i + 100, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_candidates(
                df, num_hashes=8, bands=4, shingle_len=2
            ).collect()
        }
        for i in range(len(texts)):
            assert (i, i + 100) in pairs, (i, texts[i], pairs)

    check()


def test_kll_subpercent_quantiles_get_distinct_columns(spark):
    """p99 and p99.9 must land in distinct columns (q_99 vs q_99_9) —
    the truncate-to-int naming that collided them is a silent-wrong
    trap for latency serving."""
    from pyspark.sql import functions as F

    from etl_orders_to_bq_spark.operators.sketches import (
        kll_quantile_rollup,
        kll_quantiles,
    )
    from etl_orders_to_bq_spark.sources.parquet import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    out = kll_quantiles(
        kll_quantile_rollup(ev, ["event_type", "day"], "value"),
        ["event_type"],
        [0.5, 0.99, 0.999],
    )
    assert out.columns == ["event_type", "q_50", "q_99", "q_99_9"]
    row = out.first()
    assert row["q_50"] <= row["q_99"] <= row["q_99_9"]


def test_simhash_hamming_max_bucket_guard_drops_degenerate_buckets(spark):
    """Identical-content docs share one simhash; max_bucket must drop
    that quadratic bucket while distinct-content pairs still flow."""
    from etl_orders_to_bq_spark.operators.dedup import simhash_hamming_pairs

    rows = [(i, "identical boilerplate text body") for i in range(30)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    unguarded = simhash_hamming_pairs(df, bits=32, max_dist=3).count()
    assert unguarded >= 30 * 29 / 2  # the degenerate clique is present

    guarded = {
        (r["id_a"], r["id_b"])
        for r in simhash_hamming_pairs(
            df, bits=32, max_dist=3, max_bucket=10
        ).collect()
    }
    assert (100, 101) in guarded          # healthy pair survives
    assert all(a >= 100 for a, _ in guarded)  # clique dropped


def test_lloyd_kmeans_matches_numpy_reference(spark):
    """The distributed Lloyd loop must reproduce a sequential numpy
    implementation round-for-round (fixed init, first-index argmax
    tie-break, empty clusters keep their previous centroid)."""
    import numpy as np

    from etl_orders_to_bq_spark.operators.ann import lloyd_kmeans

    rng = [(i, [float((i * 7 + d * 3) % 13) - 6.0 for d in range(4)])
           for i in range(60)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    init = [[6.0, 6.0, 6.0, 6.0], [-6.0, -6.0, -6.0, -6.0],
            [100.0, 100.0, 100.0, 100.0]]  # third starts empty

    cents, assigned = lloyd_kmeans(df, init, rounds=2)

    X = np.array([v for _, v in rng])
    C = np.array(init, dtype=float)
    for _ in range(2):
        scores = 2 * X @ C.T - (C * C).sum(axis=1)
        lab = scores.argmax(axis=1)  # argmax = first max index, like Spark
        for j in range(len(C)):
            if (lab == j).any():
                C[j] = X[lab == j].mean(axis=0)
    scores = 2 * X @ C.T - (C * C).sum(axis=1)
    lab = scores.argmax(axis=1)

    assert np.allclose(np.array(cents), C)
    got = {r["vec_id"]: r["ivf_cluster"] for r in assigned.collect()}
    assert got == {i: int(lab[i]) for i, _ in rng}
    assert cents[2] == init[2]  # empty cluster untouched


def test_minhash_hash_families_agree_on_true_dups_not_fp(spark):
    """md5 vs numpy MinHash on the corpus pipeline's planted-dup shape:
    BOTH families must catch every planted true near-dup (suffixed
    copies, Jaccard ~0.95), but their false-positive candidate sets are
    allowed to differ — LSH collisions are a property of the hash
    family, which is why build_training_corpus pins ONE family per
    corpus instead of treating them as interchangeable (measured at
    sf0.1: 247 md5 pairs vs 199 numpy on identical input)."""
    from etl_orders_to_bq_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq ww ee")).alias("text"),
    )
    base = docs.unionByName(planted)

    pair_sets = {}
    for fn in ("md5", "numpy"):
        pairs = minhash_lsh_candidates(
            base, text_col="text", id_col="doc_id",
            num_hashes=8, bands=4, hash_fn=fn,
        )
        pair_sets[fn] = {tuple(r) for r in pairs.collect()}

    true_dups = {(i, i + 100000) for i in range(20)}
    for fn, got in pair_sets.items():
        missed = true_dups - got
        assert not missed, f"{fn} missed planted true dups: {missed}"


def test_small_graph_local_fast_paths_match_distributed(spark, tmp_path):
    """connected_components and pagerank switch to an exact driver-
    local iteration when the staged edge set fits the local-fold limit
    (contracted graphs are scale-independent; per-round Catalyst
    planning dominates otherwise). The fast path must be
    indistinguishable: identical components, ranks equal to the
    distributed formula well past the 6dp gate rounding, and both
    settings (a local-fold limit of 0, spark.graft.stagingDir) must
    force the distributed path."""
    from etl_orders_to_bq_spark.operators.graph import (
        connected_components,
        pagerank,
    )
    from etl_orders_to_bq_spark.operators.staging import (
        durable_staging,
        local_fold_max_rows,
    )

    edges = spark.createDataFrame(
        [(i, (i * i + 1) % 41) for i in range(200)] + [(7, 7), (40, 3)],
        "id_a long, id_b long",
    )
    local = {tuple(r) for r in connected_components(edges).collect()}
    with local_fold_max_rows(spark, 0):
        dist = {tuple(r) for r in connected_components(edges).collect()}
    assert local == dist
    # the durable setting forces the distributed loop: only that loop
    # stages per-round label frames
    with durable_staging(spark, str(tmp_path / "cc")):
        dur = {tuple(r) for r in connected_components(edges).collect()}
    assert dur == local
    assert list((tmp_path / "cc").glob("cc_labels_r*"))

    pr_local = {
        r["id"]: r["rank"]
        for r in pagerank(edges, "id_a", "id_b", iterations=7).collect()
    }
    with local_fold_max_rows(spark, 0):
        pr_dist = {
            r["id"]: r["rank"]
            for r in pagerank(edges, "id_a", "id_b", iterations=7).collect()
        }
    assert set(pr_local) == set(pr_dist)
    assert all(abs(pr_local[k] - pr_dist[k]) < 1e-12 for k in pr_dist)
    with durable_staging(spark, str(tmp_path / "pr")):
        pr_dur = {
            r["id"]: r["rank"]
            for r in pagerank(edges, "id_a", "id_b", iterations=7).collect()
        }
    assert set(pr_dur) == set(pr_dist)
    assert all(abs(pr_dur[k] - pr_dist[k]) < 1e-12 for k in pr_dist)
    assert list((tmp_path / "pr").glob("pr_ranks_r*"))
    # ranks are a probability vector under literal dangling semantics:
    # total mass <= 1 (dangling mass leaks), every rank >= base
    assert 0 < sum(pr_local.values()) <= 1.0 + 1e-9


def test_kcore_local_peel_matches_distributed(spark):
    """kcore's driver-local numpy peel (contracted graphs, Arrow
    toPandas under its 1M-edge threshold) must be indistinguishable
    from the distributed loop on a graph with a NON-empty core, and it
    runs to fixpoint regardless of max_rounds (which only bounds the
    distributed loop)."""
    from etl_orders_to_bq_spark.operators.graph import kcore
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    # clique of 8 (7-regular) with a 30-node chain hanging off node 0
    clique = [(i, j) for i in range(8) for j in range(i + 1, 8)]
    chain = [(100 + i, 101 + i) for i in range(30)] + [(0, 100)]
    edges = spark.createDataFrame(clique + chain, "src long, dst long")

    loc = sorted(tuple(r) for r in kcore(edges, k=3).collect())
    with local_fold_max_rows(spark, 0):
        dist = sorted(tuple(r) for r in kcore(edges, k=3).collect())
    assert loc == dist
    assert loc == [(i, 7) for i in range(8)]  # the clique, chain peeled
    # the chain cascades one node per round: a tight max_rounds would
    # exhaust the distributed loop, but the local peel ignores it
    assert kcore(edges, k=2, max_rounds=1).count() == 8
