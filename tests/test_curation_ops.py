"""Tests for the round-4 curation operators: span-level dedup,
embedding near-dup / SemDeDup, rank fusion, and importance weights."""

import pytest
from pyspark.sql import functions as F

from etl_orders_to_bq_spark.operators.fusion import ranked_topn, rrf_fuse
from etl_orders_to_bq_spark.operators.lm import importance_weights
from etl_orders_to_bq_spark.operators.semdedup import (
    embedding_neardup_pairs,
    semdedup_keep,
)
from etl_orders_to_bq_spark.operators.spans import span_dedup


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_span_dedup_first_occurrence_and_rebuild(spark):
    # doc 1: spans A B; doc 2: spans B C (B repeats -> killed in doc 2);
    # doc 3: exact copy of doc 1 -> nothing survives
    a, b, c = _words("a", 4), _words("b", 4), _words("c", 4)
    docs = spark.createDataFrame(
        [(1, f"{a} {b}"), (2, f"{b} {c}"), (3, f"{a} {b}")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in span_dedup(docs, span_tokens=4).collect()
    }
    assert out[1]["n_spans"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["dedup_text"] == f"{a} {b}"
    assert out[2]["n_kept"] == 1 and out[2]["dedup_text"] == c
    assert out[3]["n_kept"] == 0 and out[3]["dedup_text"] == ""


def test_span_dedup_keeps_order_of_surviving_spans(spark):
    # surviving spans must rejoin in ORIGINAL order even when the kept
    # set is non-contiguous (span 0 and 2 survive, 1 killed)
    a, b, c = _words("a", 3), _words("b", 3), _words("c", 3)
    docs = spark.createDataFrame(
        [(1, b), (2, f"{a} {b} {c}")], "doc_id long, text string"
    )
    row = (
        span_dedup(docs, span_tokens=3)
        .filter(F.col("doc_id") == 2)
        .first()
    )
    assert row["n_spans"] == 3 and row["n_kept"] == 2
    assert row["dedup_text"] == f"{a} {c}"


@pytest.fixture(scope="module")
def vectors(spark):
    # 0/1: identical; 2: 0 scaled (cos=1 with 0); 3: orthogonal
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_neardup_finds_planted_pairs(vectors):
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_neardup_pairs(
            vectors, dim=4, threshold=0.9, bits=2
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] == 1.0  # scale-invariant
    assert not any(3 in p for p in pairs)


def test_embedding_neardup_bucket_guard(vectors):
    # max_bucket=1 drops every multi-member bucket -> no pairs at all
    assert (
        embedding_neardup_pairs(
            vectors, dim=4, threshold=0.0, bits=2, max_bucket=1
        ).count()
        == 0
    )


def test_semdedup_keep_first_and_shadowing(spark):
    # cluster around e1: 0 kept; 1 (dup of 0) dropped; 2 close to 1 but
    # not to 0 -> STILL dropped (shadowed by the dropped 1 — SemDeDup is
    # not transitive-keep); 3 far from everything -> kept
    import math

    rot = [math.cos(0.6), math.sin(0.6), 0.0, 0.0]  # cos 0.825 vs e1
    mid = [math.cos(0.3), math.sin(0.3), 0.0, 0.0]  # cos 0.955 vs both
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, mid),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, rot),
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    kept = {
        r["vec_id"]
        for r in semdedup_keep(vecs, centroids, threshold=0.9).collect()
    }
    # 0 kept (first), 1 dropped (cos 1 vs 0), 2 dropped (cos .955 vs 0),
    # 4 kept (cos .825 vs 0, .966 vs 2 — but 2 was dropped? shadowing
    # counts dropped items too, so 4 IS dropped by 2) -> verify exactly
    assert 0 in kept and 3 in kept
    assert 1 not in kept and 2 not in kept
    # 4 is shadowed by 2 (cos(0.3 rad) ≈ 0.955 >= 0.9) even though 2
    # itself was dropped — the non-transitive SemDeDup contract
    assert 4 not in kept


def test_semdedup_auto_branches(spark):
    """semdedup_auto takes the cheap seeds branch on balanced data and
    the Lloyd branch when the probe budget is forced to zero — and
    both produce exactly semdedup_keep's result for their respective
    centroids (the wrapper adds policy, never semantics)."""
    from etl_orders_to_bq_spark.operators.ann import (
        _hyperplanes,
        lloyd_kmeans,
    )
    from etl_orders_to_bq_spark.operators.semdedup import semdedup_auto

    rows = [
        (i, [float(i % 7) + 0.1 * j for j in range(8)]) for i in range(30)
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint()
    seeds = _hyperplanes(8, 8, 5)  # k floor = 8 for n=30

    # cheap branch: huge budget -> centroids are the raw seeds
    got = sorted(
        tuple(r)
        for r in semdedup_auto(
            vecs, dim=8, threshold=0.9, seed=5,
            degeneracy_factor=1e9,
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in semdedup_keep(
            vecs, seeds, threshold=0.9, assign_method="numpy"
        ).collect()
    )
    assert got == want

    # forced-degenerate branch: zero budget -> Lloyd-learned centroids
    got2 = sorted(
        tuple(r)
        for r in semdedup_auto(
            vecs, dim=8, threshold=0.9, seed=5, degeneracy_factor=0.0,
        ).collect()
    )
    cents, _ = lloyd_kmeans(
        vecs, seeds, rounds=2, round_ndigits=6, method="numpy"
    )
    want2 = sorted(
        tuple(r)
        for r in semdedup_keep(
            vecs, cents, threshold=0.9, assign_method="numpy"
        ).collect()
    )
    assert got2 == want2
    # ids partition: every input id is either kept or shadowed
    assert {t[0] for t in got2} <= set(range(30))
    # empty input: empty keep-set, not a TypeError (review finding r8)
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    assert semdedup_auto(empty, dim=8, seed=5).count() == 0


def test_rrf_fuse_hand_computed(spark):
    lex = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.7)], "doc_id long, s double"
    )
    sem = spark.createDataFrame(
        [(2, 0.99), (4, 0.5)], "doc_id long, s double"
    )
    fused = {
        r["doc_id"]: (r["n_lists"], r["rrf_score"])
        for r in rrf_fuse(
            [
                ranked_topn(lex, "doc_id", "s", 10),
                ranked_topn(sem, "doc_id", "s", 10),
            ],
            "doc_id",
            k=60,
        ).collect()
    }
    assert fused[2] == (2, round(1 / 62 + 1 / 61, 6))
    assert fused[1] == (1, round(1 / 61, 6))
    assert fused[4] == (1, round(1 / 62, 6))


def test_ranked_topn_partitioned_and_tie_break(spark):
    df = spark.createDataFrame(
        [("q1", 1, 0.5), ("q1", 2, 0.5), ("q1", 3, 0.9), ("q2", 1, 0.1)],
        "qid string, doc_id long, s double",
    )
    out = {
        (r["qid"], r["doc_id"]): r["rank"]
        for r in ranked_topn(
            df, "doc_id", "s", 2, partition_cols=["qid"]
        ).collect()
    }
    # per-query ranking; tie at 0.5 broken by doc_id asc; top-2 cut
    assert out[("q1", 3)] == 1 and out[("q1", 1)] == 2
    assert ("q1", 2) not in out
    assert out[("q2", 1)] == 1


def test_importance_weights_prefers_target_vocabulary(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta", "tgt"),
            (2, "alpha beta beta alpha", "tgt"),
            (3, "gamma delta gamma delta", "web"),
            (4, "alpha beta gamma delta", "web"),
        ],
        "doc_id long, text string, source string",
    )
    w = {
        r["doc_id"]: r["log_ratio"]
        for r in importance_weights(
            docs, F.col("source") == "tgt"
        ).collect()
    }
    # in-domain docs outrank out-of-domain; the mixed doc lands between
    assert w[1] == w[2] > w[4] > w[3]


def test_triangle_count_known_graph(spark):
    from etl_orders_to_bq_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4}: 4 triangles, every node in exactly 3; node 5
    # hangs off node 1 (no triangle); edges arrive unordered/duplicated
    edges = spark.createDataFrame(
        [(2, 1), (1, 3), (1, 4), (3, 2), (2, 4), (4, 3), (1, 5), (5, 1)],
        "a long, b long",
    )
    out = {
        r["node"]: r["n_triangles"]
        for r in triangle_count(edges).collect()
    }
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_pmi_bigrams_promotes_collocations(spark):
    from etl_orders_to_bq_spark.operators.lm import pmi_bigrams

    # "new york" always adjacent; "the" is everywhere -> low PMI
    docs = spark.createDataFrame(
        [(i, "the new york trip and the plain word soup goes on") for i in range(6)]
        + [(10 + i, "the plain soup word trip and word the on goes") for i in range(6)],
        "doc_id long, text string",
    )
    out = {
        (r["w1"], r["w2"]): (r["n_pair"], r["pmi"])
        for r in pmi_bigrams(docs, min_count=5).collect()
    }
    assert ("new", "york") in out and out[("new", "york")][0] == 6
    # the perfect collocation outranks the stop-word pair
    assert out[("new", "york")][1] > out[("the", "plain")][1]


def test_span_dedup_conserves_distinct_spans(spark):
    from etl_orders_to_bq_spark.operators.spans import span_dedup

    # kept spans across the corpus == distinct span texts (each kept
    # exactly once, nothing lost)
    rows = [(i, _words(f"p{i % 4}_", 6) + " " + _words("shared", 6))
            for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = span_dedup(docs, span_tokens=6)
    total_kept = out.agg(F.sum("n_kept")).first()[0]
    distinct_spans = 4 + 1  # four p-prefix spans + one shared span
    assert total_kept == distinct_spans


def test_learn_bpe_merges_matches_sequential_reference(spark):
    """The distributed BPE trainer must reproduce the classic
    sequential algorithm (Sennrich et al. 2016) merge-for-merge,
    including greedy left-to-right merge application and the
    lexicographic tie-break."""
    from collections import Counter

    from etl_orders_to_bq_spark.operators.lm import learn_bpe_merges

    words = (
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        + ["aaa"] * 4  # exercises overlapping-merge greediness
    )
    docs = spark.createDataFrame(
        [(0, " ".join(words[:10])), (1, " ".join(words[10:]))],
        "doc_id long, text string",
    ).repartition(3)

    def ref_merges(word_list, n):
        wc = Counter(word_list)
        vocab = {w: [*w[:-1], w[-1] + "</w>"] for w in wc}
        merges = []
        for _ in range(n):
            pc = Counter()
            for w, syms in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += wc[w]
            if not pc:
                break
            (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((a, b, cnt))
            for w, syms in vocab.items():
                out = []
                for s in syms:
                    if out and out[-1] == a and s == b:
                        out[-1] = a + b
                    else:
                        out.append(s)
                vocab[w] = out
        return merges

    got = learn_bpe_merges(docs, 8)
    assert got == ref_merges(words, 8)
    # 'aaa' must have merged greedily: (a,a) then (aa,a</w>) style —
    # i.e. no merge pair may be impossible under sequential semantics
    assert len(got) == 8


def test_shortest_paths_bfs_distances(spark):
    """Multi-hop distances on a path graph, unreachable nodes absent,
    and directed mode respects edge orientation."""
    from etl_orders_to_bq_spark.operators.graph import shortest_paths

    # path 0-1-2-3-4 plus a shortcut 0-3, and an island 10-11
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (10, 11)],
        "src long, dst long",
    ).repartition(3)

    und = {r["node"]: r["distance"]
           for r in shortest_paths(edges, 0, max_hops=10).collect()}
    assert und == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}  # shortcut wins; island absent

    dir_ = {r["node"]: r["distance"]
            for r in shortest_paths(edges, 4, directed=True, max_hops=10).collect()}
    assert dir_ == {4: 0}  # nothing is reachable against the arrows

    dir0 = {r["node"]: r["distance"]
            for r in shortest_paths(edges, 1, directed=True, max_hops=10).collect()}
    assert dir0 == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bigram_logprob_prefers_repeated_adjacency(spark):
    """A document whose ADJACENCIES recur in the corpus must outscore a
    shuffle of the same words (which passes any unigram filter), and
    sub-bigram documents are absent per the operator contract."""
    from etl_orders_to_bq_spark.operators.lm import bigram_logprob_scores

    fluent = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [
            (1, fluent),
            (2, fluent),
            (3, fluent),
            (4, "mat the on sat cat the"),  # word salad, same unigrams
            (5, "cat"),  # one token: no bigram positions
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bigram_logprob"]
        for r in bigram_logprob_scores(docs).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1] == got[2] == got[3]
    assert got[1] > got[4]


def test_skipgram_pairs_window_edges(spark):
    """Window must clip at both sentence edges and exclude the center
    itself; counts verified against a hand expansion."""
    from collections import Counter

    from etl_orders_to_bq_spark.operators.lm import skipgram_pairs

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b")], "doc_id long, text string"
    )
    got = {
        (r["center"], r["context"]): r["n_pair"]
        for r in skipgram_pairs(docs, window=2).collect()
    }

    expect = Counter()
    for sent in ("a b c d".split(), "a b".split()):
        for i, c in enumerate(sent):
            for j in range(max(0, i - 2), min(len(sent), i + 3)):
                if j != i:
                    expect[(c, sent[j])] += 1
    assert got == dict(expect)


def test_ranking_metrics_hand_computed(spark):
    """NDCG@k with whole-list ideal, MRR, precision@k against a hand
    calculation — including a list whose best document ranks below k
    (whole-list ideal must still count it) and an all-irrelevant list."""
    import math

    from etl_orders_to_bq_spark.operators.fusion import ranking_metrics

    rows = [
        # q1: rel 0,2,1 at ranks 1,2,3
        ("q1", 1, 0), ("q1", 2, 2), ("q1", 3, 1),
        # q2: only relevant doc at rank 4, k=2 -> dcg@2=0 but idcg@2>0
        ("q2", 1, 0), ("q2", 2, 0), ("q2", 3, 0), ("q2", 4, 3),
        # q3: nothing relevant
        ("q3", 1, 0), ("q3", 2, 0),
    ]
    df = spark.createDataFrame(rows, "query_id string, rank int, relevance int")
    out = {r["query_id"]: r for r in ranking_metrics(df, k=2).collect()}

    dcg1 = 2 / math.log2(3)                     # rank-2 doc within k=2
    idcg1 = 2 / math.log2(2) + 1 / math.log2(3)  # ideal: rel 2 then 1
    assert out["q1"]["ndcg_at_k"] == round(dcg1 / idcg1, 6)
    assert out["q1"]["mrr"] == 0.5
    assert out["q1"]["precision_at_k"] == 0.5

    assert out["q2"]["ndcg_at_k"] == 0.0  # nothing relevant inside k
    assert out["q2"]["mrr"] == 0.25       # first relevant at rank 4
    assert out["q3"]["ndcg_at_k"] == 0.0 and out["q3"]["mrr"] == 0.0


def test_source_kl_divergence_matches_reference_and_is_nonnegative(spark):
    """Exact KL over the full smoothed vocabulary vs a pure-python
    reference; a source identical in distribution to the corpus blend
    must score (near) zero and distinct vocabulary must score higher."""
    import math
    from collections import Counter

    from etl_orders_to_bq_spark.operators.lm import source_kl_divergence

    rows = [
        ("s_same", "aa bb cc aa bb cc"),
        ("s_same2", "aa bb cc aa bb cc"),
        ("s_diff", "xx yy zz xx yy zz"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r["source"]: (r["n_tokens"], r["kl"])
           for r in source_kl_divergence(df).collect()}

    corpus = Counter()
    per_s = {}
    for s, t in rows:
        c = Counter(t.split())
        per_s[s] = per_s.get(s, Counter()) + c
        corpus += c
    V, T = len(corpus), sum(corpus.values())

    for s, cs in per_s.items():
        ts = sum(cs.values())
        kl = sum(
            ((cs[w] + 1) / (ts + V))
            * (math.log((cs[w] + 1) / (ts + V))
               - math.log((corpus[w] + 1) / (T + V)))
            for w in corpus
        )
        assert got[s] == (ts, round(kl, 6))
    assert got["s_diff"][1] > got["s_same"][1] >= 0.0


def test_round4_operators_handle_empty_inputs(spark):
    """Every new operator must return an empty (not crashing, not
    null-rowed) result on empty input — the first thing a scheduled
    pipeline hits on a quiet partition."""
    from etl_orders_to_bq_spark.operators.attribution import (
        attribute_conversions,
    )
    from etl_orders_to_bq_spark.operators.dedup import simhash_hamming_pairs
    from etl_orders_to_bq_spark.operators.fusion import ranking_metrics
    from etl_orders_to_bq_spark.operators.geo import grid_radius_join
    from etl_orders_to_bq_spark.operators.graph import shortest_paths
    from etl_orders_to_bq_spark.operators.lm import (
        bpe_pair_counts,
        bpe_word_symbols,
        learn_bpe_merges,
        skipgram_pairs,
        source_kl_divergence,
    )
    from etl_orders_to_bq_spark.operators.merge import snapshot_diff
    from etl_orders_to_bq_spark.operators.quality import mad_outliers, quarantine
    from etl_orders_to_bq_spark.operators.temporal import merge_intervals

    docs = spark.createDataFrame([], "doc_id long, text string")
    events = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, event_type string"
    )
    pts = spark.createDataFrame([], "lid long, llat double, llon double")
    pts2 = spark.createDataFrame([], "rid long, rlat double, rlon double")
    edges = spark.createDataFrame([], "src long, dst long")
    kv = spark.createDataFrame([], "k string, s long, e long")
    tbl = spark.createDataFrame([], "id long, v double")
    src_docs = spark.createDataFrame([], "source string, text string")
    rk = spark.createDataFrame(
        [], "query_id string, rank int, relevance int"
    )

    assert simhash_hamming_pairs(docs).count() == 0
    assert bpe_pair_counts(bpe_word_symbols(docs)).count() == 0
    assert learn_bpe_merges(docs, 3) == []
    assert skipgram_pairs(docs).count() == 0
    assert source_kl_divergence(src_docs).count() == 0
    assert attribute_conversions(events).count() == 0
    assert grid_radius_join(pts, pts2, 10.0, "llat", "llon", "rlat", "rlon").count() == 0
    # BFS from a source absent from an empty graph: just the source
    assert shortest_paths(edges, 0).count() == 1
    assert merge_intervals(kv, "k", "s", "e").count() == 0
    assert mad_outliers(tbl, "v", "id").count() == 0
    assert quarantine(tbl, {"pos": F.col("v") > 0}).count() == 0
    assert snapshot_diff(tbl, tbl, "id").count() == 0
    assert ranking_metrics(rk).count() == 0


def test_kcore_peels_to_fixpoint(spark):
    """A triangle+tail graph: the 2-core is exactly the triangle (the
    tail peels in cascading rounds), and an over-demanding k gives an
    empty core rather than an error."""
    from etl_orders_to_bq_spark.operators.graph import kcore

    # triangle 1-2-3 with a chain 3-4-5 hanging off
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    ).repartition(3)

    core2 = {r["node"]: r["degree"] for r in kcore(edges, k=2).collect()}
    assert core2 == {1: 2, 2: 2, 3: 2}  # chain cascaded away, degrees
    # recomputed INSIDE the core (node 3 had degree 3 in the full graph)

    assert kcore(edges, k=3).count() == 0


def test_kcore_exhaustion_modes(spark):
    """A pure chain cascades ONE node per round, so a tight max_rounds
    exhausts mid-peel: the default raises; on_exhaustion='return' warns
    and hands back the partially-peeled superset."""
    import warnings

    import pytest

    from etl_orders_to_bq_spark.operators.graph import kcore
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    # local-fold limit 0 throughout: the driver-local numpy peel
    # runs to fixpoint and never exhausts, so pin the distributed loop
    with local_fold_max_rows(spark, 0):
        with pytest.raises(RuntimeError, match="did not converge"):
            kcore(chain, k=2, max_rounds=2)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            partial = kcore(
                chain, k=2, max_rounds=2, on_exhaustion="return"
            )
            n_partial = partial.count()
        assert any("max_rounds" in str(x.message) for x in w)
        # 2 rounds peeled 2 nodes off each end; true 2-core of a chain
        # is empty, so the partial result is a strict superset
        assert 0 < n_partial < 9
        with pytest.raises(ValueError, match="on_exhaustion"):
            kcore(chain, k=2, on_exhaustion="keep")
        # and with the (new, generous) default rounds the chain does
        # converge — to the empty core
        assert kcore(chain, k=2).count() == 0


def test_guard_rails_survivorship_and_attribution(spark):
    """Config-error guards: survivorship rejects an explicit empty
    value_cols (None still means all non-key columns), and attribution
    rejects a conversion_type that is also a touch type (a row would
    attribute to itself)."""
    import pytest

    from etl_orders_to_bq_spark.operators.attribution import (
        attribute_conversions,
    )
    from etl_orders_to_bq_spark.operators.merge import survivorship

    df = spark.createDataFrame(
        [(1, 10, "a", None), (1, 20, None, "x")],
        "id long, pri long, u string, v string",
    )
    with pytest.raises(ValueError, match="value_cols"):
        survivorship(df, "id", "pri", value_cols=[])
    out = survivorship(df, "id", "pri").collect()[0]
    assert (out["u"], out["v"], out["n_merged"]) == ("a", "x", 2)

    events = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, event_type string"
    )
    with pytest.raises(ValueError, match="conversion_type"):
        attribute_conversions(
            events, touch_types=("click", "purchase"),
            conversion_type="purchase",
        )


def test_chunk_reassembly_property(spark):
    """Property (hypothesis token soup): chunking must tile every
    document exactly — stripping each chunk's leading `overlap` tokens
    (except chunk 0) and concatenating reassembles the original token
    stream, and each chunk's n_tokens equals its actual token count.
    This pins the slice arithmetic (including the arithmetic n_tokens
    introduced in r5) against off-by-one drift at every doc length
    around the stride boundaries."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from etl_orders_to_bq_spark.operators.chunk import chunk_documents

    @settings(max_examples=12, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(
        st.lists(st.integers(min_value=1, max_value=23), min_size=1,
                 max_size=6),
        st.integers(min_value=2, max_value=9),
        st.integers(min_value=0, max_value=5),
    )
    def check(doc_lens, chunk_tokens, overlap):
        if overlap >= chunk_tokens:
            overlap = chunk_tokens - 1
        stride = chunk_tokens - overlap
        rows = [
            (i, " ".join(f"w{i}t{j}" for j in range(n)))
            for i, n in enumerate(doc_lens)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = chunk_documents(
            df, chunk_tokens=chunk_tokens, overlap=overlap
        ).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert set(by_doc) == set(range(len(doc_lens)))
        for i, n in enumerate(doc_lens):
            chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
            assert [c["chunk_idx"] for c in chunks] == list(
                range(len(chunks))
            )
            toks = []
            for c in chunks:
                ctoks = c["chunk_text"].split(" ")
                assert c["n_tokens"] == len(ctoks), (c, n)
                toks.extend(ctoks if c["chunk_idx"] == 0 else ctoks[overlap:])
            assert toks == [f"w{i}t{j}" for j in range(n)], (
                i, n, chunk_tokens, overlap, toks
            )

    check()


def test_merge_intervals_properties(spark):
    """Property (hypothesis intervals): merged output per key must be
    non-overlapping with the gap respected, cover exactly the union of
    the inputs, and be idempotent (merging the merged set is a
    fixpoint)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from etl_orders_to_bq_spark.operators.temporal import merge_intervals

    iv = st.tuples(
        st.integers(min_value=0, max_value=60),
        st.integers(min_value=1, max_value=15),
    ).map(lambda t: (t[0], t[0] + t[1]))

    @settings(max_examples=12, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(iv, min_size=1, max_size=12))
    def check(ivs):
        rows = [("k", s, e) for s, e in ivs]
        df = spark.createDataFrame(rows, "k string, s long, e long")
        merged = sorted(
            (r["island_start"], r["island_end"])
            for r in merge_intervals(df, "k", "s", "e").collect()
        )
        # non-overlapping, strictly separated
        for (s1, e1), (s2, e2) in zip(merged, merged[1:]):
            assert e1 < s2, merged
        # coverage: union of integer points is identical
        want = set()
        for s, e in ivs:
            want.update(range(s, e + 1))
        got = set()
        for s, e in merged:
            got.update(range(s, e + 1))
        assert got == want
        # idempotent
        df2 = spark.createDataFrame(
            [("k", s, e) for s, e in merged], "k string, s long, e long"
        )
        again = sorted(
            (r["island_start"], r["island_end"])
            for r in merge_intervals(df2, "k", "s", "e").collect()
        )
        assert again == merged

    check()


def test_semdedup_pair_kernels_identical(spark):
    """The three semdedup kernels — 'grouped' (per-cluster BLAS gram
    via applyInPandas, the default), 'numpy' (per-pair Arrow einsum on
    the join shape), 'column' (pure-JVM expression) — must produce the
    SAME keep-set, including degenerate members: zero-norm vectors
    never shadow and are never shadowed (a NaN cosine must not leak
    into the >= threshold filter, where Spark's NaN-sorts-high rule
    would keep it)."""
    import math

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),          # dup of 0 -> dropped
        (2, [math.cos(0.3), math.sin(0.3), 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 0.0]),           # zero norm -> kept
        (5, [0.0, 0.0, -1.0, 0.0]),          # anti-parallel to 3
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(3)
    centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    results = {}
    for m in ("grouped", "numpy", "column"):
        results[m] = sorted(
            tuple(r)
            for r in semdedup_keep(
                vecs, centroids, threshold=0.9, pair_method=m
            ).collect()
        )
    assert results["grouped"] == results["numpy"] == results["column"]
    kept = {vid for vid, _ in results["grouped"]}
    assert 1 not in kept and 2 not in kept
    assert {0, 3, 4, 5} <= kept


def test_semdedup_grouped_preserves_string_ids(spark):
    """The grouped kernel's applyInPandas output schema is derived from
    the input id column's type — string ids must survive the default
    path exactly as they do on the join paths (regression: the schema
    was hardcoded to ``long``)."""
    rows = [
        ("a", [1.0, 0.0]),
        ("b", [1.0, 0.0]),          # dup of a -> dropped
        ("c", [0.0, 1.0]),
    ]
    vecs = spark.createDataFrame(rows, "doc string, embedding array<double>")
    centroids = [[1.0, 0.0], [0.0, 1.0]]
    results = {}
    for m in ("grouped", "column"):
        out = semdedup_keep(
            vecs, centroids, id_col="doc", threshold=0.9, pair_method=m
        )
        assert out.schema["doc"].dataType.simpleString() == "string"
        results[m] = sorted(tuple(r) for r in out.collect())
    assert results["grouped"] == results["column"]
    assert {d for d, _ in results["grouped"]} == {"a", "c"}


def test_bigram_logprob_empty_docs_absent_not_crash(spark):
    """Empty / whitespace-only / single-token documents have no bigram
    positions: they must be ABSENT from the output, not crash the job
    via a negative F.slice length (regression: SparkRuntimeException
    INVALID_PARAMETER_VALUE.LENGTH on any zero-token row)."""
    from etl_orders_to_bq_spark.operators.lm import (
        bigram_logprob_scores,
        pmi_bigrams,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox the quick brown fox"),
            (2, ""),
            (3, "   \t  "),
            (4, "solo"),
        ],
        "doc_id long, text string",
    )
    scored = {r["doc_id"] for r in bigram_logprob_scores(df).collect()}
    assert scored == {1}
    # pmi_bigrams shares the zip-with-shifted projection: same guard
    assert pmi_bigrams(df.filter("doc_id in (2, 3, 4)")).count() == 0


def test_assign_ivf_clusters_null_embedding_both_methods(spark):
    """A null embedding row must map to a NULL cluster on BOTH kernels
    (regression: the numpy path's np.stack raised on None while the
    column path propagated null — divergent failure modes)."""
    from etl_orders_to_bq_spark.operators.ann import assign_ivf_clusters

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    centroids = [[1.0, 0.0], [0.0, 1.0]]
    for m in ("numpy", "column"):
        got = {
            r["vec_id"]: r["ivf_cluster"]
            for r in assign_ivf_clusters(df, centroids, method=m).collect()
        }
        assert got == {0: 0, 1: None, 2: 1}, m


def test_label_propagation_early_exit_two_communities(spark):
    """until_converged=True must stop as soon as no label changes and
    return the same communities the fixed-round unroll finds — on a
    pair of triangles joined by one bridge edge, LPA converges in a
    couple of rounds, so a generous rounds budget with early exit and
    the fixed 4-round contract agree. Both the driver-local fast path
    and the pinned distributed loop are exercised."""
    from etl_orders_to_bq_spark.operators.graph import label_propagation
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    tri = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    edges = spark.createDataFrame(tri, "src long, dst long")
    for thresh in (0, 64_000):  # distributed loop / local fast path
        with local_fold_max_rows(spark, thresh):
            fixed = {
                r["id"]: r["label"]
                for r in label_propagation(edges, rounds=4).collect()
            }
            conv = {
                r["id"]: r["label"]
                for r in label_propagation(
                    edges, rounds=50, until_converged=True
                ).collect()
            }
        assert conv == fixed, thresh
        # two communities: each triangle collapses to its min label
        assert conv[0] == conv[1] == conv[2] == 0
        assert conv[11] == conv[12]


def test_ewma_last_hand_computed(spark):
    """EWMA fold vs a sequential reference: y1=x1, y=0.5x+0.5y; ties on
    equal timestamps break by value; nulls dropped; single-point keys
    return the point itself."""
    from datetime import datetime

    from etl_orders_to_bq_spark.operators.timeseries import ewma_last

    t = datetime(2024, 1, 1)
    t2 = datetime(2024, 1, 2)
    t3 = datetime(2024, 1, 3)
    rows = [
        (1, t, 10.0), (1, t2, 20.0), (1, t3, 30.0),
        (2, t, 5.0),
        (3, t, None), (3, t2, 8.0),
        (4, t, 2.0), (4, t, 1.0),   # same ts: value tie-break -> 1 then 2
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    got = {
        r["user_id"]: (r["n_points"], r["ewma"])
        for r in ewma_last(df, alpha=0.5).collect()
    }
    # key 1: y=10 -> 0.5*20+0.5*10=15 -> 0.5*30+0.5*15=22.5
    assert got[1] == (3, 22.5)
    assert got[2] == (1, 5.0)
    assert got[3] == (1, 8.0)      # null dropped
    assert got[4] == (2, 0.5 * 2.0 + 0.5 * 1.0)  # 1 first, then 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        ewma_last(df, alpha=0.0)


def test_adamic_adar_hand_computed(spark):
    """Path graph 1-2-3 plus hub 0 connected to all: verify AA of a
    hand-picked pair and the existing-edge exclusion."""
    import math

    from etl_orders_to_bq_spark.operators.graph import adamic_adar

    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["node_a"], r["node_b"]): (r["common_neighbors"], r["aa_score"])
        for r in adamic_adar(df).collect()
    }
    # existing edges excluded: only (1,3) is a non-edge 2-hop pair.
    # common neighbors of 1 and 3: 0 (deg 3) and 2 (deg 3)
    assert set(got) == {(1, 3)}
    expect = round(1 / math.log(3) + 1 / math.log(3), 6)
    assert got[(1, 3)] == (2, expect)
    # include_existing keeps every 2-hop pair
    all_pairs = {
        (r["node_a"], r["node_b"])
        for r in adamic_adar(df, include_existing=True).collect()
    }
    assert (1, 2) in all_pairs and (1, 3) in all_pairs
    # max_degree=2 drops the hub and node 2 as middles: no wedge
    # middle has degree <= 2 except 1 (deg 2: 0,2) -> pair (0,2) via 1
    limited = {
        (r["node_a"], r["node_b"])
        for r in adamic_adar(df, max_degree=2, include_existing=True).collect()
    }
    assert limited == {(0, 2)}


def test_quantile_normalize_maps_rank_to_global_grid(spark):
    """Two sources with shifted scales: equal ranks map to the SAME
    normalized value; a single-row source pins to the grid middle."""
    from etl_orders_to_bq_spark.operators.quality import quantile_normalize

    rows = (
        [(i, "a", float(i)) for i in range(1, 6)]          # 1..5
        + [(10 + i, "b", 100.0 + i) for i in range(1, 6)]  # 101..105
        + [(99, "c", 42.0)]
    )
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {
        r["event_id"]: r["normalized"]
        for r in quantile_normalize(
            df, "value", "event_type", "event_id", grid=11
        ).collect()
    }
    # rank r of 5 -> k = floor((r-1)*10/4 + .5): ranks 1..5 -> 0,3,5,8,10
    # equal-rank rows in a and b normalize identically
    for i in range(1, 6):
        assert out[i] == out[10 + i], i
    # min rank -> global minimum (k=0 -> p0 = global min = 1.0)
    assert out[1] == 1.0
    assert out[5] == out[15]  # max rank -> global max for both
    # single-row source -> middle grid point (k=5 -> global median)
    assert out[99] is not None


def test_pq_encode_and_adc_topk(spark):
    """PQ codes are deterministic, null-masked, and ADC top-k ranks the
    query's own vector first when it is in the corpus (its code equals
    the query's code -> minimal ADC distance)."""
    from etl_orders_to_bq_spark.operators.ann import (
        ann_topk_pq,
        pq_codebooks,
        pq_encode,
    )

    books = pq_codebooks(dim=8, subspaces=2, codewords=4, seed=5)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0, 0.1, 0.9, 0.0, 0.0]),
        (2, [-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0]),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    enc = {r["vec_id"]: r["pq_code"] for r in pq_encode(df, books).collect()}
    assert enc[3] is None
    assert len(enc[0]) == 2 and all(0 <= c < 4 for c in enc[0])
    enc2 = {r["vec_id"]: r["pq_code"] for r in pq_encode(df, books).collect()}
    assert enc == enc2
    top = ann_topk_pq(df, books, rows[0][1], k=3).collect()
    assert len(top) == 3
    ids = [r["vec_id"] for r in top]
    assert ids[0] in (0, 1)  # same-code vectors tie at the LUT minimum
    assert top[0]["pq_dist"] <= top[-1]["pq_dist"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        pq_codebooks(dim=10, subspaces=4)


def test_perceptual_hash_stub_and_pairs(spark):
    """Stub pHash = signed big-endian md5 top-64: byte-identical
    payloads collide at distance 0, nulls stay null, and hamming_pairs
    finds exactly the planted dup."""
    import hashlib

    from etl_orders_to_bq_spark.multimodal import perceptual_hash
    from etl_orders_to_bq_spark.operators.dedup import hamming_pairs

    rows = [
        (1, b"same payload"),
        (2, b"same payload"),
        (3, b"other payload"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    ph = {r["id"]: r["phash"] for r in perceptual_hash(df, codec="stub").collect()}
    want = int.from_bytes(
        hashlib.md5(b"same payload").digest()[:8], "big", signed=True
    )
    assert ph[1] == ph[2] == want
    assert ph[3] != ph[1] and ph[4] is None
    hashed = perceptual_hash(df, codec="stub").filter("phash is not null")
    pairs = hamming_pairs(hashed, "phash", "id", bits=64, max_dist=3).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_l_diversity_census(spark):
    """Hand-computed census: classes keyed by g with sensitive s."""
    from etl_orders_to_bq_spark.operators.privacy import l_diversity

    rows = [
        ("a", "x"), ("a", "x"), ("a", "x"),      # class a: 1 distinct
        ("b", "x"), ("b", "y"),                  # class b: 2 distinct
        ("c", "x"), ("c", "y"), ("c", "z"),      # class c: 3 distinct
    ]
    df = spark.createDataFrame(rows, "g string, s string")
    got = {
        r["n_sensitive"]: (r["n_classes"], r["n_rows"], r["at_risk"])
        for r in l_diversity(df, ["g"], "s", l=3).collect()
    }
    assert got == {1: (1, 3, True), 2: (1, 2, True), 3: (1, 3, False)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="l must"):
        l_diversity(df, ["g"], "s", l=1)


def test_ks_drift_hand_computed(spark):
    """Two disjoint groups at opposite ends of the range both sit 0.5
    from the pooled ECDF at 2 bins; a group matching the global mix
    scores 0."""
    from etl_orders_to_bq_spark.operators.quality import ks_drift

    rows = (
        [("A", 0.0), ("A", 0.0), ("B", 1.0), ("B", 1.0)]
        + [("C", 0.0), ("C", 1.0)]
    )
    df = spark.createDataFrame(rows, "grp string, v double")
    got = {
        r["grp"]: (r["n"], r["ks_d"])
        for r in ks_drift(df, "v", "grp", bins=2).collect()
    }
    # global: bin0 = 3 of 6, bin1 = 3 of 6 -> cum 0.5, 1.0
    assert got["A"] == (2, 0.5)   # cum 1.0, 1.0 -> max gap 0.5
    assert got["B"] == (2, 0.5)   # cum 0.0, 1.0 -> max gap 0.5
    assert got["C"] == (2, 0.0)   # matches the pooled mix exactly


def test_hash_negatives_contract(spark):
    """Exactly k negatives per anchor, never the anchor itself, and
    identical draws under different partitioning (hash-derived)."""
    from etl_orders_to_bq_spark.operators.sampling import hash_negatives

    df = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    a = sorted(
        tuple(r) for r in hash_negatives(df, k=3, seed=7).collect()
    )
    b = sorted(
        tuple(r)
        for r in hash_negatives(df.repartition(7), k=3, seed=7).collect()
    )
    assert a == b
    assert len(a) == 20 * 3
    assert all(doc != neg for doc, _, neg in a)
    assert {r for _, r, _ in a} == {1, 2, 3}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least 2"):
        hash_negatives(spark.createDataFrame([(1,)], "doc_id long"))


def test_sorted_neighborhood_pairs_window(spark):
    """Names adjacent in sort order pair within the window; the
    Levenshtein verify drops far pairs; window=1 pairs only direct
    neighbors."""
    from etl_orders_to_bq_spark.operators.fuzzy import (
        sorted_neighborhood_pairs,
    )

    rows = [
        (1, "alpha"), (2, "alphb"), (3, "alphc"), (4, "zzzzzz"),
    ]
    df = spark.createDataFrame(rows, "ent_id long, name string")
    got = {
        (r["id_a"], r["id_b"]): (r["rank_dist"], r["edit_dist"])
        for r in sorted_neighborhood_pairs(
            df, "name", "ent_id", window=3, max_dist=2
        ).collect()
    }
    # zzzzzz is within rank-window of alphb/alphc but fails the verify
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert got[(1, 2)] == (1, 1)
    assert got[(1, 3)] == (2, 1)
    narrow = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            df, "name", "ent_id", window=1, max_dist=None
        ).collect()
    }
    assert narrow == {(1, 2), (2, 3), (3, 4)}


def test_dp_noisy_counts_mechanism(spark):
    """The released histogram is count + seeded Laplace pseudo-noise:
    deterministic per seed, different across seeds, never exposes the
    raw count column, and the noise magnitude scales with 1/epsilon."""
    import hashlib
    import math

    from etl_orders_to_bq_spark.operators.privacy import dp_noisy_counts

    rows = [("a",)] * 100 + [("b",)] * 50
    df = spark.createDataFrame(rows, "g string")
    out = dp_noisy_counts(df, ["g"], epsilon=1.0, seed=7)
    assert out.columns == ["g", "released"]
    got = {r["g"]: r["released"] for r in out.collect()}

    def ref(key, n, eps, seed):
        h = int(hashlib.md5(f"{key}|{seed}".encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 2**32
        t = u - 0.5
        noise = -(1.0 / eps) * math.copysign(1.0, t) * math.log(
            1.0 - 2.0 * abs(t)
        )
        return round(n + noise, 6)

    assert got["a"] == ref("a", 100, 1.0, 7)
    assert got["b"] == ref("b", 50, 1.0, 7)
    got2 = {
        r["g"]: r["released"]
        for r in dp_noisy_counts(df, ["g"], epsilon=1.0, seed=8).collect()
    }
    assert got2 != got  # seed changes the draw
    import pytest as _pytest

    with _pytest.raises(ValueError, match="epsilon"):
        dp_noisy_counts(df, ["g"], epsilon=0.0)


def test_multiprobe_pq_prunes_and_scores(spark):
    """Multi-probe candidates = query bucket + 1-bit flips; the ADC
    ranking over survivors matches running ann_topk_pq on the manually
    pruned frame (composition is exactly pruning + scoring)."""
    from etl_orders_to_bq_spark.operators.ann import (
        _hyperplanes,
        ann_topk_multiprobe_pq,
        ann_topk_pq,
        pq_codebooks,
        with_lsh_bucket,
    )

    import pyspark.sql.functions as SF

    books = pq_codebooks(dim=8, subspaces=2, codewords=4, seed=5)
    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = rows[0][1]
    got = ann_topk_multiprobe_pq(
        df, books, qv, dim=8, bits=3, seed=9, k=5
    ).collect()
    # manual: same probe set, then plain PQ top-k
    planes = _hyperplanes(8, 3, seed=9)
    qb = 0
    for i, plane in enumerate(planes):
        if sum(a * b for a, b in zip(qv, plane)) > 0:
            qb |= 1 << i
    probes = sorted({qb} | {qb ^ (1 << i) for i in range(3)})
    cands = with_lsh_bucket(df, 8, 3, seed=9).filter(
        SF.col("bucket").isin(probes)
    ).drop("bucket")
    want = ann_topk_pq(cands, books, qv, k=5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert 0 < len(got) <= 5
    # pruning really prunes: candidate count < corpus
    assert cands.count() < 40


def test_hamming_pairs_property_matches_bruteforce(spark):
    """Property (hypothesis fingerprints): the pigeonhole block join
    must find EXACTLY the brute-force pair set at distance <= max_dist
    for arbitrary signed 64-bit hashes (including negatives, where
    arithmetic shiftright sign-extends — the mask must still isolate
    block bits)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from etl_orders_to_bq_spark.operators.dedup import hamming_pairs

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            min_size=2, max_size=12, unique=True,
        ),
        st.integers(min_value=1, max_value=4),
    )
    def check(hashes, max_dist):
        df = spark.createDataFrame(
            list(enumerate(hashes)), "doc_id long, h long"
        )
        got = sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in hamming_pairs(
                df, "h", "doc_id", bits=64, max_dist=max_dist
            ).collect()
        )
        want = sorted(
            (i, j, bin((a ^ b) & (2**64 - 1)).count("1"))
            for (i, a) in enumerate(hashes)
            for (j, b) in enumerate(hashes)
            if i < j
            and bin((a ^ b) & (2**64 - 1)).count("1") <= max_dist
        )
        assert got == want

    check()


def test_ewma_property_matches_sequential_reference(spark):
    """Property (hypothesis series): the distributed sorted fold must
    equal a sequential python EWMA over the (ts, value)-sorted series
    for arbitrary float series and alphas."""
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from etl_orders_to_bq_spark.operators.timeseries import ewma_last

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(
        st.lists(
            st.floats(min_value=-1e6, max_value=1e6,
                      allow_nan=False, allow_infinity=False),
            min_size=1, max_size=20,
        ),
        st.floats(min_value=0.05, max_value=1.0),
    )
    def check(vals, alpha):
        t0 = datetime(2024, 1, 1)
        rows = [
            (1, t0 + timedelta(seconds=i), float(v))
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        )
        got = ewma_last(df, alpha=alpha).collect()[0]
        y = vals[0]
        for x in vals[1:]:
            y = alpha * x + (1.0 - alpha) * y
        assert got["n_points"] == len(vals)
        # the engine (and its oracle) round HALF-AWAY at the 6dp grid;
        # Python round() is half-to-even and disagrees exactly ON
        # midpoints (hypothesis found y = 0.0078125 -> engine
        # 0.007813, round() 0.007812) — mirror the engine convention
        import math

        expected = (
            math.copysign(math.floor(abs(y) * 1e6 + 0.5), y) / 1e6
        )
        assert got["ewma"] == expected

    check()


def test_quantile_normalize_property_bounds_and_monotone(spark):
    """Property: normalized values stay within the global [min, max]
    grid and are monotone in rank within every source."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from etl_orders_to_bq_spark.operators.quality import quantile_normalize

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["a", "b", "c"]),
                st.floats(min_value=-100, max_value=100,
                          allow_nan=False, allow_infinity=False),
            ),
            min_size=2, max_size=25,
        )
    )
    def check(rows):
        data = [(i, s, float(v)) for i, (s, v) in enumerate(rows)]
        df = spark.createDataFrame(
            data, "event_id long, event_type string, value double"
        )
        out = quantile_normalize(
            df, "value", "event_type", "event_id", grid=11
        ).collect()
        vals = [v for _, _, v in data]
        lo, hi = round(min(vals), 6), round(max(vals), 6)
        assert all(lo <= r["normalized"] <= hi for r in out)
        by_src: dict = {}
        for r in out:
            by_src.setdefault(r["event_type"], []).append(
                (r["value"], r["event_id"], r["normalized"])
            )
        for series in by_src.values():
            series.sort()
            norms = [n for _, _, n in series]
            assert norms == sorted(norms)

    check()


def test_countmin_check_contract(spark):
    """CM estimates never undercount, the eps-bound flag holds on a
    well-sized sketch, and the domain guard trips on max_keys."""
    from etl_orders_to_bq_spark.operators.sketches import countmin_check

    rows = [(f"k{i % 20}",) for i in range(2000)]
    df = spark.createDataFrame(rows, "route string")
    out = countmin_check(df, "route", eps=0.01, confidence=0.99).collect()
    assert len(out) == 20
    assert all(r["never_undercounts"] for r in out)
    assert all(r["eps_bound_ok"] for r in out)
    assert {r["exact_n"] for r in out} == {100}
    top = countmin_check(df, "route", top_keys=5).collect()
    assert len(top) == 5
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_keys"):
        countmin_check(df, "route", max_keys=10)


def test_countmin_bytes_parity_with_jvm(spark):
    """CountMinSketchBytes (pure-Python V1 wire-format reader) returns
    bit-identical estimates to the JVM's CountMinSketch.readFrom for
    long AND string keys — including murmur tail lengths 0-3, multi-
    byte UTF-8, negative/boundary longs. Skips under Spark Connect
    (where the JVM oracle side is unreachable — the reader itself is
    the Connect-safe path)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from etl_orders_to_bq_spark.operators.sketches import (
        CountMinSketchBytes,
    )

    if not hasattr(spark, "_jvm") or spark._jvm is None:
        _pytest.skip("classic JVM bridge unavailable")
    jvm = spark._jvm

    longs = [0, 1, -1, 7, -7, 2**31, -(2**31), 2**62, -(2**62) + 3]
    strs = ["", "a", "ab", "abc", "abcd", "é", "日本語", "key_42",
            "x" * 37]
    for schema, keys, rows in [
        ("k long", longs, [(v,) for v in longs * 300]),
        ("k string", strs, [(v,) for v in strs * 300]),
    ]:
        df = spark.createDataFrame(rows, schema)
        raw = bytes(
            df.agg(
                F.count_min_sketch(
                    "k", F.lit(0.001), F.lit(0.99), F.lit(42)
                ).alias("s")
            ).first()["s"]
        )
        py = CountMinSketchBytes(raw)
        jv = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            jvm.java.io.ByteArrayInputStream(raw)
        )
        assert py.total_count == jv.totalCount()
        for k in keys:
            assert py.estimate(k) == jv.estimateCount(k), k


def test_linkage_score_hand_computed(spark):
    """FS log2-odds weights on a hand-built pair table, null-safe
    agreement, threshold decision, and parameter validation."""
    import math

    from etl_orders_to_bq_spark.operators.fuzzy import linkage_score

    rows = [
        (1, 2, "ann", "ann", True, True),     # both agree
        (1, 3, "ann", "bob", True, False),    # one agrees
        (1, 4, None, None, False, True),      # null vs null AGREES
        (1, 5, "ann", None, True, True),      # null vs value disagrees
    ]
    df = spark.createDataFrame(
        rows, "id_a long, id_b long, n_a string, n_b string, "
              "b_a boolean, b_b boolean"
    )
    m, u = [0.9, 0.8], [0.1, 0.3]
    out = {
        r["id_b"]: (r["fs_score"], r["is_match"])
        for r in linkage_score(
            df, [("n_a", "n_b"), ("b_a", "b_b")], m, u, threshold=2.0
        ).collect()
    }
    wa = [math.log2(mi / ui) for mi, ui in zip(m, u)]
    wd = [
        math.log2((1 - mi) / (1 - ui)) for mi, ui in zip(m, u)
    ]
    assert out[2] == (round(wa[0] + wa[1], 6), True)
    # (ann, bob) and (True, False): both fields disagree
    assert out[3] == (round(wd[0] + wd[1], 6), False)
    # (None, None) AGREES null-safely; (False, True) disagrees
    assert out[4][0] == round(wa[0] + wd[1], 6)
    # (ann, None) disagrees; (True, True) agrees
    assert out[5] == (round(wd[0] + wa[1], 6), False)
    import pytest as _pytest

    # u >= m is LEGAL (negatively-discriminating comparator): the
    # agreement weight goes negative, disagreement positive
    neg = {
        r["id_b"]: r["fs_score"]
        for r in linkage_score(
            df, [("n_a", "n_b")], [0.5], [0.6]
        ).collect()
    }
    assert neg[2] == round(math.log2(0.5 / 0.6), 6) < 0
    assert neg[3] == round(math.log2(0.5 / 0.4), 6) > 0
    # only out-of-range probabilities raise now
    with _pytest.raises(ValueError, match="in \\(0, 1\\)"):
        linkage_score(df, [("n_a", "n_b")], [1.0], [0.1])
    with _pytest.raises(ValueError, match="in \\(0, 1\\)"):
        linkage_score(df, [("n_a", "n_b")], [0.9], [0.0])
    with _pytest.raises(ValueError, match="align"):
        linkage_score(df, [("n_a", "n_b")], [0.9, 0.8], [0.1])


def test_neighbor_jaccard_hand_computed(spark):
    """Path 1-2-3 plus hub 0: J(1,3) = |{0,2}| / |{0,2} ∪ {0,2}| = 1.0
    (their neighborhoods coincide); existing edges are excluded."""
    from etl_orders_to_bq_spark.operators.graph import neighbor_jaccard

    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["node_a"], r["node_b"]): (r["common_neighbors"], r["jaccard"])
        for r in neighbor_jaccard(df).collect()
    }
    # only non-edge 2-hop pair is (1,3); N(1)={0,2}, N(3)={0,2}
    assert got == {(1, 3): (2, 1.0)}
    all_pairs = {
        (r["node_a"], r["node_b"]): r["jaccard"]
        for r in neighbor_jaccard(df, include_existing=True).collect()
    }
    # (0,1): N(0)={1,2,3}, N(1)={0,2} -> common {2}; union 3+2-1=4
    assert all_pairs[(0, 1)] == 0.25


def test_embedding_drift_zero_for_identical_groups(spark):
    """Groups with identical distributions drift zero; a shifted group
    drifts by the per-dim shift times dims (L1)."""
    from etl_orders_to_bq_spark.operators.embstats import embedding_drift

    base = [[1.0, 2.0], [3.0, 4.0]]
    rows = (
        [(0, v) for v in base]
        + [(1, v) for v in base]
        + [(2, [x + 1.0 for x in v]) for v in base]
    )
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    got = {
        r["label"]: (r["n_vecs"], r["l1_drift"], r["max_dim_drift"])
        for r in embedding_drift(df).collect()
    }
    # global mean per dim: dim0 (1+3+1+3+2+4)/6 = 7/3; groups 0,1 mean 2
    third = round(abs(2.0 - round(14 / 6, 6)), 6)
    assert got[0] == (2, round(2 * third, 6), third)
    assert got[0] == got[1]
    # shifted group: per-dim mean 3 -> gap = |3 - 7/3|
    gap2 = round(abs(3.0 - round(14 / 6, 6)), 6)
    assert got[2] == (2, round(2 * gap2, 6), gap2)


def test_repeated_ngram_spans_hand_computed(spark):
    """Overlapping full windows only: a 30-token doc at span=20/stride=10
    yields 2 windows; a repeated passage across two docs is reported
    with the right counts; sub-span docs yield nothing."""
    from etl_orders_to_bq_spark.operators.spans import (
        repeated_ngram_spans,
    )

    w = " ".join(f"w{i}" for i in range(30))  # tokens w0..w29
    rows = [(1, w), (2, w), (3, "short doc"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repeated_ngram_spans(
        df, span_tokens=20, stride=10, min_occurrences=2
    ).collect()
    # each of docs 1,2 emits windows [w0..w19] and [w10..w29]; both
    # repeat exactly twice across two docs
    assert len(out) == 2
    for r in out:
        assert (r["n_occurrences"], r["n_docs"], r["first_doc"]) == (2, 2, 1)
    texts = {r["span_text"] for r in out}
    assert " ".join(f"w{i}" for i in range(20)) in texts
    assert " ".join(f"w{i}" for i in range(10, 30)) in texts
    # below min_occurrences: nothing reported for unique docs
    one = repeated_ngram_spans(
        df.filter("doc_id = 1"), span_tokens=20, stride=10
    ).collect()
    assert one == []
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        repeated_ngram_spans(df, span_tokens=10, stride=11)


def test_canonicalize_url_rules(spark):
    """Each canonicalization rule, one assertion each — and non-URLs
    pass through untouched."""
    from etl_orders_to_bq_spark.functions.urls import canonicalize_url

    cases = [
        ("HTTPS://Ex.COM/P", "https://ex.com/P"),        # case: host only
        ("https://ex.com:443/p", "https://ex.com/p"),    # default port
        ("http://ex.com:80/p", "http://ex.com/p"),
        ("https://ex.com:8443/p", "https://ex.com:8443/p"),  # real port
        ("https://ex.com", "https://ex.com/"),           # empty path
        ("https://ex.com/p#frag", "https://ex.com/p"),   # fragment
        ("https://ex.com/p?b=2&a=1", "https://ex.com/p?a=1&b=2"),  # sort
        ("https://ex.com/p?utm_source=x&a=1", "https://ex.com/p?a=1"),
        ("https://ex.com/p?fbclid=z", "https://ex.com/p"),  # all tracked
        ("not a url", "not a url"),                      # passthrough
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, u string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", canonicalize_url("u").alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])


def test_group_split_leakage_free_and_deterministic(spark):
    """Every group lands in exactly one split; re-running (and
    re-partitioning) yields the identical assignment; fractions land
    near the targets; validation errors raise."""
    from etl_orders_to_bq_spark.operators.sampling import group_split

    rows = [(i, i % 200) for i in range(4000)]
    df = spark.createDataFrame(rows, "row_id long, grp long")
    out = group_split(df, "grp", seed=7)
    per_grp = (
        out.groupBy("grp")
        .agg(F.countDistinct("split").alias("k"))
        .collect()
    )
    assert all(r["k"] == 1 for r in per_grp)
    a = {r["row_id"]: r["split"] for r in out.collect()}
    b = {
        r["row_id"]: r["split"]
        for r in group_split(df.repartition(13), "grp", seed=7).collect()
    }
    assert a == b
    from collections import Counter

    frac = Counter(a.values())
    assert 0.6 < frac["train"] / 4000 < 0.95
    assert frac["val"] > 0 and frac["test"] > 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="align"):
        group_split(df, "grp", fractions=(0.5,), labels=("a", "b"))
    with _pytest.raises(ValueError, match="at least 2"):
        group_split(df, "grp", fractions=(1.0,), labels=("a",))


def test_hits_scores_hand_computed(spark):
    """Two rounds on a 3-node chain a->b, a->c, b->c: unnormalized
    integer HITS computed by hand, max-normalized at the end."""
    from etl_orders_to_bq_spark.operators.graph import hits_scores

    df = spark.createDataFrame(
        [(10, 20), (10, 30), (20, 30)], "src long, dst long"
    )
    # round 1: auth = indeg -> a:0 b:1 c:2; hub: a = auth(b)+auth(c)=3,
    #          b = auth(c)=2, c = 0
    # round 2: auth(b) = hub(a) = 3; auth(c) = hub(a)+hub(b) = 5;
    #          hub(a) = 3+5 = 8; hub(b) = 5
    out = {r["id"]: (r["auth"], r["hub"]) for r in
           hits_scores(df, rounds=2).collect()}
    assert out[10] == (0.0, 1.0)                      # hub max = 8
    assert out[20] == (round(3 / 5, 6), round(5 / 8, 6))
    assert out[30] == (1.0, 0.0)                      # auth max = 5
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rounds"):
        hits_scores(df, rounds=0)


def test_shard_plan_balanced_and_ordered(spark):
    """Shard sizes within one row, bounds non-overlapping in key
    order, sizes sum to n — and num_shards > n degenerates safely."""
    from etl_orders_to_bq_spark.operators.ranking import shard_plan

    df = spark.createDataFrame(
        [(i * 7 % 101, i) for i in range(101)], "k long, id long"
    )
    plan = shard_plan(df, ["k", "id"], 8).orderBy("shard_id").collect()
    sizes = [r["n_rows"] for r in plan]
    assert sum(sizes) == 101
    assert max(sizes) - min(sizes) <= 1
    for prev, cur in zip(plan, plan[1:]):
        assert (prev["hi_k"], ) <= (cur["lo_k"], )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="num_shards"):
        shard_plan(df, ["k"], 0)


def test_ngram_containment_prefix_is_contained(spark):
    """A doc that is a token-prefix of another scores containment 1.0
    in the short->long direction and < 1.0 the other way."""
    from etl_orders_to_bq_spark.operators.dedup import ngram_containment

    long_text = " ".join(f"tok{i}" for i in range(40))
    short_text = " ".join(f"tok{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = ngram_containment(df, pairs=pairs).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_shingles_a"] == 38 and r["n_shingles_b"] == 10
    assert r["n_common"] == 10
    assert r["containment_b_in_a"] == 1.0
    assert r["containment_a_in_b"] == round(10 / 38, 6)


def test_ngram_containment_duplicate_pairs_not_double_counted(spark):
    """Caller-supplied pairs may repeat (e.g. a union of candidate
    generators): the exploded verify counts (pair, shingle) rows, so
    without the internal distinct a duplicated pair would double
    n_common (review finding r8: containment_b_in_a came back 2.0)."""
    from etl_orders_to_bq_spark.operators.dedup import ngram_containment

    docs = [
        (1, " ".join(f"tok{i}" for i in range(40))),
        (2, " ".join(f"tok{i}" for i in range(12))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 2)], "id_a long, id_b long"
    )
    for mode in ("array", "exploded"):
        out = ngram_containment(df, pairs=pairs, verify=mode).collect()
        assert len(out) == 1, mode
        assert out[0]["n_common"] == 10, mode
        assert out[0]["containment_b_in_a"] == 1.0, mode
    import pytest as _pytest

    with _pytest.raises(ValueError, match="verify"):
        ngram_containment(df, pairs=pairs, verify="explode")


def test_ngram_containment_verify_paths_agree(spark):
    """array / exploded / auto verify strategies are result-identical,
    including zero-overlap pairs (exploded's left join must keep them
    with n_common 0) and empty-text docs (NULL containment, no
    exploded rows)."""
    from etl_orders_to_bq_spark.operators.dedup import ngram_containment

    docs = [
        (1, " ".join(f"tok{i}" for i in range(40))),
        (2, " ".join(f"tok{i}" for i in range(12))),
        (3, " ".join(f"zzz{i}" for i in range(20))),  # disjoint
        (4, ""),  # zero shingles
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    results = {}
    for mode in ("array", "exploded", "auto"):
        rows = sorted(
            ngram_containment(df, pairs=pairs, verify=mode).collect(),
            key=lambda r: (r["id_a"], r["id_b"]),
        )
        results[mode] = [tuple(r) for r in rows]
    assert results["array"] == results["exploded"] == results["auto"]
    by_b = {r[1]: r for r in results["exploded"]}
    assert by_b[3][4] == 0  # n_common for disjoint pair survives
    assert by_b[4][3] == 0 and by_b[4][6] is None  # empty doc: NULL c
    assert by_b[2][4] == 10


def test_bucket_medoids_contract(spark):
    """Medoid is the most-central member (hand-checkable with one
    dominant direction), singleton buckets keep their only member with
    mean_cos 0.0, and both pair kernels agree."""
    from etl_orders_to_bq_spark.operators.semdedup import bucket_medoids

    # vectors along +x cluster together under any hyperplane LSH;
    # v2 is the centroid-most of the trio {v1, v2, v3}
    rows = [
        (1, [1.0, 0.0, 0.1, 0.0]),
        (2, [1.0, 0.05, 0.05, 0.0]),
        (3, [1.0, 0.1, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for method in ("numpy", "column"):
        out = bucket_medoids(
            df, dim=4, bits=2, seed=3, pair_method=method
        ).collect()
        total = sum(r["bucket_size"] for r in out)
        assert total == 3
        for r in out:
            if r["bucket_size"] == 1:
                assert r["mean_cos"] == 0.0
        by_size = {r["bucket_size"]: r for r in out}
        if 3 in by_size:
            assert by_size[3]["medoid_id"] == 2


def test_group_split_rejects_saturated_fractions(spark):
    """Cumulative pre-last fractions >= 1 would silently empty the
    last split — must raise instead."""
    import pytest as _pytest

    from etl_orders_to_bq_spark.operators.sampling import group_split

    df = spark.createDataFrame([(1, 1)], "row_id long, grp long")
    with _pytest.raises(ValueError, match="cumulative"):
        group_split(
            df, "grp", fractions=(0.7, 0.5, 0.1),
            labels=("train", "val", "test"),
        )


def test_script_counts_whitespace_class_engine_identical(spark):
    """The explicit whitespace class must count identically on Java
    and RE2 — including vertical tab U+000B, where the engines' \\s
    shorthands DIFFER (Java includes it, RE2 does not)."""
    import duckdb

    from etl_orders_to_bq_spark.functions.text import script_counts

    text = "a\x0bb\tc d\ne\ff\r"
    df = spark.createDataFrame([(1, text)], "id long, t string")
    s = df.select(script_counts("t").alias("s")).first()["s"]
    q = duckdb.connect().execute(
        "select length($1) - length(regexp_replace($1,"
        " '[ \\t\\n\\x0B\\f\\r]', '', 'g'))",
        [text],
    ).fetchone()[0]
    assert s["space"] == q == 6


def test_tfidf_topterms_hand_computed(spark):
    """Two tiny sources with one shared and one exclusive term: the
    exclusive term outranks the shared one (higher idf), scores match
    the closed-form smooth idf, top_n cuts deterministically."""
    import math

    from etl_orders_to_bq_spark.operators.bm25 import tfidf_topterms

    rows = [
        (1, "alpha alpha shared", "s1"),
        (2, "alpha shared", "s1"),
        (3, "beta shared", "s2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["source"], r["term"]): (r["tf"], r["df"], r["score"])
           for r in tfidf_topterms(df, top_n=10).collect()}
    idf = lambda dfreq: math.log((1 + 3) / (1 + dfreq)) + 1
    assert out[("s1", "alpha")] == (3, 2, round(3 * idf(2), 6))
    assert out[("s1", "shared")] == (2, 3, round(2 * idf(3), 6))
    assert out[("s2", "beta")] == (1, 1, round(1 * idf(1), 6))
    # exclusive beta beats shared within s2 (idf dominates equal tf)
    assert out[("s2", "beta")][2] > out[("s2", "shared")][2]
    cut = tfidf_topterms(df, top_n=1).collect()
    assert len(cut) == 2  # one term per source


def test_vocab_growth_hand_computed(spark):
    from etl_orders_to_bq_spark.operators.bm25 import vocab_growth

    df = spark.createDataFrame(
        [(1, "a a b c", "s1")], "doc_id long, text string, source string"
    )
    r = vocab_growth(df).collect()[0]
    assert (r["n_tokens"], r["vocab"], r["hapax"]) == (4, 3, 2)
    assert r["hapax_frac"] == round(2 / 3, 6)
    assert r["type_token_ratio"] == 0.75


def test_time_split_embargo_boundaries(spark):
    """Exact boundary semantics: day before the embargo window trains,
    the window itself is excluded, the cutoff day tests; nulls embargo;
    negative embargo raises."""
    import datetime as dt

    import pytest as _pytest

    from etl_orders_to_bq_spark.operators.sampling import (
        time_split_embargo,
    )

    rows = [
        (1, dt.date(1996, 12, 1)),   # cutoff - 31d -> train
        (2, dt.date(1996, 12, 2)),   # cutoff - 30d -> embargo (>= lo)
        (3, dt.date(1996, 12, 31)),  # day before cutoff -> embargo
        (4, dt.date(1997, 1, 1)),    # cutoff day -> test
        (5, None),                   # null -> embargo
    ]
    df = spark.createDataFrame(rows, "id long, d date")
    out = {r["id"]: r["split"] for r in
           time_split_embargo(df, "d", "1997-01-01", 30).collect()}
    assert out == {1: "train", 2: "embargo", 3: "embargo",
                   4: "test", 5: "embargo"}
    with _pytest.raises(ValueError, match="embargo_days"):
        time_split_embargo(df, "d", "1997-01-01", -1)


def test_canonicalize_url_idempotent_property(spark):
    """Canonicalization must be IDEMPOTENT — canonical output re-fed
    through the canonicalizer is a fixed point (the property that makes
    the canonical form a safe storage/dedup key). Property-tested over
    generated URL-ish inputs covering every rule interaction."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_orders_to_bq_spark.functions.urls import canonicalize_url

    scheme = st.sampled_from(["http", "HTTP", "https", "HTTPS"])
    host = st.sampled_from(
        ["Ex.COM", "ex.com", "a.b.Example.org", "EX.com:443",
         "ex.com:80", "ex.com:8080"]
    )
    path = st.sampled_from(["", "/", "/P/q", "/deep/Path.html"])
    params = st.lists(
        st.sampled_from(
            ["a=1", "B=2", "utm_source=x", "fbclid=z", "ref=t",
             "z", "k=v=w", ""]
        ),
        max_size=4,
    )
    frag = st.sampled_from(["", "#f", "#Frag/x?y=1"])

    @settings(max_examples=30, deadline=None)
    @given(scheme, host, path, params, frag)
    def check(sc, h, p, qs, fr):
        url = f"{sc}://{h}{p}"
        if qs:
            url += "?" + "&".join(qs)
        url += fr
        df = spark.createDataFrame([(url,)], "u string")
        once = df.select(canonicalize_url("u").alias("c"))
        got = once.first()["c"]
        twice = once.select(canonicalize_url("c").alias("c2")).first()["c2"]
        assert got == twice, (url, got, twice)

    check()


def test_poisson_weight_inverse_cdf(spark):
    """Boundary-exact inverse-CDF: u just below/above each cumulative
    literal maps to the right k, and the empirical mean weight over
    many deterministic draws is ~1 (the Poisson(1) contract)."""
    from etl_orders_to_bq_spark.operators.bootstrap import (
        _poisson1_cdf_literals,
        poisson_weight,
    )

    cdf = _poisson1_cdf_literals(8)
    probes = [(0.0, 0), (cdf[0] - 1e-12, 0), (cdf[0], 1),
              (cdf[1] - 1e-12, 1), (cdf[3], 4), (0.99999999, 8)]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(probes)], "i long, u double"
    )
    got = {
        r["i"]: r["k"]
        for r in df.select(
            "i", poisson_weight(F.col("u")).alias("k")
        ).collect()
    }
    for i, (_, want) in enumerate(probes):
        assert got[i] == want, (probes[i], got[i])


def test_bootstrap_ci_contract(spark):
    """CI brackets the mean, output is partitioning-invariant, both
    hash families run, and validation raises."""
    import pytest as _pytest

    from etl_orders_to_bq_spark.operators.bootstrap import bootstrap_ci

    rows = [(i, float(100 + (i * 37) % 50), "g%d" % (i % 2))
            for i in range(400)]
    df = spark.createDataFrame(rows, "id long, v double, g string")
    for fam in ("md5", "xxhash64"):
        out = {r["g"]: r for r in bootstrap_ci(
            df, "v", "id", ["g"], b=50, hash_fn=fam
        ).collect()}
        for g, r in out.items():
            assert r["ci_lo"] <= r["mean"] <= r["ci_hi"], (fam, g, r)
            assert r["n_rows"] == 200 and r["b"] == 50
    a = sorted(map(tuple, bootstrap_ci(df, "v", "id", ["g"]).collect()))
    b2 = sorted(map(tuple, bootstrap_ci(
        df.repartition(17), "v", "id", ["g"]
    ).collect()))
    assert a == b2
    with _pytest.raises(ValueError, match="b must"):
        bootstrap_ci(df, "v", "id", b=1)
    with _pytest.raises(ValueError, match="hash_fn"):
        bootstrap_ci(df, "v", "id", hash_fn="sha1")


def test_resample_ffill_hand_computed(spark):
    """A gap month fills with the last observed value and is flagged
    unobserved; spines are per-key (no cross-key calendar)."""
    import datetime as dt

    from etl_orders_to_bq_spark.operators.timeseries import (
        resample_ffill,
    )

    rows = [
        ("a", dt.datetime(2024, 1, 1), 10.0),
        ("a", dt.datetime(2024, 3, 1), 30.0),
        ("b", dt.datetime(2024, 2, 1), 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, m timestamp, v double")
    out = {(r["k"], r["m"].month): (r["v"], r["is_observed"])
           for r in resample_ffill(df, "k", "m", "v").collect()}
    assert out[("a", 1)] == (10.0, True)
    assert out[("a", 2)] == (10.0, False)   # gap forward-filled
    assert out[("a", 3)] == (30.0, True)
    assert out[("b", 2)] == (7.0, True)
    assert len(out) == 4                    # b has a 1-month spine
