"""Goldens for the k-group rank/variance statistics batch:
kruskal_wallis, anova_oneway, hodges_lehmann."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def kw_df(spark):
    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 3.0),
        ("b", 2.0), ("b", 4.0), ("b", 5.0),
        ("c", 6.0), ("c", 7.0), ("c", 2.0),
    ]
    return spark.createDataFrame(rows, ["g", "v"])


def test_kruskal_wallis_golden(kw_df):
    """Hand-computed H on a 9-row, 3-group sample with a 3-way tie at
    v=2.0: H = 2.755556, tie-adjusted H/C = 2.850575 (scipy.stats
    kruskal gives the adjusted value)."""
    from etl_orders_to_bq_spark.operators.multitest import kruskal_wallis

    row = kruskal_wallis(kw_df, "g", "v").collect()[0]
    assert row.k_groups == 3 and row.n == 9
    assert row.h_stat == pytest.approx(2.755556, abs=1e-6)
    assert row.h_adj == pytest.approx(2.850575, abs=1e-6)


def test_kruskal_wallis_degenerate_single_group(spark):
    """One non-empty group: the statistic is undefined — NULL, never
    a crash or a fabricated 0."""
    from etl_orders_to_bq_spark.operators.multitest import kruskal_wallis

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], ["g", "v"])
    row = kruskal_wallis(df, "g", "v").collect()[0]
    assert row.k_groups == 1
    assert row.h_stat is None and row.h_adj is None


def test_kruskal_wallis_matches_mann_whitney_direction(spark):
    """Two clearly separated groups: H must be large (the k=2 case is
    the Mann-Whitney setting; H = z^2 asymptotically)."""
    from etl_orders_to_bq_spark.operators.multitest import kruskal_wallis

    rows = [("lo", float(i)) for i in range(10)] + [
        ("hi", float(i + 100)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    row = kruskal_wallis(df, "g", "v").collect()[0]
    assert row.h_stat > 10  # far beyond the 3.84 chi2(1) 95% cut


def test_anova_oneway_golden(kw_df):
    """Same 9-row sample: SSB = 13.555556, SSW = 20.666667,
    F = 1.967742 (textbook one-way decomposition)."""
    from etl_orders_to_bq_spark.operators.multitest import anova_oneway

    row = anova_oneway(kw_df, "g", "v").collect()[0]
    assert (row.k_groups, row.n) == (3, 9)
    assert row.ssb == pytest.approx(13.555556, abs=1e-6)
    assert row.ssw == pytest.approx(20.666667, abs=1e-6)
    assert row.f_stat == pytest.approx(1.967742, abs=1e-6)


def test_anova_oneway_zero_within_variance(spark):
    """Constant values inside each group: SSW = 0 — F undefined,
    reported NULL (ANSI mode would otherwise crash the division)."""
    from etl_orders_to_bq_spark.operators.multitest import anova_oneway

    rows = [("a", 1.0), ("a", 1.0), ("b", 5.0), ("b", 5.0)]
    row = anova_oneway(
        spark.createDataFrame(rows, ["g", "v"]), "g", "v"
    ).collect()[0]
    assert row.ssw == 0.0 and row.f_stat is None
    assert row.ssb == pytest.approx(16.0, abs=1e-6)


def test_hodges_lehmann_golden(spark):
    """Walsh-average medians: group a = [1,3,5,7] has 10 pairwise
    means with median 4.0; group b = [2,4,6] has 6 with median 4.0;
    group c = [1,2,10] -> walsh means [1,1.5,2,5.5,6,10] -> (2+5.5)/2
    = 3.75 (even count exercises the two-middle average)."""
    from etl_orders_to_bq_spark.operators.multitest import hodges_lehmann

    rows = (
        [("a", i, float(v)) for i, v in enumerate([1, 3, 5, 7])]
        + [("b", 10 + i, float(v)) for i, v in enumerate([2, 4, 6])]
        + [("c", 20 + i, float(v)) for i, v in enumerate([1, 2, 10])]
    )
    df = spark.createDataFrame(rows, ["g", "i", "v"])
    got = {
        r.group: (r.n, r.n_pairs, r.hl_estimate)
        for r in hodges_lehmann(df, "g", "v", "i").collect()
    }
    assert got == {
        "a": (4, 10, 4.0),
        "b": (3, 6, 4.0),
        "c": (3, 6, 3.75),
    }


def test_hodges_lehmann_robust_to_outlier(spark):
    """The defining property: one whale barely moves HL while the
    mean doubles."""
    from etl_orders_to_bq_spark.operators.multitest import hodges_lehmann

    clean = [("g", i, 10.0 + (i % 5)) for i in range(20)]
    spiked = clean + [("g", 99, 100000.0)]
    df_c = spark.createDataFrame(clean, ["g", "i", "v"])
    df_s = spark.createDataFrame(spiked, ["g", "i", "v"])
    hl_c = hodges_lehmann(df_c, "g", "v", "i").collect()[0].hl_estimate
    hl_s = hodges_lehmann(df_s, "g", "v", "i").collect()[0].hl_estimate
    assert abs(hl_s - hl_c) < 1.0


def test_spearman_rho_golden(spark):
    """7-point sample with ties in both columns: scipy.stats
    spearmanr gives 0.833333; exact tie handling via doubled average
    ranks must reproduce it."""
    from etl_orders_to_bq_spark.operators.rankcorr import spearman_rho

    pts = [(1, 2), (2, 1), (3, 4), (4, 3), (5, 5), (2, 2), (3, 3)]
    df = spark.createDataFrame(
        [("g", float(x), float(y)) for x, y in pts], ["g", "x", "y"]
    )
    row = spearman_rho(df, "g", "x", "y").collect()[0]
    assert row.n == 7
    assert row.rho == pytest.approx(0.833333, abs=1e-6)


def test_spearman_rho_perfect_and_constant(spark):
    """Monotone map -> rho exactly 1.0 regardless of nonlinearity;
    constant y -> zero rank variance -> NULL."""
    from etl_orders_to_bq_spark.operators.rankcorr import spearman_rho

    mono = [("m", float(i), float(i * i)) for i in range(1, 9)]
    const = [("c", float(i), 7.0) for i in range(1, 9)]
    got = {
        r.group: r.rho
        for r in spearman_rho(
            spark.createDataFrame(mono + const, ["g", "x", "y"]),
            "g", "x", "y",
        ).collect()
    }
    assert got["m"] == 1.0 and got["c"] is None


def test_kendall_tau_golden(spark):
    """Same 7-point sample: C=15, D=2, tau_b = 0.684211 (matches
    scipy.stats.kendalltau with tie correction)."""
    from etl_orders_to_bq_spark.operators.rankcorr import kendall_tau

    pts = [(1, 2), (2, 1), (3, 4), (4, 3), (5, 5), (2, 2), (3, 3)]
    df = spark.createDataFrame(
        [("g", i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        ["g", "i", "x", "y"],
    )
    row = kendall_tau(df, "g", "x", "y", "i").collect()[0]
    assert (row.concordant, row.discordant) == (15, 2)
    assert row.tau_b == pytest.approx(0.684211, abs=1e-6)


def test_kendall_tau_reversal(spark):
    """Strictly decreasing y: every pair discordant, tau_b = -1."""
    from etl_orders_to_bq_spark.operators.rankcorr import kendall_tau

    rows = [("g", i, float(i), float(-i)) for i in range(6)]
    row = kendall_tau(
        spark.createDataFrame(rows, ["g", "i", "x", "y"]),
        "g", "x", "y", "i",
    ).collect()[0]
    assert row.tau_b == -1.0 and row.concordant == 0


def test_good_turing_golden(spark):
    """Textbook counts-of-counts: corpus 'a a a b b c d e' ->
    N_1 = 3 (c,d,e), N_2 = 1 (b), N_3 = 1 (a), N = 8.
    r*(1) = 2*1/3 = 0.666667, r*(2) = 3*1/1 = 3.0, r*(3) = 4*0/1 = 0
    (no successor class -> the literal GT zero)."""
    from etl_orders_to_bq_spark.operators.lm import good_turing

    df = spark.createDataFrame([("a a a b b c d e",)], ["text"])
    got = {r.r: (r.n_r, r.r_star) for r in good_turing(df).collect()}
    assert got == {1: (3, 0.666667), 2: (1, 3.0), 3: (1, 0.0)}


def test_good_turing_ngram_units(spark):
    """ngram=2 counts bigram shingles: 'x y x y' -> shingles
    [x y, y x, x y] -> N_1 = 1 (y x), N_2 = 1 (x y)."""
    from etl_orders_to_bq_spark.operators.lm import good_turing

    df = spark.createDataFrame([("x y x y",)], ["text"])
    got = {r.r: r.n_r for r in good_turing(df, ngram=2).collect()}
    assert got == {1: 1, 2: 1}


def test_chao1_golden(spark):
    """Same corpus: S_obs = 5, f1 = 3, f2 = 1, N = 8 ->
    chao1 = 5 + 3*2/(2*2) = 6.5; coverage = 1 - 3/8 = 0.625."""
    from etl_orders_to_bq_spark.operators.lm import chao1_richness

    df = spark.createDataFrame([("a a a b b c d e",)], ["text"])
    row = chao1_richness(df).collect()[0]
    assert (row.n_tokens, row.s_obs, row.f1, row.f2) == (8, 5, 3, 1)
    assert row.chao1 == 6.5 and row.coverage == 0.625


def test_chao1_no_doubletons_defined(spark):
    """All-distinct corpus (f2 = 0): the bias-corrected form stays
    finite — chao1 = S + f1(f1-1)/2."""
    from etl_orders_to_bq_spark.operators.lm import chao1_richness

    df = spark.createDataFrame([("p q r s",)], ["text"])
    row = chao1_richness(df).collect()[0]
    assert row.s_obs == 4 and row.f2 == 0
    assert row.chao1 == 4 + 4 * 3 / 2


def test_ipw_ate_recovers_planted_effect(spark):
    """Confounded design: stratum A is 75% treated, B 25%; treatment
    adds exactly +10 inside every stratum but strata have different
    baselines (A=100, B=0) — the naive diff-in-means is biased, IPW
    with stratum propensities must recover exactly 10.0."""
    from etl_orders_to_bq_spark.operators.experiment import ipw_ate

    rows = []
    for i in range(8):
        t = 1 if i < 6 else 0          # stratum A: 6/8 treated
        rows.append(("A", t, 100.0 + 10.0 * t))
    for i in range(8):
        t = 1 if i < 2 else 0          # stratum B: 2/8 treated
        rows.append(("B", t, 0.0 + 10.0 * t))
    df = spark.createDataFrame(rows, ["s", "t", "y"])
    row = ipw_ate(df, "t", "y", "s").collect()[0]
    assert (row.n_strata, row.n_used_strata, row.n) == (2, 2, 16)
    assert row.ate == pytest.approx(10.0, abs=1e-6)
    # the naive estimate is confounded upward: treated skew toward
    # the high-baseline stratum
    naive = (sum(y for _, t, y in rows if t) / 8) - (
        sum(y for _, t, y in rows if not t) / 8
    )
    assert naive > 40


def test_ipw_ate_drops_no_overlap_strata(spark):
    """A stratum with zero treated rows has undefined weights: it is
    excluded from the estimate and surfaced in the strata counts."""
    from etl_orders_to_bq_spark.operators.experiment import ipw_ate

    rows = [("A", 1, 20.0), ("A", 0, 10.0), ("C", 0, 999.0),
            ("C", 0, 999.0)]
    row = ipw_ate(
        spark.createDataFrame(rows, ["s", "t", "y"]), "t", "y", "s"
    ).collect()[0]
    assert (row.n_strata, row.n_used_strata, row.n) == (2, 1, 2)
    assert row.ate == pytest.approx(10.0, abs=1e-6)


def test_k_truss_golden_k4_with_pendant_triangle(spark):
    """K4 {0,1,2,3} plus a pendant triangle {2,3,4}: edges (2,4) and
    (3,4) sit in one triangle each, so the 4-truss (support >= 2)
    peels them; the peel must then STILL keep K4 (whose edges each
    sat in 2 K4-triangles after the cascade)."""
    from etl_orders_to_bq_spark.operators.graph import k_truss

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = k4 + [(2, 4), (3, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.a, r.b): r.support for r in k_truss(df, k=4).collect()}
    assert set(got) == set(k4)
    assert all(v == 2 for v in got.values())


def test_k_truss_cascade_to_empty(spark):
    """A single triangle: every edge has support 1, so k=4 peels the
    whole graph (cascade to empty, no crash)."""
    from etl_orders_to_bq_spark.operators.graph import k_truss

    df = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], ["src", "dst"])
    assert k_truss(df, k=4).count() == 0
    # and the triangle itself is the 3-truss (support >= 1)
    assert k_truss(df, k=3).count() == 3


def test_k_truss_local_matches_distributed(spark):
    """The numpy fast path and the staged distributed peel must agree
    edge-for-edge and support-for-support (the kcore equivalence
    discipline)."""
    from pyspark.sql import functions as F

    from etl_orders_to_bq_spark.operators.graph import k_truss
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select(
        (F.col("l_orderkey") % 200).alias("src"),
        (F.col("l_partkey") % 200).alias("dst"),
    )
    loc = sorted(tuple(r) for r in k_truss(li, k=6).collect())
    with local_fold_max_rows(spark, 0):
        dist = sorted(tuple(r) for r in k_truss(li, k=6).collect())
    assert loc == dist and len(loc) > 100


def test_k_truss_dense_matmul_matches_wedge_census(spark):
    """The dense-domain A@A support path (node ids <= 2048) must agree
    with the searchsorted wedge census — same graph, ids shifted by
    +5000 to push n_ids past the dense bound, so the two local
    branches run on isomorphic inputs and must return identical
    supports (r12 verdict #3)."""
    from pyspark.sql import functions as F

    from etl_orders_to_bq_spark.operators.graph import k_truss

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select(
        (F.col("l_orderkey") % 150).alias("src"),
        (F.col("l_partkey") % 150).alias("dst"),
    )
    dense = sorted(tuple(r) for r in k_truss(li, k=5).collect())
    shifted = li.select(
        (F.col("src") + 5000).alias("src"),
        (F.col("dst") + 5000).alias("dst"),
    )
    wedge = sorted(
        (a - 5000, b - 5000, s)
        for a, b, s in (
            tuple(r) for r in k_truss(shifted, k=5).collect()
        )
    )
    assert dense == wedge and len(dense) > 50


def test_k_truss_dense_probe_past_edge_threshold(spark):
    """Graphs OVER the pulled-edge threshold but on a small node
    domain take the r13 dense-domain probe into the matmul path — a
    tiny local-fold limit forces the probe branch, and the result must
    match the distributed peel edge-for-edge."""
    from pyspark.sql import functions as F

    from etl_orders_to_bq_spark.operators.graph import k_truss
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select(
        (F.col("l_orderkey") % 300).alias("src"),
        (F.col("l_partkey") % 300).alias("dst"),
    )
    with local_fold_max_rows(spark, 100):
        probed = sorted(tuple(r) for r in k_truss(li, k=4).collect())
    with local_fold_max_rows(spark, 0):
        dist = sorted(tuple(r) for r in k_truss(li, k=4).collect())
    assert probed == dist and len(probed) > 100


def test_wordpiece_greedy_longest_match(spark):
    """Maximal munch on a planted vocabulary: corpus dominated by
    'unable' (pieces: u, un, una, ..., ##n, ##a, ##able, ...) makes
    'unably' segment as [un ##ably]? No — greedy takes the LONGEST
    piece at each position: 'unable'-derived pieces give un->'unabl'
    (5 <= max_piece 6)... assert the exact walk instead."""
    from etl_orders_to_bq_spark.operators.lm import wordpiece_segment

    # top-1 word is 'unable'; 'nable' appears once to be segmented
    docs = [("unable " * 5 + "nable",)]
    df = spark.createDataFrame(docs, ["text"])
    got = {
        r.word: (r.n_pieces, r.pieces)
        for r in wordpiece_segment(df, top_k=1).collect()
    }
    # 'unable' is its own prefix-piece (len 6 = max_piece): 1 piece
    assert got["unable"] == (1, "unable")
    # 'nable': initial pieces are PREFIXES of 'unable' only, so pos 1
    # has no match ('n' is not a prefix of 'unable') -> whole-word UNK
    assert got["nable"] == (1, "[UNK]")


def test_wordpiece_continuation_and_unk_char(spark):
    """'abc' as the top word gives initial pieces {a, ab, abc} and
    continuations {##b, ##bc, ##c}. 'abb' must take the LONGEST
    initial piece 'ab' (maximal munch, NOT a ##b ##b), then ##b.
    'aab' fails at position 2 ('##a' never occurs interior in 'abc')
    and 'axb' at 'x' — both whole-word UNK."""
    from etl_orders_to_bq_spark.operators.lm import wordpiece_segment

    docs = [("abc abc abc abb aab axb",)]
    df = spark.createDataFrame(docs, ["text"])
    got = {
        r.word: r.pieces
        for r in wordpiece_segment(df, top_k=1).collect()
    }
    assert got["abc"] == "abc"
    assert got["abb"] == "ab ##b"
    assert got["aab"] == "[UNK]"
    assert got["axb"] == "[UNK]"


def test_wordpiece_max_word_clamp(spark):
    """Words beyond max_word chars are whole-word [UNK] by contract
    (BERT's max_input_chars_per_word rule)."""
    from etl_orders_to_bq_spark.operators.lm import wordpiece_segment

    docs = [("ab ab ab " + "ab" * 20,)]
    df = spark.createDataFrame(docs, ["text"])
    got = {
        r.word: r.pieces
        for r in wordpiece_segment(df, top_k=1, max_word=10).collect()
    }
    assert got["ab" * 20] == "[UNK]"
    assert got["ab"] == "ab"


def test_cohens_kappa_golden(spark):
    """2x2 case: 45 yes-yes, 15 yes-no, 25 no-yes, 15 no-no ->
    marginals 60/40 x 70/30, po = 0.6, pe = (60*70 + 40*30)/100^2 =
    0.54, kappa = 0.06/0.46 = 0.130435."""
    from etl_orders_to_bq_spark.operators.classifier import cohens_kappa

    rows = (
        [("y", "y")] * 45 + [("y", "n")] * 15
        + [("n", "y")] * 25 + [("n", "n")] * 15
    )
    row = cohens_kappa(
        spark.createDataFrame(rows, ["a", "b"]), "a", "b"
    ).collect()[0]
    assert (row.n, row.n_categories) == (100, 2)
    assert (row.po, row.pe) == (0.6, 0.54)
    assert row.kappa == pytest.approx(0.130435, abs=1e-6)


def test_cohens_kappa_label_union_and_degenerate(spark):
    """A label only rater 2 uses still counts in n_categories; total
    agreement on a single shared label makes pe = 1 -> NULL kappa."""
    from etl_orders_to_bq_spark.operators.classifier import cohens_kappa

    rows = [("x", "x"), ("x", "x"), ("x", "z")]
    row = cohens_kappa(
        spark.createDataFrame(rows, ["a", "b"]), "a", "b"
    ).collect()[0]
    assert row.n_categories == 2
    assert row.kappa is not None
    one = [("x", "x")] * 4
    row2 = cohens_kappa(
        spark.createDataFrame(one, ["a", "b"]), "a", "b"
    ).collect()[0]
    assert row2.pe == 1.0 and row2.kappa is None


def test_mcnemar_golden(spark):
    """Textbook discordants b=10, c=2: chi2 = (8-1)^2/12 = 4.083333;
    p ~ 0.0433 (reject at 5%)."""
    from etl_orders_to_bq_spark.operators.classifier import mcnemar_test

    rows = (
        [(True, True)] * 30 + [(True, False)] * 10
        + [(False, True)] * 2 + [(False, False)] * 8
    )
    row = mcnemar_test(
        spark.createDataFrame(rows, ["a", "b"]), "a", "b"
    ).collect()[0]
    assert (row.b, row.c) == (10, 2)
    assert row.chi2 == pytest.approx(4.083333, abs=1e-6)
    assert row.p_value == pytest.approx(0.0433, abs=2e-4)


def test_mcnemar_no_discordance_null(spark):
    """Identical classifiers: b + c = 0 -> NULL chi2 and p, never a
    division crash."""
    from etl_orders_to_bq_spark.operators.classifier import mcnemar_test

    rows = [(True, True)] * 5 + [(False, False)] * 5
    row = mcnemar_test(
        spark.createDataFrame(rows, ["a", "b"]), "a", "b"
    ).collect()[0]
    assert row.chi2 is None and row.p_value is None


def _mk_events(spark):
    import datetime

    T = lambda s_: datetime.datetime(2024, 1, 1, 0, 0, s_)  # noqa: E731
    rows = [
        (1, T(1), 1, "click"), (1, T(2), 2, "view"),
        (1, T(3), 3, "purchase"),
        (2, T(1), 4, "view"),
        (3, T(1), 5, "purchase"),
        (4, T(1), 6, "click"),
    ]
    return spark.createDataFrame(
        rows, ["user_id", "ts", "event_id", "event_type"]
    )


def test_markov_transitions_golden(spark):
    """Four journeys: click->view->CONV, view->NULL, direct CONV,
    click->NULL — every edge count hand-traced."""
    from etl_orders_to_bq_spark.operators.attribution import (
        markov_transitions,
    )

    got = {
        (r.src, r.dst): r.n
        for r in markov_transitions(_mk_events(spark)).collect()
    }
    assert got == {
        ("__START__", "__CONV__"): 1,
        ("__START__", "click"): 2,
        ("__START__", "view"): 1,
        ("click", "view"): 1,
        ("click", "__NULL__"): 1,
        ("view", "__CONV__"): 1,
        ("view", "__NULL__"): 1,
    }


def test_markov_attribution_golden(spark):
    """Hand-solved absorption: P_full = 0.5; removing click gives
    0.375 (effect 0.125), removing view gives 0.25 (effect 0.25) —
    shares 1/3 and 2/3."""
    from etl_orders_to_bq_spark.operators.attribution import (
        markov_attribution,
    )

    got = {
        r.channel: (r.p_full, r.p_removed, r.removal_effect, r.share)
        for r in markov_attribution(_mk_events(spark)).collect()
    }
    assert got["click"] == (0.5, 0.375, 0.125, 0.333333)
    assert got["view"] == (0.5, 0.25, 0.25, 0.666667)


def test_markov_attribution_first_journey_only(spark):
    """Touches AFTER the first conversion contribute no transitions
    (first-journey-only contract)."""
    import datetime

    from etl_orders_to_bq_spark.operators.attribution import (
        markov_transitions,
    )

    T = lambda s_: datetime.datetime(2024, 1, 1, 0, 0, s_)  # noqa: E731
    rows = [
        (1, T(1), 1, "click"), (1, T(2), 2, "purchase"),
        (1, T(3), 3, "view"), (1, T(4), 4, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "ts", "event_id", "event_type"]
    )
    got = {
        (r.src, r.dst): r.n for r in markov_transitions(df).collect()
    }
    assert got == {
        ("__START__", "click"): 1,
        ("click", "__CONV__"): 1,
    }


def test_pacf_durbin_ar1_signature(spark):
    """AR(1) series: PACF at lag 1 equals rho_1 and cuts off after —
    |pacf| at lags 2+ stays small while rho decays geometrically;
    values match an independent numpy Durbin-Levinson replay."""
    import datetime

    import numpy as np

    from etl_orders_to_bq_spark.operators.timeseries import pacf_durbin

    digits = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9,
              3, 2, 3, 8, 4, 6, 2, 6, 4, 3, 3, 8, 3, 2, 7]
    vals, x = [], 10.0
    for d in digits:
        x = 0.6 * x + d
        vals.append(round(x, 2))
    rows = [
        (datetime.datetime(2024, 1, 1) + datetime.timedelta(days=i),
         float(v))
        for i, v in enumerate(vals)
    ]
    got = {
        r.lag: (r.rho, r.pacf)
        for r in pacf_durbin(
            spark.createDataFrame(rows, ["ts", "v"]), "ts", "v",
            max_lag=5,
        ).collect()
    }
    a = np.array(vals)
    n, mu = len(a), a.mean()
    c = [float(((a[: n - l] - mu) * (a[l:] - mu)).sum())
         for l in range(6)]
    rho = [round(c[l] / c[0], 6) for l in range(6)]
    phi, ref = [], {}
    for k in range(1, 6):
        if k == 1:
            pk = rho[1]
        else:
            num, den = rho[k], 1.0
            for j in range(1, k):
                num -= phi[j - 1] * rho[k - j]
                den -= phi[j - 1] * rho[j]
            pk = num / den
        phi = [phi[j - 1] - pk * phi[k - 1 - j]
               for j in range(1, k)] + [pk]
        ref[k] = (rho[k], round(pk, 6))
    for k in range(1, 6):
        assert got[k][0] == pytest.approx(ref[k][0], abs=1e-6)
        assert got[k][1] == pytest.approx(ref[k][1], abs=1e-6)
    assert got[1][0] == got[1][1]          # lag-1 identity
    assert abs(got[2][1]) < 0.15           # AR(1) cutoff


def test_burrows_delta_same_generator_near_zero(spark):
    """Provenance forensics property: two sources emitting the SAME
    word distribution have near-zero Delta; a style outlier sits far
    from both."""
    from etl_orders_to_bq_spark.operators.stylometry import burrows_delta

    same = "the cat sat on the mat and the dog sat too"
    other = "quantum flux harmonics perturb the manifold spectra"
    rows = (
        [("a", same)] * 10 + [("b", same)] * 10 + [("c", other)] * 10
    )
    df = spark.createDataFrame(rows, ["source", "text"])
    got = {
        (r.source_a, r.source_b): r.delta
        for r in burrows_delta(df, top_n=10).collect()
    }
    assert got[("a", "b")] < 0.01
    assert got[("a", "c")] > 1.0 and got[("b", "c")] > 1.0
    # symmetry-by-construction: each unordered pair appears once
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}


def test_burrows_delta_excludes_flat_words(spark):
    """A word with identical relative frequency in every source has
    zero variance and must be excluded from n_words."""
    from etl_orders_to_bq_spark.operators.stylometry import burrows_delta

    rows = [("a", "same extra extra"), ("b", "same word other")]
    row = burrows_delta(
        spark.createDataFrame(rows, ["source", "text"]), top_n=10
    ).collect()[0]
    # 'same' is 1/3 of both sources -> excluded
    assert row.n_words < 4


def test_ransac_recovers_planted_line(spark):
    """y = 3x + 5 with half-unit noise and 1-in-7 gross (+500)
    outliers: RANSAC must land within the noise band of the truth
    and count most non-outliers as inliers; OLS on the same data is
    dragged far above slope 3 intercept 5 (sanity contrast)."""
    from etl_orders_to_bq_spark.operators.ridge import ransac_line

    rows = []
    for i in range(200):
        x = float(i % 100)
        y = 3.0 * x + 5.0 + ((i % 3) - 1) * 0.5
        if i % 7 == 0:
            y += 500.0
        rows.append((i, x, round(y, 2)))
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    row = ransac_line(df, "x", "y", "id", eps=2.0).collect()[0]
    assert abs(row.slope - 3.0) < 0.05
    assert abs(row.intercept - 5.0) < 2.0
    assert row.n_inliers > 150  # 171 of 200 are on-line


def test_ransac_degenerate_vertical_data(spark):
    """All points share one x: every trial is vertical and discarded
    -> one row with NULL fit, never zero rows or a crash."""
    from etl_orders_to_bq_spark.operators.ridge import ransac_line

    df = spark.createDataFrame(
        [(1, 1.0, 2.0), (2, 1.0, 3.0), (3, 1.0, 9.0)],
        ["id", "x", "y"],
    )
    rows = ransac_line(df, "x", "y", "id").collect()
    assert len(rows) == 1
    assert rows[0].slope is None and rows[0].n_inliers is None


def test_friedman_golden_no_ties(spark):
    """Textbook 3x4 layout with perfectly consistent ranking:
    Q = 8.0 exactly, Kendall's W = 1.0 (complete concordance)."""
    from etl_orders_to_bq_spark.operators.multitest import friedman_test

    data = {1: (9, 4, 1), 2: (8, 5, 2), 3: (7, 6, 3), 4: (6, 5, 4)}
    rows = [
        (b, f"t{j + 1}", float(v))
        for b, vs in data.items()
        for j, v in enumerate(vs)
    ]
    row = friedman_test(
        spark.createDataFrame(rows, ["b", "j", "v"]), "b", "j", "v"
    ).collect()[0]
    assert (row.k_treatments, row.n_blocks_used) == (3, 4)
    assert row.q_stat == 8.0 and row.kendalls_w == 1.0


def test_friedman_tie_correction_and_incomplete_block(spark):
    """A tied block contributes average ranks (hand value: Q =
    364/38 = 9.578947); a block missing one treatment is dropped and
    surfaced in the counts."""
    from etl_orders_to_bq_spark.operators.multitest import friedman_test

    data = {1: (9, 4, 1), 2: (8, 5, 2), 3: (7, 6, 3), 4: (6, 5, 4)}
    rows = [
        (b, f"t{j + 1}", float(v))
        for b, vs in data.items()
        for j, v in enumerate(vs)
    ]
    rows += [(5, "t1", 2.0), (5, "t2", 2.0), (5, "t3", 1.0)]
    rows += [(6, "t1", 1.0), (6, "t2", 2.0)]  # incomplete
    row = friedman_test(
        spark.createDataFrame(rows, ["b", "j", "v"]), "b", "j", "v"
    ).collect()[0]
    assert (row.n_blocks, row.n_blocks_used) == (6, 5)
    assert row.q_stat == pytest.approx(9.578947, abs=1e-6)


def test_simplified_silhouette_separated_vs_merged(spark):
    """Well-separated planted clusters score near 1; assigning HALF
    of each blob to the wrong centroid drives its score negative —
    the property a SemDeDup pipeline reads k-quality from."""
    from etl_orders_to_bq_spark.operators.ann import simplified_silhouette

    good = [([0.0, 0.0], 0)] * 10 + [([10.0, 10.0], 1)] * 10
    rows = [(i, v, c) for i, (v, c) in enumerate(good)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "ivf_cluster"])
    cents = [[0.0, 0.0], [10.0, 10.0]]
    got = {
        r.cluster: r.mean_silhouette
        for r in simplified_silhouette(df, cents).collect()
    }
    assert got == {0: 1.0, 1: 1.0}

    bad_rows = [
        (i, [0.0, 0.0], i % 2) for i in range(10)
    ]  # half of the origin blob mis-assigned to the far centroid
    df2 = spark.createDataFrame(
        bad_rows, ["vec_id", "embedding", "ivf_cluster"]
    )
    got2 = {
        r.cluster: r.mean_silhouette
        for r in simplified_silhouette(df2, cents).collect()
    }
    assert got2[0] == 1.0 and got2[1] == -1.0


def test_simplified_silhouette_on_centroid_zero(spark):
    """A point exactly on its centroid with another centroid at the
    same spot (degenerate fit): a = b = 0 -> s = 0 by convention."""
    from etl_orders_to_bq_spark.operators.ann import simplified_silhouette

    df = spark.createDataFrame(
        [(1, [5.0, 5.0], 0)], ["vec_id", "embedding", "ivf_cluster"]
    )
    got = simplified_silhouette(
        df, [[5.0, 5.0], [5.0, 5.0]]
    ).collect()[0]
    assert got.mean_silhouette == 0.0


def test_cochran_q_golden(spark):
    """12x3 binary layout: hand/NumPy value Q = 8.333333, df = 2;
    an incomplete block is dropped and surfaced."""
    from etl_orders_to_bq_spark.operators.multitest import cochran_q

    data = [
        (1, 1, 0), (1, 1, 0), (1, 1, 0), (0, 1, 0), (1, 1, 1),
        (1, 1, 1), (1, 1, 1), (1, 1, 0), (0, 0, 0), (1, 0, 0),
        (1, 1, 1), (1, 1, 1),
    ]
    rows = [
        (b, f"t{j + 1}", v)
        for b, vs in enumerate(data)
        for j, v in enumerate(vs)
    ]
    rows += [(99, "t1", 1)]  # incomplete block
    row = cochran_q(
        spark.createDataFrame(rows, ["b", "j", "v"]), "b", "j", "v"
    ).collect()[0]
    assert (row.n_blocks, row.n_blocks_used, row.df) == (13, 12, 2)
    assert row.q_stat == pytest.approx(8.333333, abs=1e-6)


def test_cochran_q_mcnemar_equivalence(spark):
    """k = 2 reduces to McNemar's UNcorrected chi2 = (b-c)^2/(b+c):
    10 vs 2 discordants -> Q = 64/12 = 5.333333."""
    from etl_orders_to_bq_spark.operators.multitest import cochran_q

    rows = []
    blk = 0
    for n, (x, y) in ((30, (1, 1)), (10, (1, 0)), (2, (0, 1)),
                      (8, (0, 0))):
        for _ in range(n):
            rows += [(blk, "A", x), (blk, "B", y)]
            blk += 1
    row = cochran_q(
        spark.createDataFrame(rows, ["b", "j", "v"]), "b", "j", "v"
    ).collect()[0]
    assert row.q_stat == pytest.approx(64 / 12, abs=1e-6)


def test_dunn_posthoc_golden(spark):
    """Three groups on a shared global ranking: hand-computed
    z(a,c) = -2.952082 with p < 0.01 while (a,b) is not significant
    — the drill-down KW motivates."""
    from etl_orders_to_bq_spark.operators.multitest import dunn_posthoc

    rows = (
        [("a", float(v)) for v in (1, 2, 3, 4)]
        + [("b", float(v)) for v in (3, 4, 5, 6)]
        + [("c", float(v)) for v in (10, 11, 12, 13)]
    )
    got = {
        (r.group_a, r.group_b): (r.mean_rank_a, r.mean_rank_b, r.z,
                                 r.p_value)
        for r in dunn_posthoc(
            spark.createDataFrame(rows, ["g", "v"]), "g", "v"
        ).collect()
    }
    assert got[("a", "c")][0] == 3.0 and got[("a", "c")][1] == 10.5
    assert got[("a", "c")][2] == pytest.approx(-2.952082, abs=1e-6)
    assert got[("a", "c")][3] < 0.01
    assert got[("a", "b")][3] > 0.2


def test_funnel_stream_greedy_machine(spark, tmp_path):
    """Hand-traced journeys through the real streaming engine: user 1
    completes view->click->purchase twice (greedy, non-overlapping);
    user 2 stalls mid-funnel at stage 1; out-of-pattern events never
    reset progress."""
    import datetime

    from etl_orders_to_bq_spark.streaming.stateful import funnel_stream

    T = lambda s_: datetime.datetime(2024, 1, 1, 0, 0, s_)  # noqa: E731
    rows = [
        # user 1: V C (err) P | V (signup) C P  -> 2 completions
        (1, T(1), 1, "view", 1.0, ""), (2, T(2), 1, "click", 1.0, ""),
        (3, T(3), 1, "error", 1.0, ""), (4, T(4), 1, "purchase", 1.0, ""),
        (5, T(5), 1, "view", 1.0, ""), (6, T(6), 1, "signup", 1.0, ""),
        (7, T(7), 1, "click", 1.0, ""), (8, T(8), 1, "purchase", 1.0, ""),
        # user 2: purchase first (ignored at stage 0), then view -> stage 1
        (9, T(1), 2, "purchase", 1.0, ""), (10, T(2), 2, "view", 1.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    src = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        funnel_stream(stream)
        .writeStream.format("memory")
        .queryName("tfunnel")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n_completions, r.stage)
        for r in spark.table("tfunnel").collect()
    }
    assert got == {1: (2, 0), 2: (0, 1)}


def test_jackknife_ratio_golden(spark):
    """5-point ratio 50/20 = 2.5... hand value: closed-form delete-1
    pseudo-values quantized to micro, SE = 0.709044 for the
    (10,20,30,15,25)/(2,5,4,3,6) sample (ratio 5.0)."""
    from etl_orders_to_bq_spark.operators.bootstrap import jackknife_ratio

    pts = [(10, 2), (20, 5), (30, 4), (15, 3), (25, 6)]
    df = spark.createDataFrame(
        [("g", float(y), float(x)) for y, x in pts], ["g", "y", "x"]
    )
    row = jackknife_ratio(df, "g", "y", "x").collect()[0]
    assert (row.n, row.n_defined, row.ratio) == (5, 5, 5.0)
    assert row.se_jackknife == pytest.approx(0.709044, abs=1e-6)


def test_jackknife_ratio_undefined_on_zero_denominator(spark):
    """A leave-one-out denominator of zero makes the jackknife
    undefined: NULL se, surfaced via n_defined."""
    from etl_orders_to_bq_spark.operators.bootstrap import jackknife_ratio

    # dropping the x=3 row leaves sum(x)=0
    df = spark.createDataFrame(
        [("g", 1.0, 3.0), ("g", 2.0, -1.0), ("g", 3.0, 1.0)],
        ["g", "y", "x"],
    )
    row = jackknife_ratio(df, "g", "y", "x").collect()[0]
    assert row.n_defined == 2 and row.se_jackknife is None


def test_james_stein_shrinks_small_groups_more(spark):
    """The defining EB property: a small noisy group's mean moves
    toward the center much more than a large tight group's."""
    from etl_orders_to_bq_spark.operators.experiment import (
        james_stein_means,
    )

    rows = (
        [("a", 10.0 + (i % 5)) for i in range(50)]     # big, tight
        + [("b", 30.0), ("b", 25.0), ("b", 35.0)]       # small
        + [("c", 12.0 + (i % 3)) for i in range(30)]    # big, tight
    )
    got = {
        r.group: (r.mean, r.weight, r.shrunk_mean)
        for r in james_stein_means(
            spark.createDataFrame(rows, ["g", "v"]), "g", "v"
        ).collect()
    }
    # big tight groups barely move
    assert abs(got["a"][2] - got["a"][0]) < 0.5
    assert abs(got["c"][2] - got["c"][0]) < 0.5
    # the small group shrinks visibly toward the center (~18.3)
    assert got["b"][0] == 30.0
    assert got["b"][2] < 30.0 - 0.5
    assert got["b"][1] < got["a"][1]  # lower precision -> lower weight


def test_dunning_llr_ranks_true_collocation_over_rare_pair(spark):
    """The Dunning property vs PMI: a pair seen 20 times together
    out-scores a hapax pair even though the hapax has higher PMI."""
    from etl_orders_to_bq_spark.operators.lm import (
        dunning_llr_collocations,
    )

    text = " ".join(
        ["strong coffee"] * 20
        + ["weak tea"] * 1
        + ["strong tea", "weak coffee"] * 5
        + ["noise word"] * 30
    )
    df = spark.createDataFrame([(text,)], ["text"])
    rows = dunning_llr_collocations(df, top_k=5).collect()
    top = (rows[0].w1, rows[0].w2)
    scores = {(r.w1, r.w2): r.llr for r in rows}
    assert top == ("noise", "word") or top == ("strong", "coffee")
    assert scores.get(("strong", "coffee"), 0) > scores.get(
        ("weak", "tea"), 0
    )


def test_hill_diversity_flat_distribution(spark):
    """A perfectly flat unigram distribution: q0 = q1 = q2 = S and
    evenness = 1 (the Hill-number identity)."""
    from etl_orders_to_bq_spark.operators.lm import hill_diversity

    df = spark.createDataFrame([("a b c d " * 25,)], ["text"])
    row = hill_diversity(df, ngram=1).collect()[0]
    assert row.q0_richness == 4
    assert row.q1_shannon_eff == pytest.approx(4.0, abs=1e-4)
    assert row.q2_inv_simpson == pytest.approx(4.0, abs=1e-6)
    assert row.pielou_evenness == pytest.approx(1.0, abs=1e-4)


def test_capture_recapture_recovers_population(spark):
    """Two deterministic ~2/3 samples of 300 keys: Chapman's
    estimator must land near 300 with a small SE."""
    from etl_orders_to_bq_spark.operators.dedup import capture_recapture

    keys = [(f"k{i}", i) for i in range(300)]
    df = spark.createDataFrame(keys, ["k", "i"])
    a = df.filter((F.crc32(F.col("k")) % 3) < 2)
    b = df.filter((F.crc32(F.concat(F.lit("x"), F.col("k"))) % 3) < 2)
    row = capture_recapture(a, b, "k").collect()[0]
    assert abs(row.n_hat - 300) < 30
    assert row.se < 15
    assert 0.8 < row.coverage <= 1.0


def test_mann_kendall_golden_and_no_trend(spark):
    """Upward series with one tie: hand values S = 23,
    var = 64.333333, z = 2.742866; a constant series reports S = 0
    and NULL z (zero variance)."""
    import datetime

    from etl_orders_to_bq_spark.operators.timeseries import (
        mann_kendall_trend,
    )

    vals = [2.0, 3.0, 1.0, 4.0, 5.0, 5.0, 7.0, 8.0]
    rows = [
        (datetime.datetime(2024, 1, 1) + datetime.timedelta(days=i), v)
        for i, v in enumerate(vals)
    ]
    row = mann_kendall_trend(
        spark.createDataFrame(rows, ["ts", "v"]), "ts", "v"
    ).collect()[0]
    assert row.s_stat == 23
    assert row.var_s == pytest.approx(64.333333, abs=1e-6)
    assert row.z == pytest.approx(2.742866, abs=1e-6)
    assert row.p_value < 0.01

    flat = [
        (datetime.datetime(2024, 1, 1) + datetime.timedelta(days=i),
         5.0)
        for i in range(6)
    ]
    row2 = mann_kendall_trend(
        spark.createDataFrame(flat, ["ts", "v"]), "ts", "v"
    ).collect()[0]
    assert row2.s_stat == 0 and row2.z is None


def test_theil_decomposition_identity(spark):
    """Hand-traced: an equal group contributes 0 within-Theil; equal
    shares and sizes make between = 0; and the reported __TOTAL__
    equals between + share-weighted within (additivity)."""
    from etl_orders_to_bq_spark.operators.inequality import (
        theil_decomposition,
    )

    rows = [("a", 10.0)] * 3 + [("b", 1.0), ("b", 1.0), ("b", 28.0)]
    got = {
        r.group: (r.n, r.share, r.theil)
        for r in theil_decomposition(
            spark.createDataFrame(rows, ["g", "x"]), "g", "x"
        ).collect()
    }
    assert got["a"] == (3, 0.5, 0.0)
    assert got["b"][2] == pytest.approx(0.807472, abs=1e-6)
    assert got["__BETWEEN__"][2] == 0.0
    assert got["__TOTAL__"][2] == pytest.approx(0.403736, abs=1e-6)


def test_log_rank_golden(spark):
    """Hand-replayed 8-subject layout (events at 1,3,5 vs 2,4 with
    censorings): O_A = 3, E_A = 2.328571, z = 0.604205 — and the
    censored subjects verifiably stay in the risk sets (dropping
    them would change E)."""
    from etl_orders_to_bq_spark.operators.survival import log_rank_test

    rows = [("A", 1, 1), ("A", 3, 1), ("A", 5, 1), ("A", 7, 0),
            ("B", 2, 1), ("B", 4, 1), ("B", 6, 0), ("B", 8, 0)]
    row = log_rank_test(
        spark.createDataFrame(rows, ["g", "d", "e"]),
        "g", "d", "e", "A", "B",
    ).collect()[0]
    assert (row.n_a, row.n_b, row.n_events, row.observed_a) == (4, 4, 5, 3)
    assert row.expected_a == pytest.approx(2.328571, abs=1e-6)
    assert row.z == pytest.approx(0.604205, abs=1e-6)


def test_log_rank_detects_separated_curves(spark):
    """Cohort A converts uniformly earlier than B: strongly negative
    expected-vs-observed gap for B, significant p."""
    from etl_orders_to_bq_spark.operators.survival import log_rank_test

    rows = [("A", i, 1) for i in range(1, 21)] + [
        ("B", 100 + i, 1) for i in range(1, 21)
    ]
    row = log_rank_test(
        spark.createDataFrame(rows, ["g", "d", "e"]),
        "g", "d", "e", "A", "B",
    ).collect()[0]
    assert row.p_value < 0.001


def test_inclusion_dependencies_direction(spark):
    """A true FK holds one way and fails the reverse; cross-typed
    columns never pair."""
    from etl_orders_to_bq_spark.operators.profile import (
        inclusion_dependencies,
    )

    dim = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    fact = spark.createDataFrame([(1,), (1,), (2,)], ["fk"])
    other = spark.createDataFrame([("x",)], ["s"])
    out = inclusion_dependencies(
        [("dim.k", dim, "k"), ("fact.fk", fact, "fk"),
         ("other.s", other, "s")]
    ).collect()
    got = {(r.from_col, r.to_col): (r.n_violations, r.holds) for r in out}
    assert got[("fact.fk", "dim.k")] == (0, True)
    assert got[("dim.k", "fact.fk")] == (1, False)  # 3 is absent
    assert not any("other.s" in k for pair in got for k in pair)


def test_daily_metric_corr_signs(spark):
    """Planted relationships: metric b tracks a (corr ~ +1), metric c
    mirrors a (corr ~ -1); days where a key is absent are excluded
    per pair (gaps explicit, never imputed)."""
    import datetime

    from etl_orders_to_bq_spark.operators.timeseries import (
        daily_metric_corr,
    )

    rows = []
    for i in range(10):
        day = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=i)
        rows.append((day, "a", float(i)))
        rows.append((day, "b", float(2 * i + 3)))
        rows.append((day, "c", float(100 - i)))
    df = spark.createDataFrame(rows, ["ts", "k", "v"])
    got = {
        (r.key_a, r.key_b): (r.n_days, r.corr)
        for r in daily_metric_corr(df, "ts", "k", "v").collect()
    }
    assert got[("a", "b")] == (10, 1.0)
    assert got[("a", "c")] == (10, -1.0)
    assert got[("b", "c")] == (10, -1.0)


def test_wasserstein_golden(spark):
    """Equal-size samples: W1 = mean of sorted pairwise differences —
    (0,1,3) vs (5,6,8) gives exactly 5.0; identical samples give 0;
    a constant unit shift gives exactly 1.0 (translation property)."""
    from etl_orders_to_bq_spark.operators.multitest import wasserstein_1d

    def w1(xs, ys):
        rows = [("a", float(v)) for v in xs] + [
            ("b", float(v)) for v in ys
        ]
        return wasserstein_1d(
            spark.createDataFrame(rows, ["g", "v"]), "g", "v", "a", "b"
        ).collect()[0].w1_distance

    assert w1((0, 1, 3), (5, 6, 8)) == 5.0
    assert w1((1, 2, 7), (1, 2, 7)) == 0.0
    assert w1((1, 2, 7), (2, 3, 8)) == 1.0
    # unequal sizes: (0,0) vs (1,) -> |F gap| of 1 over [0,1) -> 1.0
    assert w1((0, 0), (1,)) == 1.0


def test_cliffs_delta_golden(spark):
    """Hand-enumerated 4x3 pair table: G = 3, L = 7, delta = -1/3
    (medium); identical samples give exactly 0 (negligible)."""
    from etl_orders_to_bq_spark.operators.multitest import cliffs_delta

    rows = [("a", v) for v in (1.0, 2.0, 3.0, 4.0)] + [
        ("b", v) for v in (2.0, 3.0, 5.0)
    ]
    row = cliffs_delta(
        spark.createDataFrame(rows, ["g", "v"]), "g", "v", "a", "b"
    ).collect()[0]
    assert (row.n_greater, row.n_less) == (3, 7)
    assert row.delta == pytest.approx(-1 / 3, abs=1e-6)
    assert row.magnitude == "medium"

    same = [("a", float(v)) for v in (1, 2)] + [
        ("b", float(v)) for v in (1, 2)
    ]
    row2 = cliffs_delta(
        spark.createDataFrame(same, ["g", "v"]), "g", "v", "a", "b"
    ).collect()[0]
    assert row2.delta == 0.0 and row2.magnitude == "negligible"


def test_two_proportion_golden(spark):
    """60/100 vs 45/100: pooled p = 0.525, z = 2.123977,
    p ~ 0.0337 (reject at 5%); equal rates give z = 0, p = 1."""
    from etl_orders_to_bq_spark.operators.multitest import (
        two_proportion_test,
    )

    rows = (
        [("a", 1)] * 60 + [("a", 0)] * 40
        + [("b", 1)] * 45 + [("b", 0)] * 55
    )
    row = two_proportion_test(
        spark.createDataFrame(rows, ["g", "x"]), "g", "x", "a", "b"
    ).collect()[0]
    assert (row.p_a, row.p_b, row.p_pool) == (0.6, 0.45, 0.525)
    assert row.z == pytest.approx(2.123977, abs=1e-6)
    assert row.p_value == pytest.approx(0.033672, abs=1e-4)

    eq = [("a", 1), ("a", 0), ("b", 1), ("b", 0)]
    row2 = two_proportion_test(
        spark.createDataFrame(eq, ["g", "x"]), "g", "x", "a", "b"
    ).collect()[0]
    assert row2.z == 0.0 and row2.p_value == 1.0


def _truss_cascade_chain(n):
    """Sequential-cascade k-truss fixture (r12): a 6-clique hub pool
    {0..5}, chain vertices 100..100+n-1 where even chain vertices
    connect to hubs {0,1,2} and odd ones to {3,4,5} (disjoint groups,
    so no hub triangle ever touches a PATH edge), plus path edges
    (v_i, v_i+1) and chords (v_i, v_i+2). Path edge e_i sits in
    exactly the two strip triangles T_{i-1}, T_i (support 2 = the
    k=4 margin); the end edges e_0 / e_{n-2} sit in one — so the
    peel removes exactly one edge per round from each end, giving
    ~ (n-1)/2 guaranteed rounds. Chords and hub edges are
    permanently >= the margin and survive."""
    import itertools

    edges = list(itertools.combinations(range(6), 2))
    v = [100 + i for i in range(n)]
    for i, x in enumerate(v):
        for c in ((0, 1, 2) if i % 2 == 0 else (3, 4, 5)):
            edges.append((c, x))
    edges += [(v[i], v[i + 1]) for i in range(n - 1)]
    edges += [(v[i], v[i + 2]) for i in range(n - 2)]
    return edges


def test_k_truss_incremental_multi_round_cascade(spark):
    """>3-round sequential peel on the cascade-chain fixture: the
    incremental distributed path must (a) need more than 3 rounds
    (max_rounds=3 raises), (b) converge to the same edges+supports
    as the local numpy peel, and (c) remove exactly the path edges."""
    import pytest as _pytest

    from etl_orders_to_bq_spark.operators.graph import k_truss
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    n = 13  # 7 peel rounds (validated by the pure-python oracle)
    df = spark.createDataFrame(_truss_cascade_chain(n), ["src", "dst"])
    with local_fold_max_rows(spark, 0):
        with _pytest.raises(RuntimeError):
            k_truss(df, k=4, max_rounds=3).count()
        dist = sorted(
            tuple(r) for r in k_truss(df, k=4, max_rounds=20).collect()
        )
    loc = sorted(tuple(r) for r in k_truss(df, k=4).collect())
    assert dist == loc and len(dist) > 0
    surv = {(a, b) for a, b, _ in dist}
    path = {(100 + i, 100 + i + 1) for i in range(n - 1)}
    assert not (surv & path)
    chords = {(100 + i, 100 + i + 2) for i in range(n - 2)}
    assert chords <= surv


def test_k_truss_local_guard_rejects_wide_and_negative_ids(spark):
    """Advisor r11: the local peel packs edges as a*(2^32)+b in
    int64, so ids >= 2^31 wrap and negative ids break the packed
    sort order. The guard must route such graphs to the distributed
    peel and still return the right truss: K4 shifted by 2^33 (and
    by -7) keeps all 6 edges at support 2 for k=4."""
    from etl_orders_to_bq_spark.operators.graph import k_truss

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    for off in (1 << 33, -7):
        df = spark.createDataFrame(
            [(a + off, b + off) for a, b in k4], ["src", "dst"]
        )
        got = {
            (r.a, r.b): r.support for r in k_truss(df, k=4).collect()
        }
        assert set(got) == {(a + off, b + off) for a, b in k4}
        assert all(s == 2 for s in got.values())


def test_wasserstein_single_point_mass(spark):
    """Advisor r11: exactly one distinct value across both arms means
    zero consecutive-value segments — the counts must still come from
    the totals and W1 must be 0.0, not (0, 0, NULL)."""
    from etl_orders_to_bq_spark.operators.multitest import wasserstein_1d

    rows = [("a", 5.0)] * 3 + [("b", 5.0)] * 2
    row = wasserstein_1d(
        spark.createDataFrame(rows, ["g", "v"]), "g", "v", "a", "b"
    ).collect()[0]
    assert (row.n_a, row.n_b, row.w1_distance) == (3, 2, 0.0)
    # one arm empty: true count reported, distance NULL
    row2 = wasserstein_1d(
        spark.createDataFrame([("a", 5.0)], ["g", "v"]),
        "g", "v", "a", "b",
    ).collect()[0]
    assert (row2.n_a, row2.n_b, row2.w1_distance) == (1, 0, None)


def test_cochran_q_k2_p_matches_mcnemar_phi(spark):
    """Advisor r11 doc/code mismatch: the k=2 p must now be REPORTED
    via z = sqrt(Q) through the shared deterministic Phi. Q = 64/12
    -> z = 2.309401, two-sided p = 0.020921 (scipy cross-check);
    k = 3 keeps p_value NULL (caller brings the chi2 cut-off)."""
    from etl_orders_to_bq_spark.operators.multitest import cochran_q

    rows = []
    blk = 0
    for n, (x, y) in ((30, (1, 1)), (10, (1, 0)), (2, (0, 1)),
                      (8, (0, 0))):
        for _ in range(n):
            rows += [(blk, "A", x), (blk, "B", y)]
            blk += 1
    row = cochran_q(
        spark.createDataFrame(rows, ["b", "j", "v"]), "b", "j", "v"
    ).collect()[0]
    assert row.p_value == pytest.approx(0.020921, abs=2e-6)

    rows3 = [(b, t, 1 if (b + len(t)) % 2 else 0)
             for b in range(6) for t in ("t1", "t2", "t33")]
    row3 = cochran_q(
        spark.createDataFrame(rows3, ["b", "j", "v"]), "b", "j", "v"
    ).collect()[0]
    assert row3.p_value is None and row3.k_treatments == 3


def test_james_stein_singleton_groups_dont_move_hyperparams(spark):
    """Advisor r11: an n = 1 group must be EXCLUDED from the
    method-of-moments hyperparameters (its se2 folded as 0 would
    deflate mean(se2) and inflate tau2/weights). Adding a singleton
    whose mean equals the n>=2 center must leave every other group's
    weight and shrunk_mean bit-identical; the singleton itself
    reports NULL weight/shrunk_mean."""
    from etl_orders_to_bq_spark.operators.experiment import (
        james_stein_means,
    )

    base = (
        [("a", 10.0 + (i % 5)) for i in range(50)]
        + [("b", 30.0), ("b", 25.0), ("b", 35.0)]
        + [("c", 12.0 + (i % 3)) for i in range(30)]
    )
    ref = {
        r.group: (r.weight, r.shrunk_mean)
        for r in james_stein_means(
            spark.createDataFrame(base, ["g", "v"]), "g", "v"
        ).collect()
    }
    # singleton far from the center: under the old fold it would
    # shift m AND inflate tau2; now it must change nothing
    with_singleton = base + [("z", 99.0)]
    got = {
        r.group: (r.weight, r.shrunk_mean)
        for r in james_stein_means(
            spark.createDataFrame(with_singleton, ["g", "v"]), "g", "v"
        ).collect()
    }
    assert got["z"] == (None, None)
    for g in ("a", "b", "c"):
        assert got[g] == ref[g]


def test_ransac_subsample_recovers_line_with_exact_full_count(spark):
    """Advisor r12: subsample_mod scores trials on the 1/d md5 subset
    but must (a) still recover the planted line and (b) report the
    winning line's inlier count over the FULL data — the same
    magnitude as the exhaustive path's, not a subset-sized number."""
    from etl_orders_to_bq_spark.operators.ridge import ransac_line

    rows = []
    for i in range(400):
        x = float(i % 100)
        y = 3.0 * x + 5.0 + ((i % 3) - 1) * 0.5
        if i % 7 == 0:
            y += 500.0
        rows.append((i, x, round(y, 2)))
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    row = ransac_line(
        df, "x", "y", "id", eps=2.0, subsample_mod=4
    ).collect()[0]
    assert abs(row.slope - 3.0) < 0.05
    assert abs(row.intercept - 5.0) < 2.0
    assert row.n == 400 and row.n_inliers > 300  # full-data count


def test_ransac_coord_bound_int_path_matches_decimal_path(spark):
    """r13 optimization: the integer-cents inlier path (coord_bound)
    must be BIT-IDENTICAL to the decimal(38) path — same booleans
    (exact arithmetic both ways), same slope/intercept doubles (the
    cents/100.0 division reproduces Decimal.toDouble's rounding) —
    on positive, negative, and subsampled fixtures."""
    from etl_orders_to_bq_spark.operators.ridge import ransac_line

    rows = []
    for i in range(300):
        x = float(i % 100) - 50.0
        y = -2.5 * x + 7.25 + ((i % 3) - 1) * 0.5
        if i % 7 == 0:
            y -= 400.0
        rows.append((i, x, round(y, 2)))
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    for sub in (None, 4):
        a = ransac_line(
            df, "x", "y", "id", eps=1.75, subsample_mod=sub
        ).collect()
        b = ransac_line(
            df, "x", "y", "id", eps=1.75, subsample_mod=sub,
            coord_bound=600.0,
        ).collect()
        assert a == b
    # out-of-range bound falls back to the decimal path (still equal)
    c = ransac_line(
        df, "x", "y", "id", eps=1.75, coord_bound=9e9
    ).collect()
    assert c == ransac_line(df, "x", "y", "id", eps=1.75).collect()
