"""Tests for the round-7 encoder/analysis operators: LOO target
encoding, feature hashing, RFM quintiles, 2-D skyline, CUPED,
degree assortativity, and t-closeness."""

import hashlib
import math

from pyspark.sql import functions as F

from etl_orders_to_bq_spark.operators.encode import (
    feature_hash,
    rfm_segments,
    target_encode_loo,
)
from etl_orders_to_bq_spark.operators.experiment import cuped_adjust
from etl_orders_to_bq_spark.operators.graph import degree_assortativity
from etl_orders_to_bq_spark.operators.privacy import t_closeness
from etl_orders_to_bq_spark.operators.skyline import skyline_2d


# ---------------------------------------------------------------- target


def test_target_encode_loo_hand_values(spark):
    # cats: A has y=10,20; B has y=30. prior = 20. m = 2.
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0)],
        "id long, cat string, y double",
    )
    out = {
        r["id"]: r["te"]
        for r in target_encode_loo(df, "cat", "y", m=2.0).collect()
    }
    # A,10: (30-10 + 20*2) / (2-1+2) = 20.0
    # A,20: (30-20 + 40) / 3 = 16.666667
    # B,30: singleton -> (0 + 40) / 2 = prior = 20.0
    assert out[1] == 20.0
    assert out[2] == round(50 / 3, 6)
    assert out[3] == 20.0


def test_target_encode_singleton_category_gets_prior(spark):
    df = spark.createDataFrame(
        [(1, "only", 7.0), (2, "big", 1.0), (3, "big", 3.0)],
        "id long, cat string, y double",
    )
    prior = round((7.0 + 1.0 + 3.0) / 3, 6)
    out = {
        r["id"]: r["te"]
        for r in target_encode_loo(df, "cat", "y", m=5.0).collect()
    }
    assert out[1] == round(prior * 5.0 / 5.0, 6) == prior


# ---------------------------------------------------------- feature hash


def _expected_cell(tok: str, n_buckets: int = 64):
    h = hashlib.md5(tok.encode()).hexdigest()
    bucket = int(h[:8], 16) % n_buckets
    sign = 1 if int(h[8], 16) % 2 == 0 else -1
    return bucket, sign


def test_feature_hash_matches_reference_md5_arithmetic(spark):
    df = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "alpha")],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in feature_hash(df, "doc_id", "text").collect()
    }
    ba, sa = _expected_cell("alpha")
    bb, sb = _expected_cell("beta")
    expected = {}
    if ba == bb:
        w = 2 * sa + sb
        if w:
            expected[(1, ba)] = w
    else:
        expected[(1, ba)] = 2 * sa
        expected[(1, bb)] = sb
    expected[(2, ba)] = sa
    assert out == expected


def test_feature_hash_buckets_bounded(spark):
    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} shared") for i in range(30)],
        "doc_id long, text string",
    )
    rows = feature_hash(df, "doc_id", "text", n_buckets=8).collect()
    assert rows and all(0 <= r["bucket"] < 8 for r in rows)
    assert all(r["weight"] != 0 for r in rows)


# ------------------------------------------------------------------ RFM


def test_rfm_segments_five_customers_one_per_tile(spark):
    rows = [
        # cust, date, amount  (one order each: frequency all-tie ->
        # tile follows custkey tie-break)
        (1, "2024-01-01", 10.0),
        (2, "2024-01-02", 20.0),
        (3, "2024-01-03", 30.0),
        (4, "2024-01-04", 40.0),
        (5, "2024-01-05", 50.0),
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, d string, o_totalprice double"
    ).select(
        "o_custkey",
        F.col("d").cast("timestamp").alias("o_orderdate"),
        "o_totalprice",
    )
    out = {r["o_custkey"]: r for r in rfm_segments(df).collect()}
    # recency ordered DESC -> oldest customer first -> cust 1 tile 1,
    # newest (cust 5) tile 5: higher score = more recent. Monetary
    # ascending: cust 5 = 5.
    assert [out[k]["r_score"] for k in (1, 2, 3, 4, 5)] == [1, 2, 3, 4, 5]
    assert [out[k]["m_score"] for k in (1, 2, 3, 4, 5)] == [1, 2, 3, 4, 5]
    # frequency all 1 -> tie-break on custkey
    assert [out[k]["f_score"] for k in (1, 2, 3, 4, 5)] == [1, 2, 3, 4, 5]
    assert out[5]["segment"] == "5-5-5"
    assert out[5]["recency_days"] == 0 and out[1]["recency_days"] == 4


# -------------------------------------------------------------- skyline


def test_skyline_min_min_with_ties_and_duplicates(spark):
    pts = [
        (1, 1.0, 5),
        (2, 2.0, 3),
        (3, 2.0, 7),  # dominated by (2.0, 3) (same x, larger y)
        (4, 3.0, 3),  # dominated by (2.0, 3) (cheaper, same y)
        (5, 4.0, 2),
        (6, 4.0, 2),  # exact duplicate: mutually non-dominating
        (7, 5.0, 9),
    ]
    df = spark.createDataFrame(pts, "id long, price double, size int")
    kept = sorted(
        r["id"] for r in skyline_2d(df, "price", "size").collect()
    )
    assert kept == [1, 2, 5, 6]


def test_skyline_single_point_and_empty(spark):
    df = spark.createDataFrame(
        [(1, 1.0, 1)], "id long, price double, size int"
    )
    assert skyline_2d(df, "price", "size").count() == 1
    empty = df.filter(F.lit(False))
    assert skyline_2d(empty, "price", "size").count() == 0


# ---------------------------------------------------------------- CUPED


def test_cuped_replays_formula(spark):
    # 6 users: covariate x correlates with metric y
    data = [
        # user, x (pre), y (post)
        (0, 1.0, 2.0),
        (1, 2.0, 3.5),
        (2, 3.0, 4.0),
        (3, 4.0, 6.0),
        (4, 5.0, 7.5),
        (5, 6.0, 8.0),
    ]
    rows = []
    for u, x, y in data:
        rows.append((u, 0, x))  # period 0 = pre
        rows.append((u, 1, y))  # period 1 = post
    df = spark.createDataFrame(rows, "user_id long, period int, value double")
    out = {
        r["variant"]: r
        for r in cuped_adjust(
            df,
            unit_col="user_id",
            variant_col=(F.col("user_id") % 2).cast("int"),
            metric_col=F.when(F.col("period") == 1, F.col("value")),
            covariate_col=F.when(F.col("period") == 0, F.col("value")),
        ).collect()
    }
    xs = [d[1] for d in data]
    ys = [d[2] for d in data]
    n = len(xs)
    m_x = round(sum(xs) / n, 6)
    m_y = round(sum(ys) / n, 6)
    m_xy = round(sum(a * b for a, b in zip(xs, ys)) / n, 6)
    m_xx = round(sum(a * a for a in xs) / n, 6)
    m_yy = round(sum(b * b for b in ys) / n, 6)
    theta = round((m_xy - m_x * m_y) / (m_xx - m_x * m_x), 6)
    rho2 = round(
        (m_xy - m_x * m_y) ** 2
        / ((m_xx - m_x * m_x) * (m_yy - m_y * m_y)),
        6,
    )
    assert out[0]["theta"] == theta and out[0]["rho2"] == rho2
    for v in (0, 1):
        sub = [(x, y) for (u, x, y) in data if u % 2 == v]
        mean_y = round(sum(y for _, y in sub) / len(sub), 6)
        mean_x_v = round(sum(x for x, _ in sub) / len(sub), 6)
        assert out[v]["mean_y"] == mean_y
        assert out[v]["mean_y_adj"] == round(
            mean_y - theta * (mean_x_v - m_x), 6
        )
    # strong positive correlation -> big variance reduction
    assert rho2 > 0.9


def test_cuped_user_with_no_pre_period_gets_zero_covariate(spark):
    df = spark.createDataFrame(
        [(0, 1, 5.0), (1, 0, 2.0), (1, 1, 3.0), (2, 0, 4.0), (2, 1, 6.0)],
        "user_id long, period int, value double",
    )
    out = cuped_adjust(
        df,
        unit_col="user_id",
        variant_col=F.lit(0),
        metric_col=F.when(F.col("period") == 1, F.col("value")),
        covariate_col=F.when(F.col("period") == 0, F.col("value")),
    ).collect()
    assert len(out) == 1 and out[0]["n_units"] == 3
    # mean_x over (0, 2, 4) = 2 -> theta defined, no nulls
    assert out[0]["theta"] is not None


# ------------------------------------------------------- assortativity


def test_assortativity_star_is_perfectly_disassortative(spark):
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    row = degree_assortativity(edges).collect()[0]
    assert row["n_nodes"] == 4 and row["n_edges"] == 3
    assert row["assortativity"] == -1.0


def test_assortativity_regular_graph_is_null(spark):
    # triangle: every degree 2 -> zero variance -> undefined
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    row = degree_assortativity(edges).collect()[0]
    assert row["n_edges"] == 3 and row["assortativity"] is None


# ---------------------------------------------------------- t-closeness


def test_t_closeness_identical_distribution_is_zero(spark):
    rows = []
    for grp in ("a", "b"):
        for v in (0.0, 50.0, 100.0):
            rows.append((grp, v))
    df = spark.createDataFrame(rows, "g string, v double")
    out = t_closeness(df, ["g"], "v", n_bins=10, t=0.2).collect()
    assert all(r["t_emd"] == 0.0 and r["within_t"] for r in out)


def test_t_closeness_polarized_classes_hand_value(spark):
    # class A all at the bottom bin, class B all at the top:
    # EMD = 9 * |2*4 - 2*2| / (2*4*9) = 0.5 for both
    df = spark.createDataFrame(
        [("A", 0.0), ("A", 0.0), ("B", 100.0), ("B", 100.0)],
        "g string, v double",
    )
    out = {r["g"]: r for r in t_closeness(df, ["g"], "v").collect()}
    assert out["A"]["t_emd"] == 0.5 and not out["A"]["within_t"]
    assert out["B"]["t_emd"] == 0.5
    assert out["A"]["n_rows"] == 2


def test_unigram_lm_hand_golden(spark):
    """Hand-computed hard-EM fixture: corpus 'abab abab ab' x... with
    'banana bandana' noise. Seed counts (occurrence-weighted): 'ab'
    dominates; after 2 Viterbi rounds the vocabulary is exactly
    {ab: 8, ana: 3, ban: 3} + the 4 single chars at floor 1, total 18,
    so p(ab) = round(8/18, 6) = 0.444444. (Cross-checked against an
    independent pure-python Viterbi-EM implementation.)"""
    from etl_orders_to_bq_spark.operators.lm import unigram_lm_train

    docs = [("abab abab ab",), ("banana bandana ab",), ("abab banana",)]
    out = unigram_lm_train(
        spark.createDataFrame(docs, ["text"]),
        "text",
        seed_size=12,
        vocab_size=8,
        rounds=2,
        max_piece=3,
        max_word=16,
    ).collect()
    got = [(r.piece, r["count"], r.p) for r in out]
    assert got == [
        ("ab", 8, 0.444444),
        ("ana", 3, 0.166667),
        ("ban", 3, 0.166667),
        ("a", 1, 0.055556),
        ("b", 1, 0.055556),
        ("d", 1, 0.055556),
        ("n", 1, 0.055556),
    ]


def test_unigram_lm_single_char_coverage_floor(spark):
    """Every character of every word must stay representable after
    pruning (Kudo's required-chars rule): with vocab_size=2 the rare
    chars survive at the count-1 floor and every word remains
    segmentable (counts over all pieces stay consistent)."""
    from etl_orders_to_bq_spark.operators.lm import unigram_lm_train

    out = unigram_lm_train(
        spark.createDataFrame([("xy xy qz",)], ["text"]),
        "text",
        seed_size=4,
        vocab_size=2,
        rounds=1,
        max_piece=2,
        max_word=8,
    ).collect()
    pieces = {r.piece for r in out}
    assert {"q", "z", "x", "y"} <= pieces or (
        "xy" in pieces and {"q", "z"} <= pieces
    )


def test_unigram_census_fit_matches_distributed(spark):
    """The driver-local census EM (default local-fold limit) must equal
    the distributed staged loop (limit 0) BIT-FOR-BIT —
    same vocab, same counts, same rounded probabilities — on a corpus
    with score ties (repeated bigrams), multi-round pruning pressure,
    and chars that only survive via the coverage floor. Same pin
    discipline as test_gmm_census_fit_matches_distributed."""
    from etl_orders_to_bq_spark.operators.lm import unigram_lm_train
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    docs = [
        ("abab abab ab banana bandana",),
        ("the cat sat on the mat the hat",),
        ("zq zq zqzq xyxy xy",),
        ("aaaa bbbb abab baba",),
    ]
    df = spark.createDataFrame(docs, ["text"])
    for kw in (
        dict(seed_size=12, vocab_size=8, rounds=3, max_piece=3),
        dict(seed_size=40, vocab_size=16, rounds=3, max_piece=4),
        dict(seed_size=6, vocab_size=2, rounds=1, max_piece=2),
    ):
        a = unigram_lm_train(df, "text", max_word=16, **kw).collect()
        with local_fold_max_rows(spark, 0):
            b = unigram_lm_train(df, "text", max_word=16, **kw).collect()
        assert a == b, kw


def test_unigram_encode_census_matches_distributed(spark):
    """Same pin for the encode companion: the final driver-local
    Viterbi segmentation must equal the distributed DP fold exactly
    (words, counts, piece splits, piece order)."""
    from etl_orders_to_bq_spark.operators.lm import unigram_encode
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    docs = [
        ("abab abab ab banana bandana",),
        ("the cat sat on the mat the hat",),
        ("zq zq zqzq xyxy xy",),
    ]
    df = spark.createDataFrame(docs, ["text"])
    a = unigram_encode(
        df, "text", seed_size=40, vocab_size=16, rounds=3,
        max_piece=4, max_word=16,
    ).collect()
    with local_fold_max_rows(spark, 0):
        b = unigram_encode(
            df, "text", seed_size=40, vocab_size=16, rounds=3,
            max_piece=4, max_word=16,
        ).collect()
    assert a == b


def test_unigram_fallback_scans_corpus_once(spark):
    """When the census exceeds the local-fold limit, the bounded-collect
    probe and the distributed fit read ONE staged census: building
    either frame scans the corpus once, not once per consumer."""
    from pyspark.sql import functions as F

    from etl_orders_to_bq_spark.operators.lm import (
        unigram_encode,
        unigram_lm_train,
    )
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    docs = [
        ("abab abab ab banana bandana",),
        ("the cat sat on the mat the hat",),
        ("zq zq zqzq xyxy xy",),
    ]
    for build in (unigram_lm_train, unigram_encode):
        scanned = spark.sparkContext.accumulator(0)

        def tally(text):
            scanned.add(1)
            return text

        df = spark.createDataFrame(docs, ["text"]).select(
            F.udf(tally, "string")("text").alias("text")
        )
        with local_fold_max_rows(spark, 2):
            build(
                df, "text", seed_size=12, vocab_size=8, rounds=2,
                max_piece=3,
            )
        assert scanned.value == len(docs), build.__name__

