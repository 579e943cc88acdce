"""Hashed linear text classifier — the fastText-style quality filter
shape every large pretraining pipeline runs (CCNet-descended stacks
score pages with a linear model over hashed bag-of-words/bigram
features and keep the high-scoring tail).

This operator is the INFERENCE side: features are the document's
unigrams + bigrams hashed into ``dim`` buckets, the model is a dense
weight vector (+bias) supplied by the caller, and the score is
``sigmoid(w · phi(x) + b)`` with phi counting hash-bucket occurrences.
Training stays offline (any logistic-regression fit produces the
weight vector); inference is where the 100 TB is.

Plan shape
----------
One explode to token-level rows (scan-shaped), one broadcast join
against the ``dim``-row weight table, one map-side-combinable
groupBy(doc) sum — the shuffle carries (doc_id, partial dot) pairs,
never text. No UDF anywhere; the default bucket hash is md5-derived so
an external SQL engine replays it bit-for-bit, with a built-in
``xxhash64`` production family for the hot path (the same two-family
discipline as MinHash, ``operators/dedup.py`` — the family is part of
the model contract and must match training).

Reference: the reference engine has no classifier surface at all
(SURVEY.md §2.2 — no scalar functions beyond clean_name); this is an
engine extension from the brief's text-analysis line.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_sum, exact_type
from ..functions.text import normalize_text, tokenize
from .staging import LOCAL_FOLD_ROWS, local_fold_limit


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    bigrams: bool = True,
    hash_fn: str = "md5",
) -> DataFrame:
    """Token-level hashed-feature rows: (id, bucket) — one row per
    unigram (and bigram), bucket = hash(gram) mod ``dim``.

    ``hash_fn`` picks the bucket hash family — PART OF THE MODEL
    CONTRACT (trained weights are per-bucket; scoring with a different
    family than training silently shuffles every feature, the same
    non-interchangeability the MinHash families have,
    ``operators/dedup.py``):

    - "md5": first 8 md5 hex chars → int mod dim. Bit-replayable by
      any SQL engine (the DuckDB oracle mirrors it) — the gate path.
    - "xxhash64": Spark's built-in ``xxhash64`` mod dim. Pure JVM
      codegen, no hex round-trip — the production path (measured:
      the md5+conv chain is the dominant per-gram cost; see
      bench.py stress `classifier_hash`).

    The '|u' / '|b' salts keep a unigram and a bigram of equal text
    from colliding by construction (they still may collide by hash,
    which is the point of feature hashing)."""
    toks = tokenize(normalize_text(text_col))
    grams = F.transform(toks, lambda w: F.concat(w, F.lit("|u")))
    if bigrams:
        # zip-with-shifted-self, NOT transform+element_at: element_at
        # re-evaluates the tokenize chain per lookup in interpreted
        # lambda context (measured: ~10x the whole stage's cost at
        # sf0.1 — 4.5s vs 0.45s); the zip of two slices touches the
        # array once. Same grams either way.
        n = F.size(toks)
        bi = F.zip_with(
            F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b, F.lit("|b")),
        )
        grams = F.concat(grams, bi)
    if hash_fn == "md5":
        bucket = F.pmod(
            F.conv(
                F.substring(F.md5(F.col("__g")), 1, 8), 16, 10
            ).cast("long"),
            F.lit(dim),
        )
    elif hash_fn == "xxhash64":
        bucket = F.pmod(F.xxhash64(F.col("__g")), F.lit(dim))
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    return (
        df.select(F.col(id_col), F.explode(grams).alias("__g"))
        .select(id_col, bucket.alias("bucket"))
    )


def hashed_linear_score(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = None,
    bigrams: bool = True,
    ndigits: int = 6,
    hash_fn: str = "md5",
) -> DataFrame:
    """Score every document with a linear model over hashed n-gram
    counts: (id, score[, keep]) where
    ``score = sigmoid(sum_g w[bucket(g)] + bias)`` — each occurrence
    contributes its bucket weight, i.e. the dot product of the count
    vector with ``weights``. ``threshold`` adds the boolean ``keep``
    column (the filter decision a pipeline acts on); the score is
    rounded to ``ndigits`` BEFORE the comparison so the boundary is
    engine-portable.

    Empty documents (no tokens) score ``sigmoid(bias)`` — they produce
    no feature rows, so they re-enter via a left join against the
    distinct id set.

    At 100 TB: the weight table is ``dim`` rows (a few KB — always
    broadcast); the groupBy(doc) partial-sums map-side; document text
    never shuffles.

    ``hash_fn``: the bucket hash family — see :func:`hashed_features`.
    It is part of the model contract (weights are per-bucket): score
    with the SAME family the weights were trained under. "md5" is the
    oracle-replayable gate path; "xxhash64" is the JVM-codegen
    production path (~2-3x cheaper per gram).
    """
    dim = len(weights)
    spark = df.sparkSession
    wtab = F.broadcast(
        spark.createDataFrame(
            [(i, float(w)) for i, w in enumerate(weights)],
            "bucket long, w double",
        )
    )
    feats = hashed_features(df, text_col, id_col, dim, bigrams, hash_fn)
    dots = (
        feats.join(wtab, "bucket")
        .groupBy(id_col)
        .agg(F.sum("w").alias("__dot"))
    )
    ids = df.select(id_col).distinct()
    z = F.coalesce(F.col("__dot"), F.lit(0.0)) + F.lit(float(bias))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), ndigits)
    out = ids.join(dots, id_col, "left").select(
        F.col(id_col), score.alias("score")
    )
    if threshold is not None:
        out = out.withColumn("keep", F.col("score") >= float(threshold))
    return out


def seeded_weights(dim: int, seed: int = 17) -> list[float]:
    """Deterministic pseudo-weights in [-0.5, 0.5) from an LCG — a
    stand-in model for gates/tests that any SQL engine can regenerate
    (same constants as the MinHash mixers, ``operators/dedup.py``).
    Real pipelines load trained weights instead."""
    out = []
    state = seed
    for _ in range(dim):
        state = (6364136223846793005 * state + 1442695040888963407) % (2**63)
        out.append((state % 10**6) / 10**6 - 0.5)
    return out


def sigmoid(x: float) -> float:
    return 1.0 / (1.0 + math.exp(-x))


def naive_bayes_train(
    df: DataFrame,
    class_col: str,
    text_col: str = "text",
    top_k: int = 10,
    ndigits: int = 6,
) -> DataFrame:
    """Multinomial Naive Bayes training table with Laplace smoothing
    (McCallum & Nigam 1998, public literature) — the classical cheap
    text router trained at corpus scale: per (class, token),

        loglik = log10((c_tc + 1) / (tot_c + V))
        prior  = log10(n_docs_c / N)

    with V the global vocabulary size. Output: the ``top_k`` tokens
    per class by (count desc, token asc) — the model head a scorer
    joins against; at inference, sum logliks over document tokens.

    Exactness: all ratios are integer-over-integer with one rounded
    log10 each (the pmi_bigrams discipline — the log-argument is a
    single division of exact integers).

    Scale: token counts are ONE (class, token) groupBy (map-side
    combinable, word-count shape); class totals re-aggregate that
    table; V is a 1-row broadcast. The only window is the top-k,
    partitioned by class over the already-aggregated count table.

    No counterpart in the reference engine (SURVEY.md §2.2 — no
    aggregation family).
    """
    from pyspark.sql import Window

    from ..functions.text import normalize_text, tokenize

    toks = df.select(
        F.col(class_col).alias("__cls"),
        F.explode(tokenize(normalize_text(F.col(text_col)))).alias("__w"),
    )
    tc = toks.groupBy("__cls", "__w").agg(F.count("*").alias("__c"))
    tot = tc.groupBy("__cls").agg(F.sum("__c").alias("__tot"))
    vocab = tc.select("__w").distinct().agg(F.count("*").alias("__v"))
    docs = df.groupBy(F.col(class_col).alias("__cls")).agg(
        F.count("*").alias("__nd")
    )
    n_all = df.agg(F.count("*").alias("__n"))
    w = Window.partitionBy("__cls").orderBy(
        F.desc("__c"), F.asc("__w")
    )
    ranked = tc.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= int(top_k)
    )
    out = (
        ranked.join(tot, "__cls")
        .join(docs, "__cls")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_all))
    )
    return out.select(
        F.col("__cls").alias(class_col),
        F.col("__w").alias("token"),
        F.col("__c").cast("long").alias("n"),
        F.round(
            F.log10(
                (F.col("__c") + F.lit(1)).cast("double")
                / (F.col("__tot") + F.col("__v")).cast("double")
            ),
            ndigits,
        ).alias("loglik"),
        F.round(
            F.log10(
                F.col("__nd").cast("double") / F.col("__n").cast("double")
            ),
            ndigits,
        ).alias("prior"),
    )


def gini_stump(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Best single-threshold binary split on one numeric feature — the
    decision STUMP (one-node CART; Breiman et al. 1984, public
    literature): the split every tree/GBM learner evaluates millions
    of times, and on its own the standard first-cut feature-quality
    probe ("is n_chars predictive of lang at ALL?").

    For every distinct feature value v (cut: left = feature <= v),
    the Gini impurity reduction

        gain(v) = G(parent) − (n_l·G(left) + n_r·G(right)) / n

    with G(S) = 1 − p₁² − p₀². Cut counts come from per-distinct-value
    integer label counts + ``ranking.global_cumsum_before`` twice
    (row counts and positive counts) — the repo's scalable rank
    primitive, NO single-partition window — so the full gain curve is
    one pass over the distinct-value table. The last cut (empty right
    side) is excluded.

    Determinism: all counts are exact longs; each Gini is a
    fixed-order double expression over them rounded ``ndigits``; the
    argmax takes the ROUNDED gain with ties to the SMALLEST threshold
    (the min-struct pattern). ``label_col`` must be 0/1 integers
    (callers cast their predicate).

    Output: one row ``(threshold, gain, n_left, n_right, pos_left,
    pos_right, parent_gini)``; degenerate inputs (single distinct
    value / empty) yield NULLs.

    Scale: one map-side-combinable groupBy to the distinct-value
    table, the two-pass cumsum machinery (range shuffle + bounded
    offsets collect), and a 1-row argmax — feature cardinality, not
    corpus size, bounds every post-aggregation stage.
    """
    from .ranking import global_cumsum_before

    vc = (
        df.filter(
            F.col(feature_col).isNotNull()
            & F.col(label_col).isNotNull()
        )
        .groupBy(F.col(feature_col).alias("__v"))
        .agg(
            F.count("*").alias("__n"),
            F.sum(F.col(label_col).cast("long")).alias("__p"),
        )
    )
    # one fused two-pass cumulates both counts (see the primitive's
    # multi-column note)
    cum = global_cumsum_before(
        vc, ["__v"], ["__n", "__p"], out_col=["__bn", "__bp"]
    )
    tot = F.broadcast(
        vc.agg(
            F.sum("__n").cast("long").alias("__tn"),
            F.sum("__p").cast("long").alias("__tp"),
        )
    )
    j = cum.crossJoin(tot)
    nl = (F.col("__bn") + F.col("__n")).cast("double")
    pl = (F.col("__bp") + F.col("__p")).cast("double")
    nr = F.col("__tn").cast("double") - nl
    pr = F.col("__tp").cast("double") - pl

    def gini(n, p):
        q = p / n
        r = (n - p) / n
        return F.lit(1.0) - q * q - r * r

    tn = F.col("__tn").cast("double")
    tp = F.col("__tp").cast("double")
    parent = F.round(gini(tn, tp), ndigits)
    weighted = (nl * gini(nl, pl) + nr * gini(nr, pr)) / tn
    gain = F.round(parent - F.round(weighted, ndigits), ndigits)
    cand = j.filter(nr > 0).select(
        "__v",
        gain.alias("__g"),
        nl.cast("long").alias("__nl"),
        nr.cast("long").alias("__nr"),
        pl.cast("long").alias("__pl"),
        pr.cast("long").alias("__pr"),
        parent.alias("__parent"),
    )
    best = cand.agg(
        F.min(
            F.struct(
                (-F.col("__g")).alias("ng"),
                F.col("__v").alias("v"),
                F.col("__nl").alias("nl"),
                F.col("__nr").alias("nr"),
                F.col("__pl").alias("pl"),
                F.col("__pr").alias("pr"),
                F.col("__parent").alias("parent"),
            )
        ).alias("__b")
    )
    b = F.col("__b")
    return best.select(
        b["v"].alias("threshold"),
        (-b["ng"]).alias("gain"),
        b["nl"].alias("n_left"),
        b["nr"].alias("n_right"),
        b["pl"].alias("pos_left"),
        b["pr"].alias("pos_right"),
        b["parent"].alias("parent_gini"),
    )


def calibration_bins(
    df: DataFrame,
    p_micro_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins + per-bin Brier score — the standard
    calibration audit for any probabilistic classifier (Murphy 1973,
    DeGroot & Fienberg 1983, public): bucket predictions by
    probability, compare each bucket's mean predicted probability to
    its observed positive rate; a calibrated model tracks the
    diagonal, and the per-bin |gap| weighted by count is ECE.

    ``p_micro_col`` is the prediction as an INTEGER micro-probability
    (0..1e6 — the repo's exactness contract: a double probability
    column would make every bin mean partition-order dependent);
    ``label_col`` is 0/1. Bin b = p_micro * n_bins div (1e6 + 1),
    so p = 1.0 lands in the last bin.

    Per bin: ``(bin, n, p_mean, y_rate, gap, brier)`` — p_mean and
    y_rate exact half-away 6dp micro means, gap their exact integer
    difference, brier the exact mean of (p - y)^2. The brier division
    runs as integral decimal(38,0) ``div`` — its micro^2 sums pass
    the 2^53 double-exactness line at ~4e3 rows per bin, so a float
    path would silently mis-floor at real scales (the permutation_
    test discipline).

    Scale: ONE groupBy on the bin id (n_bins groups, map-side
    combinable) — scan-shaped, no window, no collect.
    """
    m1 = 1_000_000
    p = F.col(p_micro_col).cast("long")
    y = F.col(label_col).cast("long")
    binc = F.floor(p * n_bins / (m1 + 1.0)).cast("int")
    agged = (
        df.select(
            binc.alias("bin"),
            p.alias("__p"),
            y.alias("__y"),
            ((p - y * m1) * (p - y * m1)).alias("__sq"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("__n"),
            F.sum("__p").alias("__sp"),
            F.sum("__y").alias("__sy"),
            F.sum("__sq").alias("__ssq"),
        )
    )
    n = F.col("__n")
    # all sums are non-negative: plain half-away floors
    p_mean_mi = F.floor((2 * F.col("__sp") + n) / (2.0 * n)).cast(
        "long"
    )
    y_rate_mi = F.floor(
        (2 * F.col("__sy") * m1 + n) / (2.0 * n)
    ).cast("long")
    # brier mean = ssq / (n * 1e12) -> micro = ssq / (n * 1e6);
    # exact integral decimal division (the quotient fits long)
    staged = agged.withColumns(
        {
            "__bn": 2 * exact("__ssq") + exact(n) * m1,
            "__bd": 2 * exact(n) * m1,
        }
    ).withColumn("__brier_mi", F.expr("__bn div __bd"))
    brier_mi = F.col("__brier_mi")
    return staged.select(
        F.col("bin"),
        n.cast("long").alias("n"),
        (p_mean_mi / float(m1)).alias("p_mean"),
        (y_rate_mi / float(m1)).alias("y_rate"),
        ((p_mean_mi - y_rate_mi) / float(m1)).alias("gap"),
        (brier_mi / float(m1)).alias("brier"),
    )


def roc_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ROC curve — one point per DISTINCT score threshold s
    (predict positive iff score >= s): cumulative true/false
    positives, TPR and FPR. The classifier-eval staple (Fawcett 2006,
    public), and the curve behind the AUC the rank tests summarize.

    Exactness: scores must be integer-valued (the repo's contract —
    float scores make threshold identity engine-dependent); per
    distinct score the operator keeps integer (n_pos, n_neg) counts,
    and ">= s" counts come from TOTALS minus the scalable two-pass
    ``ranking.global_cumsum_before`` (range shuffle + partitioned
    windows + a bounded offsets collect — NEVER a single-partition
    ``rank() over (order by score)``). TPR/FPR are exact half-away
    6dp micro ratios.

    Output, ordered by threshold descending (curve order from (0,0)
    corner): ``(score, n_pos_ge, n_neg_ge, tpr, fpr)``.

    Scale: the curve has one row per distinct score — vocabulary-
    sized, not corpus-sized; bucket scores upstream (e.g. to 1e4
    grid) when the score domain is dense.
    """
    from .ranking import global_cumsum_before

    m1 = 1_000_000
    per = (
        df.groupBy(F.col(score_col).cast("long").alias("__s"))
        .agg(
            F.sum(
                F.when(F.col(label_col).cast("int") == 1, 1).otherwise(0)
            ).alias("__np"),
            F.sum(
                F.when(F.col(label_col).cast("int") == 1, 0).otherwise(1)
            ).alias("__nn"),
        )
    )
    cum = global_cumsum_before(
        per,
        ["__s"],
        ["__np", "__nn"],
        num_partitions=num_partitions,
        out_col=["__bp", "__bn"],
    )
    tot = per.agg(
        F.sum("__np").alias("__tp"), F.sum("__nn").alias("__tn")
    )
    j = cum.crossJoin(F.broadcast(tot)).select(
        F.col("__s").alias("score"),
        (F.col("__tp") - F.col("__bp")).cast("long").alias("n_pos_ge"),
        (F.col("__tn") - F.col("__bn")).cast("long").alias("n_neg_ge"),
        F.col("__tp"),
        F.col("__tn"),
    )
    rate = lambda n, d: F.when(  # noqa: E731
        d > 0,
        F.floor((2 * n * m1 + d) / (2.0 * d)).cast("long") / float(m1),
    ).otherwise(F.lit(None).cast("double"))
    return j.select(
        "score",
        "n_pos_ge",
        "n_neg_ge",
        rate(F.col("n_pos_ge"), F.col("__tp")).alias("tpr"),
        rate(F.col("n_neg_ge"), F.col("__tn")).alias("fpr"),
    ).orderBy(F.desc("score"))


def adaboost_stumps(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    rounds: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """AdaBoost.M1 over threshold stumps (Freund & Schapire 1997,
    public — the ORIGINAL beta-form: correct examples are downweighted
    by beta_t = err_t/(1-err_t), which is a RATIO OF EXACT INTEGERS
    here, so the whole boost replays bit-for-bit on any engine; the
    exp/alpha reformulation would drag order-dependent float sums
    into every round).

    Stump family per round: predict +1 iff feature >= s ("ge"
    polarity) or its complement ("lt"), s ranging over the distinct
    feature values; the round picks (err, s, polarity)-lexicographic
    minimum weighted error. ``feature_col`` must be integer-valued,
    ``label_col`` 0/1. Weights start at 1e6 micro-units and correct
    rows take w <- w*err_num // err_den (floor — the deterministic
    quantization; err_num clamped to >= 1 so a perfect stump cannot
    zero the distribution).

    Output: one row per round ``(round, split_at, polarity,
    weighted_err, beta)`` with weighted_err/beta exact half-away 6dp
    of their integer rationals.

    Scale per round: one groupBy(feature) for weighted class sums
    (map-side combinable), the two-pass partitioned
    ``global_cumsum_before`` for the threshold sweep (never a
    single-partition window), and a ONE-ROW argmin collect. Weights
    are never materialized per row: round t's weight is a chained
    literal-parameter expression over (feature, label) — the stump
    params are model-sized, so the lineage is 3 small projections.
    """
    from .ranking import global_cumsum_before

    m1 = 1_000_000
    x = F.col(feature_col).cast("long")
    ypos = F.col(label_col).cast("int") == 1
    cur = df.select(x.alias("__x"), ypos.alias("__p")).withColumn(
        "__w", F.lit(m1).cast("long")
    )
    results = []
    from .staging import stage

    for t in range(1, int(rounds) + 1):
        # stage the distinct-feature weight census ONCE per round: the
        # threshold sweep, the class totals, and the total weight all
        # derive from it — unstaged, each was a separate full corpus
        # scan through the chained weight expression (3 scans/round
        # measured at sf0.1; now 1)
        per = stage(
            cur.groupBy("__x")
            .agg(
                F.sum(F.when(F.col("__p"), F.col("__w")).otherwise(0))
                .alias("__wp"),
                F.sum(F.when(~F.col("__p"), F.col("__w")).otherwise(0))
                .alias("__wn"),
            ),
            f"ada_per{t}",
        )
        cum = global_cumsum_before(
            per,
            ["__x"],
            ["__wp", "__wn"],
            num_partitions=num_partitions,
            out_col=["__cp", "__cn"],
        )
        trow = per.agg(
            F.sum("__wp").alias("__tp"), F.sum("__wn").alias("__tn")
        ).first()
        tp, tn = int(trow["__tp"]), int(trow["__tn"])
        errs = cum.select(
            "__x",
            (F.col("__cp") + F.lit(tn) - F.col("__cn")).alias(
                "__ege"
            ),
            (
                F.lit(tp + tn)
                - (F.col("__cp") + F.lit(tn) - F.col("__cn"))
            ).alias("__elt"),
        )
        cand = errs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("__ege").alias("e"),
                        F.col("__x").alias("s"),
                        F.lit(0).alias("pol"),
                    ),
                    F.struct(
                        F.col("__elt").alias("e"),
                        F.col("__x").alias("s"),
                        F.lit(1).alias("pol"),
                    ),
                )
            ).alias("c")
        )
        best = cand.agg(F.min("c").alias("b")).first().b
        e_min, s_min, pol = int(best.e), int(best.s), int(best.pol)
        w_tot = tp + tn  # exact: the same sum the per census carries
        err_num = max(e_min, 1)  # perfect-stump clamp
        err_den = w_tot - err_num
        if err_den <= 0:
            raise ValueError("degenerate boost: err >= total weight")
        # half-away 6dp of the exact rationals (unbounded ints)
        em = (2 * e_min * m1 + w_tot) // (2 * w_tot)
        bm = (2 * err_num * m1 + err_den) // (2 * err_den)
        results.append(
            (t, s_min, "ge" if pol == 0 else "lt", em / 1e6, bm / 1e6)
        )
        # correct under this stump: (x >= s) == predicted positive.
        # The downweight is EXACT integral decimal division ("div") —
        # a decimal `*`/`/` pair rounds the quotient at scale-6 before
        # any floor (the permutation_test discipline), and a double
        # floor-division loses exactness past 2^53.
        pred_pos = (
            F.col("__x") >= s_min
            if pol == 0
            else F.col("__x") < s_min
        )
        correct = pred_pos == F.col("__p")
        cur = cur.withColumn(
            "__w",
            F.when(
                correct,
                F.expr(
                    f"(cast(__w as {exact_type()}) * {err_num})"
                    f" div {err_den}"
                ),
            ).otherwise(F.col("__w")),
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        results,
        "round int, split_at long, polarity string, "
        "weighted_err double, beta double",
    )


def isotonic_calibration(
    df: DataFrame,
    order_col: str,
    pos_col: str,
    n_col: str,
) -> DataFrame:
    """Isotonic (PAVA) calibration of a binned rate table — the
    standard monotone recalibration of classifier scores (Zadrozny &
    Elkan 2002, public). Instead of the sequential pool-adjacent-
    violators loop, the fit uses its closed MINIMAX form (Robertson
    et al., Order Restricted Statistical Inference):

        iso(k) = max_{i<=k} min_{j>=k} (sum pos[i..j] / sum n[i..j])

    which is pure joins + aggregates — engine-replayable with no
    fold. Interval averages are exact integer rationals quantized
    half-away to the 6dp micro grid BEFORE the min/max (so the
    min/max order is engine-independent; the fit is isotonic on the
    grid).

    INPUT CONTRACT: ``df`` is an already-aggregated model-sized bin
    table (calibration bins, score deciles — tens of rows, never
    corpus rows), so the O(bins^2) interval build, the single-
    partition prefix window and the bins^3 minimax join are all
    constant-sized; do NOT point this at raw data — bin first
    (calibration_bins).

    Output per bin: ``(order_col, pos, n, rate, iso_rate)`` with
    iso_rate monotone non-decreasing in ``order_col``.
    """
    from pyspark.sql import Window

    m1 = 1_000_000
    w = Window.orderBy(order_col)
    pref = df.select(
        F.col(order_col).alias("__b"),
        F.col(pos_col).cast("long").alias("__p"),
        F.col(n_col).cast("long").alias("__n"),
    ).withColumns(
        {
            "__rn": F.row_number().over(w.orderBy("__b")),
            "__cp": F.sum("__p").over(
                Window.orderBy("__b").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
            "__cn": F.sum("__n").over(
                Window.orderBy("__b").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        }
    )
    li = pref.select(
        F.col("__rn").alias("__i"),
        (F.col("__cp") - F.col("__p")).alias("__xp"),
        (F.col("__cn") - F.col("__n")).alias("__xn"),
    )
    rj = pref.select(
        F.col("__rn").alias("__j"),
        F.col("__cp").alias("__jp"),
        F.col("__cn").alias("__jn"),
    )
    iv = (
        li.join(rj, F.col("__i") <= F.col("__j"))
        .select(
            "__i",
            "__j",
            (F.col("__jp") - F.col("__xp")).alias("__ip"),
            (F.col("__jn") - F.col("__xn")).alias("__in"),
        )
        .withColumn(
            "__r",
            F.floor(
                (2 * F.col("__ip") * m1 + F.col("__in"))
                / (2.0 * F.col("__in"))
            ).cast("long"),
        )
    )
    grid = pref.select(F.col("__rn").alias("__k"))
    fitted = (
        iv.join(
            grid,
            (F.col("__i") <= F.col("__k"))
            & (F.col("__k") <= F.col("__j")),
        )
        .groupBy("__k", "__i")
        .agg(F.min("__r").alias("__mn"))
        .groupBy("__k")
        .agg(F.max("__mn").alias("__iso"))
    )
    return (
        pref.join(fitted, pref["__rn"] == fitted["__k"])
        .select(
            F.col("__b").alias(order_col),
            F.col("__p").alias("pos"),
            F.col("__n").alias("n"),
            (
                F.floor(
                    (2 * F.col("__p") * m1 + F.col("__n"))
                    / (2.0 * F.col("__n"))
                ).cast("long")
                / float(m1)
            ).alias("rate"),
            (F.col("__iso") / float(m1)).alias("iso_rate"),
        )
        .orderBy(order_col)
    )


def cohens_kappa(
    df: DataFrame,
    rater1_col: str,
    rater2_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two raters
    / classifiers over the same items (Cohen 1960, public
    literature): THE number a data-curation stack reports when two
    labelers (human or LLM-judge) grade the same documents, before
    trusting either.

    Exactness: with confusion counts n_ij, row sums r_i, column sums
    c_i, and N all exact integers,

        kappa = (N * sum_i n_ii - sum_i r_i*c_i)
              / (N^2        - sum_i r_i*c_i)

    is ONE rounded division of two exact decimal(38,0) integers (the
    algebraic clearing of (po-pe)/(1-pe)); po and pe are each one
    rounded division as well. Perfect chance agreement (pe = 1, the
    degenerate single-category case) yields NULL kappa.

    Output: one row ``(n, n_categories, po, pe, kappa)`` where
    n_categories counts the UNION of labels either rater used.

    Scale: one map-side-combinable groupBy to the |labels|^2
    confusion table; every later aggregate runs on that bounded
    table. No counterpart in the reference engine (SURVEY.md §2.2).
    """
    base = df.filter(
        F.col(rater1_col).isNotNull() & F.col(rater2_col).isNotNull()
    ).select(
        F.col(rater1_col).cast("string").alias("__a"),
        F.col(rater2_col).cast("string").alias("__b"),
    )
    cells = base.groupBy("__a", "__b").agg(F.count("*").alias("__c"))
    rows = cells.groupBy("__a").agg(F.sum("__c").alias("__r"))
    cols = cells.groupBy("__b").agg(F.sum("__c").alias("__k"))
    marg = (
        rows.join(cols, rows.__a == cols.__b, "full")
        .select(
            F.coalesce(F.col("__a"), F.col("__b")).alias("__lab"),
            F.coalesce(F.col("__r"), F.lit(0)).alias("__r"),
            F.coalesce(F.col("__k"), F.lit(0)).alias("__k"),
        )
        .agg(
            F.count("*").cast("long").alias("n_categories"),
            exact_sum("__r", "__k").alias(
                "__rc"
            ),
        )
    )
    diag = cells.agg(
        F.sum("__c").cast("long").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__c")).otherwise(0))
        .cast("long")
        .alias("__agree"),
    )
    j = diag.crossJoin(F.broadcast(marg))
    nn = exact("n")
    num = nn * exact("__agree") - F.col("__rc")
    den = nn * nn - F.col("__rc")
    return j.select(
        "n",
        "n_categories",
        F.when(
            F.col("n") > 0,
            F.round(
                F.col("__agree").cast("double") / F.col("n").cast("double"),
                ndigits,
            ),
        ).alias("po"),
        F.when(
            F.col("n") > 0,
            F.round(
                F.col("__rc").cast("double")
                / (F.col("n").cast("double") * F.col("n").cast("double")),
                ndigits,
            ),
        ).alias("pe"),
        F.when(
            den.cast("double") != 0,
            F.round(num.cast("double") / den.cast("double"), ndigits),
        ).alias("kappa"),
    )


def mcnemar_test(
    df: DataFrame,
    rater1_col: str,
    rater2_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """McNemar's test for marginal homogeneity of two BINARY
    classifiers on the same items (McNemar 1947, public literature)
    — "is classifier A actually better than B" decided only by the
    discordant pairs:

        chi2 = (|b - c| - 1)^2 / (b + c)      (continuity-corrected)

    with b/c the exact discordant counts. The two-sided p replays the
    engine's deterministic Phi via z = sqrt(chi2) (P(chi2(1) > x) =
    2*Phic(sqrt(x)) — the multitest.with_p_value kernel, shared
    literals with the oracle). b + c = 0 (no discordant pairs) yields
    NULL chi2/p.

    Output: one row ``(n, b, c, chi2, p_value)``.

    Scale: one map-side-combinable aggregate; nothing downstream of
    exact integers. No counterpart in the reference engine
    (SURVEY.md §2.2).
    """
    from .multitest import with_p_value

    base = df.filter(
        F.col(rater1_col).isNotNull() & F.col(rater2_col).isNotNull()
    ).select(
        F.col(rater1_col).cast("boolean").alias("__a"),
        F.col(rater2_col).cast("boolean").alias("__b"),
    )
    agg = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("__a") & ~F.col("__b"), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~F.col("__a") & F.col("__b"), 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    bd = F.col("b").cast("double")
    cd = F.col("c").cast("double")
    dev = F.greatest(F.abs(bd - cd) - 1.0, F.lit(0.0))
    chi2 = F.when(
        F.col("b") + F.col("c") > 0,
        F.round(dev * dev / (bd + cd), ndigits),
    )
    staged = agg.select(
        "n",
        "b",
        "c",
        chi2.alias("chi2"),
        F.when(chi2.isNotNull(), F.sqrt(chi2)).alias("__z"),
    )
    return with_p_value(staged, "__z", "p_value", ndigits).drop("__z")


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    category_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement for a FIXED number
    of raters per item (Fleiss 1971, public literature): the
    multi-rater generalization a labeling pipeline reports when every
    document gets the same n judge votes (n-way LLM-judge panels,
    triple-annotation batches). Input: one row per (item, assigned
    category) rating.

    Exactness: with cell counts n_ic, per-item squared sums
    s_i = sum_c n_ic^2, category column sums C_c, N items and n
    raters, the algebraically cleared form

        kappa = (A*(N*n)^2 - B*N*n*(n-1))
              / (N*n*(n-1) * ((N*n)^2 - B))

    with A = sum_i s_i - N*n and B = sum_c C_c^2 is ONE rounded
    division of exact decimal(38,0) integers; the observed and
    expected agreements (po = A/(N*n*(n-1)), pe = B/(N*n)^2) are each
    one rounded division too. Perfect chance agreement (pe = 1)
    yields NULL kappa. A varying rater count raises ValueError —
    that is krippendorff_alpha's contract, not Fleiss'.

    Output: one row ``(n_items, n_raters, po, pe, kappa)``.

    Scale: one groupBy to the (item, category) cell table, one
    per-item aggregate, bounded category margins.
    """
    base = df.filter(
        F.col(item_col).isNotNull() & F.col(category_col).isNotNull()
    ).select(
        F.col(item_col).alias("__i"),
        F.col(category_col).cast("string").alias("__c"),
    )
    cells = base.groupBy("__i", "__c").agg(F.count("*").alias("__n"))
    per_item = cells.groupBy("__i").agg(
        F.sum("__n").cast("long").alias("__m"),
        F.sum(F.col("__n") * F.col("__n")).cast("long").alias("__s"),
    )
    rc = per_item.agg(
        F.count_distinct("__m").alias("__k"),
        F.min("__m").alias("__n_raters"),
    ).first()
    if rc["__k"] == 0:
        raise ValueError("fleiss_kappa: no ratings")
    if rc["__k"] > 1 or rc["__n_raters"] < 2:
        raise ValueError(
            "fleiss_kappa: every item needs the SAME rater count >= 2 "
            "(varying counts are krippendorff_alpha's contract)"
        )
    n_raters = int(rc["__n_raters"])
    margins = cells.groupBy("__c").agg(
        F.sum("__n").cast("long").alias("__cc")
    )
    ia = per_item.agg(
        F.count("*").cast("long").alias("n_items"),
        exact(F.sum(F.col("__s"))).alias("__ssum"),
    )
    mb = margins.agg(
        exact_sum("__cc", "__cc").alias(
            "__b"
        )
    )
    out = ia.crossJoin(F.broadcast(mb)).withColumns(
        {
            "__nn": exact("n_items") * F.lit(n_raters),
            "__a": F.col("__ssum")
            - exact("n_items") * F.lit(n_raters),
        }
    )
    out = out.withColumns(
        {
            "__den_o": F.col("__nn") * F.lit(n_raters - 1),
            "__nn2": F.col("__nn") * F.col("__nn"),
        }
    )
    po = F.round(
        F.col("__a").cast("double") / F.col("__den_o").cast("double"),
        ndigits,
    )
    pe = F.round(
        F.col("__b").cast("double") / F.col("__nn2").cast("double"),
        ndigits,
    )
    kappa_num = (
        F.col("__a") * F.col("__nn2") - F.col("__b") * F.col("__den_o")
    )
    kappa_den = F.col("__den_o") * (F.col("__nn2") - F.col("__b"))
    return out.select(
        "n_items",
        F.lit(n_raters).cast("long").alias("n_raters"),
        po.alias("po"),
        pe.alias("pe"),
        F.when(
            F.col("__nn2") != F.col("__b"),
            F.round(
                kappa_num.cast("double") / kappa_den.cast("double"),
                ndigits,
            ),
        ).alias("kappa"),
    )


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    category_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Krippendorff's alpha for NOMINAL data with a varying number of
    raters per item (Krippendorff 1970/2004, public literature) — the
    agreement coefficient that tolerates missing ratings, the real
    shape of crowd/LLM-judge labels where items get 2..n votes.
    Units with fewer than 2 ratings are unpairable and drop (the
    canonical rule).

        alpha = 1 - (n-1) * O_d / (n^2 - sum_c C_c^2)
        O_d   = sum_u (m_u^2 - sum_c n_uc^2) / (m_u - 1)

    with n = total pairable ratings, m_u ratings in unit u, C_c the
    category margins. Exactness: every numerator is an exact integer;
    O_d's per-unit rationals share denominators within each rater
    count m, so the fold groups units BY m (a census bounded by the
    max rater count), sorts by m, and left-folds the per-m doubles —
    the sorted-fold discipline (infotheory), bit-identical
    cross-engine. The final alpha is one fixed-order double
    expression, rounded once.

    Output: one row ``(n_units, n_pairable, alpha)``; alpha is NULL
    when expected disagreement is zero (a single category overall).

    Scale: one groupBy to (item, category) cells, one per-item
    aggregate, a rater-count census fold, bounded margins.
    """
    base = df.filter(
        F.col(item_col).isNotNull() & F.col(category_col).isNotNull()
    ).select(
        F.col(item_col).alias("__i"),
        F.col(category_col).cast("string").alias("__c"),
    )
    cells = base.groupBy("__i", "__c").agg(F.count("*").alias("__n"))
    per_item = cells.groupBy("__i").agg(
        F.sum("__n").cast("long").alias("__m"),
        F.sum(F.col("__n") * F.col("__n")).cast("long").alias("__s"),
    ).filter(F.col("__m") >= 2)
    pairable = per_item.select("__i")
    margins = (
        cells.join(pairable, "__i")
        .groupBy("__c")
        .agg(F.sum("__n").cast("long").alias("__cc"))
    )
    # per-rater-count census: units with the same m share the
    # denominator (m - 1), so O_d folds the SORTED per-m doubles
    bym = per_item.groupBy("__m").agg(
        F.sum(exact("__m") * exact("__m") - exact("__s")).alias("__anum")
    )
    od = bym.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("__m", "__anum"))
            ),
            F.lit(0.0),
            lambda acc, s: acc
            + s["__anum"].cast("double")
            / (s["__m"].cast("double") - F.lit(1.0)),
        ).alias("__od"),
        F.count("*").alias("__dummy"),
    ).select("__od")
    tots = per_item.agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("__m").cast("long").alias("n_pairable"),
    )
    mb = margins.agg(
        exact_sum("__cc", "__cc").alias(
            "__b"
        )
    )
    out = tots.crossJoin(F.broadcast(od)).crossJoin(F.broadcast(mb))
    nn = F.col("n_pairable").cast("double")
    de = (
        exact("n_pairable") * exact("n_pairable")
        - F.col("__b")
    ).cast("double")
    return out.select(
        "n_units",
        "n_pairable",
        F.when(
            de > 0,
            F.round(
                F.lit(1.0)
                - (nn - F.lit(1.0)) * F.col("__od") / de,
                ndigits,
            ),
        ).alias("alpha"),
    )


def _det3_f(m: list[list[float]]) -> float:
    """3x3 determinant, FIXED expansion order — this exact op order is
    mirrored textually in the logistic_irls oracle SQL; do not
    'simplify' one side without the other."""
    return (
        m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
        - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
        + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0])
    )


def _round6_half_away(x: float) -> float:
    """Half-away 6dp rounding of a double (the pacf_durbin driver-side
    discipline — Python round() is half-to-even and would diverge from
    both engines' SQL round)."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def _irls_census_fit(ys, xs1, xs2, cnts, iterations):
    """Driver-local replay of the distributed IRLS round over a
    bounded (y, x1, x2, count) census: numpy float64 reproduces the
    JVM double sequence op-for-op (same order, no FMA), the micro
    quantization is the identical sign-floor form, and the
    count-weighted sums are exact integers (int64 when the bound
    check proves headroom, arbitrary-precision Python ints
    otherwise). Returns (n_rows, iters_run, b)."""
    import numpy as np

    from .multitest import _EXP_COEFFS

    y = np.asarray(ys, dtype=np.float64)
    x1 = np.asarray(xs1, dtype=np.float64)
    x2 = np.asarray(xs2, dtype=np.float64)
    cnt = np.asarray(cnts, dtype=np.int64)
    m = len(cnts)
    n_rows = int(cnt.sum()) if m else 0
    coeffs = [float(c) for c in _EXP_COEFFS]

    def q(v):
        s = v * 1e6
        return np.where(
            s >= 0, np.floor(s + 0.5), -np.floor(-s + 0.5)
        ).astype(np.int64)

    cmax = int(cnt.max()) if m else 0

    def wsum(qt):
        if m == 0:
            return 0
        qmax = int(np.abs(qt).max())
        if (qmax + 1) * (cmax + 1) * m < (1 << 62):
            return int((cnt * qt).sum())
        # headroom not provable: exact big-int fallback (rare)
        return sum(
            int(c) * int(v) for c, v in zip(cnt.tolist(), qt.tolist())
        )

    b = [0.0, 0.0, 0.0]
    iters_run = 0
    for _ in range(int(iterations)):
        eta = (b[0] + b[1] * x1) + b[2] * x2
        yc = np.maximum(-64.0, -np.abs(eta))
        wq = yc / 64.0
        t = np.full_like(wq, coeffs[-1])
        for c in reversed(coeffs[:-1]):
            t = t * wq + c
        for _ in range(6):
            t = t * t
        ex = t
        p = np.where(
            eta > 64.0,
            1.0,
            np.where(
                eta < -64.0,
                0.0,
                np.where(
                    eta >= 0.0, 1.0 / (1.0 + ex), ex / (1.0 + ex)
                ),
            ),
        )
        w = p * (1.0 - p)
        r = y - p
        h = [
            [
                float(wsum(q(w))),
                float(wsum(q(w * x1))),
                float(wsum(q(w * x2))),
            ],
            [
                float(wsum(q(w * x1))),
                float(wsum(q(w * x1 * x1))),
                float(wsum(q(w * x1 * x2))),
            ],
            [
                float(wsum(q(w * x2))),
                float(wsum(q(w * x1 * x2))),
                float(wsum(q(w * x2 * x2))),
            ],
        ]
        g = [
            float(wsum(q(r))),
            float(wsum(q(r * x1))),
            float(wsum(q(r * x2))),
        ]
        det = _det3_f(h)
        if det == 0.0 or not math.isfinite(det):
            break
        deltas = []
        for j in range(3):
            mm = [
                [g[i] if k == j else h[i][k] for k in range(3)]
                for i in range(3)
            ]
            deltas.append(_det3_f(mm) / det)
        if not all(math.isfinite(d) for d in deltas):
            break
        b = [_round6_half_away(b[j] + deltas[j]) for j in range(3)]
        iters_run += 1
    return n_rows, iters_run, b


def logistic_irls(
    df: DataFrame,
    x1_col: str,
    x2_col: str,
    label_col,
    iterations: int = 8,
    ndigits: int = 6,
    census_compress: bool = True,
) -> DataFrame:
    """Distributed logistic-regression fit ``P(y=1) = sigmoid(b0 +
    b1*x1 + b2*x2)`` by iteratively reweighted least squares /
    Newton-Raphson (public literature; the classic GLM fit) — the
    TRAINING side of the hashed quality classifier this module
    otherwise only scores with.

    Per iteration the corpus is touched ONCE: a 9-sum aggregate
    (map-side combinable) of the weighted Gram matrix X'WX and
    gradient X'(y - p), followed by a bounded 1-row driver collect and
    a 3x3 Cramer solve (the lloyd_kmeans / ridge_normal
    bounded-collect discipline). Nothing downstream of the scan grows
    with the data.

    r13 scale/latency optimization (guide §2.3 "aggregate before you
    shuffle"): with ``census_compress`` (default) the fit first
    censuses distinct (y, x1, x2) triples with counts — every
    per-round term is a pure function of the triple, so count-weighted
    integer sums over the census equal the row sums EXACTLY. When the
    census is small enough (<= max(1024, n/4) groups) the 8 Newton
    scans touch the census instead of the corpus; when it also fits
    the local-fold limit (``staging.local_fold_limit``) the whole
    loop runs driver-local with zero per-round jobs
    (``_irls_census_fit``; numpy float64 == JVM double op-for-op).
    High-cardinality features fall back to the original full-row
    scans. All three paths are pinned identical by
    ``test_logistic_irls_local_matches_distributed``.

    Cross-engine determinism (the lloyd round-the-state recipe):
    - p comes from the engine's deterministic staged exp
      (``with_det_exp``): eta outside +-64 clamps p to exact 0/1
      (w = 0 — those rows contribute nothing, mirroring the Taylor
      convergence region);
    - every per-row term (w, w*x, w*x*x, (y-p), (y-p)*x) quantizes to
      1e-6 micro-longs and sums as exact decimal(38,0) — order-free;
    - the Newton step solves in fixed-order double arithmetic over
      those exact integers (``_det3_f``'s expansion order is mirrored
      textually in the oracle), and the updated coefficients ROUND
      half-away to 6dp before the next iteration — the inter-round
      state is snapped to shared literals, so an external engine
      replays the whole fit exactly (unrolled CTEs), not just the
      final score.

    A singular / non-finite Newton system stops the iteration early
    (coefficients keep their last value — documented contract).

    Output: one row ``(n_rows, iters_run, b0, b1, b2)``.
    """
    y = (
        F.col(label_col).cast("double")
        if isinstance(label_col, str)
        else label_col.cast("double")
    )
    base = df.filter(
        F.col(x1_col).isNotNull() & F.col(x2_col).isNotNull()
    ).select(
        y.alias("__y"),
        F.col(x1_col).cast("double").alias("__x1"),
        F.col(x2_col).cast("double").alias("__x2"),
    ).filter(F.col("__y").isNotNull())
    from .multitest import _EXP_COEFFS

    # ---- feature-space compression (r13 opt, guide §2.3 "aggregate
    # before you shuffle"): every per-round term is a pure function of
    # (y, x1, x2), so rows with identical triples contribute IDENTICAL
    # micro-longs — sum(count * q(term)) over the distinct-triple
    # census equals sum(q(term)) over the rows exactly (integer
    # multiplication distributes; nothing floats). TPC-H-shaped
    # features (flag, quantity, discount) census to ~1e3 triples at
    # any scale, so the 8 Newton scans touch a broadcast-sized table
    # instead of the corpus — the same one-pass-then-iterate shape the
    # word-count EM operators use. A cheap census probe gates it:
    # near-unique continuous features fall back to the full-row scan
    # (the probe pays one count-shuffle, which the first round's scan
    # would have paid anyway).
    spark0 = df.sparkSession
    weighted = False
    n_all = None
    if census_compress:
        comp = (
            base.groupBy("__y", "__x1", "__x2")
            .agg(F.count("*").cast("long").alias("__cnt"))
            .persist()
        )
        st = comp.agg(
            F.count("*").alias("m"), F.sum("__cnt").alias("n")
        ).first()
        m_groups = int(st["m"])
        n_all = int(st["n"] or 0)
        weighted = m_groups <= max(1024, n_all // 4)
    limit = local_fold_limit(spark0, LOCAL_FOLD_ROWS)
    if weighted and 0 < limit and m_groups <= limit:
        # driver-local fit over the bounded census: every per-round
        # op replays the Column chain's IEEE double sequence exactly
        # (numpy float64 == JVM double, same operation order, no FMA),
        # the micro quantization is the same floor form, and the
        # count-weighted sums are exact integers — pinned local ==
        # distributed by test_logistic_irls_local_matches_distributed.
        rows = comp.collect()
        comp.unpersist()
        n_rows, iters_run, b = _irls_census_fit(
            [float(r["__y"]) for r in rows],
            [float(r["__x1"]) for r in rows],
            [float(r["__x2"]) for r in rows],
            [int(r["__cnt"]) for r in rows],
            int(iterations),
        )
        return spark0.createDataFrame(
            [(n_rows, iters_run, b[0], b[1], b[2])],
            "n_rows long, iters_run long, b0 double, b1 double,"
            " b2 double",
        )
    if weighted:
        base = comp
    else:
        if census_compress:
            comp.unpersist()
        # every Newton iteration rescans the projected base; persist
        # the 3-column frame once (storage is O(rows * 3 doubles) — at
        # cluster scale swap for ``staging.stage`` under a durable
        # spark.graft.stagingDir).
        base = base.persist()

    # ---- per-round plan, built ONCE (r13 opt): every Column below
    # references only base columns and the __b* parameter columns, so
    # the whole staged chain is round-invariant. Building it inside
    # the loop re-paid ~0.6 s/round of py4j expression construction
    # (measured: 21.5k gateway round-trips per fit); prebuilt stages
    # cut the loop body to crossJoin+withColumns+agg+first. The
    # withColumns STAGING (det-exp squarings in their own projections)
    # is preserved — same janino rationale as with_det_exp.
    eta = (
        F.col("__b0")
        + F.col("__b1") * F.col("__x1")
        + F.col("__b2") * F.col("__x2")
    )
    stage_cols: list[dict] = [
        {
            "__eta": eta,
            "__yc": F.greatest(F.lit(-64.0), -F.abs(eta)),
        },
        {"__dex_w": F.col("__yc") / 64.0},
    ]
    t: Column = F.lit(float(_EXP_COEFFS[-1]))
    for coef in reversed(_EXP_COEFFS[:-1]):
        t = t * F.col("__dex_w") + F.lit(float(coef))
    stage_cols.append({"__dex_t": t})
    for _ in range(6):
        stage_cols.append(
            {"__dex_t": F.col("__dex_t") * F.col("__dex_t")}
        )
    stage_cols.append({"__ex": F.col("__dex_t")})
    p = (
        F.when(F.col("__eta") > 64.0, F.lit(1.0))
        .when(F.col("__eta") < -64.0, F.lit(0.0))
        .otherwise(
            F.when(
                F.col("__eta") >= 0.0,
                F.lit(1.0) / (F.lit(1.0) + F.col("__ex")),
            ).otherwise(F.col("__ex") / (F.lit(1.0) + F.col("__ex")))
        )
    )
    stage_cols.append({"__p": p})
    stage_cols.append(
        {
            "__w": F.col("__p") * (F.lit(1.0) - F.col("__p")),
            "__r": F.col("__y") - F.col("__p"),
        }
    )

    from .multitest import micro_half_away as q

    w, x1c, x2c, r = (
        F.col("__w"), F.col("__x1"), F.col("__x2"), F.col("__r"),
    )
    # sums are LONGS for codegen-primitive speed (the ridge_normal
    # recipe): micro terms bounded by |x| <= ~5e3 keep every sum
    # inside int64 up to ~1e9 rows; beyond that ANSI mode throws
    # loudly rather than wrapping — quantize features down first.
    # Values are identical to decimal sums, so the oracle replay
    # (decimal side) hash-matches unchanged.
    zl = F.lit(0).cast("long")
    if weighted:
        cnt = F.col("__cnt")
        n_expr = F.coalesce(F.sum(cnt), zl).alias("n")
        def s(term):
            return F.coalesce(F.sum(cnt * q(term)), zl)
    else:
        n_expr = F.count("*").cast("long").alias("n")
        def s(term):
            return F.coalesce(F.sum(q(term)), zl)
    agg_cols = [
        n_expr,
        s(w).alias("sww"),
        s(w * x1c).alias("sw1"),
        s(w * x2c).alias("sw2"),
        s(w * x1c * x1c).alias("sw11"),
        s(w * x1c * x2c).alias("sw12"),
        s(w * x2c * x2c).alias("sw22"),
        s(r).alias("sr"),
        s(r * x1c).alias("sr1"),
        s(r * x2c).alias("sr2"),
    ]

    b = [0.0, 0.0, 0.0]
    n_rows = None
    iters_run = 0
    for _ in range(int(iterations)):
        # coefficients ride a broadcast 1-row parameter frame, NOT
        # literals: literal betas change every iteration, so each
        # round's plan text (and generated code) would be unique and
        # janino recompiles 8 times (~1-2 s/round measured at sf0.1);
        # parameter columns keep the generated code identical across
        # rounds — one compile, 8 executions. The oracle already
        # replays with a cross-joined parameter CTE, so nothing moves.
        params = F.broadcast(
            spark0.createDataFrame(
                [(b[0], b[1], b[2])],
                "__b0 double, __b1 double, __b2 double",
            )
        )
        cur = base.crossJoin(params)
        for cols in stage_cols:
            cur = cur.withColumns(cols)
        cur = cur.drop("__dex_w", "__dex_t")
        row = cur.agg(*agg_cols).first()
        n_rows = int(row["n"])
        h = [
            [float(row["sww"]), float(row["sw1"]), float(row["sw2"])],
            [float(row["sw1"]), float(row["sw11"]), float(row["sw12"])],
            [float(row["sw2"]), float(row["sw12"]), float(row["sw22"])],
        ]
        g = [float(row["sr"]), float(row["sr1"]), float(row["sr2"])]
        det = _det3_f(h)
        if det == 0.0 or not math.isfinite(det):
            break
        deltas = []
        for j in range(3):
            m = [
                [g[i] if k == j else h[i][k] for k in range(3)]
                for i in range(3)
            ]
            deltas.append(_det3_f(m) / det)
        if not all(math.isfinite(d) for d in deltas):
            break
        b = [_round6_half_away(b[j] + deltas[j]) for j in range(3)]
        iters_run += 1
    if n_rows is None:
        # the census probe (when run) already counted the valid rows
        n_rows = n_all if n_all is not None else base.count()
    base.unpersist()
    spark = df.sparkSession
    return spark.createDataFrame(
        [(n_rows, iters_run, b[0], b[1], b[2])],
        "n_rows long, iters_run long, b0 double, b1 double, b2 double",
    )
