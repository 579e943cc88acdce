"""Self-trained unigram LM scoring — the "perplexity filter" shape of
training-data curation: score every document by the average log
probability of its tokens under a language model fit on the corpus
itself, then drop the tail (gibberish, boilerplate explosions, wrong-
language residue score low; typical prose scores high).

Production pipelines use a pretrained KenLM; that binary dependency is
out of scope here, but the DATA FLOW is identical and that is the part
Spark owns:

1. explode normalized tokens — a projection, rows = corpus token count;
2. vocabulary counts — ONE groupBy(token) shuffle with map-side
   combine (the classic word-count);
3. join tokens back to their counts — a shuffle join co-partitioned on
   the token key (the vocabulary is Zipf-distributed: a few hot stop
   words dominate, which the join tolerates because the probe side is
   partial-aggregated per token downstream anyway);
4. per-document average log10 p(w) — one groupBy(doc) shuffle.

The corpus total stays a lazy scalar (cross join of a 1-row aggregate)
so the whole operator is a single plan with no driver-side action.
Swapping step 2-3 for a broadcast of a pretrained vocabulary turns
this into the KenLM-style scorer with one code change.

No counterpart in the reference engine (SURVEY.md §2.2 — no
aggregation at all); standard practice in public corpus-filtering
pipelines (CCNet-style perplexity buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_sum
from ..functions.text import normalize_text, tokenize
from .ranking import scalable_ntile


def importance_weights(
    df: DataFrame,
    target_filter,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "log_ratio",
    ndigits: int = 6,
) -> DataFrame:
    """Data-selection importance weights (the DSIR shape, Xie et al.
    2023, arXiv:2302.03169): score every document by the average
    log-likelihood RATIO of its tokens under a target-domain unigram LM
    versus the whole-corpus unigram LM — documents that look like the
    target domain score high and get sampled into the training mix.

    ``target_filter`` is a boolean Column selecting the in-domain rows
    (e.g. ``F.col("source") == "src0"``). Both LMs are add-one
    (Laplace) smoothed over the CORPUS vocabulary, so target-unseen
    tokens get finite mass and the ratio is defined for every token:

        p_t(w) = (c_target(w) + 1) / (total_target + V)
        p_c(w) = (c_corpus(w) + 1) / (total_corpus + V)
        weight(d) = avg over tokens of log10 p_t(w) - log10 p_c(w)

    Data flow is ``unigram_logprob_scores`` with a second conditional
    count riding the SAME word-count shuffle (count(if in-target))
    — no extra pass over the corpus, the vocabulary table just grows a
    column. Smoothing constants (V, totals) are 1-row lazy aggregates
    broadcast into the projection.

    The per-document mean is folded over the SORTED per-token ratios
    (collect_list -> sort_array -> sequential aggregate), not
    ``F.avg``: a shuffle-order float sum can land a different ULP on
    different runs/engines, and at 5k docs one of them WILL sit on a
    6dp rounding boundary eventually (observed as a once-per-several-
    runs hash flake at sf0.1 in r5). Sorting pins the summation order
    on both engines; the list is per-document token values, so the
    state is bounded by document length, not corpus size.

    No counterpart in the reference engine (SURVEY.md §2.2 — no
    aggregation); the formula follows the public DSIR description.
    """
    toks = df.select(
        F.col(id_col),
        target_filter.alias("__in_target"),
        F.explode(tokenize(normalize_text(text_col))).alias("w"),
    )
    vocab = toks.groupBy("w").agg(
        F.count("*").alias("__c_all"),
        F.count(F.when(F.col("__in_target"), 1)).alias("__c_t"),
    )
    consts = vocab.agg(
        F.count("*").alias("__v"),
        F.sum("__c_all").alias("__total_all"),
        F.sum("__c_t").alias("__total_t"),
    )
    log_ratio = F.log10(
        (F.col("__c_t") + 1.0) / (F.col("__total_t") + F.col("__v"))
    ) - F.log10(
        (F.col("__c_all") + 1.0) / (F.col("__total_all") + F.col("__v"))
    )
    vals = F.sort_array(F.collect_list(log_ratio))
    mean = F.aggregate(
        vals, F.lit(0.0), lambda acc, x: acc + x
    ) / F.size(vals)
    return (
        toks.join(vocab, "w")
        .crossJoin(F.broadcast(consts))
        .groupBy(id_col)
        .agg(F.round(mean, ndigits).alias(out_col))
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    ndigits: int = 6,
) -> DataFrame:
    """Adjacent-bigram PMI — the phrase-mining statistic (word2phrase /
    Mikolov et al. 2013 use exactly this to promote "new_york"-style
    collocations before embedding training):

        pmi(a,b) = log10 p(ab) - log10 p(a) - log10 p(b)

    with p(ab) over the corpus bigram count and p(a), p(b) over the
    unigram counts. Output: (w1, w2, n_pair, pmi) for pairs with
    ``n_pair >= min_count``. The log-difference form (not a fused
    ratio) keeps the float ops identical across engines for the
    oracle.

    Data flow: bigrams come from a zip-with-shifted-self projection
    (NO window/lag shuffle — adjacency is in-row); then one groupBy
    per statistic (pair counts, unigram counts) and two token-key
    joins of the (already tiny, min_count-filtered) pair table against
    the vocabulary. Totals stay lazy 1-row broadcasts. At 100 TB the
    pair count groupBy is the dominant shuffle — Zipf-distributed but
    map-side combinable, the word-count profile again.

    No counterpart in the reference engine (SURVEY.md §2.2 — no
    aggregation).
    """
    ts = tokenize(normalize_text(text_col))
    toked = df.select(ts.alias("__ts"))
    uni = toked.select(F.explode("__ts").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("__cw"))
    tot = uni.agg(F.count("*").alias("__t"))
    bi = toked.select(
        F.explode(
            F.zip_with(
                # clamp at 0: a slice length of -1 (empty token array)
                # raises INVALID_PARAMETER_VALUE.LENGTH
                F.slice(
                    F.col("__ts"), 1, F.greatest(F.size("__ts") - 1, F.lit(0))
                ),
                F.slice(
                    F.col("__ts"), 2, F.greatest(F.size("__ts") - 1, F.lit(0))
                ),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    btot = bi.agg(F.count("*").alias("__b"))
    c1 = uc.select(F.col("w").alias("w1"), F.col("__cw").alias("__c1"))
    c2 = uc.select(F.col("w").alias("w2"), F.col("__cw").alias("__c2"))
    pmi = (
        F.log10(F.col("n_pair") / F.col("__b"))
        - F.log10(F.col("__c1") / F.col("__t"))
        - F.log10(F.col("__c2") / F.col("__t"))
    )
    return (
        bc.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1", "w2", "n_pair", F.round(pmi, ndigits).alias("pmi")
        )
    )


def bpe_word_symbols(
    df: DataFrame, text_col: str = "text", eow: str = "</w>"
) -> DataFrame:
    """Distinct corpus words as BPE symbol arrays with counts.

    Output ``(w, n_word, syms)`` where ``syms`` is the word split into
    characters with ``eow`` appended to the last one (the Sennrich et
    al. 2016 word representation, arXiv:1508.07909). One word-count
    shuffle; everything after it operates on the VOCABULARY (Zipf: tiny
    relative to the corpus), which is what makes corpus-scale BPE
    training tractable — the token stream is never touched again.
    """
    uni = df.select(F.explode(tokenize(normalize_text(text_col))).alias("w"))
    wc = uni.groupBy("w").agg(F.count("*").alias("n_word"))
    chars = F.regexp_extract_all(F.col("w"), F.lit("."), 0)
    syms = F.concat(
        F.slice(chars, 1, F.size(chars) - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(eow))),
    )
    return wc.select("w", "n_word", syms.alias("syms"))


def bpe_pair_counts(symbols: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency — the
    statistic a BPE trainer maximizes each round. Input is
    ``bpe_word_symbols`` output (or the re-merged table mid-training).

    Pairs come from a zip-with-shifted projection (adjacency is
    in-row, no window); the groupBy is vocabulary-sized and map-side
    combinable. Output ``(sym_a, sym_b, n_pair)``.
    """
    pairs = symbols.select(
        F.col("n_word"),
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
                lambda a, b: F.struct(a.alias("sym_a"), b.alias("sym_b")),
            )
        ).alias("p"),
    ).select("p.sym_a", "p.sym_b", "n_word")
    return pairs.groupBy("sym_a", "sym_b").agg(F.sum("n_word").alias("n_pair"))


def _apply_bpe_merge(syms: F.Column, a: str, b: str) -> F.Column:
    """Greedy left-to-right application of one merge (a, b) -> ab over a
    symbol array, as a pure-Column fold: append each symbol unless the
    accumulator's tail is ``a`` and the symbol is ``b``, in which case
    replace the tail with the merged symbol. Matches the sequential
    semantics of the reference BPE algorithm (e.g. 'aaa' + (a,a) ->
    [aa, a], not [a, aa])."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    eow: str = "</w>",
    ndigits: int = 6,
) -> DataFrame:
    """Apply a learned BPE merge list to a corpus — the inference half
    of the Sennrich pipeline (``learn_bpe_merges`` is the trainer; a
    production tokenizer arrives as exactly this artifact, an ordered
    merge list). Output one row per document with at least one token:
    ``(id, n_words, n_subwords, fertility, encoded_text)`` —
    ``encoded_text`` is the subword stream in original word order
    joined with spaces, ``fertility`` the rounded subwords-per-word
    ratio (the number a tokenizer review reads per corpus slice).

    Scale shape — encode the VOCABULARY, not the token stream: merges
    fold over the DISTINCT-word table (Zipf: tiny relative to the
    corpus; one staged vocab-sized pass per merge so lineage never
    stacks folds), and the token stream only pays a word-key join plus
    one per-document reassembly groupBy. Applying the fold per token
    occurrence would redo identical work millions of times — the same
    argument that makes corpus-scale BPE training tractable.

    Merges apply in LIST ORDER, each greedy left-to-right over the
    word's symbol array (``_apply_bpe_merge`` — 'aaa' + (a,a) ->
    [aa, a]); the reference semantics, and what a SQL oracle replays
    with the wrapped-element list fold.
    """
    from .staging import stage

    vocab = bpe_word_symbols(df, text_col, eow).select("w", "syms")
    for i, m in enumerate(merges):
        a, b = m[0], m[1]
        vocab = stage(
            vocab.withColumn(
                "syms", _apply_bpe_merge(F.col("syms"), a, b)
            ),
            f"bpe_enc_v{i + 1}",
            eager=False,
        )
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokenize(normalize_text(text_col))).alias(
            "__pos", "w"
        ),
    )
    joined = toks.join(vocab, "w")
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("__pos"), F.col("syms")))
        ),
        lambda s: s["syms"],
    )
    n_sub = F.aggregate(
        ordered,
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.size(s),
    )
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_words"),
        n_sub.alias("n_subwords"),
        F.round(
            n_sub / F.count("*").cast("double"), ndigits
        ).alias("fertility"),
        F.array_join(F.flatten(ordered), " ").alias("encoded_text"),
    )


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn the first ``n_merges`` BPE merges from a corpus (Sennrich
    et al. 2016): each round, count adjacent symbol pairs over the
    vocabulary, take the most frequent (ties broken lexicographically
    for determinism), and re-merge the symbol arrays.

    Returns ``[(sym_a, sym_b, n_pair), ...]`` in merge order.

    Scale: the corpus is scanned ONCE (word count); every round after
    that runs over the distinct-word table — one vocabulary-sized
    groupBy plus a 1-row driver collect per round. The re-merged
    vocabulary is staged per round (``staging.stage``) so lineage
    doesn't stack ``n_merges`` folds deep.
    """
    from .staging import stage

    vocab = stage(bpe_word_symbols(df, text_col), "bpe_v0")
    merges: list[tuple[str, str, int]] = []
    for rnd in range(n_merges):
        top = (
            bpe_pair_counts(vocab)
            .orderBy(F.desc("n_pair"), F.asc("sym_a"), F.asc("sym_b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n_pair"] < 1:
            break  # vocabulary fully merged
        a, b, n = top[0]["sym_a"], top[0]["sym_b"], top[0]["n_pair"]
        merges.append((a, b, n))
        vocab = stage(
            vocab.withColumn("syms", _apply_bpe_merge(F.col("syms"), a, b)),
            f"bpe_v{rnd + 1}",
        )
    return merges


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 1000,
    ndigits: int = 6,
) -> DataFrame:
    """Zipf power-law fit over the HEAD of the term-frequency
    distribution: least-squares slope/intercept of log10(freq) vs
    log10(rank) across the ``top_k`` most frequent terms — the
    vocabulary-health number (natural language sits near slope -1;
    template farms and synthetic spam bend it) that complements
    ``powerlaw_alpha``'s tail-index MLE on degree data.

    Output: one row ``(n_terms, slope, intercept)``.

    Head-only fitting is the standard methodology (the tail deviates
    from Zipf in every real corpus) AND the scalable shape: the top-k
    is a TakeOrderedAndProject (no vocabulary-wide rank window — the
    c=1 frequency class holds most of a web-scale vocabulary and would
    single-partition a rank window); the k-row fit frame is bounded by
    construction, so its row_number window is safe.

    Determinism: per-term log10(rank)/log10(freq) are 6dp-rounded and
    lifted to integer micro-units; all regression sums are EXACT
    decimal arithmetic; slope is one double division of bit-identical
    integers, intercept reuses the ROUNDED slope — an oracle replays
    every step.
    """
    counts = (
        df.select(F.explode(tokenize(normalize_text(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("__c"))
        .orderBy(F.desc("__c"), F.asc("w"))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("__c"), F.asc("w"))
    pts = counts.withColumn("__r", F.row_number().over(w)).select(
        exact(F.round(F.log10(F.col("__r").cast("double")) * 1e6, 0))
        .alias("__x"),
        exact(F.round(F.log10(F.col("__c").cast("double")) * 1e6, 0))
        .alias("__y"),
    )
    agg = pts.agg(
        exact(F.count("*")).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.when(
        den != 0,
        F.round(num.cast("double") / den.cast("double"), ndigits),
    )
    return agg.select(
        F.col("__n").cast("long").alias("n_terms"),
        slope.alias("slope"),
        F.when(
            den != 0,
            F.round(
                (
                    F.col("__sy").cast("double") / 1e6
                    - F.round(
                        num.cast("double") / den.cast("double"), ndigits
                    )
                    * (F.col("__sx").cast("double") / 1e6)
                )
                / F.col("__n").cast("double"),
                ndigits,
            ),
        ).alias("intercept"),
    )


def source_kl_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    ndigits: int = 6,
) -> DataFrame:
    """KL(source || corpus) over add-one-smoothed unigram
    distributions — the drift score that tells a mixing pipeline which
    sources look least like the blend they feed (high KL = distinct
    vocabulary; sudden movement = upstream content change).

        p_s(w) = (c_s(w) + 1) / (T_s + V)
        p_c(w) = (c(w) + 1) / (T + V)
        KL(s)  = sum over the WHOLE vocabulary of p_s ln(p_s / p_c)

    The sum runs over every vocabulary word for every source (absent
    words carry smoothed mass — dropping them biases KL low), so the
    grid is |S| x |V| rows: the honest cost of exact KL. The corpus is
    scanned once (token explode feeding both count tables); everything
    after operates on vocabulary-sized frames. At extreme vocabulary
    sizes, truncate to the top-V words by corpus count first — the
    standard practice — which only shrinks this grid.

    Output: ``(group_col, n_tokens, kl)``.
    """
    from .staging import stage

    toks = df.select(
        F.col(group_col), F.explode(tokenize(normalize_text(text_col))).alias("w")
    )
    # ONE corpus scan: the (source, word) table is staged and every
    # other statistic (vocabulary counts, per-source totals, V, T) is a
    # rollup of it — without the staging, three independent consumers
    # would re-tokenize the corpus three times
    per_sw = stage(
        toks.groupBy(group_col, "w").agg(F.count("*").alias("__c_sw")),
        "kl_source_words",
    )
    vocab = per_sw.groupBy("w").agg(F.sum("__c_sw").alias("__c_all"))
    totals_s = per_sw.groupBy(group_col).agg(F.sum("__c_sw").alias("__t_s"))
    consts = vocab.agg(
        F.count("*").alias("__v"), F.sum("__c_all").alias("__t")
    )
    grid = (
        totals_s.crossJoin(vocab)
        .join(per_sw, [group_col, "w"], "left")
        .crossJoin(F.broadcast(consts))
        .withColumn("__c_sw", F.coalesce("__c_sw", F.lit(0)))
    )
    p_s = (F.col("__c_sw") + 1.0) / (F.col("__t_s") + F.col("__v"))
    p_c = (F.col("__c_all") + 1.0) / (F.col("__t") + F.col("__v"))
    term = p_s * (F.log(p_s) - F.log(p_c))
    return (
        grid.groupBy(group_col)
        .agg(
            F.max("__t_s").alias("n_tokens"),
            F.round(F.sum(term), ndigits).alias("kl"),
        )
    )


def skipgram_pairs(
    df: DataFrame, text_col: str = "text", window: int = 2
) -> DataFrame:
    """(center, context, n_pair) counts for skip-gram training — the
    (word, context-word-within-±window) co-occurrence table word2vec
    and GloVe train from (Mikolov et al. 2013, arXiv:1301.3781).

    Pair generation is entirely IN-ROW (an indexed transform over the
    token array slicing its own ±window neighborhood — no self-join,
    no lag window, no shuffle until the final count), so the only
    shuffle is one map-side-combinable groupBy over (center, context).
    At corpus scale the exploded pair stream is 2·window × token count
    rows of two short strings; the classic word-count profile.
    """
    ts = tokenize(normalize_text(text_col))
    toked = df.select(ts.alias("__ts"))
    pairs = F.flatten(
        F.transform(
            F.col("__ts"),
            lambda t, i: F.transform(
                F.concat(
                    # left neighbors: positions max(1, i+1-w) .. i (1-based)
                    F.slice(
                        F.col("__ts"),
                        F.greatest(i + 1 - window, F.lit(1)),
                        F.least(i, F.lit(window)),
                    ),
                    # right neighbors: i+2 .. i+1+w, slice clips the tail
                    F.slice(F.col("__ts"), i + 2, F.lit(window)),
                ),
                lambda c: F.struct(t.alias("center"), c.alias("context")),
            ),
        )
    )
    return (
        toked.select(F.explode(pairs).alias("p"))
        .select("p.center", "p.context")
        .groupBy("center", "context")
        .agg(F.count("*").alias("n_pair"))
    )


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    out_col: str = "bigram_logprob",
    ndigits: int = 6,
) -> DataFrame:
    """Interpolated-bigram LM document scores — one modeling step up
    from ``unigram_logprob_scores`` and the closest pure-SQL shape to
    the KenLM perplexity filters production corpus pipelines run:
    word-salad documents pass a unigram filter (common words!) but
    fail this one, because their ADJACENCIES never occur elsewhere.

        p_big(w2|w1) = (c(w1 w2) + 1) / (c_start(w1) + V)
        p_uni(w)     = (c(w) + 1) / (total + V)
        score(d)     = avg over bigram positions of
                       log10(lam * p_big + (1-lam) * p_uni(w2))

    Jelinek-Mercer interpolation with add-one smoothing over the corpus
    vocabulary V, so unseen bigrams back off to the unigram term and
    every position has finite mass. Documents with < 2 tokens (including
    empty / whitespace-only text) have no bigram positions and are
    absent (same contract as the unigram scorer: length-filter first);
    the slice length is clamped at 0 so such rows project an empty
    bigram array instead of raising INVALID_PARAMETER_VALUE.LENGTH.

    Data flow: bigrams are the zip-with-shifted-self projection
    (pmi_bigrams — adjacency is in-row, no lag window); bigram counts
    and context counts are word-count-profile groupBys (map-side
    combinable, the context table derives from the ALREADY-aggregated
    bigram table, not a second corpus pass); the per-position
    probabilities come from three token-key joins; the per-document
    mean folds over SORTED values (importance_weights — shuffle-order
    float sums flip 6dp boundaries between engines). Swapping the
    self-trained count tables for broadcast pretrained ones turns this
    into the KenLM-style scorer unchanged.

    No counterpart in the reference engine (SURVEY.md §2.2 — no
    aggregation at all); formula per Jelinek-Mercer smoothing
    (public LM literature).
    """
    ts = tokenize(normalize_text(text_col))
    toked = df.select(F.col(id_col), ts.alias("__ts"))
    uni = toked.select(F.col(id_col), F.explode("__ts").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("__cw"))
    consts = uc.agg(
        F.count("*").alias("__v"), F.sum("__cw").alias("__total")
    )
    big = toked.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                # clamp at 0: a slice length of -1 (empty token array)
                # raises INVALID_PARAMETER_VALUE.LENGTH
                F.slice(
                    F.col("__ts"), 1, F.greatest(F.size("__ts") - 1, F.lit(0))
                ),
                F.slice(
                    F.col("__ts"), 2, F.greatest(F.size("__ts") - 1, F.lit(0))
                ),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select(id_col, "p.w1", "p.w2")
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("__cb"))
    ctx = bc.groupBy("w1").agg(F.sum("__cb").alias("__cstart"))
    uc2 = uc.select(F.col("w").alias("w2"), F.col("__cw").alias("__cw2"))
    val = F.log10(
        F.lit(lam)
        * ((F.col("__cb") + 1.0) / (F.col("__cstart") + F.col("__v")))
        + F.lit(1.0 - lam)
        * ((F.col("__cw2") + 1.0) / (F.col("__total") + F.col("__v")))
    )
    vals = F.sort_array(F.collect_list(val))
    mean = F.aggregate(vals, F.lit(0.0), lambda acc, x: acc + x) / F.size(
        vals
    )
    return (
        big.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uc2, "w2")
        .crossJoin(F.broadcast(consts))
        .groupBy(id_col)
        .agg(F.round(mean, ndigits).alias(out_col))
    )


def _lm_tokenized(
    frame: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, token-array) projection shared by the n-gram LM scorers."""
    ts = tokenize(normalize_text(text_col))
    return frame.select(F.col(id_col), ts.alias("__ts"))


def _lm_grams(frame: DataFrame, n: int, id_col: str) -> DataFrame:
    """Explode the in-row n-gram positions (zip-with-shifted slices —
    no lag window) of a ``_lm_tokenized`` frame as struct column
    ``g`` with fields w1..wn."""
    sl = [
        F.slice(
            F.col("__ts"), k + 1,
            F.greatest(F.size("__ts") - (n - 1), F.lit(0)),
        )
        for k in range(n)
    ]
    if n == 1:
        g = F.transform(sl[0], lambda a: F.struct(a.alias("w1")))
    elif n == 2:
        g = F.zip_with(
            sl[0], sl[1],
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
    else:
        g = F.zip_with(
            F.zip_with(
                sl[0], sl[1],
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
            sl[2],
            lambda p, c: F.struct(
                p["w1"].alias("w1"), p["w2"].alias("w2"), c.alias("w3")
            ),
        )
    return frame.select(F.col(id_col), F.explode(g).alias("g"))


def stupid_backoff_scores(
    df: DataFrame,
    train_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    out_col: str = "sb_logprob",
    ndigits: int = 6,
) -> DataFrame:
    """Stupid Backoff trigram LM scores (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the web-scale LM scheme
    built for exactly this engine shape: NO normalization pass, just
    raw count ratios with a fixed backoff penalty):

        S(w3|w1 w2) = c(w1 w2 w3)/c(w1 w2)        if the trigram is
                                                   in the TRAIN counts
                    = alpha * S(w3|w2)             otherwise
        S(w3|w2)    = c(w2 w3)/c(w2)              if the bigram is
                    = alpha * S(w3)                otherwise
        S(w3)       = (c(w3) + 1)/(N + V)          (add-one floor — the
                       one departure from the paper, so an OOV token
                       scores finitely instead of log10(0); documented)

        score(d) = mean over trigram positions of
                   round(log10(S), 6)

    Counts come from ``train_df`` (a HELD-OUT corpus — the
    configuration where backoff actually fires; scoring a corpus with
    its own counts never leaves the trigram level and the operator
    degenerates to a ratio scan). Documents with < 3 tokens have no
    trigram positions and are absent, the ``bigram_logprob_scores``
    contract. Per-position values are 6dp-rounded BEFORE the sorted
    fold, so sort keys and the folded sum are cross-engine identical.

    Data flow: trigram/bigram projections are in-row zip-with-shifted
    slices (no lag windows); the three count tables are map-side
    combinable groupBys over the train corpus; scoring is three LEFT
    token-key joins plus one broadcast constants row; the per-document
    mean folds a sorted rounded list. Swap ``train_df`` for a
    pretrained broadcast count table and this IS the KenLM-style
    production filter.
    """
    if train_df is None:
        train_df = df

    def _toked(frame: DataFrame) -> DataFrame:
        return _lm_tokenized(frame, text_col, id_col)

    def _grams(frame: DataFrame, n: int):
        return _lm_grams(frame, n, id_col)

    tr = _toked(train_df)
    uc = _grams(tr, 1).groupBy(F.col("g.w1").alias("w")).agg(
        F.count("*").alias("__c1")
    )
    consts = uc.agg(
        F.count("*").alias("__v"), F.sum("__c1").alias("__n")
    )
    bc = _grams(tr, 2).groupBy(
        F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    ).agg(F.count("*").alias("__c2"))
    tc = _grams(tr, 3).groupBy(
        F.col("g.w1").alias("w1"),
        F.col("g.w2").alias("w2"),
        F.col("g.w3").alias("w3"),
    ).agg(F.count("*").alias("__c3"))

    pos = _grams(_toked(df), 3).select(
        id_col,
        F.col("g.w1").alias("w1"),
        F.col("g.w2").alias("w2"),
        F.col("g.w3").alias("w3"),
    )
    c3 = F.coalesce("__c3", F.lit(0))
    c12 = F.coalesce("__c12", F.lit(0))
    c23 = F.coalesce("__c23", F.lit(0))
    c2 = F.coalesce("__cw2", F.lit(0))
    c3u = F.coalesce("__cw3", F.lit(0))
    uni_floor = (c3u + 1.0) / (F.col("__n") + F.col("__v"))
    s = F.when((c3 > 0) & (c12 > 0), c3 / c12.cast("double")).otherwise(
        F.lit(alpha)
        * F.when((c23 > 0) & (c2 > 0), c23 / c2.cast("double")).otherwise(
            F.lit(alpha) * uni_floor
        )
    )
    val = F.round(F.log10(s), 6)
    vals = F.sort_array(F.collect_list(val))
    mean = F.aggregate(vals, F.lit(0.0), lambda acc, x: acc + x) / F.size(
        vals
    )
    scored = (
        pos.join(
            tc.select(
                "w1", "w2", "w3", F.col("__c3").alias("__c3")
            ),
            ["w1", "w2", "w3"],
            "left",
        )
        .join(
            bc.select(
                F.col("w1"), F.col("w2"), F.col("__c2").alias("__c12")
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            bc.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("__c2").alias("__c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            uc.select(F.col("w").alias("w2"), F.col("__c1").alias("__cw2")),
            "w2",
            "left",
        )
        .join(
            uc.select(F.col("w").alias("w3"), F.col("__c1").alias("__cw3")),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(consts))
    )
    return scored.groupBy(id_col).agg(
        F.round(mean, ndigits).alias(out_col)
    )


def kneser_ney_scores(
    df: DataFrame,
    train_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    out_col: str = "kn_logprob",
    ndigits: int = 6,
) -> DataFrame:
    """Interpolated Kneser-Ney trigram LM scores (Kneser & Ney 1995;
    Chen & Goodman 1999 — the smoothing KenLM ships and CCNet's
    perplexity filter runs on; public literature). The canonical
    upgrade over :func:`stupid_backoff_scores`: absolute discounting
    redistributes exactly ``D`` of each seen n-gram's mass to an
    interpolated lower order whose counts are CONTINUATION counts
    ("how many distinct contexts precede this gram"), so 'Francisco'
    (frequent, but only ever after 'San') stops stealing unigram mass.

    With T = train trigram types, B = train bigram types, D the
    discount:

        P(w3|w1 w2) = max(c3 - D, 0)/c2(w1 w2)
                      + D * foll3(w1 w2)/c2(w1 w2) * P(w3|w2)
            when c2(w1 w2) > 0 and foll3(w1 w2) > 0, else P(w3|w2)
        P(w3|w2)    = max(cont32(w2 w3) - D, 0)/mid(w2)
                      + D * foll2(w2)/mid(w2) * Pc(w3)
            when mid(w2) > 0, else Pc(w3)
        Pc(w3)      = (contU(w3) + 1)/(|B| + V + 1)

    where foll3(u v) = |{w: (u,v,w) in T}|, cont32(v w) =
    |{u: (u,v,w) in T}|, mid(v) = |{(u,w): (u,v,w) in T}|, foll2(v) =
    |{w: (v,w) in B}|, contU(w) = |{v: (v,w) in B}|, V = train
    vocabulary size. The unigram level carries the same add-one floor
    as ``stupid_backoff_scores`` (the one departure from the paper,
    documented there) so OOV tokens score finitely; the ``foll3 = 0``
    guard (a bigram seen only document-final has count but no
    continuation mass) backs off instead of emitting probability 0.

        score(d) = mean over trigram positions of round(log10(P), 6)

    Counts come from ``train_df`` (HELD-OUT, the stupid_backoff
    contract — self-scoring never leaves the trigram level); documents
    with < 3 tokens are absent. Every probability is a fixed dag of
    +,-,*,/ over exact integer counts (D = 0.75 is binary-exact), so
    the value is bit-identical cross-engine; per-position values are
    6dp-rounded BEFORE the sorted fold, the repo's float discipline.

    Data flow: the count tables are five map-side-combinable groupBys
    over train trigram/bigram TYPES (type tables are distinct-gram
    sized, far below token count); scoring is left joins on gram keys
    plus one broadcast constants row — the stupid_backoff plan shape
    with continuation tables instead of raw lower-order counts.
    """
    if train_df is None:
        train_df = df
    d_lit = F.lit(float(discount))

    tr = _lm_tokenized(train_df, text_col, id_col)
    # type tables: trigram types once, bigram types once
    tc = _lm_grams(tr, 3, id_col).groupBy(
        F.col("g.w1").alias("w1"),
        F.col("g.w2").alias("w2"),
        F.col("g.w3").alias("w3"),
    ).agg(F.count("*").alias("__c3"))
    bc = _lm_grams(tr, 2, id_col).groupBy(
        F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    ).agg(F.count("*").alias("__c2"))
    # continuation / follower censuses over the TYPE tables
    foll3 = tc.groupBy("w1", "w2").agg(
        F.count("*").alias("__f3")
    )
    cont32 = tc.groupBy("w2", "w3").agg(
        F.count("*").alias("__k32")
    )
    mid = tc.groupBy("w2").agg(F.count("*").alias("__mid"))
    foll2 = bc.groupBy(F.col("w1").alias("w2")).agg(
        F.count("*").alias("__f2")
    )
    contu = bc.groupBy(F.col("w2").alias("w3")).agg(
        F.count("*").alias("__ku")
    )
    vocab = _lm_grams(tr, 1, id_col).groupBy(F.col("g.w1").alias("w")).agg(
        F.count("*").alias("__c1")
    )
    consts = vocab.agg(F.count("*").alias("__v")).crossJoin(
        bc.agg(F.count("*").alias("__btot"))
    )

    pos = _lm_grams(_lm_tokenized(df, text_col, id_col), 3, id_col).select(
        id_col,
        F.col("g.w1").alias("w1"),
        F.col("g.w2").alias("w2"),
        F.col("g.w3").alias("w3"),
    )
    scored = (
        pos.join(tc, ["w1", "w2", "w3"], "left")
        .join(bc.withColumnRenamed("__c2", "__c12"), ["w1", "w2"], "left")
        .join(foll3, ["w1", "w2"], "left")
        .join(cont32, ["w2", "w3"], "left")
        .join(mid, "w2", "left")
        .join(foll2, "w2", "left")
        .join(contu, "w3", "left")
        .crossJoin(F.broadcast(consts))
    )
    c3 = F.coalesce("__c3", F.lit(0)).cast("double")
    c12 = F.coalesce("__c12", F.lit(0)).cast("double")
    f3 = F.coalesce("__f3", F.lit(0)).cast("double")
    k32 = F.coalesce("__k32", F.lit(0)).cast("double")
    midc = F.coalesce("__mid", F.lit(0)).cast("double")
    f2 = F.coalesce("__f2", F.lit(0)).cast("double")
    ku = F.coalesce("__ku", F.lit(0)).cast("double")
    pc = (ku + F.lit(1.0)) / (
        F.col("__btot") + F.col("__v") + F.lit(1.0)
    )
    p2 = F.when(
        midc > 0,
        F.greatest(k32 - d_lit, F.lit(0.0)) / midc
        + d_lit * f2 / midc * pc,
    ).otherwise(pc)
    p3 = F.when(
        (c12 > 0) & (f3 > 0),
        F.greatest(c3 - d_lit, F.lit(0.0)) / c12
        + d_lit * f3 / c12 * p2,
    ).otherwise(p2)
    # per-position 6dp values as exact micro-unit longs: the per-doc
    # MEAN of 6dp grid values lands exactly on a 6dp midpoint whenever
    # 2n divides the sum's last digit pattern (observed at sf0.1,
    # doc mean -1.5819955), and there Spark's BigDecimal half-up on
    # the slightly-off double disagrees with DuckDB's multiply-based
    # round — the repo's midpoint trap. Integer sum + explicit
    # half-away division is exact on both engines AND order-free
    # (map-side combinable; no collect_list fold at all).
    val = F.round(F.log10(p3), ndigits)
    vm = F.round(val * F.lit(float(10 ** ndigits)), 0).cast("long")
    agged = scored.groupBy(id_col).agg(
        F.sum(vm).alias("__s"), F.count("*").alias("__n")
    )
    m = F.floor(
        (2 * F.abs(F.col("__s")) + F.col("__n"))
        / (2.0 * F.col("__n"))
    )
    mean_micro = F.when(F.col("__s") >= 0, m).otherwise(-m)
    return agged.select(
        id_col,
        (mean_micro / F.lit(10.0 ** ndigits)).alias(out_col),
    )


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "unigram_logprob",
    ndigits: int = 6,
) -> DataFrame:
    """Score each document by avg log10 of its tokens' corpus unigram
    probabilities (count(w)/total over the SAME frame). Documents with
    no tokens are absent from the output (they have no distribution to
    score — filter them beforehand with a length rule)."""
    toks = df.select(
        F.col(id_col), F.explode(tokenize(normalize_text(text_col))).alias("w")
    )
    vocab = toks.groupBy("w").agg(F.count("*").alias("__c"))
    total = toks.agg(F.count("*").alias("__total"))
    return (
        toks.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.round(
                F.avg(F.log10(F.col("__c") / F.col("__total"))), ndigits
            ).alias(out_col)
        )
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    n_buckets: int = 10,
    ndigits: int = 6,
) -> DataFrame:
    """The perplexity-filter decision table (CCNet / Wenzek et al.
    2020 shape, public literature): documents scored by corpus
    unigram log-probability, cut into ``n_buckets`` exact deciles,
    and summarized per bucket — ``(bucket, n_docs, lo_score,
    hi_score, chars, char_share)``. A curation pipeline reads this
    table to pick which perplexity band to keep (the middle buckets,
    typically: very low = boilerplate, very high = noise).

    Deciles come from ``ranking.scalable_ntile`` over the ROUNDED
    score with the id as tie-break — no global single-partition
    window, and the oracle's plain ``ntile`` reproduces it exactly.
    Char sums are integer-exact; ``char_share`` is one rounded
    division.

    Scale: the unigram scoring is explode + one vocab shuffle + one
    per-doc aggregate (see unigram_logprob_scores); the tiling is
    two-pass; the rollup is |buckets| rows.
    """
    scored = unigram_logprob_scores(
        df, text_col=text_col, id_col=id_col, ndigits=ndigits
    ).join(df.select(id_col, size_col), id_col)
    tiled = scalable_ntile(
        scored,
        [F.col("unigram_logprob"), F.col(id_col)],
        n_buckets,
        out_col="bucket",
    )
    total = F.broadcast(
        tiled.agg(F.sum(size_col).alias("__total_chars"))
    )
    return (
        tiled.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("unigram_logprob").alias("lo_score"),
            F.max("unigram_logprob").alias("hi_score"),
            F.sum(size_col).alias("chars"),
        )
        .crossJoin(total)
        .select(
            "bucket",
            "n_docs",
            "lo_score",
            "hi_score",
            F.col("chars").cast("long").alias("chars"),
            F.round(
                F.col("chars") / F.col("__total_chars"), ndigits
            ).alias("char_share"),
        )
    )


def oov_rate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
    ndigits: int = 6,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` tokens — the coverage check run before
    committing to a tokenizer/embedding vocabulary (fastText and
    word2vec preprocessing report exactly this; public literature):
    a document full of OOV tokens will train badly and is usually
    boilerplate, another language, or junk.

    Vocabulary selection is deterministic: top tokens by (count
    desc, token asc). Output per document: ``(id, n_tokens, n_oov,
    oov_ratio)`` with one rounded division; empty documents report
    0 tokens and NULL ratio.

    Scale: one token-count groupBy (word-count shape) for the
    vocabulary; the top-N is a TakeOrdered over the aggregated
    vocabulary table (never raw data). Per-doc scoring explodes
    tokens once and joins the BROADCAST vocab (≤ vocab_size rows).
    """
    from ..functions.text import normalize_text, tokenize

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokenize(normalize_text(F.col(text_col)))).alias("__w"),
    )
    vocab = (
        toks.groupBy("__w")
        .agg(F.count("*").alias("__c"))
        .orderBy(F.desc("__c"), F.asc("__w"))
        .limit(int(vocab_size))
        .select("__w", F.lit(1).alias("__in_vocab"))
    )
    scored = toks.join(F.broadcast(vocab), "__w", "left")
    per_doc = scored.groupBy("__id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )
    # left join back so token-less documents still appear
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    out = ids.join(per_doc, "__id", "left")
    return out.select(
        F.col("__id").alias(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.col("n_oov"), F.lit(0)).alias("n_oov"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("n_oov") / F.col("n_tokens"), ndigits),
        ).alias("oov_ratio"),
    )


def rbo_overlap(
    df: DataFrame,
    class_col: str,
    class_a: str,
    class_b: str,
    text_col: str = "text",
    k: int = 20,
    p: float = 0.9,
    ndigits: int = 6,
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010, public
    literature) between two classes' top-``k`` token rankings — the
    principled "how similar are these two sources' vocabularies"
    score (top-weighted, unlike plain Jaccard of the top-k sets):

        RBO@k = (1-p) * Σ_{d=1..k} p^(d-1) * |A_d ∩ B_d| / d

    Rankings are deterministic (count desc, token asc). The overlap
    census is ONE join of the two top-k lists: a shared term first
    appears in both prefixes at depth max(rank_a, rank_b), so
    |A_d ∩ B_d| is a cumulative count over that max-rank — no
    per-depth rescans. Every p-power is a repr'd Python literal
    shared with the oracle; the depth sum is a FIXED-ORDER fold
    (d ascending) over exact integer overlaps.

    Output: one row ``(class_a, class_b, k, n_shared, rbo)``.

    Scale: two word-count groupBys (map-side combinable); everything
    after the top-k TakeOrdered is ≤ k rows.
    """
    def topk(cls: str) -> DataFrame:
        toks = df.filter(F.col(class_col) == cls).select(
            F.explode(tokenize(normalize_text(F.col(text_col)))).alias(
                "__w"
            )
        )
        counts = toks.groupBy("__w").agg(F.count("*").alias("__c"))
        w = Window.orderBy(F.desc("__c"), F.asc("__w"))
        # k is tiny: the global window runs on the ALREADY AGGREGATED
        # vocab; for huge vocabs swap in ranking.global_row_number
        return (
            counts.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= int(k))
            .select("__w", "__r")
        )
    a = topk(class_a).select(F.col("__w"), F.col("__r").alias("__ra"))
    b = topk(class_b).select(F.col("__w"), F.col("__r").alias("__rb"))
    shared = a.join(b, "__w").select(
        F.greatest(F.col("__ra"), F.col("__rb")).alias("__m")
    )
    # overlap(d) = #shared terms with max-rank <= d; collect the max
    # ranks as a sorted array (<= k values) and fold the RBO sum with
    # literal p powers — every float op in a pinned order
    agg = shared.agg(
        F.count("*").cast("long").alias("n_shared"),
        F.sort_array(F.collect_list("__m")).alias("__ms"),
    )
    pw = [repr((1.0 - p) * (p ** (d - 1)) / d) for d in range(1, k + 1)]

    def _le(depth: int):
        # a plain closure: a default-arg lambda would read as the
        # two-parameter (value, index) HOF form to PySpark
        return lambda m: m <= F.lit(depth)

    rbo = F.lit(0.0)
    for d in range(1, k + 1):
        ov = F.size(F.filter(F.col("__ms"), _le(d))).cast("double")
        rbo = rbo + F.lit(float(pw[d - 1])) * ov
    return agg.select(
        F.lit(class_a).alias("class_a"),
        F.lit(class_b).alias("class_b"),
        F.lit(int(k)).alias("k"),
        "n_shared",
        F.round(rbo, ndigits).alias("rbo"),
    )


def mlm_mask(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_pct: int = 15,
    seed: int = 7,
    mask_token: str = "[MASK]",
    vocab_df: DataFrame | None = None,
) -> DataFrame:
    """Deterministic BERT-style MLM masking (Devlin et al. 2019 §3.1,
    public — the 15% / 80-10-10 recipe) as a pure projection: every
    (document, position) draws its decisions from one md5-derived
    integer, so the SAME masking reproduces on any engine, any
    partitioning, any rerun — the property a training-data pipeline
    needs for resumable preprocessing (true RNG masking is
    partitioning-dependent and un-oracle-able).

    Per 1-based position p: h = first 8 md5 hex digits of
    ``"{id}:{p}:{seed}"`` as an integer;

    - selected iff ``h % 100 < mask_pct``;
    - branch ``(h // 100) % 10``: 0-7 → ``mask_token`` (80%), 8 → a
      random-replacement token at index ``(h // 1000) % V`` (the 10%
      random arm), 9 → keep (the 10% unchanged arm — still a label
      position, per the paper).

    The random arm draws from ``vocab_df`` when supplied (one string
    column; sorted, broadcast as a single array row — the exact BERT
    recipe, which samples from the CORPUS vocabulary) and from the
    document's own tokens otherwise (document-local: no broadcast
    needed, but short or low-diversity documents often redraw the
    original token — a documented fidelity gap vs the paper, the r10
    advisor note).

    Output: ``(id, n_tokens, n_masked, masked_text, labels)`` with
    labels ``pos:original`` space-joined. Tokens are staged in a
    column BEFORE the index lambdas (referencing the tokenize chain
    inside a lambda re-evaluates it per element — the r6 measured
    trap, 10x on quality_classifier).
    """
    base = df.select(
        F.col(id_col),
        tokenize(normalize_text(text_col)).alias("__ts"),
    )
    # stage the per-position decision integers ONCE as an array column
    # (r10 review: computing the md5 hash inside the masked/labels
    # lambdas re-evaluates it up to 5x per token — interpreted
    # higher-order lambdas get no common-subexpression elimination)
    hashes = F.transform(
        F.col("__ts"),
        lambda t, i: F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(":"),
                        (i + 1).cast("string"),
                        F.lit(":"),
                        F.lit(str(seed)),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
    )
    staged = base.withColumn("__h", hashes)
    if vocab_df is not None:
        # corpus-vocabulary random arm: sort for determinism,
        # collapse to ONE array row, broadcast — a BERT vocab is
        # ~30k strings, far under any broadcast threshold, and the
        # corpus side pays a broadcast nested-loop join against a
        # single row (no shuffle)
        vcol = vocab_df.columns[0]
        vrow = vocab_df.select(
            F.sort_array(F.collect_list(F.col(vcol).cast("string")))
            .alias("__vocab")
        )
        staged = staged.join(F.broadcast(vrow))
    ts = F.col("__ts")
    hs = F.col("__h")
    n = F.size("__ts")
    rand_pool = F.col("__vocab") if vocab_df is not None else ts
    pool_n = F.size("__vocab") if vocab_df is not None else n

    def _h(i):
        return F.element_at(hs, i + 1)

    def _sel(i):
        return _h(i) % 100 < mask_pct

    def _branch(i):
        return F.floor(_h(i) / 100).cast("long") % 10

    def _rand_idx(i):
        return (F.floor(_h(i) / 1000).cast("long") % pool_n).cast(
            "int"
        ) + 1

    masked = F.transform(
        ts,
        lambda t, i: F.when(
            _sel(i),
            F.when(_branch(i) <= 7, F.lit(mask_token))
            .when(
                _branch(i) == 8,
                F.element_at(rand_pool, _rand_idx(i)),
            )
            .otherwise(t),
        ).otherwise(t),
    )
    labels = F.filter(
        F.transform(
            ts,
            lambda t, i: F.when(
                _sel(i),
                F.concat((i + 1).cast("string"), F.lit(":"), t),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return staged.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        F.size(labels).cast("long").alias("n_masked"),
        F.array_join(masked, " ").alias("masked_text"),
        F.array_join(labels, " ").alias("labels"),
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    ks: tuple = (100, 1000, 10000),
    ndigits: int = 6,
) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-budget planning table:
    for each candidate vocabulary size k, what fraction of the corpus
    token stream the k most frequent types cover (the knee of this
    curve is where subword tokenizers set their merges; a corpus whose
    top-10k coverage is LOW is multilingual or noisy).

    Output per k: ``(k, n_types, covered_tokens, total_tokens,
    coverage)`` with ``n_types = min(k, |V|)`` and coverage the exact
    half-away micro-unit division (a covered/total ratio can sit
    exactly on the 6dp midpoint — the kneser_ney trap).

    Scale: one word-count groupBy (map-side combinable), then the
    frequency ranking via ``ranking.global_row_number`` — a ranged
    two-pass numbering, NEVER an unpartitioned window, so a >10^8-type
    web vocabulary ranks in parallel (the same setjoin discipline) —
    and ONE aggregate producing every k at once.
    """
    from .ranking import global_row_number

    counts = (
        df.select(
            F.explode(tokenize(normalize_text(text_col))).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("__c"))
    )
    ranked = global_row_number(
        counts, [F.col("__c").desc(), F.col("w")], out_col="__rn"
    )
    scale = int(10 ** ndigits)
    aggs = [
        F.sum("__c").alias("__total"),
        F.count("*").alias("__v"),
    ]
    for k in ks:
        aggs.append(
            F.sum(F.when(F.col("__rn") <= k, F.col("__c"))).alias(
                f"__cov{k}"
            )
        )
    wide = ranked.agg(*aggs)
    per_k = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(int(k)).alias("k"),
                    F.least(
                        F.lit(int(k)).cast("long"), F.col("__v")
                    ).alias("n_types"),
                    F.coalesce(F.col(f"__cov{k}"), F.lit(0))
                    .cast("long")
                    .alias("covered_tokens"),
                )
                for k in ks
            ]
        )
    )
    row = wide.select(
        per_k.alias("s"), F.col("__total").cast("long").alias("total_tokens")
    )
    cov = F.col("s.covered_tokens")
    tot = F.col("total_tokens")
    # decimal(38,0) numerator: 2 * cov * 10^6 wraps int64 past ~4.6e12
    # covered tokens (a few-trillion-token crawl — r10 review); the
    # rational's distance from any integer is >= 1/(2*tot), far above
    # the decimal division's rounding granularity, so the floor is
    # still exact
    covd = exact(cov)
    totd = exact(tot)
    micro = F.floor(
        (2 * covd * F.lit(scale) + totd) / (2 * totd)
    )
    return row.select(
        F.col("s.k").alias("k"),
        F.col("s.n_types").alias("n_types"),
        cov.alias("covered_tokens"),
        tot,
        (micro / F.lit(float(scale))).alias("coverage"),
    )


def span_corrupt(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    start_pct: int = 5,
    max_span: int = 5,
    seed: int = 11,
) -> DataFrame:
    """Deterministic T5-style span corruption (Raffel et al. 2020
    §3.1.4, public — the denoising objective): contiguous token spans
    are replaced by ordered sentinels ``<extra_id_k>`` and the targets
    string carries each sentinel followed by its removed tokens — the
    encoder/decoder pair the objective trains on.

    Decisions are the :func:`mlm_mask` discipline: per (doc, position)
    md5 integers, staged ONCE as an array column. A span STARTS at
    position p when ``h % 100 < start_pct`` and p is past the previous
    span's end (greedy left-to-right, no overlaps); its length is
    ``1 + (h // 100) % max_span`` (uniform 1..max_span, mean 3 at the
    default — with a 5% start rate that corrupts ~15% of tokens, the
    paper's setting). The no-overlap scan is a sequential recurrence,
    expressed as ONE in-row ``aggregate`` fold carrying
    ``[next_free, start1, len1, ...]`` — bounded by document length,
    zero shuffle, and replayable fold-for-fold by the SQL oracle.

    Output: ``(id, n_tokens, n_spans, corrupted, targets)``.
    """
    base = df.select(
        F.col(id_col),
        tokenize(normalize_text(text_col)).alias("__ts"),
    )
    hashes = F.transform(
        F.col("__ts"),
        lambda t, i: F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(":"),
                        (i + 1).cast("string"),
                        F.lit(":"),
                        F.lit(str(seed)),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
    )
    staged = base.withColumn("__h", hashes)
    ts = F.col("__ts")
    hs = F.col("__h")
    n = F.size("__ts")

    def _step(acc, p):
        h = F.element_at(hs, p)
        span_len = F.floor(h / 100).cast("long") % max_span + 1
        start = (h % 100 < start_pct) & (
            p.cast("long") >= F.element_at(acc, 1)
        )
        return F.when(
            start,
            F.concat(
                F.array(p.cast("long") + span_len),
                F.slice(
                    acc, 2, F.greatest(F.size(acc) - 1, F.lit(0))
                ),
                F.array(p.cast("long"), span_len),
            ),
        ).otherwise(acc)

    acc = F.when(
        n > 0,
        F.aggregate(
            F.sequence(F.lit(1), n),
            F.array(F.lit(1).cast("long")),
            _step,
        ),
    ).otherwise(F.array(F.lit(1).cast("long")))
    spans = F.slice(
        acc, 2, F.greatest(F.size(acc) - 1, F.lit(0))
    )
    staged = staged.withColumn("__sp", spans)
    sp = F.col("__sp")
    ns = (F.size("__sp") / 2).cast("int")
    kseq = F.when(ns > 0, F.sequence(F.lit(0), ns - 1)).otherwise(
        F.array().cast("array<int>")
    )
    staged = staged.withColumn("__ks", kseq)
    ks = F.col("__ks")

    def _start_of(k):
        return F.element_at(sp, 2 * k + 1)

    def _len_of(k):
        return F.element_at(sp, 2 * k + 2)

    corrupted_toks = F.filter(
        F.transform(
            ts,
            lambda t, i: F.when(
                F.exists(ks, lambda k: _start_of(k) == (i + 1)),
                F.concat(
                    F.lit("<extra_id_"),
                    F.filter(ks, lambda k: _start_of(k) == (i + 1))[
                        0
                    ].cast("string"),
                    F.lit(">"),
                ),
            ).otherwise(
                F.when(
                    F.exists(
                        ks,
                        lambda k: (_start_of(k) < (i + 1))
                        & ((i + 1) < _start_of(k) + _len_of(k)),
                    ),
                    F.lit(None).cast("string"),
                ).otherwise(t)
            ),
        ),
        lambda x: x.isNotNull(),
    )
    targets = F.transform(
        ks,
        lambda k: F.concat(
            F.lit("<extra_id_"),
            k.cast("string"),
            F.lit("> "),
            F.array_join(
                F.slice(ts, _start_of(k).cast("int"), _len_of(k).cast("int")),
                " ",
            ),
        ),
    )
    return staged.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        F.size(ks).cast("long").alias("n_spans"),
        F.array_join(corrupted_toks, " ").alias("corrupted"),
        F.array_join(targets, " ").alias("targets"),
    )


def good_turing(
    df: DataFrame,
    text_col: str = "text",
    max_r: int = 15,
    ngram: int = 1,
    ndigits: int = 6,
) -> DataFrame:
    """Good-Turing adjusted counts from the counts-of-counts table
    (Good 1953, public literature; the smoothing behind Katz backoff
    and the classic "how much probability mass belongs to unseen
    tokens" answer a corpus pipeline needs when sizing vocabularies):

        r* = (r + 1) * N_{r+1} / N_r        p_gt(r) = r* / N

    for token frequencies r = 1..max_r, where N_r is the number of
    DISTINCT tokens seen exactly r times and N the corpus token
    count.

    Exactness: every N_r and N is an exact integer; r* and p_gt are
    single fixed-order double expressions over those integers,
    rounded once at ``ndigits``. r values with no successor class
    (N_{r+1} = 0) report the literal Good-Turing r* = 0 rather than
    NULL — that zero IS the estimate (the classic reason production
    smoothers switch to Simple GT's regression for sparse high-r
    classes).

    Scale: explode to the token stream, ONE map-side-combinable
    groupBy to the vocabulary, a second to the counts-of-counts
    table (O(sqrt N) rows — r classes thin out hyperbolically), and
    a self-join on r+1 over that tiny table. The max_r cut bounds the
    output, not the computation.

    ``ngram > 1`` smooths the n-gram SHINGLE distribution instead of
    unigrams (word_ngrams over the normalized token stream) — the
    unit whose unseen-mass estimate drives dedup-threshold and
    contamination sizing; small closed vocabularies have empty low-r
    classes and make unigram GT degenerate.

    Output per r: ``(r, n_r, r_star, p_gt)``, ordered by r.
    """
    toks = df.select(F.explode(_units(text_col, ngram)).alias("__w"))
    vocab = toks.groupBy("__w").agg(F.count("*").alias("__r"))
    cc = vocab.groupBy("__r").agg(F.count("*").alias("__nr"))
    total = F.broadcast(
        cc.agg(F.sum(F.col("__r") * F.col("__nr")).cast("long").alias("__n"))
    )
    nxt = cc.select(
        (F.col("__r") - 1).alias("__r"), F.col("__nr").alias("__nr1")
    )
    j = (
        cc.filter(F.col("__r") <= max_r)
        .join(nxt, "__r", "left")
        .crossJoin(total)
    )
    rs = (
        (F.col("__r") + 1).cast("double")
        * F.coalesce(F.col("__nr1"), F.lit(0)).cast("double")
        / F.col("__nr").cast("double")
    )
    return j.select(
        F.col("__r").cast("long").alias("r"),
        F.col("__nr").cast("long").alias("n_r"),
        F.round(rs, ndigits).alias("r_star"),
        F.round(
            (F.col("__r") + 1).cast("double")
            * F.coalesce(F.col("__nr1"), F.lit(0)).cast("double")
            / (F.col("__nr").cast("double") * F.col("__n").cast("double")),
            ndigits + 3,
        ).alias("p_gt"),
    ).orderBy("r")


def _units(text_col: str, ngram: int):
    """Token stream (ngram=1) or word-shingle stream for the
    counts-of-counts estimators; one shared definition so good_turing
    and chao1_richness always count the same units."""
    from ..functions.text import word_ngrams

    if ngram <= 1:
        return tokenize(normalize_text(text_col))
    return word_ngrams(normalize_text(text_col), ngram)


def chao1_richness(
    df: DataFrame,
    text_col: str = "text",
    ngram: int = 1,
    ndigits: int = 6,
) -> DataFrame:
    """Chao1 vocabulary-richness estimate and Turing sample coverage
    (Chao 1984 / Good 1953, public literature) — "how many distinct
    tokens does this corpus REALLY have, and what share of the next
    document's tokens will be ones we've already seen": the two
    numbers that size a tokenizer vocabulary and decide whether more
    crawl data still adds vocabulary.

        chao1    = S_obs + f1 * (f1 - 1) / (2 * (f2 + 1))
        coverage = 1 - f1 / N

    (the bias-corrected Chao1 form, defined even when no token occurs
    exactly twice; f1/f2 = singleton/doubleton counts.)

    Exactness: S_obs, f1, f2, N are exact integers from two
    map-side-combinable groupBys; both estimates are single rounded
    double expressions.

    Output: one row ``(n_tokens, s_obs, f1, f2, chao1, coverage)``.
    """
    toks = df.select(F.explode(_units(text_col, ngram)).alias("__w"))
    vocab = toks.groupBy("__w").agg(F.count("*").alias("__r"))
    agg = vocab.agg(
        F.sum("__r").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("s_obs"),
        F.sum(F.when(F.col("__r") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("__r") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    return agg.select(
        "n_tokens",
        "s_obs",
        "f1",
        "f2",
        F.round(
            F.col("s_obs").cast("double")
            + f1 * (f1 - 1.0) / (2.0 * (f2 + 1.0)),
            ndigits,
        ).alias("chao1"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(1.0 - f1 / F.col("n_tokens").cast("double"), ndigits),
        ).alias("coverage"),
    )


def wordpiece_segment(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 10,
    max_piece: int = 6,
    max_word: int = 24,
    unk: str = "[UNK]",
) -> DataFrame:
    """WordPiece greedy longest-match-first segmentation (Wu et al.
    2016 / the BERT tokenizer, public literature) over a
    corpus-derived piece vocabulary — the OTHER subword family next
    to ``bpe_encode``: BPE applies learned merges bottom-up,
    WordPiece walks each word left-to-right taking the LONGEST vocab
    piece at every position ("maximal munch"), with ``##``-marked
    continuation pieces and whole-word ``[UNK]`` on any failure.

    Vocabulary (deterministic, corpus-derived): the ``top_k`` most
    frequent words (count desc, word asc tie-break) contribute every
    prefix up to ``max_piece`` chars as word-initial pieces and every
    interior substring up to ``max_piece`` as ``##``-continuation
    pieces — a model-sized table (<= top_k * max_piece * max word
    length entries) built from two explodes over the top-k list.

    Encoding runs on DISTINCT words (the bpe_encode
    vocabulary-encode-then-join discipline — the token stream never
    pays per-occurrence work): candidate (word, pos, len) pieces
    explode bounded by ``max_word * max_piece`` per word, one
    broadcast join against the vocabulary, a groupBy (word, pos) max
    for the per-position maximal-munch jump table, and ONE bounded
    fold (``aggregate`` over the word's character positions) that
    walks the jumps and assembles pieces. Words longer than
    ``max_word`` are ``[UNK]`` by contract (BERT's
    max_input_chars_per_word rule).

    Output per distinct word: ``(word, n, n_pieces, pieces)`` with
    ``pieces`` space-joined, ordered by (n desc, word).

    Scale: everything downstream of the distinct-word groupBy is
    bounded by |vocabulary of the corpus|, not corpus size; the
    explodes and the fold are per-distinct-word and clamped by
    max_word/max_piece. No counterpart in the reference engine
    (SURVEY.md §2.2).
    """
    toks = df.select(
        F.explode(tokenize(normalize_text(text_col))).alias("__w")
    )
    words = toks.groupBy("__w").agg(F.count("*").alias("__n"))
    topk = words.orderBy(F.desc("__n"), "__w").limit(int(top_k))
    lens = F.length("__w")
    init = topk.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.least(lens, F.lit(int(max_piece)))),
                lambda l: F.substring(F.col("__w"), F.lit(1), l),
            )
        ).alias("__p")
    )
    cont = (
        topk.filter(lens >= 2)
        .select(
            F.col("__w"),
            F.explode(F.sequence(F.lit(2), lens)).alias("__i"),
        )
        .select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.least(
                            F.lit(int(max_piece)),
                            F.length("__w") - F.col("__i") + 1,
                        ),
                    ),
                    lambda l: F.concat(
                        F.lit("##"),
                        F.substring(F.col("__w"), F.col("__i"), l),
                    ),
                )
            ).alias("__p")
        )
    )
    vocab = init.unionByName(cont).distinct()

    dw = words.withColumn("__len", F.length("__w"))
    inlen = dw.filter(F.col("__len") <= int(max_word))
    cand = inlen.select(
        "__w",
        "__len",
        F.explode(F.sequence(F.lit(1), F.col("__len"))).alias("__pos"),
    ).select(
        "__w",
        "__pos",
        F.explode(
            F.sequence(
                F.lit(1),
                F.least(
                    F.lit(int(max_piece)),
                    F.col("__len") - F.col("__pos") + 1,
                ),
            )
        ).alias("__l"),
    )
    piece = F.when(
        F.col("__pos") == 1,
        F.substring(F.col("__w"), F.col("__pos"), F.col("__l")),
    ).otherwise(
        F.concat(
            F.lit("##"),
            F.substring(F.col("__w"), F.col("__pos"), F.col("__l")),
        )
    )
    jumps = (
        cand.join(F.broadcast(vocab), piece == F.col("__p"))
        .groupBy("__w", "__pos")
        .agg(F.max("__l").alias("__jump"))
    )
    jmap = jumps.groupBy("__w").agg(
        F.map_from_entries(
            F.collect_list(F.struct("__pos", "__jump"))
        ).alias("__jm")
    )
    walked = inlen.join(jmap, "__w", "left").withColumn(
        "__state",
        F.aggregate(
            F.sequence(F.lit(1), F.col("__len")),
            F.struct(
                F.lit(1).cast("int").alias("pos"),
                F.array().cast("array<string>").alias("pieces"),
                F.lit(True).alias("ok"),
            ),
            lambda acc, i: F.when(
                ~acc["ok"] | (i != acc["pos"]), acc
            ).otherwise(
                F.when(
                    F.coalesce(
                        F.element_at(F.col("__jm"), i), F.lit(0)
                    )
                    == 0,
                    F.struct(
                        acc["pos"].alias("pos"),
                        acc["pieces"].alias("pieces"),
                        F.lit(False).alias("ok"),
                    ),
                ).otherwise(
                    F.struct(
                        (
                            acc["pos"]
                            + F.element_at(F.col("__jm"), i)
                        ).cast("int").alias("pos"),
                        F.concat(
                            acc["pieces"],
                            F.array(
                                F.when(
                                    i == 1,
                                    F.substring(
                                        F.col("__w"),
                                        i,
                                        F.element_at(F.col("__jm"), i),
                                    ),
                                ).otherwise(
                                    F.concat(
                                        F.lit("##"),
                                        F.substring(
                                            F.col("__w"),
                                            i,
                                            F.element_at(
                                                F.col("__jm"), i
                                            ),
                                        ),
                                    )
                                )
                            ),
                        ).alias("pieces"),
                        F.lit(True).alias("ok"),
                    )
                )
            ),
        ),
    )
    encoded = walked.select(
        F.col("__w").alias("word"),
        F.col("__n").alias("n"),
        F.when(
            F.col("__state")["ok"], F.col("__state")["pieces"]
        ).otherwise(F.array(F.lit(unk))).alias("__pieces"),
    )
    toolong = dw.filter(F.col("__len") > int(max_word)).select(
        F.col("__w").alias("word"),
        F.col("__n").alias("n"),
        F.array(F.lit(unk)).alias("__pieces"),
    )
    return (
        encoded.unionByName(toolong)
        .select(
            "word",
            F.col("n").cast("long").alias("n"),
            F.size("__pieces").cast("long").alias("n_pieces"),
            F.array_join("__pieces", " ").alias("pieces"),
        )
        .orderBy(F.desc("n"), "word")
    )


def dunning_llr_collocations(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
    ndigits: int = 6,
) -> DataFrame:
    """Collocation mining by Dunning's log-likelihood ratio (Dunning
    1993, public literature) — the statistically sound "which word
    pairs belong together" score (raw PMI over-rewards rare pairs;
    LLR is the fix): over the corpus bigram stream, each pair (w1,
    w2) gets

        LLR = 2 * sum_cells k * ln(k * N / (R * C))

    from the exact 2x2 contingency (k11 = bigram count, margins from
    the positional unigram counts, 0*ln(0) = 0).

    Determinism: every cell count is an exact integer; LLR is one
    fixed-order double expression over the four cells (engine ``ln``
    parity is the mutual_information precedent), rounded once; the
    top-k cut orders by (rounded LLR desc, w1, w2) so the selected
    set is engine-stable.

    Output: top-k rows ``(w1, w2, n_pair, llr)``.

    Scale: one bigram-explode groupBy + two keyed joins against the
    positional unigram tables; everything map-side combinable. No
    counterpart in the reference engine (SURVEY.md §2.2).
    """
    from ..functions.text import word_ngrams

    toks = df.select(
        F.explode(word_ngrams(normalize_text(text_col), 2)).alias("__bg")
    ).select(
        F.split_part(F.col("__bg"), F.lit(" "), F.lit(1)).alias("__w1"),
        F.split_part(F.col("__bg"), F.lit(" "), F.lit(2)).alias("__w2"),
    )
    pairs = toks.groupBy("__w1", "__w2").agg(
        F.count("*").alias("__c12")
    )
    lefts = pairs.groupBy("__w1").agg(F.sum("__c12").alias("__c1"))
    rights = pairs.groupBy("__w2").agg(F.sum("__c12").alias("__c2"))
    total = F.broadcast(
        pairs.agg(F.sum("__c12").cast("long").alias("__n"))
    )
    j = (
        pairs.join(lefts, "__w1")
        .join(rights, "__w2")
        .crossJoin(total)
    )
    nd = F.col("__n").cast("double")
    k11 = F.col("__c12").cast("double")
    k12 = (F.col("__c1") - F.col("__c12")).cast("double")
    k21 = (F.col("__c2") - F.col("__c12")).cast("double")
    k22 = (
        F.col("__n") - F.col("__c1") - F.col("__c2") + F.col("__c12")
    ).cast("double")
    r1 = F.col("__c1").cast("double")
    r2 = (F.col("__n") - F.col("__c1")).cast("double")
    c1 = F.col("__c2").cast("double")
    c2 = (F.col("__n") - F.col("__c2")).cast("double")

    def term(k, r, c):
        return F.when(k > 0, k * F.log(k * nd / (r * c))).otherwise(
            F.lit(0.0)
        )

    llr = F.round(
        2.0
        * (
            term(k11, r1, c1)
            + term(k12, r1, c2)
            + term(k21, r2, c1)
            + term(k22, r2, c2)
        ),
        ndigits,
    )
    return (
        j.select(
            F.col("__w1").alias("w1"),
            F.col("__w2").alias("w2"),
            F.col("__c12").cast("long").alias("n_pair"),
            llr.alias("llr"),
        )
        .orderBy(F.desc("llr"), "w1", "w2")
        .limit(int(top_k))
    )


def hill_diversity(
    df: DataFrame,
    text_col: str = "text",
    ngram: int = 3,
    ndigits: int = 6,
) -> DataFrame:
    """Hill-number diversity profile of the corpus unit distribution
    (Hill 1973 / Jost 2006, public literature) — the "effective
    vocabulary sizes" that complete the ``chao1_richness`` report:

        q0 = S_obs                       (richness)
        q1 = exp(H)    H = -sum p ln p   (Shannon effective units)
        q2 = N^2 / sum c^2               (inverse Simpson)

    plus Pielou evenness H / ln(S). A flat distribution has
    q0 = q1 = q2; q1/q0 collapsing toward 0 means the corpus is
    template-dominated.

    Determinism: counts are exact integers; H is a SORTED FOLD over
    counts (the mutual_information discipline); exp replays the
    engine's deterministic Taylor-Horner kernel (multitest._det_exp —
    convergent for |H| < 64, i.e. any vocabulary below e^64); q2's
    numerator and denominator are exact decimals collapsing once.

    Output: one row ``(n_units, q0_richness, shannon_h,
    q1_shannon_eff, q2_inv_simpson, pielou_evenness)``.

    Scale: one explode + one unit groupBy; folds run over the unit
    DOMAIN. No counterpart in the reference engine (SURVEY.md §2.2).
    """
    from .multitest import _det_exp

    toks = df.select(F.explode(_units(text_col, ngram)).alias("__w"))
    vocab = toks.groupBy("__w").agg(F.count("*").alias("__c"))
    agg = vocab.agg(
        F.sum("__c").cast("long").alias("n_units"),
        F.count("*").cast("long").alias("q0_richness"),
        exact_sum("__c", "__c").alias("__sc2"),
        F.sort_array(F.collect_list("__c")).alias("__cs"),
    )
    nn = F.col("n_units").cast("double")
    h = -F.aggregate(
        F.transform(
            F.col("__cs"),
            lambda c: (c.cast("double") / nn)
            * F.log(c.cast("double") / nn),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    staged = agg.withColumn("__h", F.round(h, ndigits))
    return staged.select(
        "n_units",
        "q0_richness",
        F.col("__h").alias("shannon_h"),
        F.round(_det_exp(F.col("__h")), ndigits).alias("q1_shannon_eff"),
        F.round(
            nn * nn / F.col("__sc2").cast("double"), ndigits
        ).alias("q2_inv_simpson"),
        F.when(
            F.col("q0_richness") > 1,
            F.round(
                F.col("__h")
                / F.log(F.col("q0_richness").cast("double")),
                ndigits,
            ),
        ).alias("pielou_evenness"),
    )


def _unigram_viterbi_dp(words: DataFrame, pm: DataFrame, mp: int):
    """Forward Viterbi DP shared by ``unigram_lm_train`` and
    ``unigram_encode``: given the distinct-word table and the per-word
    key->prob map (key = end_pos * (mp+1) + piece_len), append the
    1-based dp array of (score, back_len) structs — dp[i] = the best
    (max score, ties to the LONGER final piece) segmentation of the
    word's first i chars. Fixed-order IEEE double products only."""
    return words.join(pm, "__w").withColumn(
        "__dp",
        F.aggregate(
            F.sequence(F.lit(1), F.col("__len")),
            F.array(
                F.struct(
                    F.lit(1.0).alias("s"),
                    F.lit(0).cast("int").alias("bl"),
                )
            ),
            lambda acc, i: F.concat(
                acc,
                F.array(
                    F.aggregate(
                        F.sequence(F.lit(1), F.least(F.lit(mp), i)),
                        F.struct(
                            F.lit(-1.0).alias("s"),
                            F.lit(0).cast("int").alias("bl"),
                        ),
                        lambda best, l: F.when(
                            F.element_at(
                                F.col("__pm"), i * (mp + 1) + l
                            ).isNull(),
                            best,
                        ).otherwise(
                            F.when(
                                (
                                    F.element_at(acc, i - l + 1)["s"]
                                    * F.element_at(
                                        F.col("__pm"),
                                        i * (mp + 1) + l,
                                    )
                                    > best["s"]
                                )
                                | (
                                    (
                                        F.element_at(acc, i - l + 1)[
                                            "s"
                                        ]
                                        * F.element_at(
                                            F.col("__pm"),
                                            i * (mp + 1) + l,
                                        )
                                        == best["s"]
                                    )
                                    & (l > best["bl"])
                                ),
                                F.struct(
                                    (
                                        F.element_at(acc, i - l + 1)[
                                            "s"
                                        ]
                                        * F.element_at(
                                            F.col("__pm"),
                                            i * (mp + 1) + l,
                                        )
                                    ).alias("s"),
                                    l.cast("int").alias("bl"),
                                ),
                            ).otherwise(best)
                        ),
                    )
                ),
            ),
        ),
    )


def _unigram_backtrack(col_w, col_len, col_dp):
    """Walk the dp back-lengths from the end of the word, collecting
    pieces in REVERSE (end -> start) order — counting callers don't
    care, segmentation callers reverse once."""
    return F.aggregate(
        F.sequence(F.lit(1), col_len),
        F.struct(
            col_len.cast("int").alias("pos"),
            F.array().cast("array<string>").alias("ps"),
        ),
        lambda acc, _i: F.when(acc["pos"] <= 0, acc).otherwise(
            F.struct(
                (
                    acc["pos"]
                    - F.element_at(col_dp, acc["pos"] + 1)["bl"]
                ).cast("int").alias("pos"),
                F.concat(
                    acc["ps"],
                    F.array(
                        F.substring(
                            col_w,
                            acc["pos"]
                            - F.element_at(col_dp, acc["pos"] + 1)[
                                "bl"
                            ]
                            + 1,
                            F.element_at(col_dp, acc["pos"] + 1)[
                                "bl"
                            ],
                        )
                    ),
                ).alias("ps"),
            )
        ),
    )["ps"]


def _unigram_words_census(df: DataFrame, text_col: str, mw: int):
    """The one corpus-sized stage both unigram entry points share: the
    distinct-word frequency census (tokenize -> groupBy -> length
    filter), staged so the bounded-collect probe and the distributed
    fit both read it — ONE corpus scan whichever path runs. Everything
    downstream is a pure function of it."""
    from .staging import stage

    toks = df.select(
        F.explode(tokenize(normalize_text(text_col))).alias("__w")
    )
    return stage(
        toks.groupBy("__w")
        .agg(F.count("*").alias("__n"))
        .filter((F.length("__w") <= mw) & (F.length("__w") >= 1))
        .withColumn("__len", F.length("__w")),
        "uni_words",
    )


def _unigram_viterbi_local(w: str, ln: int, probs: dict, mp: int):
    """Driver-local replay of ``_unigram_viterbi_dp`` + backtrack for
    ONE word — op-for-op: Python floats ARE IEEE doubles, so the
    forward products ``dp[i-l].s * p`` and the (score, longer-piece)
    tie-break reproduce the JVM fold bit-identically; the backtrack
    runs exactly ``ln`` fold steps like the Spark ``F.aggregate``.
    Returns the pieces in REVERSE (end -> start) order, matching
    ``_unigram_backtrack``."""
    dp = [(1.0, 0)]
    for i in range(1, ln + 1):
        best_s, best_bl = -1.0, 0
        for l in range(1, min(mp, i) + 1):
            p = probs.get(w[i - l : i])
            if p is None:
                continue
            s = dp[i - l][0] * p
            if s > best_s or (s == best_s and l > best_bl):
                best_s, best_bl = s, l
        dp.append((best_s, best_bl))
    ps: list[str] = []
    pos = ln
    for _ in range(ln):
        if pos <= 0:
            continue
        bl = dp[pos][1]
        ps.append(w[pos - bl : pos])
        pos -= bl
    return ps


def _unigram_census_em(
    word_rows, seed_size: int, vocab_size: int, rounds: int, mp: int
):
    """Driver-local replay of the whole hard-EM loop over the
    (word, count) census — the gmm_em/logistic_irls census-fit recipe
    lifted to the subword trainer. Exactness: counts are exact Python
    ints (== the distributed long sums in any accumulation order);
    probabilities are float(count)/float(total) — the same two-step
    long->double->divide the distributed path's cast-then-divide
    performs; the DP replays ``_unigram_viterbi_local``; every
    ordering is (count desc, piece asc), and Python str comparison is
    code-point order == Spark's binary UTF-8 string collation.
    Pinned by test_unigram_census_fit_matches_distributed.

    Returns (final vocab items [(piece, count)], segment(w) -> pieces
    in reverse order under the FINAL vocabulary)."""
    words = [(w, int(n), len(w)) for w, n in word_rows]
    cand_counts: dict[str, int] = {}
    chars: set[str] = set()
    for w, n, ln in words:
        chars.update(w)
        for pos in range(1, ln + 1):
            for l in range(1, min(mp, ln - pos + 1) + 1):
                piece = w[pos - 1 : pos - 1 + l]
                cand_counts[piece] = cand_counts.get(piece, 0) + n
    seed = sorted(
        cand_counts.items(), key=lambda kv: (-kv[1], kv[0])
    )[: int(seed_size)]
    vocab = dict(seed)
    for ch in chars:
        if ch not in vocab:
            vocab[ch] = 1
    for _rnd in range(int(rounds)):
        tot = float(sum(vocab.values()))
        probs = {p: float(c) / tot for p, c in vocab.items()}
        newc: dict[str, int] = {}
        for w, n, ln in words:
            for piece in _unigram_viterbi_local(w, ln, probs, mp):
                newc[piece] = newc.get(piece, 0) + n
        top = sorted(
            newc.items(), key=lambda kv: (-kv[1], kv[0])
        )[: int(vocab_size)]
        vocab = dict(top)
        for ch in chars:
            if ch not in vocab:
                vocab[ch] = 1
    final_items = sorted(
        vocab.items(), key=lambda kv: (-kv[1], kv[0])
    )
    tot_f = float(sum(vocab.values()))
    probs_f = {p: float(c) / tot_f for p, c in vocab.items()}

    def segment(w: str):
        return _unigram_viterbi_local(w, len(w), probs_f, mp)

    return final_items, segment


def _unigram_census_try(
    words: DataFrame,
    seed_size: int,
    vocab_size: int,
    rounds: int,
    mp: int,
):
    """Collect the staged distinct-word census when it fits the
    local-fold limit and run the EM driver-locally; None when the
    vocabulary is too large (caller falls back to the distributed
    loop over the same staged census). The census is vocabulary-sized
    at ANY corpus scale — this is the 100 TB story: one
    tokenize+groupBy scan, then zero per-round jobs."""
    from .staging import LOCAL_FOLD_ROWS, local_rows

    rows = local_rows(words, LOCAL_FOLD_ROWS)
    if rows is None:
        return None
    word_rows = [(r["__w"], int(r["__n"])) for r in rows]
    vocab_items, segment = _unigram_census_em(
        word_rows, seed_size, vocab_size, rounds, mp
    )
    return word_rows, vocab_items, segment


def _unigram_fit(
    words: DataFrame,
    seed_size: int,
    vocab_size: int,
    rounds: int,
    mp: int,
):
    """Shared trainer over the staged census ``words``: returns (cand,
    final vocab). See unigram_lm_train for the algorithm contract."""
    from .staging import stage

    cand = stage(
        words.select(
            "__w",
            "__n",
            "__len",
            F.explode(F.sequence(F.lit(1), F.col("__len"))).alias(
                "__pos"
            ),
        )
        .select(
            "__w",
            "__n",
            "__pos",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(mp), F.col("__len") - F.col("__pos") + 1
                    ),
                )
            ).alias("__l"),
        )
        .withColumn(
            "__piece", F.substring("__w", F.col("__pos"), F.col("__l"))
        ),
        "uni_cand",
    )
    chars = cand.filter(F.col("__l") == 1).select("__piece").distinct()
    seed = (
        cand.groupBy("__piece")
        .agg(F.sum("__n").alias("__c"))
        .orderBy(F.desc("__c"), "__piece")
        .limit(seed_size)
    )
    vocab = stage(
        seed.unionByName(
            chars.join(seed.select("__piece"), "__piece", "left_anti")
            .select("__piece", F.lit(1).cast("long").alias("__c"))
        ),
        "uni_vocab0",
    )
    for rnd in range(rounds):
        pm = _unigram_prob_map(cand, vocab, mp)
        seg = _unigram_viterbi_dp(words, pm, mp)
        pieces = seg.select(
            "__w",
            "__n",
            F.explode(
                _unigram_backtrack(
                    F.col("__w"), F.col("__len"), F.col("__dp")
                )
            ).alias("__piece"),
        )
        newc = pieces.groupBy("__piece").agg(F.sum("__n").alias("__c"))
        top = newc.orderBy(F.desc("__c"), "__piece").limit(vocab_size)
        vocab = stage(
            top.unionByName(
                chars.join(
                    top.select("__piece"), "__piece", "left_anti"
                ).select("__piece", F.lit(1).cast("long").alias("__c"))
            ),
            f"uni_vocab{rnd + 1}",
        )
    return cand, vocab


def _unigram_prob_map(cand: DataFrame, vocab: DataFrame, mp: int):
    """Per-word DP lookup map from the current vocabulary: key =
    end_pos * (mp+1) + piece_len -> p = c / T (double)."""
    tot = F.broadcast(
        vocab.agg(F.sum("__c").cast("double").alias("__T"))
    )
    probs = vocab.crossJoin(tot).select(
        "__piece",
        (F.col("__c").cast("double") / F.col("__T")).alias("__prob"),
    )
    ent = cand.join(F.broadcast(probs), "__piece").select(
        "__w",
        (
            (F.col("__pos") + F.col("__l") - 1) * (mp + 1) + F.col("__l")
        ).alias("__k"),
        "__prob",
    )
    return ent.groupBy("__w").agg(
        F.map_from_entries(
            F.collect_list(F.struct("__k", "__prob"))
        ).alias("__pm")
    )


def unigram_lm_train(
    df: DataFrame,
    text_col: str = "text",
    seed_size: int = 200,
    vocab_size: int = 80,
    rounds: int = 3,
    max_piece: int = 4,
    max_word: int = 16,
) -> DataFrame:
    """Unigram-LM subword vocabulary training (Kudo 2018 / the
    SentencePiece trainer, public literature) — the third of the three
    standard subword trainers next to ``bpe_train`` (bottom-up merges)
    and ``wordpiece_segment`` (greedy munch over a frequency vocab):
    seed a large substring candidate set, then alternate
    (re-)segmenting the corpus under the current piece probabilities
    with re-estimating those probabilities from the segmentations,
    pruning the vocabulary each round.

    Deterministic hard-EM variant (Viterbi EM, public concept): the
    E-step uses each word's single BEST segmentation (ties broken
    toward the longer final piece) instead of Kudo's forward-backward
    expected counts — expectation terms are engine-dependent
    transcendentals, while the Viterbi path needs only IEEE-exact
    double products of count ratios, so Spark and the SQL oracle
    replay bit-identical decisions. Probabilities p = c/T and DP
    scores are fixed-order double arithmetic; counts are exact
    integers; every tie-break is (count desc, piece asc) or
    (score, piece-length) lexicographic.

    Per round: Viterbi-segment every DISTINCT word (the bpe_encode /
    wordpiece vocabulary-sized-work discipline — candidates explode
    bounded by max_word * max_piece, one broadcast join against the
    piece table, a bounded double fold per word: forward DP then
    backtrack), recount pieces from the best paths weighted by word
    frequency, keep the ``vocab_size`` most frequent (count desc,
    piece asc), and re-add any missing single characters at a count
    floor of 1 (coverage is non-negotiable — Kudo's required-chars
    rule).

    Output per surviving piece: ``(piece, count, p)`` with p one
    rounded division by the final total, ordered (count desc, piece).

    Scale: one corpus-sized tokenize+groupBy; everything after is
    bounded by |distinct words|. When the distinct-word census fits
    the local-fold limit (``staging.local_rows``, the
    gmm_em/logistic_irls census-fit discipline) the WHOLE EM loop
    replays driver-locally from one collect — zero per-round jobs,
    bit-identical results (test_unigram_census_fit_matches_
    distributed); larger vocabularies keep the distributed loop with
    model-sized broadcasts and driver-free folds — the loop shuffles
    (piece, count) pairs only.
    No counterpart in the reference engine (SURVEY.md §2.2).

    Construction runs Spark jobs: the staged census, its collect
    (skipped at a local-fold limit of 0 or under durable staging) and,
    when the census does not fit, the staged per-round fit. Only the
    returned frame is lazy.
    """
    words = _unigram_words_census(df, text_col, int(max_word))
    fit = _unigram_census_try(
        words, int(seed_size), int(vocab_size), int(rounds),
        int(max_piece),
    )
    if fit is not None:
        _, vocab_items, _ = fit
        vocab = df.sparkSession.createDataFrame(
            [(p, int(c)) for p, c in vocab_items],
            "__piece string, __c long",
        )
    else:
        _, vocab = _unigram_fit(
            words, int(seed_size), int(vocab_size), int(rounds),
            int(max_piece),
        )
    tot = F.broadcast(
        vocab.agg(F.sum("__c").cast("double").alias("__T"))
    )
    return (
        vocab.crossJoin(tot)
        .select(
            F.col("__piece").alias("piece"),
            F.col("__c").cast("long").alias("count"),
            F.round(
                F.col("__c").cast("double") / F.col("__T"), 6
            ).alias("p"),
        )
        .orderBy(F.desc("count"), "piece")
    )


def unigram_encode(
    df: DataFrame,
    text_col: str = "text",
    seed_size: int = 200,
    vocab_size: int = 80,
    rounds: int = 3,
    max_piece: int = 4,
    max_word: int = 16,
) -> DataFrame:
    """Segment the corpus's distinct words under a freshly-trained
    unigram LM (``unigram_lm_train``'s fit, then ONE more Viterbi
    pass with the FINAL vocabulary) — the encode companion in the
    bpe_train/bpe_encode pairing, and the piece-level view a
    tokenization QA pass reads (pieces-per-word distribution,
    compression ratio).

    Output per distinct word: ``(word, n, n_pieces, pieces)`` with
    ``pieces`` space-joined left-to-right, ordered (n desc, word) —
    the wordpiece_segment output shape, so the two tokenizers diff
    directly.

    Scale: identical to the trainer — everything after the distinct
    groupBy is vocabulary-sized, one bounded fold per word; the same
    local-fold census gate replays the fit AND this final
    segmentation pass driver-locally when the vocabulary is bounded.

    Construction runs Spark jobs, as ``unigram_lm_train``'s does.
    """
    words = _unigram_words_census(df, text_col, int(max_word))
    fit = _unigram_census_try(
        words, int(seed_size), int(vocab_size), int(rounds),
        int(max_piece),
    )
    if fit is not None:
        word_rows, _, segment = fit
        out_rows = []
        for w, n in word_rows:
            ps = segment(w)
            out_rows.append((w, int(n), len(ps), " ".join(reversed(ps))))
        return (
            df.sparkSession.createDataFrame(
                out_rows,
                "word string, n long, n_pieces long, pieces string",
            ).orderBy(F.desc("n"), "word")
        )
    cand, vocab = _unigram_fit(
        words, int(seed_size), int(vocab_size), int(rounds),
        int(max_piece),
    )
    pm = _unigram_prob_map(cand, vocab, int(max_piece))
    seg = _unigram_viterbi_dp(words, pm, int(max_piece))
    # stage the backtrack fold ONCE (interpreted HOFs get no CSE —
    # referencing it from two output columns would run it twice)
    staged = seg.withColumn(
        "__ps",
        _unigram_backtrack(F.col("__w"), F.col("__len"), F.col("__dp")),
    )
    return staged.select(
        F.col("__w").alias("word"),
        F.col("__n").alias("n"),
        F.size("__ps").cast("long").alias("n_pieces"),
        F.array_join(F.reverse("__ps"), " ").alias("pieces"),
    ).orderBy(F.desc("n"), "word")


def jensen_shannon_divergence(
    df: DataFrame,
    group_col: str,
    text_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
) -> DataFrame:
    """Jensen-Shannon divergence between two sources' add-one-smoothed
    unigram distributions (Lin 1991, public literature) — the
    SYMMETRIC, bounded [0,1] (log2) companion to
    ``source_kl_divergence``: the number to threshold when deciding
    whether two corpus slices are interchangeable for mixing (JSD is
    finite even where one source has zero mass, which raw KL is not).

        p(w) = (c_a(w)+1)/(T_a+V)   q(w) = (c_b(w)+1)/(T_b+V)
        m(w) = (p+q)/2
        JSD  = 0.5*sum p*log2(p/m) + 0.5*sum q*log2(q/m)

    over the UNION vocabulary of the two sources (the smoothing gives
    absent words mass, so dropping them biases the estimate — same
    contract as source_kl_divergence, including the top-V truncation
    advice at extreme vocabulary sizes).

    Output: one row ``(group_a, group_b, n_tokens_a, n_tokens_b,
    jsd)``.

    Scale: one corpus scan to the (source, word) census; everything
    after runs on the vocabulary-sized table.
    """
    toks = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(group_col).alias("__g"),
        F.explode(tokenize(normalize_text(text_col))).alias("w"),
    )
    cnt = toks.groupBy("w").agg(
        F.sum(F.when(F.col("__g") == group_a, 1).otherwise(0)).alias(
            "__ca"
        ),
        F.sum(F.when(F.col("__g") == group_b, 1).otherwise(0)).alias(
            "__cb"
        ),
    )
    consts = F.broadcast(
        cnt.agg(
            F.count("*").alias("__v"),
            F.sum("__ca").alias("__ta"),
            F.sum("__cb").alias("__tb"),
        )
    )
    grid = cnt.crossJoin(consts)
    p = (F.col("__ca") + 1.0) / (F.col("__ta") + F.col("__v"))
    q = (F.col("__cb") + 1.0) / (F.col("__tb") + F.col("__v"))
    m = (p + q) / 2.0
    term = p * (F.log2(p) - F.log2(m)) + q * (F.log2(q) - F.log2(m))
    return grid.agg(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        F.max("__ta").cast("long").alias("n_tokens_a"),
        F.max("__tb").cast("long").alias("n_tokens_b"),
        F.round(F.sum(term) / 2.0, ndigits).alias("jsd"),
    )


def rouge_n(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    n: int = 2,
    ndigits: int = 6,
) -> DataFrame:
    """ROUGE-N overlap between a candidate and a reference text per
    row (Lin 2004, public literature) — the n-gram recall family an
    eval pipeline scores summaries/generations with, and a curation
    pipeline reuses as a near-verbatim leak detector between splits.

    Clipped counting (the canonical rule): each distinct n-gram
    contributes min(count in candidate, count in reference).

        recall    = clip / #ref_ngrams
        precision = clip / #cand_ngrams
        f1        = 2pr/(p+r)

    Exactness: counts are integers from one exploded
    (id, gram) census per side joined on (id, gram) — the
    scale-correct plan (linear in tokens, one keyed shuffle), never a
    per-row quadratic in-row scan; the three ratios are one rounded
    division each.

    Output: ``(id_col, n_cand, n_ref, clip, precision, recall, f1)``
    — one row per input row, zero-ngram sides yield NULL ratios.
    """
    from ..functions.text import word_ngrams

    def grams(c):
        # PERF: the naive transform(sequence(...), i -> slice(ts, i, n))
        # references the tokenize+normalize REGEX subtree inside the
        # element lambda, so the regex re-ran once PER GRAM — O(len²)
        # per row (the rolling_fingerprints trap). word_ngrams'
        # zip_with shape evaluates the source ~n times per row total.
        # Identical grams: space-joined windows, empty below n tokens
        # (a null input yields null vs empty, invisible through the
        # explode_outer below).
        return word_ngrams(normalize_text(c), n)

    # each side is tokenized exactly ONCE: the census feeds both the
    # clip join and (via a per-id rollup) the total gram counts — the
    # naive shape re-derived the tokenize+gram projection three times
    # (cand census, ref census, sizes), tripling the regex work, the
    # dominant cost (measured 13 s -> ~6 s at sf0.1)
    cand = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode_outer(grams(cand_col)).alias("__g"),
        )
        .groupBy("__id", "__g")
        .agg(F.count("*").alias("__cc"))
    )
    ref = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode_outer(grams(ref_col)).alias("__g"),
        )
        .groupBy("__id", "__g")
        .agg(F.count("*").alias("__rc"))
    )
    clip = (
        ref.filter(F.col("__g").isNotNull())
        .join(cand, ["__id", "__g"])
        .groupBy("__id")
        .agg(
            F.sum(F.least("__rc", "__cc")).cast("long").alias("clip")
        )
    )
    # explode_outer keeps zero-gram docs as one NULL-gram row, so the
    # per-id rollup covers EVERY input row with its true gram count
    ctot = cand.groupBy("__id").agg(
        F.sum(
            F.when(F.col("__g").isNotNull(), F.col("__cc")).otherwise(0)
        ).cast("long").alias("n_cand")
    )
    rtot = ref.groupBy("__id").agg(
        F.sum(
            F.when(F.col("__g").isNotNull(), F.col("__rc")).otherwise(0)
        ).cast("long").alias("n_ref")
    )
    out = (
        ctot.join(rtot, "__id")
        .join(clip, "__id", "left")
        .withColumn("clip", F.coalesce("clip", F.lit(0)))
    )
    p = F.when(
        F.col("n_cand") > 0,
        F.col("clip").cast("double") / F.col("n_cand").cast("double"),
    )
    r = F.when(
        F.col("n_ref") > 0,
        F.col("clip").cast("double") / F.col("n_ref").cast("double"),
    )
    out = out.withColumns(
        {"__p": p, "__r": r}
    )
    return out.select(
        F.col("__id").alias(id_col),
        "n_cand",
        "n_ref",
        "clip",
        F.round("__p", ndigits).alias("precision"),
        F.round("__r", ndigits).alias("recall"),
        F.when(
            (F.col("__p") + F.col("__r")) > 0,
            F.round(
                F.lit(2.0)
                * F.col("__p")
                * F.col("__r")
                / (F.col("__p") + F.col("__r")),
                ndigits,
            ),
        ).otherwise(
            F.when(
                F.col("__p").isNotNull() & F.col("__r").isNotNull(),
                F.lit(0.0),
            )
        ).alias("f1"),
    )
