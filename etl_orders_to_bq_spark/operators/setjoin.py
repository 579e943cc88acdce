"""Exact set-similarity self-join — the all-pairs Jaccard join
WITHOUT hashing loss (Bayardo, Ma & Srikant 2007, "Scaling Up All
Pairs Similarity Search"; Chaudhuri, Ganti & Kaushik 2006 — public
literature).

MinHash LSH (``operators/dedup.py``) finds near-dup pairs
probabilistically: recall < 1 and a tunable false-positive band
structure. This operator is the EXACT counterpart, with two
result-identical physical strategies whose costs flip with the
token-frequency distribution:

- ``prefix``: order every set's tokens by global rarity, keep each
  set's PREFIX (its ``|s| - ceil(t*|s|) + 1`` rarest tokens); two
  sets with J >= t MUST share a prefix token under any single
  consistent order, so the prefix-token equi-join is a complete
  candidate generator and the exact array verify loses nothing.
  Wins on ZIPF vocabularies: prefixes hold the LONG-TAIL tokens, so
  candidate buckets stay tiny even though hot tokens are huge.
- ``count``: skip candidates entirely — equi-join the full
  (id, token) tables on token, count shared tokens per (id_a, id_b)
  pair (map-side combinable), join per-doc sizes, threshold. Shuffle
  is sum(df(t)^2) SMALL id-pair rows and ZERO arrays. Wins when the
  vocabulary is tiny/uniform (every token is hot) — there the prefix
  filter prunes nothing and the array verify ships every doc's full
  token array to ~all-pairs candidates (measured r8: the 31-word
  fixture at sf0.1 ran 9+ min on the array verify vs seconds on
  count).
- ``auto`` (default): staged probe. Stage 1 reads ONLY the
  vocab-sized df table: if the count plan's total volume sum(df^2)
  fits ``count_volume_budget``, take count immediately (no per-doc
  structures are ever built — exactly the degenerate-vocab case).
  Otherwise build the prefix structures (the prefix path needs them
  anyway) and compare the measured prefix-candidate volume against
  sum(df^2) as the tie-break.

Scale notes:
- tokenize + explode once; the token df table is vocab-sized;
- the global rarity rank uses ``ranking.global_row_number`` (ranged
  two-pass numbering) so even a >10^8-distinct-token web vocabulary
  never single-partitions;
- exact all-pairs similarity is inherently Omega(pairs-sharing-a-
  token); when even ``count`` is too hot (planet-scale corpora with
  mandatory-hot tokens), the exact problem is the wrong tool — use
  MinHash LSH and verify its candidates (dedup.ngram_jaccard_pairs).

No counterpart in the reference engine (SURVEY.md §2.2 — the
reference has no similarity machinery beyond the weighted scorer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .staging import stage


def _tokens(df: DataFrame, text_col: str, id_col: str, ngram: int):
    from ..functions.text import normalize_text, word_ngrams

    return df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(normalize_text(text_col), ngram))
        ).alias("__t"),
    )


def _jaccard_out(
    pairs_inter: DataFrame,
    sizes: DataFrame,
    id_col: str,
    threshold: float,
    ndigits: int,
) -> DataFrame:
    """(id_a, id_b, __inter) + per-doc sizes -> thresholded output."""
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("__s").alias("__sa")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("__s").alias("__sb")
    )
    union = F.col("__sa") + F.col("__sb") - F.col("__inter")
    jac = F.when(union > 0, F.round(F.col("__inter") / union, ndigits))
    return (
        pairs_inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def set_similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    ngram: int = 2,
    ndigits: int = 6,
    strategy: str = "auto",
    count_volume_budget: int = 200_000_000,
) -> DataFrame:
    """All pairs (id_a, id_b, jaccard) with EXACT word-``ngram``
    Jaccard >= ``threshold`` (id_a < id_b, 6dp-rounded similarity —
    the threshold compares the rounded value, the repo's boundary
    contract). ``strategy`` picks the physical plan (module
    docstring); results are identical.

    Prefix completeness argument: with J(A,B) >= t, |A ∩ B| >=
    t/(1+t)·(|A|+|B|) > |A| - ceil(t·|A|), so fewer than ceil(t·|A|)
    of A's tokens are outside B — A's prefix of size
    |A| - ceil(t·|A|) + 1 cannot fit entirely in the outside set,
    hence at least one prefix token of A is in B; symmetrically for
    B, and under one global order the shared token is in BOTH
    prefixes.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    if strategy not in ("auto", "prefix", "count"):
        raise ValueError(f"unknown strategy: {strategy}")
    tok = stage(
        _tokens(df, text_col, id_col, ngram), "ssj_tokens", eager=False
    )
    sizes = tok.groupBy(id_col).agg(F.count("*").alias("__s"))
    dfreq = tok.groupBy("__t").agg(F.count("*").alias("__df"))

    if strategy == "count":
        return _ssj_count(tok, sizes, id_col, threshold, ndigits)

    if strategy == "auto":
        # stage-1 probe from the VOCAB-SIZED df table alone (no
        # corpus pass): if the count plan's total volume sum df^2
        # fits the budget, it is certainly affordable — take it
        # without ever building the per-doc prefix structures. Zipf
        # corpora (where prefix filtering is the win) blow this
        # budget immediately via their hot tokens and fall through.
        cc = (
            dfreq.agg(
                F.sum(F.col("__df") * F.col("__df")).alias("cc")
            ).collect()[0]["cc"]
            or 0
        )
        if cc <= count_volume_budget:
            return _ssj_count(tok, sizes, id_col, threshold, ndigits)

    # the prefix must stay complete for every pair the OUTPUT keeps:
    # the filter compares the ROUNDED jaccard, which admits exact J
    # down to t - 0.5*10^-ndigits — size the prefix for that
    # effective threshold, not t itself
    t_eff = max(float(threshold) - 0.5 * 10.0 ** (-ndigits), 1e-12)
    # global rarity rank: ties on the token string so the order is
    # total and engine-independent. Ranged two-pass numbering (never
    # a single-partition window) so a >10^8-token web vocabulary
    # ranks in parallel.
    from .ranking import global_row_number

    ranked = global_row_number(dfreq, ["__df", "__t"], out_col="__r")
    tokr = tok.join(ranked.select("__t", "__r"), "__t")
    per_doc = tokr.groupBy(id_col).agg(
        F.sort_array(F.collect_list("__r")).alias("__rs"),
        F.sort_array(F.collect_list("__t")).alias("__set"),
    )
    s = F.size("__rs")
    prefix_len = s - F.ceil(s * F.lit(t_eff)).cast("int") + 1
    pref = per_doc.select(
        F.col(id_col),
        F.explode(F.slice("__rs", 1, prefix_len)).alias("__pr"),
    )
    pref = stage(pref, "ssj_prefix", eager=False)

    if strategy == "auto":
        # stage-2 probe (the count plan was NOT obviously cheap):
        # candidate volume ~ sum over prefix tokens of
        # (docs-with-it-in-prefix)^2, each candidate paying
        # ~avg-set-size verify work; the prefix structures built here
        # are exactly the ones the prefix path reuses, so nothing is
        # wasted when prefix wins (the common case past the budget).
        est = (
            pref.groupBy("__pr")
            .agg(F.count("*").alias("__c"))
            .agg(
                F.sum(F.col("__c") * F.col("__c")).alias("pc")
            )
            .crossJoin(
                sizes.agg(F.avg("__s").alias("avg_s"))
            )
            .collect()[0]
        )
        pc = (est["pc"] or 0) * max(est["avg_s"] or 1.0, 1.0)
        if cc < pc:
            return _ssj_count(tok, sizes, id_col, threshold, ndigits)

    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "__pr")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    a = per_doc.select(
        F.col(id_col).alias("id_a"), F.col("__set").alias("__seta")
    )
    b = per_doc.select(
        F.col(id_col).alias("id_b"), F.col("__set").alias("__setb")
    )
    inter = F.size(F.array_intersect("__seta", "__setb"))
    pairs_inter = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", inter.alias("__inter"))
    )
    return _jaccard_out(pairs_inter, sizes, id_col, threshold, ndigits)


def _ssj_count(
    tok: DataFrame,
    sizes: DataFrame,
    id_col: str,
    threshold: float,
    ndigits: int,
) -> DataFrame:
    """Count-strategy core: shared-token pair counts, zero arrays.
    Complete for J >= t > 0 (such pairs share at least one token)."""
    a = tok.select(F.col(id_col).alias("id_a"), "__t")
    b = tok.select(F.col(id_col).alias("id_b"), "__t")
    pairs_inter = (
        a.join(b, "__t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__inter"))
    )
    return _jaccard_out(pairs_inter, sizes, id_col, threshold, ndigits)



def rarity_weighted_jaccard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    ngram: int = 1,
    weight_scale: int = 1_000_000,
    ndigits: int = 6,
) -> DataFrame:
    """Rarity-WEIGHTED Jaccard join: like ``set_similarity_join`` but
    each token contributes weight ~1/df instead of 1 — two docs
    sharing a RARE term are more similar than two sharing 'the'
    (the idf intuition behind every weighted set-similarity join in
    the record-linkage literature, e.g. Chaudhuri et al. 2006).

        wj(A,B) = sum_{t in A∩B} w(t) / (W_A + W_B - sum_shared),
        w(t)    = floor(weight_scale / df(t))  — integer micro-weights

    Integer weights instead of the textbook log-idf because log is a
    libm call with no cross-engine bit guarantee and weight SUMS
    would be order-dependent doubles; floor(scale/df) keeps every
    sum an exact long (order-free, map-side combinable) and one
    6dp-rounded division ends the pipeline — the repo's exactness
    contract. The 1/df weight is idf without the log: same ordering
    of token importances, heavier tail emphasis.

    Plan: the count-strategy shape (token equi-join, zero arrays);
    weights ride the vocab-sized df table. Same Omega(sum df²)
    caveat — and the weighting is precisely why prefix filtering
    does NOT apply here (a pair with J_w >= t need not share a
    rarity-prefix token under the unweighted prefix bound).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    tok = stage(
        _tokens(df, text_col, id_col, ngram), "rwj_tokens", eager=False
    )
    wts = tok.groupBy("__t").agg(
        F.floor(
            F.lit(int(weight_scale)) / F.count("*")
        ).cast("long").alias("__w")
    )
    tw = tok.join(wts, "__t")
    doc_w = tw.groupBy(id_col).agg(F.sum("__w").alias("__dw"))
    a = tw.select(F.col(id_col).alias("id_a"), "__t", "__w")
    b = tw.select(F.col(id_col).alias("id_b"), "__t")
    inter_w = (
        a.join(b, "__t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum("__w").alias("__iw"))
    )
    wa = doc_w.select(
        F.col(id_col).alias("id_a"), F.col("__dw").alias("__wa")
    )
    wb = doc_w.select(
        F.col(id_col).alias("id_b"), F.col("__dw").alias("__wb")
    )
    union_w = F.col("__wa") + F.col("__wb") - F.col("__iw")
    wj = F.when(
        union_w > 0,
        F.round(F.col("__iw").cast("double") / union_w, ndigits),
    )
    return (
        inter_w.join(wa, "id_a")
        .join(wb, "id_b")
        .withColumn("w_jaccard", wj)
        .filter(F.col("w_jaccard") >= threshold)
        .select("id_a", "id_b", "w_jaccard")
    )


__all__ = ["set_similarity_join", "rarity_weighted_jaccard"]
