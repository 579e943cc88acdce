"""Stylometry: Burrows' Delta distance between sources.

Burrows' Delta (Burrows 2002, public literature) is the standard
authorship / style distance: z-score each source's relative frequency
of the corpus's top function words, then average the absolute z
differences between two sources. A corpus pipeline uses it as
provenance forensics — two "different" crawls with near-zero Delta
are the same generator (template farms, SEO spam rings, synthetic
expansions of one seed corpus).

Determinism contract:
- relative frequencies are exact micro-integers via the decimal
  ``div`` discipline (half-away, numerator kept in decimal(38,0) so
  corpus-scale counts cannot overflow the doubling);
- per-word mean/variance come from exact integer micro sums, each
  collapsing to double ONCE (single conversions of exact integers);
- the per-pair sum of |z_a - z_b| is a SORTED FOLD over the bounded
  top-word list (the mutual_information discipline), so float
  addition order is engine-pinned;
- zero-variance words (identical frequency everywhere) carry no
  style signal and are EXCLUDED, with the used-word count reported.

Scale: one token explode + one (source, word) groupBy is the only
corpus-sized work; everything after runs on the |sources| x top_n
dense matrix (bounded by contract — sources are registries, not
rows). No counterpart in the reference engine (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_sum, exact_type
from ..functions.text import normalize_text, tokenize

_MICRO = 1_000_000


def burrows_delta(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_n: int = 20,
    ndigits: int = 6,
) -> DataFrame:
    """Pairwise Burrows' Delta over ``group_col`` sources.

    Output per unordered pair: ``(source_a, source_b, n_words,
    delta)`` with source_a < source_b, ordered by the pair;
    ``n_words`` counts the top words that actually discriminate
    (positive cross-source variance).
    """
    toks = df.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col).cast("string").alias("__s"),
        F.explode(tokenize(normalize_text(text_col))).alias("__w"),
    )
    cnt = toks.groupBy("__s", "__w").agg(F.count("*").alias("__c"))
    tot = cnt.groupBy("__s").agg(F.sum("__c").alias("__t"))
    topw = (
        cnt.groupBy("__w")
        .agg(F.sum("__c").alias("__cw"))
        .orderBy(F.desc("__cw"), "__w")
        .limit(int(top_n))
        .select("__w")
    )
    sources = tot.select("__s", "__t")
    dense = (
        sources.crossJoin(F.broadcast(topw))
        .join(cnt, ["__s", "__w"], "left")
        .select(
            "__s",
            "__w",
            # exact half-away micro frequency: decimal div (numerator
            # can pass 2^53 at corpus scale; quotient <= 1e6 fits)
            F.expr(
                f"cast((2 * cast(coalesce(__c, 0) as {exact_type()}) "
                f"* 1000000 + __t) div (2 * cast(__t as {exact_type()}))"
                " as long)"
            ).alias("__f"),
        )
    )
    stats = dense.groupBy("__w").agg(
        F.count("*").cast("long").alias("__nsrc"),
        exact(F.sum("__f")).alias("__sf"),
        exact_sum("__f", "__f").alias("__sff"),
    )
    z = (
        dense.join(F.broadcast(stats), "__w")
        .withColumn("__mu", F.col("__sf").cast("double") / F.col("__nsrc"))
        .withColumn(
            "__var",
            (
                exact("__nsrc") * F.col("__sff")
                - F.col("__sf") * F.col("__sf")
            ).cast("double")
            / (F.col("__nsrc").cast("double") * F.col("__nsrc").cast("double")),
        )
        .filter(F.col("__var") > 0)
        .select(
            "__s",
            "__w",
            (
                (F.col("__f").cast("double") - F.col("__mu"))
                / F.sqrt(F.col("__var"))
            ).alias("__z"),
        )
    )
    rhs = z.select(
        F.col("__s").alias("__s2"),
        "__w",
        F.col("__z").alias("__z2"),
    )
    pairs = z.join(rhs, "__w").filter(F.col("__s") < F.col("__s2"))
    folded = pairs.groupBy(
        F.col("__s").alias("source_a"), F.col("__s2").alias("source_b")
    ).agg(
        F.count("*").cast("long").alias("n_words"),
        F.sort_array(
            F.collect_list(
                F.struct("__w", F.abs(F.col("__z") - F.col("__z2")).alias("__d"))
            )
        ).alias("__ds"),
    )
    total = F.aggregate(
        F.transform(F.col("__ds"), lambda s: s["__d"]),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return folded.select(
        "source_a",
        "source_b",
        "n_words",
        F.when(
            F.col("n_words") > 0,
            F.round(total / F.col("n_words").cast("double"), ndigits),
        ).alias("delta"),
    ).orderBy("source_a", "source_b")
