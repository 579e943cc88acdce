"""Deterministic sampling operators for training-data assembly.

``hash_negatives`` draws k pseudo-random negatives per anchor row —
the contrastive/ranking-training prep step (one positive pair + k
random negatives per example). Determinism matters twice at 100 TB:
the draw must not depend on partitioning (hash-derived, not rand()),
and the oracle must replay it bit-for-bit (md5-derived, the
stratified-sample discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact
from .staging import stage


def hash_negatives(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 5,
    seed: int = 11,
) -> DataFrame:
    """For every row, emit ``k`` negative ids drawn deterministically
    from the SAME frame's id population: ``(id, neg_rank, neg_id)``.

    The draw hashes (id, rank, seed) with md5, maps it onto the dense
    rank space [0, n) of all DISTINCT ids, and resolves the rank back
    to a real id via a join — so ids need not be dense or numeric. A
    draw that lands on the anchor itself shifts to the next rank
    (mod n): self-pairs are never emitted and every anchor gets
    exactly ``k`` negatives (sampling WITH replacement across ranks,
    the standard contrastive setup; collisions between an anchor's k
    draws are allowed and rare for k << n).

    Scale: the id->rank map is an exact dense numbering of DISTINCT
    ids via ``ranking.global_row_number`` (range partitioning +
    broadcast prefix offsets — no single-partition window), bounded by
    the id population, not the fact table; the resolve join shuffles
    (rank, anchor) int pairs only. The anchor table never moves: at
    100 TB emit (anchor_id, neg_id) and join payloads downstream,
    anchor-partitioned.
    """
    from .ranking import global_row_number

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ids = df.select(F.col(id_col)).distinct()
    ranked = global_row_number(ids, [F.col(id_col)], out_col="__rn").select(
        id_col, (F.col("__rn") - 1).alias("__rank")
    )
    # stage once: the rank window otherwise re-executes for the count
    # job AND both sides of the resolve join (three global sorts)
    ranked = stage(ranked, "neg_ranks")
    n = ranked.count()
    if n < 2:
        raise ValueError("need at least 2 distinct ids to draw negatives")
    anchors = ranked.select(
        F.col(id_col), F.col("__rank").alias("__self")
    )
    draws = anchors.select(
        id_col,
        "__self",
        F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)])).alias(
            "neg_rank"
        ),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col(id_col).cast("string"),
                    F.col("neg_rank").cast("string"),
                    F.lit(str(seed)),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    cand = F.pmod(h, F.lit(n))
    # self-hit shifts to the next rank (mod n)
    pick = F.when(
        cand == F.col("__self"), F.pmod(cand + 1, F.lit(n))
    ).otherwise(cand)
    resolved = draws.withColumn("__pick", pick).join(
        ranked.select(
            F.col("__rank").alias("__pick"), F.col(id_col).alias("neg_id")
        ),
        "__pick",
    )
    return resolved.select(id_col, "neg_rank", "neg_id")


def group_split(
    df: DataFrame,
    group_col: str,
    fractions: tuple[float, ...] = (0.8, 0.1, 0.1),
    labels: tuple[str, ...] = ("train", "val", "test"),
    seed: int = 42,
) -> DataFrame:
    """Leakage-free train/val/test assignment: every row of the same
    GROUP lands in the same split, by construction.

    Row-level splits (``exact_split``, Bernoulli hash sampling) leak
    entities across splits — two orders of one customer, two documents
    of one author, end up in train AND test, and the eval score is
    contaminated (the group-k-fold problem, standard ML methodology).
    Here the split is a pure function of the GROUP value: hash the
    group with md5(group|seed) onto u in [0,1), cut at the cumulative
    fractions — so leakage is impossible rather than checked-for, and
    the assignment is reproducible on any engine, any partitioning,
    any run (the hash_sample discipline; a SQL oracle replays it).

    Appends ``split``. NULL groups hash on the null sentinel (one
    group, like dp_noisy_counts' key building). Fractions need not sum
    to 1; the remainder goes to the LAST label (cut points are
    cumulative). Zero shuffles — scan-shaped, the split rides into
    whatever write partitioning follows.
    """
    if len(fractions) != len(labels):
        raise ValueError("fractions and labels must align")
    if len(labels) < 2:
        raise ValueError("need at least 2 splits")
    if any(f <= 0 for f in fractions):
        raise ValueError("fractions must be positive")
    if sum(fractions[:-1]) >= 1.0:
        raise ValueError(
            "cumulative fractions before the last label must stay "
            f"< 1 (got {sum(fractions[:-1])}) — the last split would "
            "be empty"
        )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.coalesce(
                            F.col(group_col).cast("string"), F.lit("␀")
                        ),
                        F.lit(str(seed)),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(1 << 32))
    )
    cuts = []
    acc = 0.0
    for f in fractions[:-1]:
        acc += f
        cuts.append(acc)
    # built innermost-out: when(u<c1, l1) else (when(u<c2, l2) else
    # ... else last) — first matching cumulative cut wins
    expr = F.lit(labels[-1])
    for label, cut in zip(reversed(labels[:-1]), reversed(cuts)):
        expr = F.when(u < F.lit(cut), F.lit(label)).otherwise(expr)
    return df.withColumn("split", expr)


def time_split_embargo(
    df: DataFrame,
    ts_col: str,
    cutoff,
    embargo_days: int = 0,
) -> DataFrame:
    """Temporal train/test split with an embargo gap — the backtesting
    discipline (standard quant/forecasting methodology): rows before
    ``cutoff - embargo_days`` train, rows at/after ``cutoff`` test, and
    rows INSIDE the gap are labeled ``embargo`` and excluded from both
    — because records adjacent to the boundary leak target information
    across it (label windows, sessions, rolling features straddle the
    cut). Row-hash splits (``group_split``/``exact_split``) are WRONG
    for time-indexed data: they train on the future.

    Appends ``split`` in ('train', 'embargo', 'test'). NULL timestamps
    get 'embargo' (excluded from both sides — the conservative rule).
    Zero shuffles; pure column comparison against literal dates.
    """
    if embargo_days < 0:
        raise ValueError(f"embargo_days must be >= 0, got {embargo_days}")
    cut = F.lit(cutoff).cast("date")
    lo = F.date_sub(cut, embargo_days)
    ts = F.col(ts_col).cast("date")
    return df.withColumn(
        "split",
        F.when(ts < lo, F.lit("train"))
        .when(ts >= cut, F.lit("test"))
        .otherwise(F.lit("embargo")),
    )


def class_balance_sample(
    df: DataFrame,
    class_col: str,
    id_col: str,
) -> DataFrame:
    """Balanced per-class downsample to the MINORITY class size — the
    standard rebalancing step before training a classifier on skewed
    labels: every class keeps exactly min-class-count rows, chosen
    deterministically by md5(id) order (a seedless, engine-portable
    shuffle — the hash_sample discipline), so reruns and engines
    agree row-for-row.

    Output: the surviving ``(class, id)`` rows plus the within-class
    ``pick_rank``.

    Scale: one groupBy for class counts (tiny — |classes| rows, the
    min is a 1-row broadcast, NOT a collect), one per-class window
    over md5 order (partitioned — parallel across classes; a single
    giant class bounds a task at |class| rows, the same per-key
    window profile as o4_dedup_first).
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(class_col)).agg(F.count("*").alias("__n"))
    cap = counts.agg(F.min("__n").alias("__cap"))
    w = Window.partitionBy(class_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = df.select(F.col(class_col), F.col(id_col)).withColumn(
        "pick_rank", F.row_number().over(w)
    )
    return ranked.crossJoin(F.broadcast(cap)).filter(
        F.col("pick_rank") <= F.col("__cap")
    ).drop("__cap")


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    y_col: str,
    id_col: str,
    total_n: int,
    seed: str = "ney17",
) -> DataFrame:
    """Stratified sampling with NEYMAN optimal allocation (Neyman
    1934, public): stratum h of size N_h and std-dev S_h gets
    n_h ∝ N_h·S_h of the ``total_n`` budget — minimum-variance
    estimation of the population mean under a fixed sample budget,
    the principled upgrade over proportional allocation whenever
    strata differ in spread (a quality-audit sampler should read MANY
    docs from high-variance sources and few from uniform ones).

    ``y_col`` must be INTEGER-valued (quantize upstream): the
    variance comes from exact integer sums (N·Σy² − (Σy)²), so S_h =
    sqrt(num/den) is one correctly-rounded double from identical
    integer operands on any engine — no float-accumulation order
    anywhere. Single-row strata get S_h = 0 (no spread evidence, no
    budget). The cross-strata normalizer folds in stratum order (the
    temperature_mix discipline); n_h = min(N_h, floor(total·w_h/Σw
    + 0.5)), so rounding means Σn_h ≈ total_n, not exactly.

    The draw itself ranks rows inside each stratum by md5(id:seed)
    (partitioned window — never global) and keeps the first n_h.

    Output per stratum: ``(stratum, n_pop, s_dev, n_alloc,
    n_sampled, sample_y_mean)`` with s_dev rounded half-away to 6dp
    via its micro-unit long and sample_y_mean the exact half-away
    integer mean of the kept rows.

    Scale: two shuffles — one groupBy(stratum) for the moments (map-
    side combinable; stratum cardinality is small), one window on the
    stratum key for the ranked draw. The rank window partitions by
    stratum; a pathologically dominant stratum can salt the draw by
    ranking on md5 ranges (the salted_agg pattern) without changing
    the kept set.
    """
    from pyspark.sql import Window

    sc, yc = F.col(stratum_col), F.col(y_col).cast("long")
    moments = (
        df.groupBy(sc.alias("__s"))
        .agg(
            F.count("*").alias("__n"),
            F.sum(yc).alias("__sy"),
            F.sum(yc * yc).alias("__syy"),
        )
    )
    num = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    den = F.col("__n") * (F.col("__n") - 1)
    sdev = F.when(
        F.col("__n") > 1,
        F.sqrt(num.cast("double") / den.cast("double")),
    ).otherwise(F.lit(0.0))
    m = moments.select(
        "__s", "__n", sdev.alias("__sd"),
        (F.col("__n").cast("double") * sdev).alias("__w"),
    )
    # stratum-ordered fold for the normalizer: one tiny collect_list
    # over stratum cardinality, never over rows
    tot = m.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__s", "__w"))
                ),
                lambda x: x["__w"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("__wsum")
    )
    alloc = m.crossJoin(F.broadcast(tot)).select(
        "__s", "__n", "__sd",
        F.when(
            F.col("__wsum") > 0,
            F.least(
                F.col("__n"),
                F.floor(
                    F.lit(float(total_n)) * F.col("__w")
                    / F.col("__wsum")
                    + F.lit(0.5)
                ).cast("long"),
            ),
        ).otherwise(F.lit(0).cast("long")).alias("__alloc"),
    )
    rk = F.md5(
        F.concat(
            F.col(id_col).cast("string"), F.lit(":"), F.lit(seed)
        )
    )
    ranked = df.select(
        sc.alias("__s"), yc.alias("__y"), rk.alias("__rk")
    ).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__s").orderBy("__rk")
        ),
    )
    kept = (
        ranked.join(F.broadcast(alloc.select("__s", "__alloc")), "__s")
        .filter(F.col("__rn") <= F.col("__alloc"))
        .groupBy("__s")
        .agg(
            F.count("*").alias("__ns"),
            F.sum("__y").alias("__ssum"),
        )
    )
    mean_mag = F.floor(
        (2 * F.abs(F.col("__ssum")) * 1_000_000 + F.col("__ns"))
        / (2.0 * F.col("__ns"))
    )
    sample_mean = F.when(
        F.col("__ns") > 0,
        F.when(F.col("__ssum") >= 0, mean_mag).otherwise(-mean_mag)
        / 1_000_000.0,
    )
    sd_micro = F.floor(
        F.abs(F.col("__sd")) * 1_000_000 + F.lit(0.5)
    ).cast("long")
    return (
        alloc.join(F.broadcast(kept), "__s", "left")
        .select(
            F.col("__s").alias(stratum_col),
            F.col("__n").cast("long").alias("n_pop"),
            (sd_micro / 1_000_000.0).alias("s_dev"),
            F.col("__alloc").cast("long").alias("n_alloc"),
            F.coalesce(F.col("__ns"), F.lit(0))
            .cast("long")
            .alias("n_sampled"),
            sample_mean.alias("sample_y_mean"),
        )
    )


def pps_systematic_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling (Madow
    1949 / the classic PPS survey design, public literature) — draw
    ``n`` sample points from units whose inclusion probability is
    proportional to a size measure (revenue-weighted order audits,
    token-weighted document QA): big units are near-certain, small
    ones enter at rate n*w/T, and the systematic spacing guarantees
    lower variance than independent PPS draws.

    Deterministic CENTERED variant (no RNG anywhere): sample points
    sit at p_k = (2k+1)T/(2n) for k = 0..n-1 — the "random start" of
    the textbook design pinned to the interval midpoints, documented.
    Units order by id; unit i covers the cumulative-weight interval
    (W_{i-1}, W_i] in exact integer cents, and its hit count is the
    exact count of k with W_{i-1} < p_k <= W_i, computed by clearing
    denominators: k <= (2nW - T)/(2T) with decimal(38,0) `div` —
    every selection decision is integer arithmetic, no float enters.
    Units with weight >= T/n can be hit more than once (the standard
    PPS-with-certainty property; n_hits reports it).

    Output: the hit units ``(id, weight, n_hits, pi)`` ordered by id,
    with pi = min(1, n*w/T) the first-order inclusion probability
    (one rounded division, reporting only).

    Scale: one filter + the fused two-pass ``global_cumsum_before``
    (range shuffle on the id order), then per-row integer math — no
    windows over the data, no collects; the mann_whitney machinery
    pointed at sampling.
    """
    from .ranking import global_cumsum_before

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    base = df.filter(
        F.col(weight_col).isNotNull()
        & (F.col(weight_col).cast("decimal(18,2)") > 0)
        & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        (F.col(weight_col).cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("__w"),
    )
    cum = global_cumsum_before(
        base, ["__id"], "__w", num_partitions=num_partitions,
        out_col="__below",
    )
    tot = F.broadcast(base.agg(F.sum("__w").cast("long").alias("__T")))
    nn = F.lit(int(n)).cast("long")
    # k_max(W) = floor((2nW - T) / (2T)) for 2nW >= T, else -1; the
    # numerators stage as NAMED decimal columns (no shared temp — the
    # case-insensitive resolver would collide __W with the weight
    # column __w) and the nonneg numerator makes decimal `div`
    # (truncation) == floor
    t2 = exact(F.lit(2)) * exact("__T")
    numhi = exact(2 * nn) * exact(F.col("__below") + F.col("__w")) - exact(
        "__T"
    )
    numlo = exact(2 * nn) * exact("__below") - exact("__T")
    scored = (
        cum.crossJoin(tot)
        .withColumn("__t2", t2)
        .withColumn("__numhi", numhi)
        .withColumn("__numlo", numlo)
        .withColumn(
            "__khi",
            F.when(F.col("__numhi") < 0, F.lit(-1).cast("long")).otherwise(
                F.expr("cast(__numhi div __t2 as long)")
            ),
        )
        .withColumn(
            "__klo",
            F.when(F.col("__numlo") < 0, F.lit(-1).cast("long")).otherwise(
                F.expr("cast(__numlo div __t2 as long)")
            ),
        )
        .withColumn(
            "__hits",
            F.least(F.col("__khi"), nn - 1)
            - F.least(F.col("__klo"), nn - 1),
        )
    )
    return (
        scored.filter(F.col("__hits") > 0)
        .select(
            F.col("__id").alias(id_col),
            (F.col("__w").cast("double") / 100.0).alias("weight"),
            F.col("__hits").cast("long").alias("n_hits"),
            F.round(
                F.least(
                    F.lit(1.0),
                    nn.cast("double")
                    * F.col("__w").cast("double")
                    / F.col("__T").cast("double"),
                ),
                ndigits,
            ).alias("pi"),
        )
        .orderBy(id_col)
    )
