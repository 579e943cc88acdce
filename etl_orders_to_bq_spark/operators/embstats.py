"""Embedding-distribution statistics — the data-quality layer for
vector columns: a corpus whose per-source embedding MEANS drift apart
is mixing sources with different semantics (encoder version change,
domain shift, a broken preprocessing branch), which silently degrades
both dedup thresholds and ANN recall.

``embedding_drift`` reports, per group, the L1 distance between the
group's per-dimension mean vector and the global one. Means fold over
SORTED values (the repo's cross-engine float discipline — ``F.avg``
is shuffle-order-dependent and flakes 6dp hash gates at a few
thousand rows per group, measured in round 5) and are snapped to 6dp
before differencing, so a SQL oracle replays the report exactly.

Scale: one posexplode projection (rows x dim), one map-side-combinable
(group, dim) aggregation, a broadcast join against the dim-sized
global means; the drift sum folds 64 doubles per group in dimension
order. At 100 TB swap the exact sorted-fold means for plain avg — at
billions of values per (group, dim) cell the ULP drift argument holds
without sorting and nothing else changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact_sum


def embedding_drift(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Per-group embedding-mean drift vs the global mean:
    ``(group, n_vecs, l1_drift, max_dim_drift)``.

    Null embeddings are dropped; every vector in a group must share
    the dimensionality (enforced upstream by the writer — posexplode
    simply yields whatever positions exist).
    """
    f = embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "dim", "v"
        ),
    )

    def sorted_mean() -> F.Column:
        vals = F.sort_array(F.collect_list("v"))
        return F.round(
            F.aggregate(vals, F.lit(0.0), lambda acc, x: acc + x)
            / F.size(vals),
            ndigits,
        )

    per_group = f.groupBy("grp", "dim").agg(
        sorted_mean().alias("__m"), F.count("*").alias("__n")
    )
    global_means = f.groupBy("dim").agg(sorted_mean().alias("__g"))
    diffs = per_group.join(F.broadcast(global_means), "dim").select(
        "grp",
        "dim",
        "__n",
        F.round(F.abs(F.col("__m") - F.col("__g")), ndigits).alias("__d"),
    )
    # fold the per-dim gaps in DIMENSION order (engine-identical sum)
    ds = F.sort_array(
        F.collect_list(F.struct(F.col("dim"), F.col("__d")))
    )
    drift_sum = F.aggregate(
        F.transform(ds, lambda s: s["__d"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        diffs.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.max("__n").alias("n_vecs"),
            F.round(drift_sum, ndigits).alias("l1_drift"),
            F.max("__d").alias("max_dim_drift"),
        )
        .orderBy(group_col)
    )


# ---------------------------------------------------------------------------
# Distributed PCA: integer-exact covariance + driver-side power iteration
# ---------------------------------------------------------------------------


def _pc1_fit(
    embeddings: DataFrame,
    dim: int,
    rounds: int = 8,
    vec_col: str = "embedding",
) -> list[int]:
    """Top principal direction as INTEGER MICRO-UNITS (v_i in
    [-1e6, 1e6], ||v|| ~ 1e6) — the fit half of ``pca_pc1_scores``.

    Distributed part (the textbook PCA-at-scale shape): quantize each
    vector to 6dp micro-units, then ONE map-side-combinable
    aggregation produces the exact integer sufficient statistics
    (n, per-dim sums S_i, upper-triangle product sums P_ij). The
    centered scatter matrix C_ij = n*P_ij - S_i*S_j is then EXACT
    integer arithmetic — no float accumulation anywhere in the
    shuffle, so two engines (or two partitionings) cannot disagree
    even at the last bit.

    Driver part (bounded: dim^2 numbers, like ``lloyd_kmeans``'s
    centroid reads): ``rounds`` power-iteration steps on C, every
    step re-quantized so an external SQL oracle replays it
    bit-for-bit:
      w = C v                    (exact int)
      k = max(0, digits(max|w|) - 7); w' = trunc(w / 10^k)
                                 (trunc-toward-zero — DuckDB's `//`)
      norm2 = sum w'^2           (exact int, <= 64e14 by the rescale)
      v'_i = half-away-round((w'_i / sqrt(norm2)) * 1e6)
                                 (the ONLY float ops: a sqrt and a
                                  division on bit-identical inputs)
    v0 = [round(1e6/sqrt(dim))] * dim; a zero iterate keeps the
    previous v (degenerate all-equal input). Sign convention is
    whatever the fixed v0 converges to — deterministic, like any
    eigensolver's.
    """
    import math

    v_arr = F.col(vec_col).cast("array<double>")
    xm = F.transform(
        v_arr, lambda x: F.round(x * 1e6, 0).cast("long")
    )
    # contract: NULL vectors and wrong-length arrays are EXCLUDED
    # (a ragged row would otherwise silently corrupt the scatter
    # matrix — or crash the driver loop on an over-long array)
    base = embeddings.filter(
        F.col(vec_col).isNotNull() & (F.size(v_arr) == dim)
    ).select(xm.alias("__xm"))
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    # ONE in-row expansion carries all sufficient statistics: the
    # upper-triangle products (i, j, xi*xj) PLUS per-dim sum rows
    # (i, -1, xi) — so n, S and P come out of a single scan + a
    # single combinable groupBy, and no second corpus pass exists
    tri = F.concat(
        F.flatten(
            F.transform(
                idx,
                lambda i: F.transform(
                    F.sequence(i, F.lit(dim - 1)),
                    lambda j: F.struct(
                        i.alias("i"),
                        j.alias("j"),
                        (
                            F.element_at("__xm", (i + 1).cast("int"))
                            * F.element_at("__xm", (j + 1).cast("int"))
                        ).alias("p"),
                    ),
                ),
            )
        ),
        F.transform(
            idx,
            lambda i: F.struct(
                i.alias("i"),
                F.lit(-1).alias("j"),
                F.element_at("__xm", (i + 1).cast("int")).alias("p"),
            ),
        ),
    )
    stats = (
        base.select(F.explode(tri).alias("e"))
        .groupBy(F.col("e.i").alias("i"), F.col("e.j").alias("j"))
        .agg(
            exact_sum("e.p").alias("p"),
            F.count("*").alias("c"),
        )
    )
    n = 0
    S = [0] * dim
    P = {}
    for r in stats.collect():
        if r["j"] == -1:
            S[r["i"]] = int(r["p"])
            n = max(n, r["c"])
        else:
            P[(r["i"], r["j"])] = int(r["p"])
    C = [[0] * dim for _ in range(dim)]
    for i in range(dim):
        for j in range(i, dim):
            c = n * P.get((i, j), 0) - S[i] * S[j]
            C[i][j] = c
            C[j][i] = c

    v = [int(round(1e6 / math.sqrt(dim)))] * dim
    for _ in range(rounds):
        w = [sum(C[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:
            break
        k = max(0, len(str(m)) - 7)
        d10 = 10 ** k
        w2 = [(abs(x) // d10) * (1 if x >= 0 else -1) for x in w]
        norm2 = sum(x * x for x in w2)
        if norm2 == 0:
            break
        norm = math.sqrt(float(norm2))
        v = [
            int(
                math.copysign(
                    math.floor(abs((float(x) / norm) * 1e6) + 0.5), x
                )
            )
            for x in w2
        ]
    return v


def pca_pc1_scores(
    embeddings: DataFrame,
    dim: int,
    rounds: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """First-principal-component scores per vector: (id, pc1_score) —
    the embedding-analytics workhorse (dominant-direction audits,
    1-D diversity binning, outlier triage by |score|).

    Scores project the 6dp-QUANTIZED vectors onto the fitted micro
    direction with pure integer arithmetic (score_micro = sum
    xm_i * v_i, |.| <= 64e12 — exact in long), then one rounded
    division — so engine and oracle agree bit-for-bit; there is no
    float summation over dimensions anywhere. NULL vectors are
    excluded from both fit and output (documented contract).

    Scale: the fit is one scan + one dim^2-key aggregation (see
    ``_pc1_fit``); scoring is a scan with an in-row fold. The dim^2
    in-row product expansion is the standard outer-product flat-map
    of distributed PCA — per-row work O(dim^2), no shuffle wider
    than dim^2 keys.
    """
    v = _pc1_fit(embeddings, dim, rounds, vec_col)
    from ..functions.vectors import lit_longs

    v_lit = lit_longs(v)
    xm = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * 1e6, 0).cast("long"),
    )
    score_micro = F.aggregate(
        F.zip_with(xm, v_lit, lambda x, vv: x * vv),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    varr = F.col(vec_col).cast("array<double>")
    return embeddings.filter(
        F.col(vec_col).isNotNull() & (F.size(varr) == dim)
    ).select(
        F.col(id_col),
        F.round(score_micro / F.lit(1e12), ndigits).alias("pc1_score"),
    )


def jl_project(
    df: DataFrame,
    dim: int,
    out_dim: int = 16,
    seed: int = 31,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ndigits: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Johnson &
    Lindenstrauss 1984; Achlioptas 2003 database-friendly variant —
    public literature): project ``dim``-dimensional embeddings onto
    ``out_dim`` seeded random unit directions, preserving pairwise
    distances within (1±ε) w.h.p. — the standard cheap dimensionality
    squeeze before LSH banding, coarse clustering, or shipping vectors
    across a shuffle (a 64→16 projection cuts shuffle bytes 4×).

    Directions come from the repo's shared LCG hyperplane family
    (``ann._hyperplanes`` — the same stream LSH/IVF/diverse-sample
    seed from), each dot product scaled by the JL factor
    ``sqrt(dim / out_dim)`` so expected pairwise distances are
    preserved (without it they shrink by that constant — r10 review;
    cosine/LSH-sign consumers would not care, distance-threshold
    consumers would). Determinism and the SQL oracle stay free: each
    component is one inlined-literal dot product times one python-
    computed literal, 6dp-rounded — the identical float dag on both
    engines (the repo-wide single-dot tolerance argument, NOT a
    many-term sum needing the sorted-fold discipline).

    Output: ``(id, component, value)`` — flattened long form (one row
    per component) so every downstream consumer and the correctness
    hash see scalars, not nested arrays. Pure projection: no shuffle,
    no UDF; at 100 TB this is scan-shaped and pairs with a
    repartition ONLY if the caller wants co-location afterwards.
    """
    import math

    from .ann import _hyperplanes

    planes = _hyperplanes(dim, out_dim, seed)
    from ..functions.vectors import dot, lit_doubles

    scale = float(math.sqrt(dim / out_dim))
    v = F.col(vec_col).cast("array<double>")
    comps = [
        F.round(dot(v, lit_doubles(p)) * F.lit(scale), ndigits)
        for p in planes
    ]
    exploded = F.posexplode(F.array(*comps))
    return df.select(
        F.col(id_col), exploded.alias("component", "value")
    )
