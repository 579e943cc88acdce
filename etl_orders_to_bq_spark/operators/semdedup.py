"""Embedding-space near-duplicate removal — the semantic counterpart
of the MinHash/SimHash lexical dedup stack (``operators/dedup.py``).

Two shapes, both blocking-first (never all-pairs):

- ``embedding_neardup_pairs``: random-hyperplane LSH buckets (the same
  deterministic planes as ``operators/ann.py``) -> within-bucket
  pairwise cosine -> threshold. The embedding analogue of MinHash
  banding: candidate generation is a bucket equi-join whose shuffle
  carries only bucketed vectors, and the exact cosine check runs on
  candidates only. Recall is tunable with ``bits`` (fewer bits = bigger
  buckets = higher recall, more compute), same knob as LSH band count.

- ``semdedup_keep``: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) —
  k-means-cluster the embeddings, then inside each cluster drop every
  item whose cosine similarity to a LOWER-ID item of the same cluster
  exceeds the threshold (keep-first-by-id, the deterministic stand-in
  for the paper's keep-lowest-centroid-distance). Clustering bounds the
  candidate set the same way LSH buckets do; centroids are supplied by
  the caller (fit them with ``ann.fit_ivf_centroids`` or bring fixed
  ones for reproducibility).

No counterpart in the reference engine (SURVEY.md §2.2 — no similarity
machinery at all beyond the weighted scorer); the brief's
"embedding-cosine near-dup" line item.

Scale notes (100 TB)
--------------------
- bucket/cluster assignment is a pure Column projection — a scan-shaped
  map stage; persist the assigned table partitioned by bucket/cluster
  so re-runs prune files (same discipline as ``write_ivf_index``);
- the pairwise stage is quadratic ONLY within a bucket, so oversized
  buckets (degenerate embeddings, all-zeros) are dropped via
  ``max_bucket`` — mirror the guard in any oracle, the same contract
  as ``dedup.lsh_candidate_pairs``;
- the per-bucket self-join shuffles each vector once per side; with
  d=64 float vectors that is 256 bytes/row — the candidate join, not
  the corpus text, pays the shuffle (text never enters this operator).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import dot, l2_norm
from .ann import assign_ivf_clusters, with_lsh_bucket
from .staging import stage


def _pair_cosine(va, vb, na, nb, method: str):
    """Cosine of a candidate pair from precomputed vectors + norms.

    ``method="column"`` is the original JVM expression — but Spark's
    array higher-order functions (``aggregate``/``zip_with`` inside
    ``dot``) are never whole-stage-codegen'd, so every pair pays
    interpreted per-element evaluation: measured ~15 s for one hot
    cluster's 3.5 M pairs × 64 dims at the 10× stress. ``"numpy"``
    computes each Arrow batch's dots as one einsum — same float64
    math, summation order differing only at ULP scale (the gate
    configs' nearest pair sits ≥ 0.05 from the 6dp-rounded threshold,
    and the DuckDB oracle already sums in its own order). Degenerate
    pairs (zero norm, null vector) yield NULL — explicitly, because
    Spark orders NaN ABOVE every number, so a NaN cosine would pass a
    >= threshold filter instead of failing it.
    """
    from pyspark.sql.functions import pandas_udf

    if method == "column":
        denom = na * nb
        return F.when(denom > 0, dot(va, vb) / denom)
    if method != "numpy":
        raise ValueError(f"unknown pair method: {method}")

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series, n1: pd.Series, n2: pd.Series) -> pd.Series:
        import numpy as np

        out = pd.Series([pd.NA] * len(a), dtype="Float64")
        if len(a) == 0:
            return out
        denom = n1.to_numpy(dtype="float64", na_value=0.0) * n2.to_numpy(
            dtype="float64", na_value=0.0
        )
        valid = a.notna() & b.notna() & (denom > 0)
        if valid.any():
            A = np.stack([np.asarray(x, dtype="float64") for x in a[valid]])
            B = np.stack([np.asarray(x, dtype="float64") for x in b[valid]])
            dots = np.einsum("ij,ij->i", A, B)
            out[valid] = dots / denom[valid.to_numpy()]
        return out

    return _cos(va, vb, na, nb)


def _bucket_guarded(
    bucketed: DataFrame, bucket_col: str, max_bucket: int
) -> DataFrame:
    """Drop buckets with more than ``max_bucket`` members (quadratic
    blow-up guard). One tiny agg on the bucket key, broadcast back."""
    sizes = (
        bucketed.groupBy(bucket_col)
        .agg(F.count("*").alias("__bsize"))
        .filter(F.col("__bsize") <= max_bucket)
        .select(bucket_col)
    )
    return bucketed.join(F.broadcast(sizes), bucket_col, "left_semi")


def auto_bits(
    n_vectors: int,
    target_cluster: int = 128,
    min_bits: int = 4,
    max_bits: int = 24,
) -> int:
    """Hyperplane-LSH bucket bits as a FUNCTION OF CORPUS SIZE:
    ``ceil(log2(n / target_cluster))`` clamped to [min_bits, max_bits].

    The quadratic term in SemDeDup / embedding near-dup is the
    per-bucket pairwise stage, O(sum of bucket_size^2). With FIXED
    bits, 10x more vectors means 10x bigger buckets and 100x pair
    work; growing bits with the corpus holds the EXPECTED bucket
    population at ~target_cluster, so total pair work stays
    ~O(n * target_cluster) — linear, ON DATA THAT SPREADS ACROSS SIGN
    CODES. Measured r7: this fixture's embeddings are degenerate for
    hyperplane LSH (occupied buckets ~ bits, not 2^bits), so for
    clumped data the robust policy is k-means with k = n/target
    (bench.py semdedup_autok_*, SCALING.md); this formula documents
    the uniform-data case. Recall trade: a finer partition splits more
    true near-dup pairs across buckets, so production sweeps
    target_cluster, not bits. 2^24 buckets bounds the hyperplane
    matrix at fit time.
    """
    import math

    if n_vectors <= 0:
        return min_bits
    bits = math.ceil(math.log2(max(n_vectors / max(target_cluster, 1), 1)))
    return max(min_bits, min(max_bits, bits))


def semdedup_auto(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.85,
    target_cluster: int = 128,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 1_000_000,
    pair_method: str = "grouped",
    assign_method: str = "numpy",
    degeneracy_factor: float = 4.0,
    kmeans_rounds: int = 2,
) -> DataFrame:
    """Degeneracy-robust SemDeDup — the DEFAULT entry point when the
    caller has no opinion about clustering. ``semdedup_keep`` takes
    explicit centroids, and a FIXED centroid count is the measured
    scale trap (bench r6-r7 ``semdedup_bits8``: 8 centroids for a 10×
    corpus → per-cluster population grows with n → pair work n²/k →
    growth 6.1×). This wrapper derives the clustering from the data:

    1. ``k = max(8, ceil(n / target_cluster))`` — centroid count grows
       LINEARLY with the corpus so expected cluster population (the
       quadratic term) stays ~target_cluster;
    2. assign once to k seeded random directions and PROBE the realized
       histogram: per-row pair work = Σ s²/n (a strictly sharper
       degeneracy signal than occupied-bucket count — it measures the
       actual quadratic cost, not just emptiness);
    3. if work/row ≤ degeneracy_factor × target_cluster the seeds
       already balance (uniform-ish data) — skip the fit and keep the
       assignment; otherwise the data clumps harder than random
       directions can split, so run ``kmeans_rounds`` deterministic
       Lloyd rounds (centroids move to the density — the SemDeDup
       paper's own design) and cluster on the learned centroids.

    Both branches end in ``semdedup_keep`` (same shadow rule, same
    6dp boundary contract) and are fully deterministic given (data,
    seed), so an oracle can replay whichever branch the fixture takes.
    Cost: one count job + one assignment scan + tiny histogram agg for
    the probe; the Lloyd fit (2 extra scans) is paid only when needed.
    Callers looping over this should localCheckpoint the input.
    """
    import math

    from .ann import _hyperplanes, lloyd_kmeans

    n = embeddings.count()
    k = max(8, math.ceil(n / max(target_cluster, 1)))
    seeds = _hyperplanes(dim, k, seed)
    hist = (
        assign_ivf_clusters(embeddings, seeds, vec_col, assign_method)
        .groupBy("ivf_cluster")
        .agg(F.count("*").alias("__s"))
    )
    st = hist.agg(
        F.sum("__s").alias("__n"),
        F.sum(F.col("__s") * F.col("__s")).alias("__ss"),
    ).collect()[0]
    # empty input: both sums are NULL -> treat as zero work (the
    # cheap branch; semdedup_keep returns an empty frame either way)
    work_per_row = (st["__ss"] or 0) / max(st["__n"] or 0, 1)
    if work_per_row > degeneracy_factor * target_cluster:
        centroids, _ = lloyd_kmeans(
            embeddings, seeds, rounds=kmeans_rounds,
            round_ndigits=6, method=assign_method,
        )
    else:
        centroids = seeds
    return semdedup_keep(
        embeddings, centroids, threshold=threshold, id_col=id_col,
        vec_col=vec_col, max_cluster=max_cluster,
        pair_method=pair_method, assign_method=assign_method,
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.85,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 100_000,
    pair_method: str = "numpy",
) -> DataFrame:
    """Candidate near-dup pairs by embedding cosine: (id_a, id_b,
    cos_sim) with id_a < id_b, cos_sim rounded to 6dp and >= threshold,
    both endpoints in the same LSH bucket.

    The threshold compares the ROUNDED similarity, so an oracle
    replaying the arithmetic at 6dp agrees exactly at the boundary.
    ``pair_method`` picks the quadratic stage's kernel (see
    ``_pair_cosine``) — the Arrow einsum default, or "column" for the
    pure-JVM expression.
    """
    v = F.col(vec_col).cast("array<double>")
    # norms are computed ONCE per row here, not per pair — the pair
    # stage is the quadratic part, so it must only pay one dot product
    bucketed = with_lsh_bucket(embeddings, dim, bits, vec_col, seed).select(
        F.col(id_col),
        v.alias("__v"),
        l2_norm(v).alias("__n"),
        "bucket",
    )
    bucketed = _bucket_guarded(bucketed, "bucket", max_bucket)
    a = bucketed.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        "bucket",
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        "bucket",
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    cos = _pair_cosine(
        F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb"),
        pair_method,
    )
    return (
        pairs.select(
            "id_a", "id_b", F.round(cos, 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semdedup_keep(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 1_000_000,
    pair_method: str = "grouped",
    assign_method: str = "auto",
) -> DataFrame:
    """SemDeDup keep-set: (id, cluster) for every item NOT dropped.

    An item is dropped iff some lower-id item in the same cluster has
    cosine similarity >= threshold with it (6dp-rounded, same boundary
    contract as ``embedding_neardup_pairs``). Keep-first-by-id makes
    the result order-free and oracle-reproducible; the paper's variant
    (keep the item closest to the centroid) is the same plan with a
    different tie-break column.

    No iteration either way: unlike connected-components dedup the
    shadow rule is NOT transitive (a dropped item still shadows its
    own neighbors) — exactly SemDeDup's semantics, and what makes the
    operator embarrassingly parallel per cluster.

    ``pair_method``:
    - "grouped" (default, the paper's own shape): ONE
      ``applyInPandas`` over ``groupBy(cluster)`` — each vector
      crosses the Arrow boundary once per cluster, the cluster's
      cosine matrix is one blocked BLAS gram, and the keep-set falls
      out in the same pass (no self-join, no anti-join, no duplicated
      per-pair vector serialization — measured: the pair-join shapes
      ship each hot-cluster vector thousands of times, ~17 s at the
      10× stress vs ~4 s grouped). Blocked at 2048 rows so peak
      memory is block×m doubles, not m², under the ``max_cluster``
      guard.
    - "numpy" / "column": the join shape — cluster self-join +
      per-pair cosine (Arrow einsum / pure-Column expression) +
      anti-join. The assigned table is then STAGED once
      (``staging.stage``):
      it feeds three plan branches, and without staging Catalyst
      duplicates the assignment into each — measured 2x slower at the
      gate SF. Kept for plan scrutiny and as the no-grouped-map
      fallback.

    At 100 TB the staged/grouped frame is the cluster-partitioned
    persisted assignment (``ann.write_ivf_index`` discipline).
    """
    v = F.col(vec_col).cast("array<double>")
    # same one-norm-per-row discipline as embedding_neardup_pairs
    assigned = assign_ivf_clusters(
        embeddings, centroids, vec_col, assign_method
    ).select(
        F.col(id_col),
        v.alias("__v"),
        l2_norm(v).alias("__n"),
        F.col("ivf_cluster").alias("cluster"),
    )
    assigned = _bucket_guarded(assigned, "cluster", max_cluster)

    if pair_method == "grouped":
        import numpy as np

        thr = float(threshold)

        def _keep(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col).reset_index(drop=True)
            m = len(pdf)
            ok = pdf["__v"].notna().to_numpy()
            norms = pdf["__n"].to_numpy(dtype="float64", na_value=0.0)
            usable = ok & (norms > 0)
            dropped = np.zeros(m, dtype=bool)
            if usable.any():
                X = np.zeros((m, len(pdf["__v"][usable.argmax()])))
                for i in np.flatnonzero(usable):
                    X[i] = np.asarray(pdf["__v"][i], dtype="float64")
                # blocked gram: rows [s:e) vs ALL columns; a pair with
                # any unusable endpoint gets cos -inf (never shadows),
                # matching the join shape's NULL-cosine semantics
                for s in range(0, m, 2048):
                    e = min(s + 2048, m)
                    block = X[s:e] @ X.T
                    denom = norms[s:e, None] * norms[None, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = np.where(denom > 0, block / denom, -np.inf)
                    cos = np.round(cos, 6)
                    j_idx = np.arange(m)[None, :]
                    i_idx = np.arange(s, e)[:, None]
                    hit = (cos >= thr) & (j_idx < i_idx)
                    dropped[s:e] = hit.any(axis=1)
            out = pdf.loc[~dropped, [id_col, "cluster"]]
            return out

        # derive the id field's type from the input so string/int ids
        # survive the grouped path exactly like the join paths do
        out_schema = T.StructType(
            [
                T.StructField(
                    id_col, assigned.schema[id_col].dataType, True
                ),
                T.StructField("cluster", T.IntegerType(), True),
            ]
        )
        return assigned.groupBy("cluster").applyInPandas(
            _keep, schema=out_schema
        )

    assigned = stage(assigned, "semdedup_assigned")
    lower = assigned.select(
        F.col(id_col).alias("__lid"),
        F.col("__v").alias("__lv"),
        F.col("__n").alias("__ln"),
        "cluster",
    )
    cos = _pair_cosine(
        F.col("__v"), F.col("__lv"), F.col("__n"), F.col("__ln"),
        pair_method,
    )
    shadowed = (
        assigned.join(lower, "cluster")
        .filter(F.col("__lid") < F.col(id_col))
        .filter(F.round(cos, 6) >= threshold)
        .select(id_col)
        .distinct()
    )
    return (
        assigned.join(shadowed, id_col, "left_anti")
        .select(id_col, "cluster")
    )


def bucket_medoids(
    embeddings: DataFrame,
    dim: int,
    bits: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 100_000,
    ndigits: int = 6,
    pair_method: str = "numpy",
) -> DataFrame:
    """Diversity/coreset sampling: ONE representative per LSH bucket —
    the bucket's MEDOID (max mean cosine to its bucket peers, ties to
    the smaller id). The complement of SemDeDup: instead of dropping
    near-duplicates, keep exactly one exemplar per semantic region —
    the cheap first stage of coreset selection / diverse-subset
    curation (one-per-region is the classic k-center seeding shape).

    Output: ``(bucket, bucket_size, medoid_id, mean_cos)``, one row
    per surviving bucket; singleton buckets keep their only member
    with ``mean_cos = 0.0`` (no peers).

    Determinism contract: per-pair cosine is 6dp-rounded, the per-id
    mean folds a SORTED value list (cross-engine float order), and the
    argmax tie-breaks on id — a SQL oracle replays everything exactly.
    ``pair_method`` picks the dot kernel (``_pair_cosine``): the Arrow
    einsum default (ULP-scale order difference inside each cosine,
    snapped by the 6dp round before the fold) or ``"column"`` for the
    pure-JVM expression.

    Scale: bucket assignment is a projection; the pairwise stage is
    quadratic ONLY within a bucket and ``max_bucket``-guarded (the
    SemDeDup contract — grow bits/k with the corpus, see SCALING.md);
    the shuffle carries (bucket, id, vector) once for the self-join
    and 16-byte (bucket, id, cos) rows after.
    """
    b = with_lsh_bucket(embeddings, dim, bits, vec_col, seed).select(
        F.col(id_col), "bucket", F.col(vec_col).alias("__v"),
        l2_norm(vec_col).alias("__n"),
    )
    b = _bucket_guarded(b, "bucket", max_bucket)
    return _medoids_over(b, id_col, ndigits, pair_method)


def _medoids_over(
    b: DataFrame, id_col: str, ndigits: int, pair_method: str
) -> DataFrame:
    """Medoid-per-bucket over a prepared ``(id, bucket, __v, __n)``
    frame — the shared quadratic stage of ``bucket_medoids`` (LSH sign
    buckets) and ``bucket_medoids_auto`` (corpus-sized IVF regions).
    Same determinism contract as the public docstrings: 6dp pair
    cosines, sorted-fold means, argmax ties to the smaller id."""
    a = b.select(
        "bucket", F.col(id_col).alias("__ida"),
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    c = b.select(
        "bucket", F.col(id_col).alias("__idb"),
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    cos = F.round(
        F.coalesce(
            _pair_cosine(
                F.col("__va"), F.col("__vb"), F.col("__na"),
                F.col("__nb"), pair_method,
            ),
            F.lit(0.0),
        ),
        ndigits,
    )
    per_id = (
        a.join(c, "bucket")
        .filter(F.col("__ida") != F.col("__idb"))
        .select("bucket", "__ida", cos.alias("__cos"))
        .groupBy("bucket", "__ida")
        .agg(F.sort_array(F.collect_list("__cos")).alias("__cs"))
        .select(
            "bucket",
            "__ida",
            F.round(
                F.aggregate(
                    F.col("__cs"), F.lit(0.0), lambda acc, x: acc + x
                )
                / F.size("__cs"),
                ndigits,
            ).alias("__mean"),
        )
    )
    best = per_id.groupBy("bucket").agg(
        F.min(
            F.struct(
                (-F.col("__mean")).alias("nc"), F.col("__ida").alias("id")
            )
        ).alias("__m")
    ).select(
        "bucket",
        F.col("__m.id").alias("medoid_id"),
        (-F.col("__m.nc")).alias("mean_cos"),
    )
    sizes = b.groupBy("bucket").agg(
        F.count("*").alias("bucket_size"),
        F.min(id_col).alias("__only"),
    )
    return sizes.join(best, "bucket", "left").select(
        "bucket",
        "bucket_size",
        F.coalesce("medoid_id", F.col("__only")).alias("medoid_id"),
        F.coalesce("mean_cos", F.lit(0.0)).alias("mean_cos"),
    )


def auto_region_assign(
    embeddings: DataFrame,
    dim: int,
    target_bucket: int = 128,
    seed: int = 42,
    vec_col: str = "embedding",
    assign_method: str = "numpy",
    degeneracy_factor: float = 4.0,
    kmeans_rounds: int = 2,
) -> DataFrame:
    """The degeneracy-robust region policy, factored out for every
    region-blocked embedding operator (``bucket_medoids_auto``,
    ``hard_negatives``): k = max(8, ceil(n/target)) seeded directions,
    one STAGED probe assignment (reused directly when the seeds pass —
    the cheap branch pays ONE Arrow scan total), Σs²/n histogram probe,
    deterministic Lloyd fallback when the data clumps. Returns the
    input columns plus ``ivf_cluster``. Deterministic given (data,
    seed), so an oracle can replay whichever branch the fixture takes.
    """
    import math

    from .ann import _hyperplanes, lloyd_kmeans
    from .staging import stage

    n = embeddings.count()
    k = max(8, math.ceil(n / max(target_bucket, 1)))
    seeds = _hyperplanes(dim, k, seed)
    probe_assigned = stage(
        assign_ivf_clusters(embeddings, seeds, vec_col, assign_method),
        "auto_region_probe",
        eager=False,
    )
    hist = probe_assigned.groupBy("ivf_cluster").agg(
        F.count("*").alias("__s")
    )
    st = hist.agg(
        F.sum("__s").alias("__n"),
        F.sum(F.col("__s") * F.col("__s")).alias("__ss"),
    ).collect()[0]
    work_per_row = (st["__ss"] or 0) / max(st["__n"] or 0, 1)
    if work_per_row > degeneracy_factor * target_bucket:
        if kmeans_rounds <= 0:
            return probe_assigned
        # the staged probe IS Lloyd round 1's assignment (same seeds),
        # so its per-cluster means are round 1's centroids — computed
        # here from the ALREADY-MATERIALIZED frame instead of paying
        # lloyd_kmeans a fresh assignment scan, and keeping the
        # checkpointed blocks productive on this branch too (they are
        # freed by the ContextCleaner once unreferenced). Bitwise
        # identical to lloyd_kmeans(embeddings, seeds, kmeans_rounds):
        # same avg expression, same 6dp round, same empty-cluster
        # keep-previous rule.
        def _mean(i: int):
            return F.round(
                F.avg(F.element_at(F.col(vec_col), i + 1)), 6
            ).alias(f"m{i}")

        mean_rows = (
            probe_assigned.groupBy("ivf_cluster")
            .agg(*[_mean(i) for i in range(dim)])
            .collect()
        )
        new = {
            r["ivf_cluster"]: [float(r[f"m{i}"]) for i in range(dim)]
            for r in mean_rows
        }
        cents = [new.get(j, seeds[j]) for j in range(len(seeds))]
        if kmeans_rounds > 1:
            cents, _ = lloyd_kmeans(
                embeddings, cents, rounds=kmeans_rounds - 1,
                round_ndigits=6, method=assign_method,
            )
        return assign_ivf_clusters(
            embeddings, cents, vec_col, assign_method
        )
    return probe_assigned


def bucket_medoids_auto(
    embeddings: DataFrame,
    dim: int,
    target_bucket: int = 128,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 100_000,
    ndigits: int = 6,
    pair_method: str = "numpy",
    assign_method: str = "numpy",
    degeneracy_factor: float = 4.0,
    kmeans_rounds: int = 2,
) -> DataFrame:
    """Degeneracy-robust diversity sampling — the DEFAULT entry point
    when the caller has no opinion about bucketing. ``bucket_medoids``
    with FIXED ``bits`` is the measured scale trap (bench r8
    ``diverse_sample``: 64 sign buckets for a 10× corpus → per-bucket
    population grows with n → the pairwise-mean stage is n²/2^bits →
    growth 3.9×, and even auto_bits(n)=9 only 3.0× because this
    fixture's embeddings collapse onto few sign codes). Exactly the
    failure ``semdedup_auto`` eliminates for SemDeDup, so this wrapper
    applies the same policy to the medoid sampler:

    1. ``k = max(8, ceil(n / target_bucket))`` — region count grows
       LINEARLY with the corpus so the expected region population (the
       quadratic term of the pairwise-mean stage) stays ~target_bucket;
    2. assign once to k seeded random directions
       (``assign_ivf_clusters`` argmax — a nearest-region partition,
       which unlike sign codes cannot leave regions empty by
       construction) and PROBE the realized histogram: per-row pair
       work = Σ s²/n;
    3. if work/row ≤ degeneracy_factor × target_bucket the seeds
       already balance — keep the assignment; otherwise run
       ``kmeans_rounds`` deterministic Lloyd rounds so centroids move
       to the density, then assign on the learned centroids.

    Output schema and semantics match ``bucket_medoids`` — ``bucket``
    is the region id (here an IVF cluster index rather than a sign
    code), and the medoid stage is byte-identical (``_medoids_over``):
    6dp pair cosines, sorted-fold means, id tie-break — so a SQL
    oracle replays whichever branch the fixture takes (the probe is
    deterministic given (data, seed)). Cost over the fixed-bits path:
    one count job + the probe's tiny histogram agg; the Lloyd fit (2
    extra scans) only when the probe demands it.
    """
    assigned = auto_region_assign(
        embeddings, dim, target_bucket, seed, vec_col, assign_method,
        degeneracy_factor, kmeans_rounds,
    )
    v = F.col(vec_col).cast("array<double>")
    b = assigned.select(
        F.col(id_col),
        F.col("ivf_cluster").alias("bucket"),
        v.alias("__v"),
        l2_norm(v).alias("__n"),
    )
    b = _bucket_guarded(b, "bucket", max_bucket)
    return _medoids_over(b, id_col, ndigits, pair_method)
