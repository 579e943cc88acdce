"""Approximate-nearest-neighbor search over an embedding column.

Two strategies:

- ``ann_topk_bruteforce``: exact cosine top-k against a broadcast query
  vector. One projection + TakeOrderedAndProject (per-partition heap of
  size k, no global sort). This is the correctness baseline and is
  already linear-scan optimal for a single query at any scale.
- ``ann_topk_lsh``: random-hyperplane LSH — deterministic signed
  projections bucket vectors so a query only scans its own bucket(s).
  The scale path for query-heavy workloads: bucketing is a one-off
  projection; per-query cost drops from O(N) to O(N / 2^bits) expected.

No UDFs: dot products are ``zip_with``/``aggregate`` higher-order
functions (functions/vectors.py), evaluated JVM-side.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_type
from ..functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
    lit_doubles,
)
from .staging import stage


def _query_cosine(vec_col: str, query_vec: list[float], method: str):
    """Cosine of every row against ONE query vector, null-safe on zero
    norms. "column": JVM higher-order exprs — interpreted per element
    (never codegen'd), ~16 µs/row at dim 64. "numpy": one Arrow-batched
    ``X@q`` matvec per batch, ~10× faster on real scans; float64
    summation order differs only at ULP scale, far below the 6dp
    rounding every caller applies (same tolerance argument as
    ``assign_ivf_clusters``). "auto" picks numpy at dim >= 16."""
    dim = len(query_vec)
    if method == "auto":
        method = "numpy" if dim >= 16 else "column"
    if method == "column":
        q = lit_doubles(query_vec)
        q_norm = 0.0
        for x in query_vec:
            q_norm += float(x) * float(x)
        q_norm = math.sqrt(q_norm)
        v = F.col(vec_col)
        denom = l2_norm(v) * F.lit(q_norm)
        return F.when(denom > 0, dot(v, q) / denom)
    if method != "numpy":
        raise ValueError(f"unknown method: {method}")
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    qv = np.asarray(query_vec, dtype="float64")
    qn = float(np.sqrt(qv @ qv))

    @pandas_udf("double")
    def _qcos(vs: pd.Series) -> pd.Series:
        out = pd.Series([pd.NA] * len(vs), dtype="Float64")
        if len(vs) == 0:
            return out
        valid = vs.notna()
        if valid.any():
            X = np.stack(
                [np.asarray(v, dtype="float64") for v in vs[valid]]
            )
            norms = np.sqrt(np.einsum("ij,ij->i", X, X)) * qn
            dots = X @ qv
            vals = np.where(norms > 0, dots / np.where(norms > 0, norms, 1.0), np.nan)
            res = pd.Series(vals, index=vs.index[valid], dtype="float64")
            res = res.where(norms > 0, pd.NA).astype("Float64")
            out[valid] = res
        return out

    return _qcos(F.col(vec_col).cast("array<double>"))


def ann_topk_bruteforce(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """Exact cosine top-k for one query vector: (id, cos_sim) desc.

    The scan is one projection + TakeOrderedAndProject; ``method``
    picks the scoring kernel (see ``_query_cosine``).
    """
    scored = embeddings.select(
        F.col(id_col),
        F.round(_query_cosine(vec_col, query_vec, method), 6).alias(
            "cos_sim"
        ),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def ann_topk_matryoshka(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    coarse_dim: int = 16,
    coarse_m: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """Two-stage Matryoshka retrieval: coarse top-``coarse_m`` on the
    FIRST ``coarse_dim`` dimensions, exact full-dim rerank to top-k
    (Kusupati et al. 2022, "Matryoshka Representation Learning" —
    public literature; MRL-trained embeddings concentrate signal in
    the leading dims, so a truncated-dim scan is the cheap filter).

    Scale: stage 1 touches coarse_dim/dim of the multiply-add work
    per row (the dominant cost of a brute scan) and ends in
    TakeOrderedAndProject — per-partition top-m, no global shuffle;
    stage 2 reranks only m rows. The result is exact WITH RESPECT TO
    THE TWO-STAGE DEFINITION (deterministic: both scores 6dp-rounded,
    ties broken on id), and equals full brute-force top-k whenever
    the true top-k survive the coarse filter — the recall knob is
    ``coarse_m``, same contract as IVF's nprobe.

    Output: (id, coarse_sim, cos_sim), cos_sim desc, id tie-break.
    """
    if coarse_dim > len(query_vec):
        raise ValueError(
            f"coarse_dim {coarse_dim} > query dim {len(query_vec)}"
        )
    scored = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.slice(F.col(vec_col), 1, coarse_dim)
        .cast("array<double>")
        .alias("__vc"),
    )
    coarse = scored.withColumn(
        "coarse_sim",
        F.round(
            _query_cosine("__vc", query_vec[:coarse_dim], method), 6
        ),
    )
    survivors = coarse.orderBy(
        F.desc("coarse_sim"), F.asc(id_col)
    ).limit(coarse_m)
    reranked = survivors.withColumn(
        "cos_sim", F.round(_query_cosine("__v", query_vec, method), 6)
    )
    return (
        reranked.select(id_col, "coarse_sim", "cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG-based so the
    same planes are reproducible anywhere, including the SQL oracle)."""
    planes = []
    state = seed
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
            row.append((state / float(2**63)) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / norm for x in row])
    return planes


def with_lsh_bucket(
    embeddings: DataFrame,
    dim: int,
    bits: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Append an integer ``bucket`` column: sign pattern of ``bits``
    random-hyperplane projections. Pure projection — at scale, write the
    table partitioned/bucketed by this column so queries prune files."""
    planes = _hyperplanes(dim, bits, seed)
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        p = lit_doubles(plane)
        bit = F.when(dot(F.col(vec_col), p) > 0, F.lit(2**i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return embeddings.withColumn("bucket", bucket.cast("int"))


class IvfIndex:
    """A prebuilt IVF index: the driver-side centroid list (≤ n_clusters
    small vectors) plus the cluster-assigned table. Build ONCE (an ML
    job), search MANY times (a filter + pruned scan) — the two phases
    have completely different cost profiles and must not be fused.

    At scale, write ``assigned`` partitioned by ``ivf_cluster``
    (``write_ivf_index``) so a search's cluster filter becomes file-level
    partition pruning rather than a full scan.
    """

    __slots__ = ("assigned", "centroids", "id_col", "vec_col")

    def __init__(
        self,
        assigned: DataFrame,
        centroids: list[list[float]],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.assigned = assigned
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col


def fit_ivf_centroids(
    embeddings: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_mod: int = 1,
) -> list[list[float]]:
    """K-means centroids, fit on a deterministic hash-sample.

    ``sample_mod`` = m keeps ~1/m of rows (``hash(id) % m == 0``) — at
    100 TB fit on m=100..1000: k-means centroid quality converges long
    before the full corpus is seen, and each k-means iteration is a full
    pass over its input. The hash filter (not ``.sample()``) makes the
    chosen rows independent of partitioning, so a rebuilt index is
    reproducible.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = embeddings
    if sample_mod > 1:
        sample = embeddings.filter(F.pmod(F.hash(F.col(id_col)), sample_mod) == 0)
    vecs = sample.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__features")
    )
    model = KMeans(
        k=n_clusters, seed=seed, featuresCol="__features", predictionCol="__c"
    ).fit(vecs)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def assign_ivf_clusters(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """Append ``ivf_cluster`` = argmin distance-to-centroid. For
    constant ``c``, argmin |x-c|² = argmax (2·x·c - |c|²). Still a
    projection either way — no shuffle, linear in rows.

    ``method``:
    - "column": n_clusters dot products + array argmax as one Column
      expression. Ideal for small k×dim, but the expression inlines
      k×dim literals — past the JVM codegen method limit it falls back
      to INTERPRETED evaluation (measured: 256 centroids × 64 dims over
      2k rows ≈ 1.3 s of pure assignment at sf0.1, ~33 M interpreted
      ops; ~16 s at the 10× stress).
    - "numpy": one Arrow-batched kernel, scores for the whole batch as
      a single ``2·X@Cᵀ - |c|²`` matmul; ``np.argmax`` is first-max
      index — the SAME tie-break as ``array_position(max)``. Summation
      order differs from the Column fold only at float64 ULP scale;
      the measured top-2 score gap on the gate configs is ≥ 1.5e-5,
      ten orders above that, and the DuckDB oracle already sums in its
      own order — so assignments are identical in practice and the
      hash gate pins it.
    - "auto" (default): numpy when k×dim > 4096 (where the Column
      expression goes interpreted), column otherwise — so the small-k
      IVF/Lloyd gate queries keep their pure-Column plans.
    """
    k, dim = len(centroids), len(centroids[0])
    if method == "auto":
        method = "numpy" if k * dim > 4096 else "column"
    if method == "numpy":
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        C = np.asarray(centroids, dtype=np.float64)
        c2 = (C * C).sum(axis=1)

        @pandas_udf("int")
        def _assign(vs: pd.Series) -> pd.Series:
            # mask nulls (same semantics as the column path and
            # _query_cosine's kernel: null embedding -> null cluster)
            out = pd.Series([pd.NA] * len(vs), dtype="Int32", index=vs.index)
            valid = vs.notna()
            if valid.any():
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in vs[valid]]
                )
                scores = 2.0 * (X @ C.T) - c2
                out[valid] = scores.argmax(axis=1).astype("int32")
            return out

        return embeddings.withColumn(
            "ivf_cluster", _assign(F.col(vec_col).cast("array<double>"))
        )
    if method != "column":
        raise ValueError(f"unknown method: {method}")
    # the whole argmax expression is ONE SQL string parsed JVM-side:
    # building it Column-by-Column paid several py4j round-trips per
    # centroid (measured ~0.3 s per assign at k=8 x dim=64, rebuilt
    # every Lloyd round — construction, not execution, dominated the
    # fit-shaped queries). The parsed tree is the identical
    # aggregate(zip_with(...)) left fold over the same double
    # literals (repr round-trips through Double.parseDouble), so the
    # analyzed plan and every result bit are unchanged.
    vexpr = f"cast(`{vec_col}` as array<double>)"
    scores = []
    for c in centroids:
        arr_lit = "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
        c2 = sum(float(x) * float(x) for x in c)
        scores.append(
            f"aggregate(zip_with({vexpr},{arr_lit},(x,y)->x*y),"
            f"0.0D,(acc,x)->acc+x)*2.0D-{c2!r}D"
        )
    arr = "array(" + ",".join(scores) + ")"
    cluster = F.expr(
        f"cast(array_position({arr},array_max({arr}))-1 as int)"
    )
    return embeddings.withColumn("ivf_cluster", cluster)


def build_ivf_index(
    embeddings: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_mod: int = 1,
    cache: bool = True,
) -> IvfIndex:
    """Build an :class:`IvfIndex`: fit centroids on a hash-sample, then
    assign the FULL table in one projection pass. The one-off ML job;
    searches consume the returned index without refitting."""
    centroids = fit_ivf_centroids(
        embeddings, n_clusters, id_col, vec_col, seed, sample_mod
    )
    assigned = assign_ivf_clusters(embeddings, centroids, vec_col)
    if cache:
        assigned = assigned.persist()
    return IvfIndex(assigned, centroids, id_col, vec_col)


def write_ivf_index(index: IvfIndex, path: str) -> None:
    """Persist the index: assigned table partitioned by ``ivf_cluster``
    (so searches prune files), centroids as a tiny parquet sidecar."""
    index.assigned.write.mode("overwrite").partitionBy("ivf_cluster").parquet(
        f"{path}/assigned"
    )
    spark = index.assigned.sparkSession
    rows = [(i, c) for i, c in enumerate(index.centroids)]
    spark.createDataFrame(rows, "ivf_cluster int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def read_ivf_index(
    spark, path: str, id_col: str = "vec_id", vec_col: str = "embedding"
) -> IvfIndex:
    assigned = spark.read.parquet(f"{path}/assigned")
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    centroids = [
        list(r["centroid"])
        for r in sorted(cent_rows, key=lambda r: r["ivf_cluster"])
    ]
    return IvfIndex(assigned, centroids, id_col, vec_col)


def ann_topk_ivf(
    index: IvfIndex | DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF search against a PREBUILT index: rank centroids driver-side
    (≤ n_clusters tiny vectors — no Spark job), then brute-force only
    the ``n_probe`` nearest clusters. Expected cost
    O(n * n_probe / n_clusters); n_probe = n_clusters is exact.

    Passing a raw DataFrame is the build-if-missing convenience for
    ad-hoc/dev use — it runs the full index build first. Production
    callers build once (``build_ivf_index`` / ``write_ivf_index``) and
    search many times; the search path contains NO k-means fit.
    """
    if isinstance(index, DataFrame):
        index = build_ivf_index(
            index, n_clusters, id_col, vec_col, seed, cache=False
        )

    def _dist2(c: list[float]) -> float:
        return sum((a - b) * (a - b) for a, b in zip(c, query_vec))

    probe = sorted(range(len(index.centroids)), key=lambda i: _dist2(index.centroids[i]))[
        :n_probe
    ]
    candidates = index.assigned.filter(F.col("ivf_cluster").isin(probe))
    return ann_topk_bruteforce(candidates, query_vec, k, index.id_col, index.vec_col)


def quantize_embeddings_int8(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = max|x|/127,
    q = round(x/scale). 4x smaller than float32 — at 100 TB of vectors
    that is the difference between spilling and fitting. Dequantize
    with ``q * scale``; cosine on dequantized vectors loses <0.5%
    recall at typical embedding distributions."""
    v = F.col(vec_col).cast("array<double>")
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.round(x / scale).cast("tinyint"))
    return embeddings.withColumn("q_embedding", q).withColumn("q_scale", scale)


def dequantize_embeddings(df: DataFrame, q_col: str = "q_embedding") -> DataFrame:
    deq = F.transform(F.col(q_col), lambda x: x.cast("double") * F.col("q_scale"))
    return df.withColumn("dq_embedding", deq)


def ann_topk_lsh(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: score only rows in the query's LSH bucket.

    ``multi_probe`` > 0 additionally probes all buckets within that
    Hamming distance of the query bucket — the standard recall lever
    that avoids rebucketing: probing Hamming-1 scans (1 + bits) of the
    2^bits buckets and typically recovers most of the lost neighbors
    (vectors near a hyperplane land on its far side).
    """
    dim = len(query_vec)
    planes = _hyperplanes(dim, bits, seed)
    qbucket = 0
    for i, plane in enumerate(planes):
        if sum(p * q for p, q in zip(plane, query_vec)) > 0:
            qbucket += 2**i

    probe = {qbucket}
    frontier = {qbucket}
    for _ in range(multi_probe):
        frontier = {b ^ (1 << i) for b in frontier for i in range(bits)} - probe
        probe |= frontier

    bucketed = with_lsh_bucket(embeddings, dim, bits, vec_col, seed)
    scored = bucketed.filter(F.col("bucket").isin(list(probe))).select(
        F.col(id_col),
        F.round(_query_cosine(vec_col, query_vec, "auto"), 6).alias(
            "cos_sim"
        ),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def lloyd_kmeans(
    embeddings: DataFrame,
    init_centroids: list[list[float]],
    rounds: int = 3,
    vec_col: str = "embedding",
    round_ndigits: int | None = None,
    method: str = "auto",
) -> tuple[list[list[float]], DataFrame]:
    """Deterministic Lloyd k-means from FIXED initial centroids:
    assign (the pure-Column argmax projection of
    ``assign_ivf_clusters``) -> per-cluster per-dimension means (ONE
    map-side-combinable groupBy) -> collect the k centroid rows (a
    bounded driver read, same contract as IVF probe ranking) ->
    repeat. Empty clusters keep their previous centroid. Returns
    ``(final_centroids, assigned_frame)``.

    Fixed init + argmax-first tie-break make every round reproducible
    across engines and runs — which is what lets an external oracle
    replay the whole fit, not just score it. ``round_ndigits`` rounds
    each round's centroid means before the next assignment: double
    `avg` accumulates in shuffle-dependent order, so two engines (or
    two runs) can differ by ULPs, and an assignment whose top two
    scores are nearer than that drift would flip — rounding snaps the
    inter-round state to identical literals on both sides, making the
    cross-engine replay exact rather than merely overwhelmingly
    likely. Per round the corpus is touched exactly once; the shuffle
    carries (cluster, partial per-dim sums), k x dim doubles per task.
    """
    cents = [[float(x) for x in c] for c in init_centroids]
    dim = len(cents[0])
    assigned = None
    # the per-dimension mean columns are one parsed SQL string each
    # (not a 5-call Column chain): at dim=64 x 3 rounds the
    # Column-by-Column build cost ~0.35 s per round of pure py4j
    # chatter — same parsed avg/round tree, same results
    def _mean_sql(i: int) -> str:
        m = f"avg(element_at(`{vec_col}`,{i + 1}))"
        if round_ndigits is not None:
            m = f"round({m},{int(round_ndigits)})"
        return f"{m} as m{i}"

    mean_exprs = [F.expr(_mean_sql(i)) for i in range(dim)]
    for _ in range(rounds):
        assigned = assign_ivf_clusters(embeddings, cents, vec_col, method)
        mean_rows = (
            assigned.groupBy("ivf_cluster").agg(*mean_exprs).collect()
        )
        new = {
            r["ivf_cluster"]: [float(r[f"m{i}"]) for i in range(dim)]
            for r in mean_rows
        }
        cents = [new.get(j, cents[j]) for j in range(len(cents))]
    return cents, assign_ivf_clusters(embeddings, cents, vec_col, method)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------------


def pq_codebooks(
    dim: int, subspaces: int = 8, codewords: int = 16, seed: int = 23
) -> list[list[list[float]]]:
    """Deterministic seeded PQ codebooks: ``subspaces`` books of
    ``codewords`` centers over ``dim/subspaces``-dim slices, from the
    repo's LCG family (``_hyperplanes``) so any engine — including the
    SQL oracle — regenerates them bit-for-bit. Production replaces
    this with per-subspace k-means (``lloyd_kmeans`` on sliced
    columns); the interface is the codebook list either way, and
    everything downstream is fit-agnostic."""
    if dim % subspaces:
        raise ValueError(f"dim {dim} not divisible by subspaces {subspaces}")
    sub = dim // subspaces
    out = []
    state = seed
    for _ in range(subspaces):
        book = []
        for _ in range(codewords):
            row = []
            for _ in range(sub):
                state = (
                    state * 6364136223846793005 + 1442695040888963407
                ) % (2**63)
                row.append((state / float(2**63)) * 2.0 - 1.0)
            book.append(row)
        out.append(book)
    return out


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Append ``out_col`` = the vector's PQ code (one codeword index
    per subspace, argmin squared L2, first-min tie-break) — the
    compression step of IVF-PQ (Jégou et al. 2011, public
    literature): a 64-dim float vector becomes ``subspaces`` small
    ints (here 8 bytes), a ~32x shrink, which is what makes
    billion-vector search state fit in memory at 100 TB.

    One Arrow-batched numpy kernel (subspace distances are a
    (batch, codewords, sub_dim) broadcast — the assign_ivf_clusters
    "numpy" rationale: a codewords*dim Column expression goes
    interpreted); null embeddings get a null code. Projection only —
    no shuffle."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    S = len(codebooks)
    C = np.asarray(codebooks, dtype=np.float64)  # (S, cw, sub)
    sub = C.shape[2]

    @pandas_udf("array<int>")
    def _encode(vs: pd.Series) -> pd.Series:
        out = pd.Series([None] * len(vs), dtype="object", index=vs.index)
        # one-bad-row discipline: null OR wrong-dimension vectors get a
        # null code instead of crashing the np.stack/reshape
        valid = vs.map(lambda v: v is not None and len(v) == S * sub)
        if valid.any():
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vs[valid]]
            ).reshape(-1, S, sub)
            # (n, S, cw): ||x_s - c||^2 accumulated dim-by-dim in
            # LEFT-ASSOCIATIVE order — ((t1+t2)+t3)... — the exact
            # fold a SQL expression `t1 + t2 + ...` performs, so the
            # oracle's distances are bit-identical (np.sum's pairwise
            # scheme combines in a different order at ULP scale)
            d = np.zeros((X.shape[0], S, C.shape[1]))
            for j in range(sub):
                diff = X[:, :, None, j] - C[None, :, :, j]
                d += diff * diff
            codes = d.argmin(axis=2).astype("int32")  # first-min ties
            # index-aligned Series: a bare list-of-lists assignment
            # makes pandas broadcast element-wise and fail
            out[valid] = pd.Series(
                [list(map(int, row)) for row in codes],
                index=vs.index[valid],
            )
        return out

    return embeddings.withColumn(
        out_col, _encode(F.col(vec_col).cast("array<double>"))
    )


def ann_topk_pq(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: encode the corpus with
    ``pq_encode``, precompute the query's ``subspaces x codewords``
    lookup table ON THE DRIVER (it is tiny and query-only), and score
    every vector as the s-ordered fold of LUT entries selected by its
    code — approximate squared L2, smallest first, ``id_col``
    tie-break. Returns ``(id, pq_dist)``.

    The LUT values are computed once in Python and inlined as literals
    into BOTH engines (Spark plan and SQL oracle), so the only
    cross-engine surface is the integer code — the lloyd-centroid
    literal discipline. Scan-shaped: the corpus never shuffles; at
    scale this runs per IVF cluster against the persisted encoded
    index (``write_ivf_index`` layout) with re-ranking on exact
    distances for the short list."""
    S = len(codebooks)
    sub = len(codebooks[0][0])

    def _sq_l2(c: list[float], s: int) -> float:
        # explicit (d*d) accumulation left-to-right: the same IEEE op
        # sequence as the oracle's SQL expression (x**2 may route
        # through libm pow, which is not guaranteed correctly rounded)
        acc = 0.0
        for j in range(sub):
            d = float(query_vec[s * sub + j]) - c[j]
            acc = acc + d * d
        return acc

    lut = [[_sq_l2(c, s) for c in codebooks[s]] for s in range(S)]
    enc = pq_encode(embeddings, codebooks, vec_col)
    dist = F.lit(0.0)
    for s in range(S):
        lut_s = lit_doubles(lut[s])
        dist = dist + F.element_at(
            lut_s, F.element_at(F.col("pq_code"), s + 1) + 1
        )
    scored = enc.filter(F.col("pq_code").isNotNull()).select(
        F.col(id_col), F.round(dist, ndigits).alias("pq_dist")
    )
    return scored.orderBy(F.asc("pq_dist"), F.asc(id_col)).limit(k)


def ann_topk_multiprobe_pq(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    dim: int,
    bits: int = 4,
    seed: int = 42,
    k: int = 10,
    probe_dist: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production ANN composition: hyperplane-bucketed index +
    multi-probe + PQ/ADC scoring — candidate pruning from the bucket
    structure, memory-resident scoring from the codes.

    The query's own bucket is computed DRIVER-side (``bits`` sign
    tests, query-only); ``probe_dist=1`` probes it plus every
    1-bit-flip neighbor (multi-probe LSH, Lv et al. 2007, public
    literature — recall of many buckets without building many tables).
    Candidates = rows whose stored bucket is in the probe set — with
    the index written ``partitionBy("bucket")`` this filter is file
    pruning, not a scan. Survivors are scored by :func:`ann_topk_pq`
    (ADC over PQ codes; at scale the codes are precomputed in the
    index, and the exact-distance re-rank of the short list runs
    after).
    """
    from itertools import combinations

    if not 0 <= probe_dist <= bits:
        raise ValueError(
            f"probe_dist must be in [0, bits], got {probe_dist}"
        )
    planes = _hyperplanes(dim, bits, seed)
    qb = 0
    for i, plane in enumerate(planes):
        acc = 0.0
        for a, b in zip(query_vec, plane):
            acc += float(a) * float(b)
        if acc > 0:
            qb |= 1 << i
    # the full Hamming ball of radius probe_dist: sum C(bits, r)
    # buckets — the multi-probe recall ladder
    probes = {qb}
    for r in range(1, probe_dist + 1):
        for flips in combinations(range(bits), r):
            m = 0
            for i in flips:
                m |= 1 << i
            probes.add(qb ^ m)
    bucketed = with_lsh_bucket(embeddings, dim, bits, vec_col, seed)
    cands = bucketed.filter(
        F.col("bucket").isin(sorted(probes))
    ).drop("bucket")
    return ann_topk_pq(cands, codebooks, query_vec, k, id_col, vec_col)


def knn_classify(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    ndigits: int = 6,
) -> DataFrame:
    """k-NN majority-vote classification of a bounded PROBE set
    against a labeled corpus (Fix & Hodges 1951, public literature)
    — the eval-time companion to the ANN index: "what would the
    corpus call this vector?" for spot-checks, relabeling audits,
    and weak-label bootstrapping.

    Per probe: exact cosine against every corpus row (self excluded
    by id), top-``k`` by (cos desc, id asc), majority label with
    ties broken by label ascending — fully deterministic. Output:
    ``(probe_id, true_label, predicted_label, votes, is_correct)``.

    Scale: the probe set BROADCASTS (bounded — spot-check sized, not
    corpus sized); the corpus is scanned once and the |probes| x n
    score matrix never materializes beyond the per-probe top-k
    window (partitioned by probe — parallel across probes). For
    corpus-x-corpus classification use the IVF/LSH paths
    (``ann_topk_ivf``) — this operator is deliberately the exact,
    bounded-probe tool.
    """
    from ..functions.vectors import cosine_similarity

    p = probes.select(
        F.col(id_col).alias("__pid"),
        F.col(vec_col).alias("__pv"),
        F.col(label_col).alias("true_label"),
    )
    c = embeddings.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("__clabel"),
    )
    pairs = c.crossJoin(F.broadcast(p)).filter(
        F.col("__cid") != F.col("__pid")
    )
    # round(NULL) is NULL, so the shared null-safe cosine keeps the
    # zero-vector semantics without a second guard
    cos = F.round(cosine_similarity("__pv", "__cv"), ndigits)
    scored = pairs.select(
        "__pid", "true_label", "__cid", "__clabel", cos.alias("__cos")
    )
    w = Window.partitionBy("__pid").orderBy(
        F.desc_nulls_last("__cos"), F.asc("__cid")
    )
    topk = scored.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= int(k)
    )
    votes = topk.groupBy("__pid", "true_label", "__clabel").agg(
        F.count("*").alias("votes")
    )
    wv = Window.partitionBy("__pid").orderBy(
        F.desc("votes"), F.asc("__clabel")
    )
    best = votes.withColumn("__vr", F.row_number().over(wv)).filter(
        F.col("__vr") == 1
    )
    return best.select(
        F.col("__pid").alias("probe_id"),
        "true_label",
        F.col("__clabel").alias("predicted_label"),
        F.col("votes").cast("long").alias("votes"),
        (F.col("__clabel") == F.col("true_label")).alias("is_correct"),
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    dim: int,
    k: int = 5,
    target_bucket: int = 128,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    pos_id_col: str = "pos_id",
    max_bucket: int = 1_000_000,
    pair_method: str = "numpy",
    assign_method: str = "numpy",
    ndigits: int = 6,
) -> DataFrame:
    """Batch hard-negative mining for retrieval/embedding training
    (the DPR / sentence-transformers recipe, public literature): for
    every query vector, the top-``k`` most-similar corpus items that
    are NOT the query itself and NOT its labeled positives — the
    negatives that actually move a contrastive loss.

    Output: ``(query_id, neg_id, rank, cos_sim)``, rank 1..k by
    6dp-rounded cosine desc with id tie-break — fully
    oracle-reproducible. Candidates are REGION-BLOCKED with the
    degeneracy-robust ``auto_region_assign`` policy (semdedup.py):
    region count grows with the corpus, so per-query candidate work
    stays ~target_bucket instead of n — the all-pairs batch top-k this
    operator replaces is the textbook n² trap. Recall is
    within-region, the standard IVF nprobe=1 trade; widen
    ``target_bucket`` for more.

    Scale: one region assignment scan (staged by the policy), a
    region equi-join whose shuffle carries bucketed vectors once per
    side, per-pair cosine on candidates only, and one per-query top-k
    window over candidate rows (bounded by region population).
    ``queries`` is usually small (a training batch) — Catalyst
    broadcasts it into the region join unaided. ``assign_method``
    picks the region-assignment kernel ('numpy' Arrow batches or the
    pure-'column' expression), forwarded to ``auto_region_assign``;
    ``pair_method`` independently picks the candidate-cosine kernel.

    Queries can DROP from the output entirely (not error) in two
    documented cases: (a) a query id absent from ``embeddings`` has no
    vector to rank with — the lookup inner join removes it; (b) the
    ``max_bucket`` hub guard removes whole oversized regions, queries
    inside them included (the same explicit cap every guarded operator
    here carries). Callers needing an accounting can left-anti join
    their query ids against the returned ``query_id`` column — one
    small-side join, no extra corpus scan.
    """
    from .semdedup import _bucket_guarded, _pair_cosine, auto_region_assign

    v = F.col(vec_col).cast("array<double>")
    assigned = auto_region_assign(
        embeddings, dim, target_bucket, seed, vec_col, assign_method,
    ).select(
        F.col(id_col),
        F.col("ivf_cluster").alias("__r"),
        v.alias("__v"),
        l2_norm(v).alias("__n"),
    )
    assigned = _bucket_guarded(assigned, "__r", max_bucket)
    q = queries.select(F.col(query_id_col).alias("__qid")).join(
        assigned.select(
            F.col(id_col).alias("__qid"),
            F.col("__r"),
            F.col("__v").alias("__qv"),
            F.col("__n").alias("__qn"),
        ),
        "__qid",
    )
    cand = q.join(assigned, "__r").filter(
        F.col("__qid") != F.col(id_col)
    )
    cand = cand.join(
        positives.select(
            F.col(query_id_col).alias("__qid"),
            F.col(pos_id_col).alias(id_col),
        ),
        ["__qid", id_col],
        "left_anti",
    )
    cos = F.round(
        F.coalesce(
            _pair_cosine(
                F.col("__qv"), F.col("__v"), F.col("__qn"),
                F.col("__n"), pair_method,
            ),
            F.lit(-2.0),
        ),
        ndigits,
    )
    ranked = cand.select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col).alias("neg_id"),
        cos.alias("cos_sim"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(query_id_col).orderBy(
                F.desc("cos_sim"), F.asc("neg_id")
            )
        ),
    )
    return ranked.filter(F.col("rank") <= k).select(
        query_id_col, "neg_id", "rank", "cos_sim"
    )


def simplified_silhouette(
    assigned: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cluster_col: str = "ivf_cluster",
    ndigits: int = 6,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster (Hruschka et
    al. 2004 variant of Rousseeuw 1987, public literature) — the
    cluster-quality score that tells a SemDeDup/IVF pipeline whether
    its k actually separated anything: s = (b - a)/max(a, b) with
    a = distance to the OWN centroid and b = the nearest OTHER
    centroid, so the full O(n^2) pairwise silhouette collapses to
    one LINEAR pass against the k-row centroid list.

    Determinism contract: distances are fixed-order folds over the
    vector dims against the 6dp-snapped centroid literals (the
    lloyd_kmeans round_ndigits discipline — identical literals on
    both engines); each point's s quantizes half-away to a micro
    integer, and per-cluster means are exact integer divisions (sign
    split + decimal div). Points landing exactly ON a centroid
    (a = b = 0 after a degenerate fit) score 0 by convention.

    Output per cluster: ``(cluster, n, mean_silhouette)``, ordered by
    cluster; append an overall row via a second aggregate if needed.

    Scale: one projection over the assigned frame (k*dim literal
    arithmetic per row, no join) + one map-side-combinable groupBy.
    """
    # one parsed SQL string per stage instead of Column-by-Column
    # construction (the assign_ivf_clusters rationale: k x dim
    # py4j-built folds dominated wall time; identical parsed
    # aggregate/zip_with tree, identical double literals via repr,
    # identical results)
    vexpr = f"cast(`{vec_col}` as array<double>)"
    vv = F.expr(
        f"aggregate(zip_with({vexpr},{vexpr},(x,y)->x*y),"
        "0.0D,(acc,t)->acc+t)"
    )
    dists = []
    for c in centroids:
        arr_lit = "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
        cc = 0.0
        for x in c:
            cc = cc + float(x) * float(x)
        dists.append(
            f"sqrt(greatest(`__vv`-2.0D*aggregate(zip_with({vexpr},"
            f"{arr_lit},(x,y)->x*y),0.0D,(acc,t)->acc+t)+{cc!r}D,0.0D))"
        )
    staged = assigned.withColumn("__vv", vv).withColumn(
        "__d", F.expr("array(" + ",".join(dists) + ")")
    )
    # element_at requires an INT ordinal; assigned frames may carry
    # the cluster as long
    a = F.element_at(
        F.col("__d"), (F.col(cluster_col) + 1).cast("int")
    )
    b = F.array_min(
        F.filter(
            F.col("__d"), lambda x, i: i != F.col(cluster_col)
        )
    )
    s = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    scored = staged.select(
        F.col(cluster_col).alias("cluster"),
        F.when(
            s >= 0, F.floor(s * 1_000_000 + F.lit(0.5))
        )
        .otherwise(-F.floor(-s * 1_000_000 + F.lit(0.5)))
        .cast("long")
        .alias("__sm"),
    )
    agg = scored.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n"),
        exact(F.sum("__sm")).alias("__ssum"),
    )
    mag = F.expr(
        "cast((2 * abs(__ssum) * 1 + n) div (2 * cast(n as "
        f"{exact_type()})) as long)"
    )
    return agg.select(
        "cluster",
        "n",
        (
            F.when(F.col("__ssum") >= 0, mag).otherwise(-mag)
            / 1_000_000.0
        ).alias("mean_silhouette"),
    ).orderBy("cluster")


def lof_scores(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Local Outlier Factor over an embedding column (Breunig et al.
    2000, public literature) — the density-RELATIVE anomaly score a
    global distance threshold gets wrong on multi-density corpora
    (a point at a tight cluster's edge is stranger than the same
    gap in a sparse cluster): LOF(p) = mean lrd of p's k neighbors
    / lrd(p), ~1 for inliers, >> 1 for outliers.

    Deterministic simplification (documented): the neighbor set is
    EXACTLY k (ties past rank k broken by (distance, id) — classic
    LOF includes all distance ties); distances are euclidean,
    rounded to ``ndigits`` BEFORE any comparison so both engines
    rank identical grids. Order-free sums: reachability distances
    and lrd values are exact 6dp-grid numbers, so each per-point sum
    runs over exact micro-integer longs (the unigram_logprob
    discipline) and the final lrd / LOF are ONE double division
    each — LOF = mean(lrd(o)) / lrd(p) because lrd(p) is constant
    across p's neighbors.

    Output per point: ``(vec_id, k_dist, lrd, lof)``, ordered
    (lof desc, vec_id) — the anomaly report.

    Scale: the all-pairs scoring is quadratic by nature; this
    operator is the EXACT tool for bounded audit sets (the gated
    entry scores a deterministic subset). At corpus scale, build the
    kNN edge list with the blocked ANN paths (``ann_topk_ivf`` /
    ``auto_region_assign`` candidates-then-verify) and feed the same
    lrd/LOF tail — the math downstream of the edge list is identical
    and everything shuffles (id, id, micro-int) triples only.
    """
    from pyspark.sql import Window

    from ..functions.vectors import dot

    # distances on EXACT micro-integer components: coordinates
    # quantize to 1e-6 longs, the squared sum is an order-free exact
    # integer (< 2^53, so even a double-accumulating engine is
    # exact), and ONE IEEE sqrt + round lands on the same 6dp grid
    # in every engine — a float fold here differs between engines at
    # ULP level and flips roundings near grid midpoints (caught by
    # the sf0.001 oracle sweep)
    mu = lambda c: F.transform(  # noqa: E731
        c, lambda x: F.round(x * 1e6).cast("long")
    )
    a = embeddings.select(
        F.col(id_col).alias("__a"), mu(F.col(vec_col)).alias("__av")
    )
    b = embeddings.select(
        F.col(id_col).alias("__b"), mu(F.col(vec_col)).alias("__bv")
    )
    d2mu = F.aggregate(
        F.zip_with("__av", "__bv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("__a") != F.col("__b"))
        .select(
            "__a",
            "__b",
            F.round(
                F.sqrt(d2mu.cast("double")) / 1e6, ndigits
            ).alias("__dist"),
        )
    )
    w = Window.partitionBy("__a").orderBy(F.asc("__dist"), F.asc("__b"))
    knn = pairs.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= int(k)
    )
    kd = knn.groupBy("__a").agg(
        F.max("__dist").alias("k_dist"),
        F.count("*").cast("long").alias("__keff"),
    )
    # reachability: max(k_dist(neighbor), dist) — exact 6dp grid, so
    # the per-point sum is an exact integer in micros
    reach = (
        knn.join(
            kd.select(
                F.col("__a").alias("__b"),
                F.col("k_dist").alias("__kd_b"),
            ),
            "__b",
        )
        .select(
            "__a",
            "__b",
            F.round(
                F.greatest(F.col("__kd_b"), F.col("__dist")) * 1e6
            ).cast("long").alias("__reach_mu"),
        )
    )
    lrd = (
        reach.groupBy("__a")
        .agg(F.sum("__reach_mu").alias("__rsum_mu"))
        .join(kd, "__a")
        .select(
            "__a",
            "k_dist",
            "__keff",
            F.when(
                F.col("__rsum_mu") > 0,
                F.round(
                    F.col("__keff").cast("double")
                    * 1e6
                    / F.col("__rsum_mu").cast("double"),
                    ndigits,
                ),
            ).alias("lrd"),
        )
    )
    # LOF = mean(lrd(o) for o in kNN(p)) / lrd(p); lrd is a 6dp grid
    # value, so the neighbor sum is again an exact micro-long
    nbr = knn.join(
        lrd.select(
            F.col("__a").alias("__b"),
            F.round(F.col("lrd") * 1e6).cast("long").alias("__lrd_b_mu"),
        ),
        "__b",
    )
    # count() skips NULL lrd neighbors (a neighbor inside a cluster of
    # >= k exact duplicates has reach-sum 0, hence NULL lrd = infinite
    # density); if ANY neighbor lrd is NULL the mean is undefined, so
    # LOF propagates NULL rather than silently averaging over fewer
    # neighbors while dividing by the full k (advisor r12)
    nsum = nbr.groupBy("__a").agg(
        F.sum("__lrd_b_mu").alias("__nsum_mu"),
        F.count("__lrd_b_mu").alias("__ncnt"),
    )
    return (
        lrd.join(nsum, "__a")
        .select(
            F.col("__a").alias(id_col),
            "k_dist",
            "lrd",
            F.when(
                F.col("lrd").isNotNull()
                & (F.col("lrd") > 0)
                & (F.col("__ncnt") == F.col("__keff")),
                F.round(
                    F.col("__nsum_mu").cast("double")
                    / (
                        F.col("__keff").cast("double")
                        * F.col("lrd").cast("double")
                        * 1e6
                    ),
                    ndigits,
                ),
            ).alias("lof"),
        )
        .orderBy(F.desc("lof"), id_col)
    )


def dbscan_labels(
    embeddings: DataFrame,
    eps: float,
    min_pts: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
    max_iter: int = 20,
) -> DataFrame:
    """DBSCAN density clustering over an embedding column (Ester et
    al. 1996, public literature) — clusters of ANY shape plus an
    explicit noise bucket, the complement to ``lloyd_kmeans``'s fixed
    spherical k: core points have >= ``min_pts`` neighbors within
    ``eps`` (self included, the classic convention), clusters are the
    connected components of the core-core eps-graph, border points
    attach to their smallest core neighbor's cluster, the rest is
    noise.

    Determinism: distances are euclidean rounded to ``ndigits``
    before the eps comparison (both engines cut the same 6dp grid);
    the cluster label is the component's SMALLEST core id (the
    ``connected_components`` contract); border ties resolve to the
    smallest candidate label. Classic DBSCAN's border assignment is
    scan-order-dependent — this min-label rule is the deterministic
    refinement, documented.

    Output per point: ``(vec_id, label, role)`` with role in
    core/border/noise and label NULL for noise, ordered
    (label nulls last, vec_id).

    Scale: the all-pairs eps-join is the exact tool for bounded audit
    sets (the gated entry scores a deterministic subset); at corpus
    scale build the eps-edge list with the blocked ANN machinery
    (region assign, candidates-then-verify) and feed the same
    CC + border tail — everything downstream shuffles id pairs only,
    and the CC rounds are O(log diameter) pointer-doubling hops.
    """
    from .graph import connected_components

    # exact micro-integer distance grid — see lof_scores for why a
    # float fold is not cross-engine safe here
    mu = lambda c: F.transform(  # noqa: E731
        c, lambda x: F.round(x * 1e6).cast("long")
    )
    a = embeddings.select(
        F.col(id_col).alias("__a"), mu(F.col(vec_col)).alias("__av")
    )
    b = embeddings.select(
        F.col(id_col).alias("__b"), mu(F.col(vec_col)).alias("__bv")
    )
    d2mu = F.aggregate(
        F.zip_with("__av", "__bv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    near = (
        a.crossJoin(b)
        .filter(F.col("__a") != F.col("__b"))
        .select(
            "__a",
            "__b",
            F.round(
                F.sqrt(d2mu.cast("double")) / 1e6, ndigits
            ).alias("__dist"),
        )
        .filter(F.col("__dist") <= float(eps))
        .select("__a", "__b")
    )
    near = stage(near, "dbscan_near")
    # counts cover EVERY point, not just those with an eps-neighbor:
    # a zero-neighbor point still counts itself (__nn = 1), so with
    # min_pts = 1 it is a singleton CORE cluster per classic DBSCAN,
    # not noise (advisor r12)
    counts = (
        embeddings.select(F.col(id_col).alias("__a"))
        .join(
            near.groupBy("__a").agg(F.count("*").alias("__k")),
            "__a",
            "left",
        )
        .select(
            "__a",
            (F.coalesce(F.col("__k"), F.lit(0)) + 1).alias("__nn"),
        )
    )
    core = counts.filter(F.col("__nn") >= int(min_pts)).select("__a")
    core_edges = (
        near.join(core, "__a")
        .join(core.select(F.col("__a").alias("__b")), "__b")
        .filter(F.col("__a") < F.col("__b"))
    )
    comp = connected_components(
        core_edges, src="__a", dst="__b", max_iter=max_iter
    ).select(F.col("id").alias("__a"), F.col("component").alias("label"))
    # isolated core points (no core neighbor) form singleton clusters
    comp = comp.unionByName(
        core.join(comp.select("__a"), "__a", "left_anti").select(
            "__a", F.col("__a").alias("label")
        )
    )
    ids = embeddings.select(F.col(id_col).alias("__a"))
    border = (
        near.join(comp.select("__a"), "__a", "left_anti")
        .join(
            comp.select(
                F.col("__a").alias("__b"), F.col("label").alias("__bl")
            ),
            "__b",
        )
        .groupBy("__a")
        .agg(F.min("__bl").alias("label"))
    )
    labeled = comp.select(
        "__a", "label", F.lit("core").alias("role")
    ).unionByName(
        border.select("__a", "label", F.lit("border").alias("role"))
    )
    return (
        ids.join(labeled, "__a", "left")
        .select(
            F.col("__a").alias(id_col),
            "label",
            F.coalesce(F.col("role"), F.lit("noise")).alias("role"),
        )
        .orderBy(F.asc_nulls_last("label"), id_col)
    )
