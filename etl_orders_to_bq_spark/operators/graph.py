"""Iterative graph operators: connected components.

The last step of a near-dup dedup pipeline: LSH/Jaccard emit PAIRS,
but dedup needs CLUSTERS (a~b, b~c => {a,b,c} keep one). Connected
components via min-label propagation:

    label(v) <- min(label(v), min over neighbors' labels)

iterated to fixpoint. Converges in O(graph diameter) rounds; dedup
graphs are near-cliques (diameter 1-2), so 2-3 rounds in practice.

Scale notes
-----------
- each round is one self-join + one groupBy-min on (node, label) pairs
  — shuffle size is |edges|, never materializing components;
- ``localCheckpoint`` truncates the lineage each round, without it the
  plan doubles per iteration and the driver OOMs planning round ~15;
- early-exit when a round changes no label (cheap count on the
  changed-flag), so the loop does not run max_iter blindly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact_sum
from .staging import LOCAL_FOLD_ROWS, LOCAL_PEEL_ROWS, local_fold_limit
from .staging import local_rows, stage, staging_dir

# Iterative operators run on CONTRACTED graphs (nation-level rollups,
# LSH candidate pairs after banding) whose size is set by the key
# domain, not the input scale — a 100 TB lineitem still contracts to a
# 25-node nation graph. When the staged, deduplicated edge set fits
# comfortably on the driver, per-round Catalyst planning dominates the
# actual work by orders of magnitude (measured: 10 PageRank rounds over
# 625 edges EXECUTE in 0.12s but spend ~3s planning/staging), so the
# operators below iterate exactly on the driver whenever
# ``staging.local_rows`` fetches the staged edges (LOCAL_FOLD_ROWS, or
# LOCAL_PEEL_ROWS for the kcore/k_truss peels, unless the session's
# local-fold limit overrides it; 0 or durable staging forces the
# distributed path) — the same adaptive discipline as AQE, and the same
# bounded-collect class as Lloyd's k x dim centroid pull (ann.py).
# Distributed semantics are preserved bit-for-bit (integer label math
# for CC; the identical update formula for PageRank, whose 6dp-rounded
# gate output is insensitive to float summation order).


def _cc_local(pairs: list[tuple], spark) -> DataFrame:
    """Exact union-find on a driver-small edge list; component = min
    node id, identical to min-label propagation's fixpoint."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min so the root IS the component id
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    rows = [(x, find(x)) for x in parent]
    first = rows[0][0] if rows else 0
    typ = "string" if isinstance(first, str) else "long"
    return spark.createDataFrame(
        rows, f"id {typ}, component {typ}"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    on_exhaustion: str = "raise",
) -> DataFrame:
    """Resolve undirected edges into components.

    Returns (id, component) where component is the smallest node id in
    the component — the canonical "representative doc" of a dup cluster.

    Each round does one hop of neighbor-min propagation PLUS one
    pointer-doubling step (label <- label(label)), so convergence is
    O(log diameter), not O(diameter) — a path graph of 1M nodes
    converges in ~20 rounds instead of 1M. If ``max_iter`` is still
    exhausted with labels changing, the result would be silently split
    components, so the default is to ``raise``; pass
    ``on_exhaustion="warn"`` to get the partial labels anyway.

    The edge set and per-round labels go through ``staging.stage``, so
    the session's ``spark.graft.stagingDir`` makes them durable parquet
    that survives executor loss on a real cluster; that setting also
    disables the small-graph driver-local fast path (see the module
    note on contracted graphs), as does a local-fold limit of 0.
    """
    if on_exhaustion not in ("raise", "warn"):
        raise ValueError(f"unknown on_exhaustion mode: {on_exhaustion}")
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = fwd.unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct()
    # materialize the edge set ONCE: every round joins against `und`,
    # and without this the whole upstream pipeline that produced the
    # edges (e.g. the LSH candidate chain) re-executes per round —
    # measured 3-4x slower on the sf0.1 dedup-cluster path
    und = stage(und, "cc_edges")

    head = local_rows(und, LOCAL_FOLD_ROWS)
    if head is not None:
        return _cc_local([(r["a"], r["b"]) for r in head], edges.sparkSession)

    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )

    converged = False
    for rnd in range(max_iter):
        # hop step: for each node, the min label among its neighbors
        neighbor_min = (
            und.join(labels, und.b == labels.id)
            .select(F.col("a").alias("id"), F.col("label"))
            .groupBy("id")
            .agg(F.min("label").alias("nbr_label"))
        )
        hopped = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
            (
                F.coalesce("nbr_label", F.col("label")) < F.col("label")
            ).alias("changed"),
        )
        # the doubling step references `hopped` on BOTH join sides;
        # without staging, Catalyst executes the hop join twice per
        # round (no CSE across join inputs) — a lazy checkpoint halves
        # the per-round work (measured ~1.3x faster corpus capstone).
        hopped = stage(hopped, f"cc_hopped_r{rnd}", eager=False)
        # pointer-doubling step: label <- label(label). Labels are node
        # ids and every node has a labels row, so a self-join on
        # label = id compresses chains exponentially (the large-star
        # trick from the CC-on-MapReduce literature).
        lbl = hopped.select(
            F.col("id").alias("__pid"), F.col("label").alias("__plabel")
        )
        new_labels = (
            hopped.join(lbl, hopped.label == lbl.__pid, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("__plabel", F.col("label"))
                ).alias("label"),
                (
                    F.col("changed")
                    | (F.coalesce("__plabel", F.col("label")) < F.col("label"))
                ).alias("changed"),
            )
        )
        new_labels = stage(new_labels, f"cc_labels_r{rnd}")
        # early-exit on the already-materialized frame: isEmpty pulls at
        # most one row from the staged blocks, no full count
        if new_labels.filter(F.col("changed")).isEmpty():
            labels = new_labels
            converged = True
            break
        labels = new_labels

    if not converged and max_iter > 0:
        # one more propagation would still lower labels => split result
        check = (
            und.join(labels, und.b == labels.id)
            .select(F.col("a").alias("id"), F.col("label").alias("nbr_label"))
            .join(labels, "id")
            .filter(F.col("nbr_label") < F.col("label"))
        )
        if check.limit(1).count() > 0:
            msg = (
                f"connected_components did not converge in {max_iter} "
                "rounds: labels were still changing, the result would be "
                "silently split components. Raise max_iter (rounds needed "
                "~ log2(graph diameter))."
            )
            if on_exhaustion == "raise":
                raise RuntimeError(msg)
            import warnings

            warnings.warn(msg, stacklevel=2)

    return labels.select(F.col("id"), F.col("label").alias("component"))


def triangle_count(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Per-node triangle participation counts: (node, n_triangles).

    The standard distributed formulation (Cohen's MapReduce triangle
    enumeration): orient every undirected edge low-id -> high-id, so
    each triangle {a,b,c} (a<b<c) is enumerated exactly once as the
    wedge (a->b, b->c) closed by (a->c) — one self-join to build
    wedges, one more to close them. Orientation is also the skew
    control: a celebrity node of degree d contributes wedges only
    through its HIGHER-id neighbors; production variants orient by
    (degree, id) to cut the worst case further — same plan, different
    comparator.

    The oriented edge set is staged once (it feeds all three join
    sides) through ``staging.stage``, like the other graph
    operators. Shuffles carry (int, int) pairs only.

    No counterpart in the reference engine (SURVEY.md §2.2 — no joins
    beyond the single left-equi).
    """
    a, b = F.col(src), F.col(dst)
    e = stage(
        edges.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "tri_edges",
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    wedges = e1.join(e2, e1.y == e2.y2).select("x", "y", "z")
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = wedges.join(closing, ["x", "z"])
    return (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def _pagerank_local(
    pairs: list[tuple], iterations: int, damping: float,
    tol: float | None, spark,
) -> DataFrame:
    """The identical update rule over a driver-small contracted edge
    list, vectorized in numpy: one scatter-add per round instead of one
    Spark job's worth of planning. float64 throughout, same dangling
    semantics (no redistribution)."""
    import numpy as np

    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    s = np.fromiter((idx[a] for a, b in pairs), dtype=np.int64, count=len(pairs))
    d = np.fromiter((idx[b] for a, b in pairs), dtype=np.int64, count=len(pairs))
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib = rank[s] / outdeg[s]
        acc = np.zeros(n)
        np.add.at(acc, d, contrib)
        new_rank = base + damping * acc
        delta = float(np.abs(new_rank - rank).max())
        rank = new_rank
        if tol is not None and delta < tol:
            break
    first = nodes[0] if nodes else 0
    typ = "string" if isinstance(first, str) else "long"
    return spark.createDataFrame(
        [(v, float(rank[idx[v]])) for v in nodes], f"id {typ}, rank double"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    tol: float | None = None,
    stage_every: int = 5,
) -> DataFrame:
    """PageRank over a directed edge list, fixed-iteration by default.

    Returns (id, rank). Update rule per iteration:

        rank(v) <- (1-d)/N + d * sum over in-edges (rank(u) / outdeg(u))

    with N = |nodes| (union of sources and destinations). Dangling-node
    mass is NOT redistributed — the formula above is applied literally,
    which keeps the computation a pure join+groupBy and lets an
    unrolled-SQL oracle reproduce it bit-for-bit.

    ``tol`` enables an early exit: stop once max |rank - prev_rank|
    drops below it (the rank-vector L-inf delta, the analogue of
    ``connected_components``' ``changed`` flag). The delta check is an
    action per round, so each round runs as its own job — leave ``tol``
    unset to keep the one-job lazy schedule when the iteration count is
    the contract (e.g. oracle parity).

    The static edge set, node list, and per-round ranks go through
    ``staging.stage`` (durable parquet under the session's
    ``spark.graft.stagingDir``, as for ``connected_components``).
    That setting (or a local-fold limit of 0) also forces the
    distributed path; otherwise a contracted graph whose staged edges
    fit the local-fold limit iterates driver-locally in numpy with the
    identical formula (see the module note on contracted graphs).

    Scale notes (same discipline as ``connected_components``):

    - the edge+outdeg side is static across iterations — materialized
      ONCE, else the producing pipeline re-executes every round;
    - each round is one shuffle of |edges| (contribs groupBy dst) plus
      one broadcast-or-shuffle join back to the node list; lineage is
      truncated per round so the plan stays O(1);
    - convergence is geometric in ``damping``; 10 iterations ≈ 1e-1
      tolerance on adversarial graphs, plenty for ranking order.
    """
    e = stage(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct(),
        "pr_edges",
    )
    head = local_rows(e, LOCAL_FOLD_ROWS)
    if head is not None:
        return _pagerank_local(
            [(r["src"], r["dst"]) for r in head],
            iterations, damping, tol, edges.sparkSession,
        )
    durable = staging_dir(edges.sparkSession) is not None
    nodes = stage(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct(),
        "pr_nodes",
    )
    n = nodes.count()
    ed = stage(
        e.join(e.groupBy("src").agg(F.count("*").alias("outdeg")), "src"),
        "pr_outdeg",
    )

    ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for rnd in range(iterations):
        contribs = (
            ed.join(ranks, ed.src == ranks.id)
            .select(
                F.col("dst"), (F.col("rank") / F.col("outdeg")).alias("c")
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        new_ranks = nodes.join(contribs, nodes.id == contribs.dst, "left").select(
            "id",
            (
                F.lit(base) + F.lit(damping) * F.coalesce("s", F.lit(0.0))
            ).alias("rank"),
        )
        # lazy on the default path: truncates the LOGICAL plan (O(1)
        # planning) but defers execution, so all rounds run as ONE job
        # at the final action instead of one job each. Truncation every
        # ``stage_every`` rounds, not every round: a lazy localCheckpoint
        # still pays a full Catalyst planning pass, which DOMINATES the
        # tiny per-round execution on contracted graphs (measured at
        # sf0.1: every-round 3.8s, every-5 2.5s, never 2.9s — plan
        # optimization grows superlinearly past ~5 unrolled rounds).
        # The tol path stages every round regardless (the delta agg
        # executes each round anyway) and the durable path writes
        # parquet per round by design.
        if (
            tol is not None
            or durable
            or (rnd + 1) % max(stage_every, 1) == 0
            or rnd == iterations - 1
        ):
            new_ranks = stage(new_ranks, f"pr_ranks_r{rnd}", eager=False)
        if tol is not None:
            prev = ranks.select("id", F.col("rank").alias("__prev"))
            delta = (
                new_ranks.join(prev, "id")
                .agg(F.max(F.abs(F.col("rank") - F.col("__prev"))).alias("d"))
                .first()["d"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks


def _lpa_local(
    pairs: list[tuple], rounds: int, spark, until_converged: bool = False
) -> DataFrame:
    """Exact synchronous LPA on a driver-small symmetrized edge list;
    identical update rule to the distributed path (max neighbor-label
    count, ties to the smallest label)."""
    from collections import Counter, defaultdict

    adj: dict = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
    labels = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v, nbrs in adj.items():
            cnt = Counter(labels[u] for u in nbrs)
            top = max(cnt.values())
            new[v] = min(l for l, c in cnt.items() if c == top)
        if until_converged and new == labels:
            break
        labels = new
    rows = sorted(labels.items())
    first = rows[0][0] if rows else 0
    typ = "string" if isinstance(first, str) else "long"
    return spark.createDataFrame(rows, f"id {typ}, label {typ}")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
    stage_every: int = 5,
    until_converged: bool = False,
) -> DataFrame:
    """Community detection via synchronous label propagation (Raghavan
    et al. 2007) over an undirected graph — the cheap communities pass
    between connected components (too coarse: one label per component)
    and modularity methods (driver-hostile): returns (id, label) after
    ``rounds`` fixed synchronous updates of

        label(v) <- argmax over neighbor-label counts, ties -> min label

    starting from label(v) = v. Fixed rounds, not convergence, is the
    default contract: synchronous LPA can 2-cycle on bipartite-ish
    structures, and a fixed unroll is what a SQL oracle can replay
    exactly. The min-label tie-break makes every round deterministic.
    ``until_converged=True`` adds the pagerank/CC-style early exit
    within the ``rounds`` budget: stop as soon as NO label changed (a
    cheap count on the already-materialized round frame) — converged
    rounds are idempotent, so the result equals the fixed-round one
    whenever the fixed unroll would also have converged; ``rounds``
    still bounds the 2-cycle case.

    Scale notes (the connected_components discipline):

    - the edge list is symmetrized (both directions, distinct, self
      loops dropped) ONCE and staged; every node then appears as a
      ``src``, so one round = one |2E| shuffle join delivering each
      source's label to its neighbor + one (node, label) count groupBy
      + one per-node argmax — all keyed on node, reusing the
      partitioning;
    - per-round lineage truncation every ``stage_every`` rounds (the
      pagerank measurement: planning dominates contracted-graph
      execution);
    - contracted graphs whose staged edges fit the local-fold limit
      iterate driver-locally (see the module note on contracted
      graphs); a limit of 0 or a set ``spark.graft.stagingDir`` pins
      the distributed loop.

    No counterpart in the reference engine (SURVEY.md §2.2 — no joins
    beyond one left-equi, no iteration).
    """
    sym = stage(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .unionByName(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        .distinct(),
        "lpa_edges",
    )
    head = local_rows(sym, LOCAL_FOLD_ROWS)
    if head is not None:
        return _lpa_local(
            [(r["src"], r["dst"]) for r in head],
            rounds, edges.sparkSession, until_converged,
        )
    durable = staging_dir(edges.sparkSession) is not None
    labels = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    for rnd in range(rounds):
        delivered = sym.join(labels, sym.src == labels.id).select(
            F.col("dst").alias("id"), "label"
        )
        counts = delivered.groupBy("id", "label").agg(
            F.count("*").alias("__cnt")
        )
        new_labels = counts.groupBy("id").agg(
            F.min_by(
                "label",
                F.struct(
                    (-F.col("__cnt")).alias("c"), F.col("label").alias("l")
                ),
            ).alias("label")
        )
        if (
            until_converged
            or durable
            or (rnd + 1) % max(stage_every, 1) == 0
            or rnd == rounds - 1
        ):
            new_labels = stage(new_labels, f"lpa_labels_r{rnd}", eager=False)
        if until_converged and rnd < rounds - 1:
            # existence probe on the two materialized round frames: any
            # node whose label moved? (limit(1) — never a full count)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            if changed == 0:
                return new_labels
        labels = new_labels
    return labels


def shortest_paths(
    edges: DataFrame,
    source: int,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    max_hops: int = 20,
) -> DataFrame:
    """Single-source unweighted shortest path lengths via BFS frontier
    expansion. Returns ``(node, distance)`` for every node reachable
    from ``source`` within ``max_hops`` (the source itself at 0).

    Each hop is one join of the CURRENT FRONTIER against the staged
    edge table plus an anti-join against already-visited nodes — the
    frontier (not the whole graph) drives the shuffle, so late rounds
    over a shrinking frontier are cheap. Rounds are staged
    (``staging.stage``) to truncate lineage; the loop exits as soon
    as a frontier comes back empty.

    At 100 TB scale this is the textbook Pregel BFS mapped onto
    DataFrame joins; ``max_hops`` bounds the rounds the same way
    ``max_iter`` bounds connected_components.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    e = stage(e.filter(F.col("a") != F.col("b")).distinct(), "sp_edges")

    spark = edges.sparkSession
    frontier = stage(
        spark.createDataFrame([(int(source), 0)], "node long, distance int"),
        "sp_f0",
    )
    visited = [frontier]
    for hop in range(1, max_hops + 1):
        seen = visited[0]
        for f in visited[1:]:
            seen = seen.unionByName(f)
        nxt = (
            frontier.join(e, frontier.node == e.a)
            .select(F.col("b").alias("node"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
            .withColumn("distance", F.lit(hop))
        )
        nxt = stage(nxt, f"sp_f{hop}")
        if nxt.isEmpty():
            break
        visited.append(nxt)
        frontier = nxt

    out = visited[0]
    for f in visited[1:]:
        out = out.unionByName(f)
    return out


def _kcore_local(pdf, k: int, spark) -> DataFrame:
    """Exact peeling over a driver-small undirected edge array
    (columns a, b — both directions present), vectorized in numpy:
    each round is one bincount + one boolean mask instead of a Spark
    job, so chain-like graphs that cascade one node per round cost
    microseconds per round, not a scheduler round-trip."""
    import numpy as np
    import pandas as pd

    nodes, inv = np.unique(
        np.concatenate([pdf["a"].to_numpy(), pdf["b"].to_numpy()]),
        return_inverse=True,
    )
    a = inv[: len(pdf)]
    b = inv[len(pdf):]
    alive_edge = np.ones(len(a), dtype=bool)
    while True:
        deg = np.bincount(a[alive_edge], minlength=len(nodes))
        keep = deg >= k
        nxt = alive_edge & keep[a] & keep[b]
        if nxt.sum() == alive_edge.sum():
            break
        alive_edge = nxt
        if not alive_edge.any():
            break
    deg = np.bincount(a[alive_edge], minlength=len(nodes))
    mask = deg >= k
    out = pd.DataFrame(
        {"node": nodes[mask], "degree": deg[mask].astype("int64")}
    )
    typ = "string" if out["node"].dtype == object else "long"
    return spark.createDataFrame(out, schema=f"node {typ}, degree bigint")


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 200,
    on_exhaustion: str = "raise",
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every node keeps degree >= k, found by iterative peeling (drop
    sub-k nodes, recompute degrees on the surviving subgraph, repeat
    to fixpoint) — the standard dense-region extractor for community
    seeds and spam/bot rings.

    Returns ``(node, degree)`` with the node's degree INSIDE the core.

    Each round is one degree groupBy plus two semi-joins restricting
    the edge set to survivors — all keyed on node ids, staged per
    round (``localCheckpoint`` or durable parquet). Convergence is
    checked with a 1-row count; peeling removes at least one node per
    non-final round, so rounds <= |peeled nodes|. Dense graphs settle
    in a handful of rounds, but a chain-like graph can legitimately
    cascade ONE node per round (~|V|/2 rounds total), hence the
    generous ``max_rounds`` default. On exhaustion the result would be
    a superset of the true core, so the default is to ``raise``; pass
    ``on_exhaustion="return"`` to take the partially-peeled subgraph
    instead (same choice ``connected_components`` offers).
    """
    if on_exhaustion not in ("raise", "return"):
        raise ValueError(f"unknown on_exhaustion mode: {on_exhaustion}")
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = stage(und, "kcore_edges")

    # contracted graphs peel on the driver (the module note): rounds
    # that cascade one node each cost microseconds instead of a
    # scheduler round-trip. max_rounds/on_exhaustion only govern the
    # distributed loop — the local peel runs to fixpoint.
    head = local_rows(und, LOCAL_PEEL_ROWS, arrow=True)
    if head is not None:
        return _kcore_local(head, k, edges.sparkSession)

    n_before = None  # carried across rounds: round r's survivors are
    # round r+1's population, so ONE count job per round suffices
    for rnd in range(max_rounds):
        deg = und.groupBy("a").agg(F.count("*").alias("degree"))
        if n_before is None:
            n_before = deg.count()
        keep = deg.filter(F.col("degree") >= k).select("a")
        n_after = keep.count()
        if n_after == n_before:
            return deg.select(F.col("a").alias("node"), "degree")
        if n_after == 0:
            return deg.filter(F.lit(False)).select(
                F.col("a").alias("node"), "degree"
            )
        und = (
            und.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
        )
        und = stage(und, f"kcore_e{rnd}")
        # survivors of this round may lose further neighbors' edges, so
        # next round's population is counted from its own degree table;
        # but the upper bound for the convergence test is this round's
        # keep count
        n_before = n_after
    if on_exhaustion == "return":
        import warnings

        warnings.warn(
            f"k-core peeling hit max_rounds={max_rounds} before the "
            "fixpoint; returning the partially-peeled subgraph (a "
            "superset of the true k-core)",
            stacklevel=2,
        )
        deg = und.groupBy("a").agg(F.count("*").alias("degree"))
        return deg.select(F.col("a").alias("node"), "degree")
    raise RuntimeError(
        f"k-core peeling did not converge in {max_rounds} rounds "
        "(chain-like graphs can need ~|V|/2 rounds; raise max_rounds "
        "or pass on_exhaustion='return' for the partial subgraph)"
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    include_existing: bool = False,
    ndigits: int = 6,
) -> DataFrame:
    """Adamic-Adar link-prediction scores for every 2-hop node pair:

        AA(u, v) = sum over common neighbors z of 1 / ln(deg(z))

    (Adamic & Adar 2003, public literature) — the standard cheap
    link-prediction / entity-affinity baseline: rare shared neighbors
    are strong evidence, ubiquitous ones weak. Returns
    ``(node_a, node_b, common_neighbors, aa_score)`` with
    ``node_a < node_b``; pairs already directly connected are excluded
    unless ``include_existing=True`` (prediction means NEW links).

    Plan shape: symmetrize+distinct once (the LPA/CC discipline), one
    degree groupBy joined back onto the edge list (deg travels WITH the
    edge row, so the wedge join adds no third shuffle), one self-join
    on the middle node z emitting wedges (u, v, 1/ln(deg z)), one
    (u, v) groupBy. The per-pair sum folds over SORTED weights — the
    cross-engine float discipline (``operators/lm.py``).

    Skew: a middle node of degree d emits d^2/2 wedges — the
    triangle-count hot-spot. ``max_degree`` drops hub middles ABOVE the
    cap from wedge generation (their contribution is the smallest,
    1/ln(deg) — the standard truncation); like every guard in this
    repo it is an explicit, mirrored-in-the-oracle knob, not a silent
    cap. Degree-1 middles emit nothing and are filtered before the
    self-join.

    No counterpart in the reference engine (SURVEY.md §2.2 — no joins
    beyond one left-equi).
    """
    sym = stage(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        .distinct(),
        "aa_edges",
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("__deg"))
    mid = sym.join(deg, "a").filter(F.col("__deg") >= 2)
    if max_degree is not None:
        mid = mid.filter(F.col("__deg") <= max_degree)
    left = mid.select(
        F.col("a").alias("__z"),
        F.col("b").alias("node_a"),
        F.col("__deg").alias("__dz"),
    )
    right = mid.select(
        F.col("a").alias("__z"), F.col("b").alias("node_b")
    )
    wedges = (
        left.join(right, "__z")
        .filter(F.col("node_a") < F.col("node_b"))
        .select(
            "node_a",
            "node_b",
            (F.lit(1.0) / F.log(F.col("__dz").cast("double"))).alias("__w"),
        )
    )
    # pre-aggregate by (pair, weight) first: the count is map-side
    # combinable, so the wedge-sized stream collapses to distinct
    # (pair, degree) rows BEFORE the shuffle; the exact sorted weight
    # multiset is rebuilt reducer-side (array_repeat + flatten over
    # the weight-sorted runs), so the fold — and every output bit —
    # is identical to folding the raw per-wedge weights.
    wcounts = wedges.groupBy("node_a", "node_b", "__w").agg(
        F.count("*").alias("__c")
    )
    runs = F.sort_array(
        F.collect_list(F.struct(F.col("__w"), F.col("__c")))
    )
    ws = F.flatten(
        F.transform(
            runs,
            lambda s: F.array_repeat(s["__w"], s["__c"].cast("int")),
        )
    )
    aa = wcounts.groupBy("node_a", "node_b").agg(
        F.sum("__c").alias("common_neighbors"),
        F.round(
            F.aggregate(ws, F.lit(0.0), lambda acc, x: acc + x), ndigits
        ).alias("aa_score"),
    )
    if include_existing:
        return aa
    existing = sym.filter(F.col("a") < F.col("b")).select(
        F.col("a").alias("node_a"), F.col("b").alias("node_b")
    )
    return aa.join(existing, ["node_a", "node_b"], "left_anti")


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    include_existing: bool = False,
    ndigits: int = 6,
    broadcast_degrees: bool = False,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction for 2-hop pairs:

        J(u, v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|
                = common / (deg(u) + deg(v) - common)

    — the normalized companion to :func:`adamic_adar` (same wedge
    join; the score divides by neighborhood size instead of weighting
    rare middles). Returns ``(node_a, node_b, common_neighbors,
    jaccard)`` with ``node_a < node_b``; existing edges excluded
    unless ``include_existing=True``.

    Plan shape: the adamic_adar wedge join (degree rides with the
    edge row), an integer-count groupBy per pair, then TWO joins
    against the |V|-row degree table for the union denominator — all
    integer math until the final rounded division, so the oracle is
    trivially exact. ``max_degree`` is the same mirrored hub guard.

    The denominator join side is |V| rows, so by default no broadcast
    hint is forced — AQE picks broadcast when the degree table fits
    under ``spark.sql.autoBroadcastJoinThreshold`` and sort-merge when
    it doesn't (a forced hint on a billion-node graph would OOM the
    driver). Pass ``broadcast_degrees=True`` only when |V| is known
    small (see SCALING.md).
    """
    sym = stage(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        .distinct(),
        "nj_edges",
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("__deg"))
    mid = sym.join(deg, "a").filter(F.col("__deg") >= 2)
    if max_degree is not None:
        mid = mid.filter(F.col("__deg") <= max_degree)
    left = mid.select(
        F.col("a").alias("__z"), F.col("b").alias("node_a")
    )
    right = mid.select(
        F.col("a").alias("__z"), F.col("b").alias("node_b")
    )
    common = (
        left.join(right, "__z")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").alias("common_neighbors"))
    )
    da = deg.select(
        F.col("a").alias("node_a"), F.col("__deg").alias("__da")
    )
    db = deg.select(
        F.col("a").alias("node_b"), F.col("__deg").alias("__db")
    )
    if broadcast_degrees:
        da, db = F.broadcast(da), F.broadcast(db)
    scored = (
        common.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (
                    F.col("__da") + F.col("__db")
                    - F.col("common_neighbors")
                ),
                ndigits,
            ).alias("jaccard"),
        )
    )
    if include_existing:
        return scored
    existing = sym.filter(F.col("a") < F.col("b")).select(
        F.col("a").alias("node_a"), F.col("b").alias("node_b")
    )
    return scored.join(existing, ["node_a", "node_b"], "left_anti")


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 2,
    ndigits: int = 6,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, public literature)
    over a directed edge list, fixed-round and oracle-exact.

    Update rule per round: ``auth(v) = sum of hub(u) over u->v`` then
    ``hub(u) = sum of auth(v) over u->v``, from all-ones init. The
    textbook algorithm renormalizes with an L2 divide every round;
    this implementation DEFERS normalization to the end (divide by the
    max, round to ``ndigits``) so every intermediate value is an exact
    INTEGER — unnormalized HITS scores are pure path counts, identical
    on any engine with no float-accumulation-order drift, which is
    what lets a SQL oracle replay the whole iteration bit-for-bit
    (same ranking either way: normalization is monotone). Fixed small
    ``rounds`` is the production setting; values grow like
    (max_degree)^rounds, so keep rounds small or renormalize (the
    float path) on deep runs — overflow guard documented, not silent:
    longs overflow past rounds*log2(max_deg) ~ 63.

    Returns ``(id, auth, hub)`` for every node, scores in [0, 1].

    Scale: per round two groupBy-sum shuffles keyed on node ids (ints
    ride the shuffle, never adjacency lists); the static edge set is
    staged once (``staging.stage``); the final max is a 1-row agg.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = stage(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct(),
        "hits_edges",
    )
    # staged once: nodes feeds two left-joins per round plus the final
    # double join — without staging the union+distinct re-executes ~5x
    nodes = stage(
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct(),
        "hits_nodes",
    )
    hub = nodes.withColumn("hub", F.lit(1).cast("long"))
    auth = None
    for _ in range(rounds):
        auth = (
            e.join(hub, e.a == hub.id)
            .groupBy(F.col("b").alias("id"))
            .agg(F.sum("hub").alias("auth"))
        )
        auth = nodes.join(auth, "id", "left").select(
            "id", F.coalesce("auth", F.lit(0)).alias("auth")
        )
        hub = (
            e.join(auth, e.b == auth.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.sum("auth").alias("hub"))
        )
        hub = nodes.join(hub, "id", "left").select(
            "id", F.coalesce("hub", F.lit(0)).alias("hub")
        )
        hub = stage(hub, "hits_hub")
        auth = stage(auth, "hits_auth")
    mx = (
        auth.agg(F.max("auth").alias("ma"))
        .crossJoin(hub.agg(F.max("hub").alias("mh")))
        .first()
    )
    # empty graph: max over zero rows is NULL — return the (empty)
    # scored frame instead of TypeError-ing on int(None)
    ma = max(int(mx["ma"]), 1) if mx["ma"] is not None else 1
    mh = max(int(mx["mh"]), 1) if mx["mh"] is not None else 1
    return (
        nodes.join(auth, "id")
        .join(hub, "id")
        .select(
            "id",
            F.round(F.col("auth") / F.lit(float(ma)), ndigits).alias(
                "auth"
            ),
            F.round(F.col("hub") / F.lit(float(mh)), ndigits).alias("hub"),
        )
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ndigits: int = 6,
) -> DataFrame:
    """Degree-assortativity coefficient (Newman, "Assortative mixing
    in networks", PRL 2002 — public literature): the Pearson
    correlation of the endpoint degrees over every directed
    half-edge of the simple undirected graph. r > 0 means hubs link
    to hubs (social nets), r < 0 hubs link to leaves (hub-and-spoke
    — the shape of most transaction graphs).

    One-row output ``(n_nodes, n_edges, assortativity)``.

    Exactness: degrees are integers, so all five cross-moment sums
    (Sx, Sy, Sxy, Sxx, Syy over the 2|E| half-edges) accumulate in
    DECIMAL(38,0) — exact and order-free; r is one double expression
    over the six exact sums, rounded. Returns NULL r for a
    degree-regular graph (var = 0: correlation undefined).

    Scale: symmetrize + distinct (one shuffle), degree groupBy (one
    shuffle), then degrees join back onto both endpoints — two
    |V|-row joins that AQE plans (no forced broadcast, same policy
    as neighbor_jaccard); the moment rollup is map-side combinable
    to a single row. Nothing is ever all-pairs.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        .distinct()
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    da = deg.select(F.col("a"), F.col("deg").alias("dx"))
    db = deg.select(
        F.col("a").alias("b"), F.col("deg").alias("dy")
    )
    pairs = sym.join(da, "a").join(db, "b")
    x, y = F.col("dx"), F.col("dy")
    m = pairs.agg(
        F.count("*").alias("m"),
        # every node with deg >= 1 appears as endpoint a of some
        # half-edge, so this IS |V| — no second job over the graph
        F.count_distinct(F.col("a")).alias("n_nodes"),
        exact_sum(x).alias("sx"),
        exact_sum(y).alias("sy"),
        exact_sum(x * y).alias("sxy"),
        exact_sum(x * x).alias("sxx"),
        exact_sum(y * y).alias("syy"),
    )
    mm = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = F.col("sxy").cast("double") - sx * sy / mm
    den = F.sqrt(
        (F.col("sxx").cast("double") - sx * sx / mm)
        * (F.col("syy").cast("double") - sy * sy / mm)
    )
    return m.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(
            F.when(den > 0, num / den).otherwise(F.lit(None)), ndigits
        ).alias("assortativity"),
    )


def local_clustering(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998,
    public literature): lcc(v) = closed wedges at v / C(deg(v), 2) —
    how close each node's neighborhood is to a clique. The per-node
    refinement of the global ``triangle_count``.

    ``(node, degree, triangles, lcc)``; degree-<2 nodes report
    lcc = 0.0 (no wedge to close). ``triangles`` counts each
    triangle ONCE per participating vertex.

    Algorithm: symmetrize+distinct (staged — it feeds three
    branches), wedge self-join at the center with ``n1 < n2``
    ordering (each unordered neighbor pair once), semi-join against
    the undirected edge set to keep closed wedges, one count per
    center. The d²/2 wedge blowup is governed by the same explicit
    ``max_degree`` hub guard as adamic_adar / neighbor_jaccard —
    hubs above the cap keep their exact degree but report NULL
    lcc (censored, mirrored by the oracle), so the wedge stage is
    bounded at cap²/2 per node at any graph size.

    Exactness: counts are integers; lcc is ONE rounded division.
    """
    sym = stage(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        .distinct(),
        "lcc_edges",
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("degree"))
    mid = sym.join(deg, "a")
    capped = (
        mid.filter(F.col("degree") <= max_degree)
        if max_degree is not None
        else mid
    )
    left = capped.select(F.col("a").alias("v"), F.col("b").alias("n1"))
    right = capped.select(F.col("a").alias("v2"), F.col("b").alias("n2"))
    wedges = left.join(
        right, (left.v == right.v2) & (F.col("n1") < F.col("n2"))
    ).select("v", "n1", "n2")
    closing = sym.select(
        F.col("a").alias("n1"), F.col("b").alias("n2")
    )
    tri = (
        wedges.join(closing, ["n1", "n2"], "left_semi")
        .groupBy("v")
        .agg(F.count("*").alias("triangles"))
    )
    out = (
        deg.select(F.col("a").alias("node"), "degree")
        .join(tri.withColumnRenamed("v", "node"), "node", "left")
        .withColumn("triangles", F.coalesce("triangles", F.lit(0)))
    )
    lcc = F.when(
        F.col("degree") < 2, F.lit(0.0)
    ).otherwise(
        F.round(
            F.lit(2.0)
            * F.col("triangles")
            / (F.col("degree") * (F.col("degree") - F.lit(1))),
            ndigits,
        )
    )
    if max_degree is not None:
        lcc = F.when(F.col("degree") > max_degree, F.lit(None)).otherwise(lcc)
        # a censored hub's wedge rows never existed — its triangle
        # count is a partial artifact; censor it too
        out = out.withColumn(
            "triangles",
            F.when(
                F.col("degree") > max_degree, F.lit(None)
            ).otherwise(F.col("triangles")),
        )
    return out.withColumn("lcc", lcc).select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.col("triangles").cast("long").alias("triangles"),
        "lcc",
    )


def graph_modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    ndigits: int = 6,
) -> DataFrame:
    """Per-community modularity decomposition (Newman & Girvan 2004,
    public literature) of a GIVEN partition: for each community c,

        contribution_c = e_c/m - (d_c / 2m)^2

    where e_c = intra-community edges, d_c = total degree in c, m =
    edges of the simple undirected graph. Q = sum of contributions —
    the quality score a platform tracks for ANY node grouping
    (tenant, region, detected cluster) over an interaction graph;
    label_propagation's output plugs straight in as ``communities``.

    Output: one row per community ``(community, n_nodes, e_in,
    d_tot, contribution)`` — per-community rows keep every float
    independent (integer counts, one fixed-order double expression
    each, rounded), so there is NO cross-row float accumulation to
    pin; callers sum contributions for Q.

    Scale: orient low->high + distinct (one shuffle) for the edge
    set; two |V|-row joins to attach communities (AQE-planned, no
    forced broadcast — the neighbor_jaccard policy); degree and the
    rollups are map-side combinable. Nodes missing from
    ``communities`` are dropped with their incident edges (inner
    join — document the coverage upstream).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    com = communities.select(
        F.col(node_col).alias("__n"), F.col(community_col).alias("__c")
    ).distinct()
    ca = com.select(F.col("__n").alias("a"), F.col("__c").alias("ca"))
    cb = com.select(F.col("__n").alias("b"), F.col("__c").alias("cb"))
    tagged = und.join(ca, "a").join(cb, "b")
    m_row = tagged.agg(F.count("*").alias("__m"))
    e_in = (
        tagged.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("e_in"))
    )
    # degree over the tagged simple edges (both endpoints carry a
    # community), so dropped nodes don't skew d_c
    half = tagged.select(
        F.col("a").alias("n"), F.col("ca").alias("community")
    ).unionByName(
        tagged.select(F.col("b").alias("n"), F.col("cb").alias("community"))
    )
    d_tot = half.groupBy("community").agg(
        F.count("*").alias("d_tot"),
        F.count_distinct("n").alias("n_nodes"),
    )
    out = d_tot.join(e_in, "community", "left").crossJoin(
        F.broadcast(m_row)
    )
    m = F.col("__m").cast("double")
    e = F.coalesce(F.col("e_in"), F.lit(0)).cast("double")
    d = F.col("d_tot").cast("double")
    contrib = F.round(e / m - (d / (F.lit(2.0) * m)) * (d / (F.lit(2.0) * m)), ndigits)
    return out.select(
        "community",
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.coalesce(F.col("e_in"), F.lit(0)).cast("long").alias("e_in"),
        F.col("d_tot").cast("long").alias("d_tot"),
        F.when(F.col("__m") > 0, contrib).alias("contribution"),
    )


def reciprocity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ndigits: int = 6,
) -> DataFrame:
    """Directed-graph reciprocity: the share of distinct directed
    edges whose reverse edge also exists (Garlaschelli & Loffredo
    2004, public literature) — the mutual-follow / mutual-trade rate
    of an interaction graph; near 0 flags broadcast-shaped networks,
    near 1 conversation-shaped ones.

    Output: one row ``(n_edges, n_reciprocated, reciprocity)``;
    integer counts, one rounded division. NULL rate on an empty
    edge set.

    Scale: distinct (one shuffle) then ONE self-semi-join on the
    reversed key pair — shuffles int pairs only, never all-pairs;
    both sides partition on the join key so AQE plans it like any
    equi-join.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    recip = e.join(rev, ["a", "b"], "left_semi")
    tot = e.agg(F.count("*").alias("n_edges"))
    rc = recip.agg(F.count("*").alias("n_reciprocated"))
    return tot.crossJoin(rc).select(
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_reciprocated").cast("long").alias("n_reciprocated"),
        F.when(
            F.col("n_edges") > 0,
            F.round(F.col("n_reciprocated") / F.col("n_edges"), ndigits),
        ).alias("reciprocity"),
    )




# matmul-path node-domain cap: A and A@A at float64 are ~134 MB each
# at this bound, and one support round is ~1.4e11 flops — cheaper than
# any wedge census a graph this dense implies
_DENSE_DOMAIN_IDS = 4096


def _k_truss_local(pdf, k: int, spark) -> DataFrame:
    """Driver-local truss peel over a contracted edge list (the kcore
    fast-path discipline): wedge enumeration per low node with packed
    int64 membership via searchsorted, support by bincount, peel to
    fixpoint. Same update rule as the distributed loop — pytest pins
    the equivalence."""
    import numpy as np
    import pandas as pd

    a = pdf["a"].to_numpy(dtype=np.int64)
    b = pdf["b"].to_numpy(dtype=np.int64)

    # Dense-domain fast path (r12 verdict #3): when every node id fits
    # a small dense domain, edge support IS the adjacency-matrix
    # square — support(a, b) = |N(a) ∩ N(b)| = (A @ A)[a, b] — so one
    # BLAS matmul replaces the whole wedge-probe census. Profiled on
    # the sf0.1 gated fixture (1000 nodes, 348,728 edges, 81M wedges,
    # 56.5M triangles, converges in ONE round): 27.5 s of searchsorted
    # probes -> 0.17 s of matmul, with support totals identical
    # (3 x triangle count). Exactness: counts are small integers, and
    # float64 sums of integers < 2^53 are exact in ANY accumulation
    # order, so BLAS threading cannot perturb the result. The 4096
    # bound keeps A + A@A at ~268 MB and one round's matmul at
    # ~1.4e11 flops (~2-4 s multithreaded); larger-domain graphs fall
    # through to the wedge census.
    n_ids = int(max(a.max(), b.max())) + 1 if len(a) else 0
    if 0 < n_ids <= _DENSE_DOMAIN_IDS:
        A = np.zeros((n_ids, n_ids), dtype=np.float64)
        while True:
            if len(a) == 0:
                break
            A[:] = 0.0
            A[a, b] = 1.0
            A[b, a] = 1.0
            sup = (A @ A)[a, b].astype(np.int64)
            keep = sup >= k - 2
            if keep.all():
                out = pd.DataFrame(
                    {"a": a, "b": b, "support": sup}
                ).sort_values(["a", "b"])
                return spark.createDataFrame(
                    out, schema="a bigint, b bigint, support bigint"
                )
            a, b = a[keep], b[keep]
        out = pd.DataFrame({"a": [], "b": [], "support": []})
        return spark.createDataFrame(
            out, schema="a bigint, b bigint, support bigint"
        )

    while True:
        m = len(a)
        if m == 0:
            break
        packed = a * (np.int64(1) << 32) + b
        order = np.argsort(packed, kind="stable")
        sp = packed[order]
        # wedges at the low node: for every x, all pairs y < z among
        # its higher neighbors; closing edge (y, z) looked up in sp
        hit_parts: list = []
        # group edges by low node (order is packed-sorted, so within
        # a group the edges are already b-ascending)
        starts = np.flatnonzero(
            np.r_[True, a[order][1:] != a[order][:-1]]
        )
        ends = np.r_[starts[1:], m]
        degs = ends - starts
        # vectorize per DEGREE CLASS: one shared triu pattern serves
        # every low node of that degree (a few hundred classes and a
        # handful of numpy batches instead of a Python loop over
        # every node and round); batches chunked to bound the pair
        # arrays
        max_pairs = 8_000_000
        for d in np.unique(degs):
            if d < 2:
                continue
            s0s = starts[degs == d]
            ii, jj = np.triu_indices(int(d), k=1)
            per = len(ii)
            step = max(1, max_pairs // per)
            for c0 in range(0, len(s0s), step):
                base = s0s[c0 : c0 + step, None]
                idx_i = order[(base + ii[None, :]).ravel()]
                idx_j = order[(base + jj[None, :]).ravel()]
                wpack = b[idx_i] * (np.int64(1) << 32) + b[idx_j]
                # binary search with RANDOM queries into a BIG sorted
                # array is DRAM-latency bound (measured ~1.3us/probe
                # at 28 MB+); sorting the batch's queries first makes
                # successive probes walk adjacent tree paths. Below
                # ~2M edges sp fits cache and the argsort costs more
                # than it saves — probe directly.
                if m > 2_000_000:
                    qord = np.argsort(wpack, kind="stable")
                    wp_s = wpack[qord]
                    pos = np.searchsorted(sp, wp_s)
                    pos[pos >= m] = m - 1
                    hit_s = sp[pos] == wp_s
                    if not hit_s.any():
                        continue
                    orig = qord[hit_s]
                    hit_parts.append(order[pos[hit_s]])
                    hit_parts.append(idx_i[orig])
                    hit_parts.append(idx_j[orig])
                else:
                    pos = np.searchsorted(sp, wpack)
                    pos[pos >= m] = m - 1
                    hit = sp[pos] == wpack
                    if not hit.any():
                        continue
                    hit_parts.append(order[pos[hit]])
                    hit_parts.append(idx_i[hit])
                    hit_parts.append(idx_j[hit])
        # ONE full-length scatter per round: per-batch bincounts each
        # pay an m-length alloc+sum pass, and np.add.at is a slow
        # scalar scatter — a single bincount over the concatenated
        # triangle incidences (3 per triangle) is bandwidth-optimal
        sup = (
            np.bincount(np.concatenate(hit_parts), minlength=m)
            if hit_parts
            else np.zeros(m, dtype=np.int64)
        )
        keep = sup >= k - 2
        if keep.all():
            out = pd.DataFrame(
                {"a": a, "b": b, "support": sup}
            ).sort_values(["a", "b"])
            return spark.createDataFrame(
                out, schema="a bigint, b bigint, support bigint"
            )
        a, b = a[keep], b[keep]
    out = pd.DataFrame({"a": [], "b": [], "support": []})
    return spark.createDataFrame(
        out, schema="a bigint, b bigint, support bigint"
    )


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 100,
    on_exhaustion: str = "raise",
) -> DataFrame:
    """The k-truss of an undirected graph: the maximal subgraph where
    every EDGE sits in at least k-2 triangles (Cohen 2008, public
    literature) — the cohesion extractor one notch stricter than
    k-core (every k-truss is inside the (k-1)-core), the standard
    spam-ring / tight-community miner when degree alone is too easy
    to fake.

    Iterative support peeling with INCREMENTAL maintenance: the full
    triangle census runs once, via the oriented-wedge plan
    (``triangle_count``'s Cohen formulation — each triangle a<b<c
    found exactly once as wedge (a->b, b->c) closed by (a->c);
    orientation doubles as the celebrity-node skew guard). Every
    later round enumerates only the triangles touching that round's
    removed edges (common-neighbor joins keyed on the removed edges'
    endpoints), dedupes them on the node triple, and decrements the
    surviving edges' supports — per-round cost is proportional to
    the removed edges' degree sum, not the full wedge census, which
    is what keeps long cascade chains affordable at 100x graph
    scale. Mass-removal rounds (removed > ~1/4 of edges — dense
    graphs shedding most of the graph at once) fall back to a full
    survivor recount instead: censusing the small kept set is
    cheaper than enumerating the huge removed set's triangles.
    Convergence costs one count per round; each round's support frame
    is staged (``staging.stage`` — the kcore discipline). Peeling
    removes >= 1 edge per non-final round, so rounds <= |peeled
    edges|; cascade chains can legitimately be long, hence
    ``max_rounds``/``on_exhaustion`` (same contract as kcore: the
    exhausted result is a SUPERSET of the true truss, so the
    default raises).

    Returns the surviving canonical edges ``(a, b, support)`` with
    each edge's triangle support INSIDE the truss.

    Scale: all joins are keyed on node ids (wedge join on the middle
    node, closing join on (x, z), support groupBy on the edge key);
    shuffles carry int pairs/triples only, never adjacency lists.
    """
    if on_exhaustion not in ("raise", "return"):
        raise ValueError(f"unknown on_exhaustion mode: {on_exhaustion}")
    a, b = F.col(src), F.col(dst)
    e = stage(
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "truss_edges",
    )

    def _support(ed: DataFrame) -> DataFrame:
        w = ed.select(F.col("a").alias("x"), F.col("b").alias("y")).join(
            ed.select(F.col("a").alias("y"), F.col("b").alias("z")), "y"
        )
        tri = w.join(
            ed.select(F.col("a").alias("x"), F.col("b").alias("z")),
            ["x", "z"],
        )
        return (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("x").alias("a"), F.col("y").alias("b")
                        ),
                        F.struct(
                            F.col("x").alias("a"), F.col("z").alias("b")
                        ),
                        F.struct(
                            F.col("y").alias("a"), F.col("z").alias("b")
                        ),
                    )
                ).alias("__e")
            )
            .select("__e.a", "__e.b")
            .groupBy("a", "b")
            .agg(F.count("*").alias("support"))
        )

    # truss peeling runs on CONTRACTED graphs (the gate/bench fixture's
    # node domain is mod-1000, so its distinct edge count is bounded no
    # matter the input scale); wedge work per round is the expensive
    # part and the local peel does it in one numpy pass per round
    # instead of 3 shuffle joins. The bound on the pulled edge list is
    # the kcore one (LOCAL_PEEL_ROWS canonical pairs ~ 16 MB); past it
    # the wedge census is typically large enough that the distributed
    # peel's parallelism beats one process's latency-bound probes —
    # measured at 3.5M edges / 810M wedges: ~150 s distributed on
    # local[16] vs ~190 s for the vectorized numpy peel. Tests pin
    # local == dist.
    head = local_rows(e, LOCAL_PEEL_ROWS, arrow=True)
    if head is not None:
        # id-range guard (advisor r11): the local peel packs edges as
        # a*(2^32)+b in int64, which silently WRAPS for ids >= 2^31
        # (products overflow) and breaks the packed sort order for
        # negative ids. Graphs carrying 64-bit hash ids or signed ids
        # fall through to the distributed peel, which never packs.
        if len(head) == 0 or (
            int(head["a"].min()) >= 0 and int(head["b"].max()) < (1 << 31)
        ):
            return _k_truss_local(head, k, edges.sparkSession)
    elif local_fold_limit(edges.sparkSession, LOCAL_PEEL_ROWS) > 0:
        # dense-domain probe (r13): past the edge-count bound a SMALL
        # NODE DOMAIN still admits the local A@A matmul path — a
        # 4096-node graph supports at most ~8.4M canonical edges
        # (~130 MB pulled), and one matmul round is ~1.4e11 flops, far
        # cheaper than a distributed wedge census over hundreds of
        # millions of triangles (measured: the 4x dense growth probe,
        # 1.4M edges / 226M triangles, 37 s distributed -> ~3 s
        # matmul). One tiny agg job decides; huge-domain graphs fall
        # through unchanged.
        rng = e.agg(
            F.min("a").alias("lo"),
            F.max("b").alias("hi"),
            F.count("*").alias("m"),
        ).first()
        if (
            rng["lo"] is not None
            and int(rng["lo"]) >= 0
            and int(rng["hi"]) < _DENSE_DOMAIN_IDS
            and int(rng["m"]) <= (1 << 23)
        ):
            return _k_truss_local(e.toPandas(), k, edges.sparkSession)

    # Incremental support maintenance (advisor r11): the full
    # oriented-wedge census runs ONCE; every later round recounts only
    # edges that shared a triangle with a removed edge. The removed
    # set R joins the symmetrized adjacency twice (common-neighbor
    # enumeration — cost ~ sum of degrees over R's endpoints, not the
    # full wedge census), affected triangles dedupe on the canonical
    # node triple (a triangle holding 2-3 removed edges is found once
    # per removed edge but must decrement once), and survivors get
    # support -= #lost triangles. Invariant: entering every round,
    # `sup` holds each surviving edge's EXACT support within the
    # current graph — a removed triangle is counted in support iff all
    # 3 edges were present, and it contained a removed edge iff it is
    # enumerated here. Long cascade chains (rounds ~ |peeled edges|)
    # now cost O(sum of affected work) instead of
    # O(rounds x full census) — the 100x-scale fix.
    sup = stage(
        e.join(_support(e), ["a", "b"], "left").select(
            "a", "b", F.coalesce("support", F.lit(0)).alias("support")
        ),
        "truss_sup0",
    )
    n_cur = sup.count()
    for rnd in range(max_rounds):
        removed = sup.filter(F.col("support") < k - 2).select("a", "b")
        n_removed = removed.count()
        if n_removed == 0:
            return sup.select("a", "b", "support")
        kept = sup.filter(F.col("support") >= k - 2)
        n_cur -= n_removed
        if n_removed * 3 > n_cur:
            # mass-removal round (dense graphs peel most edges at
            # once): the removed set's triangle enumeration would
            # cost MORE than a full census of the small survivor set
            # — recount survivors directly (measured: the always-
            # incremental peel took the dense 4x growth probe from
            # 2.2x to 3.5x; this hybrid keeps sparse cascades
            # incremental and dense mass-peels census-based)
            sup = stage(
                kept.select("a", "b")
                .join(_support(kept.select("a", "b")), ["a", "b"], "left")
                .select(
                    "a",
                    "b",
                    F.coalesce("support", F.lit(0)).alias("support"),
                ),
                f"truss_sup{rnd + 1}",
            )
            continue
        # symmetrized adjacency of the ROUND-START graph (kept +
        # removed): lost triangles existed before this round's removal
        ed = sup.select("a", "b")
        adj = ed.unionByName(
            ed.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        tri = (
            removed.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .join(
                adj.select(F.col("a").alias("u"), F.col("b").alias("w")),
                "u",
            )
            .join(
                adj.select(F.col("a").alias("v"), F.col("b").alias("w")),
                ["v", "w"],
            )
            .select(F.array_sort(F.array("u", "v", "w")).alias("t"))
            .distinct()
            .select(
                F.col("t")[0].alias("x"),
                F.col("t")[1].alias("y"),
                F.col("t")[2].alias("z"),
            )
        )
        dec = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("x").alias("a"), F.col("y").alias("b")
                        ),
                        F.struct(
                            F.col("x").alias("a"), F.col("z").alias("b")
                        ),
                        F.struct(
                            F.col("y").alias("a"), F.col("z").alias("b")
                        ),
                    )
                ).alias("__e")
            )
            .select("__e.a", "__e.b")
            .groupBy("a", "b")
            .agg(F.count("*").alias("__dec"))
        )
        sup = stage(
            kept.join(dec, ["a", "b"], "left").select(
                "a",
                "b",
                (F.col("support") - F.coalesce("__dec", F.lit(0)))
                .alias("support"),
            ),
            f"truss_sup{rnd + 1}",
        )
    if on_exhaustion == "return":
        import warnings

        warnings.warn(
            f"k-truss peeling hit max_rounds={max_rounds} before the "
            "fixpoint; returning the partially-peeled subgraph (a "
            "superset of the true k-truss)",
            stacklevel=2,
        )
        # `sup` carries exact supports within the current (partially
        # peeled) graph — no recount needed
        return sup.select("a", "b", "support")
    raise RuntimeError(
        f"k-truss peeling did not converge in {max_rounds} rounds "
        "(raise max_rounds or pass on_exhaustion='return' for the "
        "partial subgraph)"
    )


def _ppr_local(
    pairs: list[tuple], seed_set: set, iterations: int, damping: float,
    spark,
) -> DataFrame:
    """The identical personalized update rule over a driver-small
    contracted edge list, vectorized in numpy (the _pagerank_local
    discipline): float64 throughout, dangling mass not
    redistributed, teleport mass split uniformly over the seed set."""
    import numpy as np

    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    seeds = [idx[v] for v in nodes if v in seed_set]
    m = len(seeds)
    s = np.fromiter(
        (idx[a] for a, b in pairs), dtype=np.int64, count=len(pairs)
    )
    d = np.fromiter(
        (idx[b] for a, b in pairs), dtype=np.int64, count=len(pairs)
    )
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    reset = np.zeros(n)
    if m:
        reset[seeds] = 1.0 / m
    rank = reset.copy()
    for _ in range(iterations):
        contrib = rank[s] / outdeg[s]
        acc = np.zeros(n)
        np.add.at(acc, d, contrib)
        rank = (1.0 - damping) * reset + damping * acc
    first = nodes[0] if nodes else 0
    typ = "string" if isinstance(first, str) else "long"
    return spark.createDataFrame(
        [(v, float(rank[idx[v]])) for v in nodes], f"id {typ}, rank double"
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "id",
    iterations: int = 10,
    damping: float = 0.85,
    stage_every: int = 5,
) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6; Haveliwala 2002,
    public literature): PageRank whose teleport lands UNIFORMLY ON A
    SEED SET instead of all nodes — "importance relative to THESE
    nodes", the standard graph-proximity scorer behind related-item
    and who-to-follow features:

        rank(v) <- (1-d)*s_v + d * sum over in-edges rank(u)/outdeg(u)

    with s_v = 1/|S| for seeds (restricted to nodes present in the
    edge set), 0 elsewhere; rank0 = s. Dangling mass is not
    redistributed and iterations are fixed — the ``pagerank``
    contract, so the same unrolled-CTE oracle shape replays it.

    Returns (id, rank). Seeds arrive as a DataFrame (column
    ``seed_col``) and stay distributed: the reset vector is a left
    join against the node list, never a driver collect (the local
    fast path intersects seeds with the contracted node set, which is
    driver-small by the local-fold limit's definition).

    Scale: identical to ``pagerank`` — static edge+outdeg side staged
    once, one |edges| shuffle per round, lineage truncated every
    ``stage_every`` rounds.
    """
    e = stage(
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst")
        ).distinct(),
        "ppr_edges",
    )
    sd = seeds.select(F.col(seed_col).alias("id")).distinct()
    head = local_rows(e, LOCAL_FOLD_ROWS)
    if head is not None:
        node_set = {x for r in head for x in (r["src"], r["dst"])}
        seed_set = {
            r["id"]
            for r in sd.filter(F.col("id").isin(list(node_set))).collect()
        }
        return _ppr_local(
            [(r["src"], r["dst"]) for r in head],
            seed_set, iterations, damping, edges.sparkSession,
        )
    durable = staging_dir(edges.sparkSession) is not None
    nodes = stage(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct(),
        "ppr_nodes",
    )
    seeded = stage(
        nodes.join(sd.withColumn("__seed", F.lit(1)), "id", "left"),
        "ppr_seeded",
    )
    m = seeded.filter(F.col("__seed").isNotNull()).count()
    reset = F.when(
        F.col("__seed").isNotNull(), F.lit(1.0 / m if m else 0.0)
    ).otherwise(F.lit(0.0))
    ed = stage(
        e.join(e.groupBy("src").agg(F.count("*").alias("outdeg")), "src"),
        "ppr_outdeg",
    )
    ranks = seeded.select("id", reset.alias("rank"), "__seed")
    for rnd in range(iterations):
        contribs = (
            ed.join(ranks, ed.src == ranks.id)
            .select(
                F.col("dst"), (F.col("rank") / F.col("outdeg")).alias("c")
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        new_ranks = seeded.join(
            contribs, seeded.id == contribs.dst, "left"
        ).select(
            "id",
            (
                F.lit(1.0 - damping) * reset
                + F.lit(damping) * F.coalesce("s", F.lit(0.0))
            ).alias("rank"),
            "__seed",
        )
        if (
            durable
            or (rnd + 1) % max(stage_every, 1) == 0
            or rnd == iterations - 1
        ):
            new_ranks = stage(new_ranks, f"ppr_ranks_r{rnd}", eager=False)
        ranks = new_ranks
    return ranks.select("id", "rank")


def closeness_centrality(
    edges: DataFrame,
    k_sources: int = 8,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    max_hops: int = 8,
    ndigits: int = 6,
) -> DataFrame:
    """Exact closeness and harmonic centrality of the ``k_sources``
    highest-degree nodes (Bavelas 1950 closeness; Marchiori & Latora
    2000 harmonic — public literature), via ONE multi-source BFS:

        closeness(s) = n_reached / sum(dist),
        harmonic(s)  = sum(1 / dist)

    over nodes within ``max_hops`` of s (dist > 0). All-pairs
    closeness is quadratic; the standard scalable form computes it
    exactly for a deterministic source set — here the top-k by
    (degree desc, node asc), a bounded model-sized driver read (the
    IVF probe discipline).

    The BFS carries (source, node, dist) frontiers — the
    ``shortest_paths`` Pregel shape lifted to k simultaneous sources:
    per hop one frontier-to-edges join + one anti-join against the
    visited set, rounds staged, early exit on an empty frontier.

    Exactness: distances are integers; harmonic sums are EXACT — each
    term is L div dist with L = lcm(1..max_hops) (every hop count
    divides L), summed as longs, divided by L once. closeness is one
    integer/integer division. No float accumulates in data order.

    Output: one row per source ``(node, n_reached, closeness,
    harmonic)``, ordered by node; sources reaching nothing emit NULL
    ratios.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    e = stage(
        e.filter(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        ).distinct(),
        "cc_edges",
    )
    deg = (
        e.groupBy("a")
        .agg(F.count("*").alias("__deg"))
        .orderBy(F.col("__deg").desc(), F.col("a").asc())
        .limit(int(k_sources))
    )
    srcs = [int(r["a"]) for r in deg.collect()]  # bounded: k rows
    spark = edges.sparkSession
    frontier = stage(
        spark.createDataFrame(
            [(s, s, 0) for s in srcs], "s long, node long, dist int"
        ),
        "cc_f0",
    )
    visited = frontier
    for hop in range(1, int(max_hops) + 1):
        nxt = (
            frontier.join(e, frontier.node == e.a)
            .select("s", F.col("b").alias("node"))
            .distinct()
            .join(
                visited.select("s", "node"), ["s", "node"], "left_anti"
            )
            .withColumn("dist", F.lit(hop))
        )
        nxt = stage(nxt, f"cc_f{hop}")
        if nxt.limit(1).count() == 0:
            break
        # the union of already-staged frontiers needs no staging of its
        # own: every piece is materialized blocks, lineage depth stays
        # bounded by max_hops, and re-materializing the CUMULATIVE
        # visited set each hop was the single biggest per-hop job
        # (measured ~0.3 s/hop of the ~0.95 s/hop BFS wall at sf0.1)
        visited = visited.unionByName(nxt)
        frontier = nxt
    lcm = 1
    for d in range(2, int(max_hops) + 1):
        g, a_, b_ = d, lcm, d
        while b_:
            a_, b_ = b_, a_ % b_
        lcm = lcm * d // a_
    per = (
        visited.filter(F.col("dist") > 0)
        .groupBy("s")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.sum(F.col("dist").cast("long")).alias("__sd"),
            F.sum(F.expr(f"{lcm} div cast(dist as long)")).alias("__h"),
        )
    )
    base = spark.createDataFrame([(s,) for s in srcs], "s long")
    out = base.join(per, "s", "left")
    return out.select(
        F.col("s").alias("node"),
        F.coalesce(F.col("n_reached"), F.lit(0)).alias("n_reached"),
        F.when(
            F.col("__sd").isNotNull() & (F.col("__sd") > 0),
            F.round(
                F.col("n_reached").cast("double")
                / F.col("__sd").cast("double"),
                ndigits,
            ),
        ).alias("closeness"),
        F.when(
            F.col("__h").isNotNull(),
            F.round(F.col("__h").cast("double") / F.lit(float(lcm)), ndigits),
        ).alias("harmonic"),
    ).orderBy("node")
