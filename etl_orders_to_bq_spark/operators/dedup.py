"""Deduplication operators.

``first_occurrence_dedup`` reproduces the reference's
``drop_duplicates(keep="first")`` semantics (reference
etl/orders_etl.py:77-79, 83-85) — the one reference semantic Spark's
``dropDuplicates`` does NOT give (it keeps an *arbitrary* row). The rest
are the scale-path dedup family for training-data pipelines: exact
(hash-groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard
verification of candidate pairs.

Scale notes
-----------
- first-occurrence: one shuffle on the key (window). At 100 TB the
  ordering column must be explicit (ingest offset / event time);
  ``monotonically_increasing_id`` is only file-order-faithful for a
  fresh single-source read (see sources/csv.py).
- exact dedup: group on a fingerprint, min() the representative id —
  map-side combinable, one shuffle, no row comparison.
- MinHash+LSH: per-row signature is a projection (no shuffle); banding
  turns all-pairs O(n^2) into a groupBy on band keys — only rows sharing
  a band bucket ever meet. Bucket sizes are bounded by construction
  (hash of content), so skew is limited; a ``max_bucket`` guard drops
  degenerate buckets (e.g. empty docs) the way production dedup does.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import exact
from ..functions.text import normalize_text, tokenize, word_ngrams
from .staging import stage


def first_occurrence_dedup(
    df: DataFrame,
    keys: list[str],
    order_col: str | list[str],
    strategy: str = "window",
) -> DataFrame:
    """Keep the first row per ``keys`` as ordered by ``order_col``.

    ``order_col`` must define a total order within each key group for
    the result to be deterministic; pass a list of columns to break ties.

    Strategies (identical results, different shuffle profiles):
    - "window" (default): row_number over a key window. One shuffle of
      ALL rows + per-partition sort (WindowGroupLimit keeps it a
      streaming top-1). Fastest when keys are mostly unique (measured
      ~25% faster at 6M rows / 5.9M keys).
    - "min_by": groupBy(keys).min_by(struct(row), struct(order)). The
      partial aggregate combines map-side, so the shuffle carries one
      row per key PER MAPPER — the right choice when duplication is
      heavy (e.g. crawl snapshots with 100x dup factor), where shuffle
      volume, not CPU, is the bound.
    """
    order_cols = [order_col] if isinstance(order_col, str) else order_col
    if strategy == "min_by":
        packed = df.groupBy(*keys).agg(
            F.min_by(
                F.struct(*df.columns), F.struct(*[F.col(c) for c in order_cols])
            ).alias("__row")
        )
        return packed.select("__row.*")
    if strategy != "window":
        raise ValueError(f"unknown dedup strategy: {strategy}")
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized-content fingerprint: one row per distinct
    content, keeping the row with the smallest id (deterministic).

    ONE groupBy(fingerprint) with a map-side-combinable ``min_by`` over
    the packed row — a single scan and a single shuffle that carries at
    most one row per fingerprint PER MAPPER. (The earlier
    groupBy-then-self-join shape scanned and hashed the corpus twice.)
    """
    from ..functions.text import doc_fingerprint

    fp = df.withColumn("__fp", doc_fingerprint(text_col))
    return first_occurrence_dedup(
        fp, ["__fp"], id_col, strategy="min_by"
    ).drop("__fp")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_from_digests(digests: Column, chunk: int) -> Column:
    """One MinHash value: min over shingle digests of hex chunk ``chunk``
    (8 hex chars = 32 bits). Four hash functions ride on ONE md5 per
    shingle — the standard multi-hash-from-one-digest trick; md5 is the
    dominant cost, so this is ~4x cheaper than independent digests.

    md5-as-hex-string min is deterministic, platform-independent, and
    reproducible in ANSI SQL (the DuckDB oracle) — unlike Spark's
    murmur ``hash()`` whose seeds/width differ across engines.
    """
    return F.array_min(
        F.transform(digests, lambda d: F.substring(d, 1 + 8 * chunk, 8))
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_len: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Append ``mh_0..mh_{n-1}`` MinHash columns over word shingles.

    Pure projection — no shuffle, scales linearly. Empty-shingle docs
    (shorter than the shingle length) get null signatures and are
    excluded from banding downstream.

    ``hash_fn``:
    - "md5" (default): engine-portable hex minima, reproducible in the
      ANSI-SQL oracle — the correctness-checked path.
    - "xxhash64": pure-Column variant of the one-hash-plus-k-mixers
      MinHash family — shingles string-hashed once (``xxhash64``), then
      ``(h*a_i + b_i) mod 2^32`` mixers. Measured at 128 hashes this is
      NOT faster than md5: interpreted higher-order-function traversals
      (one per hash function) dominate, not hashing cost (SCALING.md).
      Kept as the no-Python variant.
    - "numpy": the production path for large ``num_hashes`` — one
      Arrow-batched pandas UDF computes all minima per doc in a single
      vectorized ``(h[None,:]*A[:,None]+B[:,None]) % 2^32 -> min``
      matrix pass (crc32 per shingle, C-speed). Measured ~8x faster
      than the Column variants at 128 hashes. Not oracle-reproducible,
      dedup semantics identical.
    """
    if hash_fn == "numpy":
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        rng_a = [
            (((6364136223846793005 * (2 * i + 1)) % (2**31)) | 1)
            for i in range(num_hashes)
        ]
        rng_b = [
            (2862933555777941757 * i + 3037000493) % (2**32)
            for i in range(num_hashes)
        ]
        A = np.array(rng_a, dtype=np.uint64)[:, None]
        B = np.array(rng_b, dtype=np.uint64)[:, None]

        @pandas_udf("array<long>")
        def _mh_batch(sh: pd.Series) -> pd.Series:
            import zlib

            out = []
            for shingles in sh:
                if shingles is None or len(shingles) == 0:
                    out.append(None)
                    continue
                h = np.fromiter(
                    (zlib.crc32(s.encode()) for s in shingles),
                    dtype=np.uint64,
                    count=len(shingles),
                )
                m = (h[None, :] * A + B) % (1 << 32)
                out.append(m.min(axis=1).astype(np.int64))
            return pd.Series(out)

        # asNondeterministic stops CollapseProject from inlining the UDF
        # into every mh_i projection (which would run the kernel
        # num_hashes times); the function itself is deterministic
        _mh_once = _mh_batch.asNondeterministic()
        staged = df.withColumn(
            "__mh",
            _mh_once(word_ngrams(normalize_text(text_col), shingle_len)),
        )
        return staged.select(
            *df.columns,
            *[F.col("__mh")[i].alias(f"mh_{i}") for i in range(num_hashes)],
        )
    if hash_fn == "xxhash64":
        def _mixer(i: int):
            # LCG-derived odd multiplier (<2^31) + offset (<2^32) per
            # hash function: (h31*a + b) mod 2^32 stays well under the
            # long range, so ANSI mode never sees an overflow. Closure
            # factory keeps the lambda unary for pyspark.
            a = ((6364136223846793005 * (2 * i + 1)) % (2**31)) | 1
            b = (2862933555777941757 * i + 3037000493) % (2**32)
            return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(2**32))

        staged = df.withColumn(
            "__xh",
            F.transform(
                word_ngrams(normalize_text(text_col), shingle_len),
                # mask to 31 bits once, at staging
                lambda s: F.xxhash64(s).bitwiseAND(F.lit(0x7FFFFFFF)),
            ),
        )
        return staged.select(
            *df.columns,
            *[
                F.array_min(F.transform(F.col("__xh"), _mixer(i))).alias(
                    f"mh_{i}"
                )
                for i in range(num_hashes)
            ],
        )
    if hash_fn != "md5":
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    # materialize the shingle array once (Catalyst does not CSE the
    # tokenize→ngram chain across N separate hash projections; without
    # this the chain is evaluated num_hashes times — measured 8x slower),
    # then one md5 digest array per group of 4 hash functions
    def _digester(group: int):
        # closure factory: a default-arg lambda would change the lambda
        # arity and pyspark would feed the array index as 2nd arg
        return lambda s: F.md5(F.concat(s, F.lit(f"|{group}")))

    n_groups = (num_hashes + 3) // 4
    with_digests = df.withColumn(
        "__shingles", word_ngrams(normalize_text(text_col), shingle_len)
    )
    for g in range(n_groups):
        with_digests = with_digests.withColumn(
            f"__dig_{g}", F.transform(F.col("__shingles"), _digester(g))
        )
    # nondeterministic dummy stops CollapseProject from inlining each
    # digest array into its 4 chunk-min projections (4 md5 passes per
    # group instead of 1 — measured ~1.5x slower at 128 hashes)
    with_digests = with_digests.withColumn("__cse_barrier", F.rand(seed=0))
    return with_digests.select(
        *df.columns,
        *[
            _minhash_from_digests(F.col(f"__dig_{i // 4}"), i % 4).alias(f"mh_{i}")
            for i in range(num_hashes)
        ],
    )


def minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, band, bk) rows: each doc's LSH band keys — the PERSISTABLE
    banding artifact. Docs sharing any (band, bk) are near-dup
    candidates; a corpus keeps this table (bucketed by bk) so arriving
    batches can be checked incrementally without re-signing the corpus
    (see ``incremental_lsh_matches``). Signature staging as in
    ``minhash_lsh_candidates``."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature(df, text_col, num_hashes, shingle_len, hash_fn).select(
        id_col, *[f"mh_{i}" for i in range(num_hashes)]
    )
    sig = sig.filter(F.col("mh_0").isNotNull())
    # materialize signatures before banding: CollapseProject would
    # otherwise inline the signature chain into every band-key
    # expression and re-hash the corpus once per band (measured 7x
    # slower at 2 bands). (id, num_hashes minima) is tiny next to the
    # text, so the staged frame is the same "write signatures, then
    # band" shape production dedup uses at scale.
    sig = stage(sig, "minhash_signatures", eager=False)

    band_structs = []
    for b in range(bands):
        cols = [f"mh_{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        bk = F.md5(F.concat_ws("|", F.lit(str(b)), *cols))
        band_structs.append(F.struct(F.lit(b).alias("band"), bk.alias("bk")))

    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("__b")
    ).select(id_col, F.col("__b.band").alias("band"), F.col("__b.bk").alias("bk"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
    max_bucket: int = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs agreeing on ALL hashes of any band become a candidate pair.
    Emitted as (id_a < id_b) pairs, distinct across bands.

    ONE shuffle, ZERO joins: each doc explodes into ``bands`` (band,
    band_key) rows (a projection), buckets are a single groupBy with
    ``collect_list`` capped by ``max_bucket`` (oversized degenerate
    buckets — e.g. empty docs — are dropped, as production dedup does),
    and pairs are generated in-bucket with array combinators. The
    earlier per-band self-join formulation re-executed the signature
    subtree 2x per band (32x at 16 bands — measured 10x slower at
    production parameters, SCALING.md).

    ``hash_fn="numpy"``/``"xxhash64"`` select the fast signature paths
    for production hash counts (see ``minhash_signature``).

    Signatures are staged through ``staging.stage`` (durable parquet
    under the session's ``spark.graft.stagingDir``) — the production
    "write signatures, then band" shape.
    """
    exploded = minhash_band_keys(
        df, text_col, id_col, num_hashes, bands, shingle_len, hash_fn
    )

    buckets = (
        exploded.groupBy("band", "bk")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )

    # all (i < j) combinations within a bucket, JVM-side
    ids = F.col("ids")
    pair_arrays = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs = buckets.select(F.explode(pair_arrays).alias("p")).select(
        F.col("p.id_a"), F.col("p.id_b")
    )
    return pairs.distinct()


def incremental_exact_dedup(
    new_df: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_fingerprint: bool = False,
) -> DataFrame:
    """Dedup a NEW batch against an already-deduped corpus without
    re-scanning the corpus text.

    The production incremental-refresh shape: the corpus keeps a
    persisted side table of content fingerprints (32-byte md5 per kept
    doc — ~3 TB for 100 TB of text, usually bucketed by fingerprint);
    each arriving batch (1) dedups within itself (map-side-combinable
    ``min_by``, one shuffle of the small batch) and (2) LEFT ANTI joins
    its fingerprints against the seen table — broadcast when the batch
    of *distinct new fingerprints* is small, shuffle-on-fingerprint
    against the bucketed table otherwise. Only new-batch rows ever
    carry text through a shuffle.

    ``seen_fingerprints`` needs a ``fingerprint`` column (as written by
    this function with ``keep_fingerprint=True``, the natural way to
    maintain the side table: append each batch's survivors).

    The same two-step composes for near-dup: dedup the batch with
    MinHash/LSH, then anti-join its band keys against the corpus's
    persisted band table (`minhash_lsh_candidates` staging output).
    """
    from ..functions.text import doc_fingerprint

    fp = new_df.withColumn("fingerprint", doc_fingerprint(text_col))
    batch_unique = first_occurrence_dedup(
        fp, ["fingerprint"], id_col, strategy="min_by"
    )
    survivors = batch_unique.join(
        seen_fingerprints.select("fingerprint"), "fingerprint", "left_anti"
    )
    return survivors if keep_fingerprint else survivors.drop("fingerprint")


def incremental_lsh_matches(
    new_df: DataFrame,
    corpus_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
    hash_fn: str = "md5",
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup candidates between a NEW batch and an existing corpus's
    persisted band table (``minhash_band_keys`` output): (new_id,
    corpus_id) pairs sharing at least one band bucket.

    The incremental companion of ``minhash_lsh_candidates``: only the
    batch is signed (projection over the small batch); the corpus
    contributes its band table — KBs per doc, bucketed by ``bk`` at
    scale so the join co-locates. Degenerate corpus buckets (a band key
    shared by > ``max_bucket`` corpus docs — boilerplate, empty docs)
    are dropped BEFORE the join, the same guard the batch path applies:
    without it one hot band key times a matching batch doc explodes
    into |bucket| pairs. Feed the matches (plus the batch's internal
    candidates) to ``ngram_jaccard_pairs`` for verification — linear in
    candidates, never corpus x batch.
    """
    nb = minhash_band_keys(
        new_df, text_col, id_col, num_hashes, bands, shingle_len, hash_fn
    ).withColumnRenamed(id_col, "new_id")
    cb = corpus_bands.withColumnRenamed(id_col, "corpus_id")
    ok_buckets = (
        cb.groupBy("band", "bk")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") <= max_bucket)
        .select("band", "bk")
    )
    cb = cb.join(ok_buckets, ["band", "bk"], "left_semi")
    return (
        nb.join(cb, ["band", "bk"])
        .select("new_id", "corpus_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """Append a ``simhash`` column: per-token hash bits are summed as ±1
    votes per bit position; the sign of each position forms the hash.

    Token hash = first 8 hex chars of md5 (32 bits), engine-portable.
    Whole computation is higher-order Column functions over the token
    array — a projection, no shuffle, no UDF.
    """
    toks = tokenize(normalize_text(text_col))
    tok_hash = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    def _vote(i: int):
        # closure factory: pyspark inspects lambda arity, so the bit
        # index can't ride along as a default argument
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    # evaluate the md5 token-hash array ONCE: the staging projection
    # carries a nondeterministic dummy so CollapseProject cannot inline
    # the digest chain into every per-bit vote (which would cost `bits`
    # md5 passes over the tokens — measured 4x slower at 64 bits); the
    # votes then reference the attribute, a cheap shift each
    staged = df.withColumn("__th", tok_hash).withColumn(
        "__cse_barrier", F.rand(seed=0)
    )
    bit_votes = [
        F.aggregate(F.col("__th"), F.lit(0).cast("long"), _vote(i))
        for i in range(bits)
    ]
    sim = None
    for i, vote in enumerate(bit_votes):
        # shiftleft(1L, i) instead of lit(2**i): bit 63 of a signed
        # long is 2**63, which does not fit in a LongType literal
        bit = F.when(
            vote > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim + bit
    return staged.select(*df.columns, sim.alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_dist: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs with SimHash Hamming distance <= ``max_dist``.

    Pigeonhole blocking (the scalable simhash-dedup shape): split the
    ``bits``-bit simhash into ``max_dist + 1`` contiguous blocks — two
    hashes within Hamming distance ``max_dist`` differ in at most
    ``max_dist`` blocks, so they must agree EXACTLY on at least one.
    Candidate generation is therefore an equi-join on
    ``(block_index, block_value)``, never all-pairs; verification is
    ``bit_count(xor)`` over candidates only, a pure projection.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    Scale: per-row block keys are a projection; the self-join shuffles
    ``max_dist + 1`` small int keys per row. Block width ``bits /
    (max_dist + 1)`` bounds expected bucket population at ``n / 2**w``
    for DISTINCT content (content-hash distributed) — wider hashes
    (64-bit) keep buckets tiny at corpus scale for the same
    ``max_dist``. Degenerate inputs (empty docs, repeated boilerplate)
    share one simhash and pile into one quadratic bucket; pass
    ``max_bucket`` to drop block buckets above that population (the
    same guard contract as LSH banding — mirror it in any oracle, and
    route degenerate docs through exact dedup instead, where they
    belong).
    """
    sh = simhash(df, text_col, bits=bits).select(id_col, "simhash")
    return hamming_pairs(
        sh, "simhash", id_col, bits=bits, max_dist=max_dist,
        max_bucket=max_bucket,
    )


def hamming_pairs(
    hashed: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    max_dist: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Pigeonhole Hamming-distance pairs over ANY precomputed
    ``bits``-bit fingerprint column (SimHash, perceptual hash, audio
    fingerprint): the block equi-join + ``bit_count`` verify described
    in :func:`simhash_hamming_pairs`, factored out so every bit-hash
    family shares one scalable pair miner. Returns
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``."""
    n_blocks = max_dist + 1
    if bits % n_blocks:
        # distribute the remainder over the low blocks
        widths = [bits // n_blocks + (1 if i < bits % n_blocks else 0)
                  for i in range(n_blocks)]
    else:
        widths = [bits // n_blocks] * n_blocks

    sh = hashed.select(id_col, F.col(hash_col).alias("simhash"))
    blocks, start = [], 0
    for i, w in enumerate(widths):
        mask = (1 << w) - 1
        blocks.append(
            F.struct(
                F.lit(i).alias("bi"),
                F.shiftright("simhash", start).bitwiseAND(F.lit(mask)).alias("bv"),
            )
        )
        start += w
    keyed = sh.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*blocks)).alias("blk")
    )
    if max_bucket is not None:
        # broadcast the DROP-list (oversized buckets — a handful by
        # construction), not the keep-list (which is corpus-sized for
        # wide blocks): anti-join against the hot buckets
        hot = (
            keyed.groupBy("blk")
            .agg(F.count("*").alias("__bsize"))
            .filter(F.col("__bsize") > max_bucket)
            .select("blk")
        )
        keyed = keyed.join(F.broadcast(hot), "blk", "left_anti")
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "blk"
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "blk"
    )
    cand = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair can agree on several blocks; dedup before the (cheap)
        # verify so downstream consumers see each pair once. sims are
        # functionally dependent on the ids, so they ride through.
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    dist = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", dist.cast("int"))
        .filter(F.col("hamming") <= max_dist)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    candidates: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs (id_a, id_b) by word-n-gram Jaccard.

    Joins shingle sets onto both sides of the candidate list (broadcast
    when small), computes |A∩B|/|A∪B| with array set ops, filters by
    ``threshold``. Cost is linear in candidates, not in docs².

    Docs are semi-filtered to ids that appear in a candidate pair
    BEFORE shingling: only candidate docs pay the shingle CPU and the
    (large) shingle arrays of non-candidates never enter a shuffle —
    at production dup rates that is orders of magnitude less work than
    shingle-everything-then-join.
    """
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    docs_needed = docs.join(cand_ids, id_col, "left_semi")
    shingled = docs_needed.select(
        F.col(id_col),
        F.array_distinct(word_ngrams(normalize_text(text_col), n)).alias("__sh"),
    )
    a = shingled.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    b = shingled.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    pairs: DataFrame | None = None,
    max_bucket: int = 1000,
    hash_fn: str = "md5",
    ndigits: int = 6,
    verify: str = "auto",
    pairs_per_doc_switch: float = 3.0,
) -> DataFrame:
    """Exact n-gram CONTAINMENT on candidate pairs: C(A,B) =
    |A ∩ B| / |A| over distinct word shingles (Broder 1997's second
    resemblance measure, public literature). Jaccard treats both docs
    symmetrically, so a short document fully quoted inside a long one
    scores LOW resemblance and survives resemblance-based dedup;
    containment is the measure that catches quotation/subsumption —
    C(short, long) ~ 1 while J ~ |short|/|long|.

    Candidates come from MinHash LSH banding (or pass precomputed
    ``pairs`` with id_a/id_b columns — e.g. a union of LSH and
    sorted-neighborhood candidates); only candidates pay the exact
    set intersection, the candidates-then-verify contract. Docs are
    semi-filtered to candidate ids BEFORE shingling, so
    non-candidates never pay the shingle CPU or enter a shuffle.

    Output: (id_a, id_b, n_shingles_a, n_shingles_b, n_common,
    containment_a_in_b, containment_b_in_a), ``ndigits``-rounded.

    Two verify strategies, identical results (``verify=``):

    - ``"array"`` — join each doc's DISTINCT shingle array onto both
      sides of the pair list and ``array_intersect``. Each doc's
      array is re-shipped and re-hashed per PAIR it appears in, so
      per-candidate cost grows with fan-out (measured r7: 10× stress
      grew 17.3× while candidates grew 8.7×). Wins when pair fan-out
      is low (each doc in ~1 pair) because it is a single join tree.
    - ``"exploded"`` — the scale path: explode to (id, shingle) rows
      ONCE (size Σ|doc|, each doc paid once, not per pair), expand
      pairs by side-a shingles, LEFT SEMI join on (id_b, shingle),
      and count matches per pair (map-side combinable). Ships compact
      rows instead of duplicated arrays; total shingle-instances
      shuffled is Σ_pairs |A| + Σ_docs |B| — strictly fewer than the
      array form's Σ_pairs (|A| + |B|) whenever any doc is in >1 pair.
    - ``"auto"`` (default) — probe candidate fan-out with one cheap
      count pass over the (small) pair/id tables and take the
      exploded path when avg pairs-per-doc exceeds
      ``pairs_per_doc_switch``; the degenerate fixtures that hurt
      (banded near-copies: many pairs share the same docs) are
      exactly the high-fan-out ones.
    """
    from ..functions.text import normalize_text, word_ngrams

    if verify not in ("auto", "array", "exploded"):
        raise ValueError(f"unknown verify strategy: {verify}")
    if pairs is None:
        # LSH candidates are already pair-distinct
        pairs = minhash_lsh_candidates(
            df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
            bands=bands, shingle_len=shingle_len, max_bucket=max_bucket,
            hash_fn=hash_fn,
        ).select("id_a", "id_b")
    else:
        # caller-supplied pairs (e.g. a UNION of candidate generators)
        # may repeat: the exploded verify counts (pair, shingle) rows,
        # so a duplicated pair would multiply n_common — dedup here,
        # not in the caller's contract
        pairs = pairs.select("id_a", "id_b").distinct()
    pairs = stage(pairs, "ngc_pairs", eager=False)
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if verify == "auto":
        # fan-out probe: ids-only tables, one tiny job. Pair rows /
        # distinct ids = avg pairs each doc participates in; the
        # array form re-ships a doc's array that many times.
        stats = (
            pairs.agg(F.count("*").alias("np"))
            .crossJoin(cand_ids.agg(F.count("*").alias("nd")))
            .collect()[0]
        )
        fanout = (2.0 * stats["np"]) / max(stats["nd"], 1)
        verify = (
            "exploded" if fanout > pairs_per_doc_switch else "array"
        )
    sh = df.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col),
        F.array_distinct(
            word_ngrams(normalize_text(text_col), shingle_len)
        ).alias("__sh"),
    )
    if verify == "exploded":
        return _containment_exploded(pairs, sh, id_col, ndigits)
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("__sha")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("__shb")
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    na, nb = F.size("__sha"), F.size("__shb")
    return (
        pairs
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            na.alias("n_shingles_a"),
            nb.alias("n_shingles_b"),
            inter.alias("n_common"),
            F.when(na > 0, F.round(inter / na, ndigits))
            .otherwise(F.lit(None))
            .alias("containment_a_in_b"),
            F.when(nb > 0, F.round(inter / nb, ndigits))
            .otherwise(F.lit(None))
            .alias("containment_b_in_a"),
        )
    )


def _containment_exploded(
    pairs: DataFrame, sh: DataFrame, id_col: str, ndigits: int
) -> DataFrame:
    """Exploded (pair, shingle) semi-join verify for
    ``ngram_containment`` — see its docstring for the trade. ``sh``
    is (id, distinct-shingle-array) for candidate docs only.

    Shuffle profile: shingle arrays are exploded ONCE per doc into
    (id, shingle) rows; the pair expansion carries (id_a, id_b,
    shingle) int+string tuples; the LEFT SEMI hash join on
    (id_b, shingle) keeps exactly the common shingles (arrays are
    distinct per doc, so kept rows = |A ∩ B|); the count groupBy is
    map-side combinable. No row ever holds more than one shingle.
    """
    sh = stage(sh, "ngc_shingles", eager=False)  # shingle CPU paid once
    counts = sh.select(
        F.col(id_col), F.size("__sh").alias("__n")
    )
    ex = sh.select(F.col(id_col), F.explode("__sh").alias("__g"))
    pa = pairs.join(
        ex.select(F.col(id_col).alias("id_a"), "__g"), "id_a"
    )
    common = pa.join(
        ex.select(F.col(id_col).alias("id_b"), "__g"),
        ["id_b", "__g"],
        "left_semi",
    )
    ncom = common.groupBy("id_a", "id_b").agg(
        F.count("*").cast("int").alias("__nc")
    )
    na_t = counts.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("__na")
    )
    nb_t = counts.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("__nb")
    )
    out = (
        pairs.join(ncom, ["id_a", "id_b"], "left")
        .join(na_t, "id_a")
        .join(nb_t, "id_b")
    )
    inter = F.coalesce(F.col("__nc"), F.lit(0))
    na, nb = F.col("__na"), F.col("__nb")
    return out.select(
        "id_a",
        "id_b",
        na.alias("n_shingles_a"),
        nb.alias("n_shingles_b"),
        inter.alias("n_common"),
        F.when(na > 0, F.round(inter / na, ndigits))
        .otherwise(F.lit(None))
        .alias("containment_a_in_b"),
        F.when(nb > 0, F.round(inter / nb, ndigits))
        .otherwise(F.lit(None))
        .alias("containment_b_in_a"),
    )


def cross_class_dups(
    df: DataFrame,
    class_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Cross-class exact-duplicate census — the contamination probe a
    multilingual / multi-split corpus runs before training: a
    normalized fingerprint appearing under MORE THAN ONE class label
    (language, train/eval split, source tier) is either mislabeled
    or leaked content (Dolma and BigScience data cards both report
    exactly this table; public literature).

    Output per offending fingerprint: ``(fingerprint, n_docs,
    n_classes, classes)`` with ``classes`` the sorted distinct
    labels joined by ',' — deterministic, engine-replayable.

    Scale: ONE fingerprint groupBy (map-side combinable; shuffles
    16-byte hashes + labels, never text), HAVING on the distinct
    class count. The same profile as exact dedup.
    """
    from ..functions.text import doc_fingerprint

    fp = df.select(
        doc_fingerprint(F.col(text_col)).alias("fingerprint"),
        F.col(class_col).alias("__c"),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("__c").cast("long").alias("n_classes"),
            F.array_join(
                F.sort_array(F.collect_set("__c")), ","
            ).alias("classes"),
        )
        .filter(F.col("n_classes") > 1)
    )


def dup_rate_by_source(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    ndigits: int = 6,
) -> DataFrame:
    """Per-source duplication census — the "which feed is sending us
    copies" table a corpus intake reviews weekly: for each source,
    how many of its documents are corpus-wide exact duplicates, and
    how many collide with ANOTHER source (syndication / scraper
    overlap, a different problem from within-feed retries).

    Output per source: ``(source, n_docs, n_null_text, n_dup_docs,
    n_crosssource_docs, dup_rate, crosssource_rate)`` — a doc is a
    dup when its normalized fingerprint appears >1 times anywhere;
    cross-source when its fingerprint spans >1 distinct sources.
    NULL-text documents stay IN the denominator (a feed sending null
    payloads must not vanish from its own census) and are surfaced
    via ``n_null_text``, never counted as duplicates of each other.
    Rates are one rounded division each.

    Scale: one fingerprint groupBy for the stats (hash + source
    shuffle only), one hash join back to the (fingerprint, source)
    doc table, one source rollup — all map-side combinable.
    """
    from ..functions.text import doc_fingerprint

    fp = df.select(
        doc_fingerprint(F.col(text_col)).alias("__fp"),
        F.col(source_col).alias("__src"),
    )
    stats = fp.filter(F.col("__fp").isNotNull()).groupBy("__fp").agg(
        F.count("*").alias("__n"),
        F.count_distinct("__src").alias("__ns"),
    )
    # LEFT join: a NULL fingerprint (null text) matches no stats row
    # and rides through with null __n/__ns — counted, never a dup
    tagged = fp.join(stats, "__fp", "left")
    return (
        tagged.groupBy(F.col("__src").alias(source_col))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("__fp").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_text"),
            F.sum(F.when(F.col("__n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum(F.when(F.col("__ns") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_crosssource_docs"),
        )
        .select(
            source_col,
            "n_docs",
            "n_null_text",
            "n_dup_docs",
            "n_crosssource_docs",
            F.round(F.col("n_dup_docs") / F.col("n_docs"), ndigits).alias(
                "dup_rate"
            ),
            F.round(
                F.col("n_crosssource_docs") / F.col("n_docs"), ndigits
            ).alias("crosssource_rate"),
        )
    )


def corpus_manifest(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Order-insensitive corpus manifest — the reproducibility audit a
    100 TB pipeline runs before and after every rebuild ("is this the
    same corpus?", data-versioning discipline per public lakehouse
    practice): per group, ``(group, n_docs, n_null_text, content_sum,
    manifest)`` where ``content_sum`` is the SUM of a 60-bit
    md5-derived value of ``id || '|' || text`` over the group's rows
    and ``manifest`` hashes (content_sum, n_docs) into one comparable
    string.

    Binding the id into the row hash makes id/content swaps visible
    (two rows exchanging texts leaves a bag-of-texts hash unchanged);
    summation makes the digest independent of row order, partitioning,
    and engine — equal corpora give equal manifests ANYWHERE, which a
    concatenation hash cannot (it would need a global sort). NULL text
    contributes a counted column, never a hash (the dup_rate_by_source
    null discipline).

    Scale: one scan + one map-side-combinable groupBy carrying
    (group, 16-byte partial sums); the exact decimal(38) sum cannot
    overflow below ~10^18 rows per group.
    """
    # explicit coalesce, not concat_ws: concat_ws SKIPS a NULL id
    # (hashing the bare text, which an oracle's NULL-propagating ||
    # cannot replay) — a NULL id hashes as the empty string on both
    # engines instead (review finding r9)
    val = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.coalesce(F.col(id_col).cast("string"), F.lit("")),
                    F.lit("|"),
                    F.col(text_col),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    rows = df.select(
        F.col(group_col).alias("grp"),
        F.col(text_col).isNull().cast("long").alias("__isnull"),
        exact(
            F.when(F.col(text_col).isNotNull(), val).otherwise(F.lit(0))
        ).alias("__v"),
    )
    agg = rows.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__isnull").alias("n_null_text"),
        F.sum("__v").alias("__sum"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_null_text",
        F.col("__sum").cast("string").alias("content_sum"),
        F.md5(
            F.concat_ws(
                ":", F.col("__sum").cast("string"), F.col("n_docs")
            )
        ).alias("manifest"),
    )


def dedup_keep_best(
    pairs: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
    left_col: str = "id_a",
    right_col: str = "id_b",
) -> DataFrame:
    """Near-dup cluster representative by QUALITY, not by id — the
    curation policy most public pipelines actually want (RefinedWeb /
    FineWeb keep the best-scoring member of each duplicate cluster;
    min-id keep is reproducible but quality-blind). Input: candidate
    ``pairs`` (any blocking-first generator) and a ``scored`` doc
    table; output one row per cluster: ``(component, rep_id,
    n_members, rep_score)`` with rep = max score, ties to the smaller
    id — deterministic and oracle-reproducible.

    Scale: connected components is the existing iterative operator
    (pairs-sized, staged per round); the rep pick is ONE combinable
    max-struct groupBy over (component, score, id) rows — never text.
    """
    from pyspark.sql import Window

    from .graph import connected_components

    cc = connected_components(pairs, left_col, right_col)
    members = cc.join(
        scored.select(
            F.col(id_col).alias("id"), F.col(score_col).alias("__q")
        ),
        "id",
    )
    # rank window, not a negated-id struct max: unary minus NULLs a
    # string id (review finding r9) — this form works for any
    # orderable id type; the window is per-component, bounded by
    # cluster size
    w = Window.partitionBy("component").orderBy(
        F.desc("__q"), F.asc("id")
    )
    reps = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "component",
            F.col("id").alias("rep_id"),
            F.col("__q").alias("rep_score"),
        )
    )
    counts = members.groupBy("component").agg(
        F.count("*").cast("long").alias("n_members")
    )
    return counts.join(reps, "component").select(
        "component", "rep_id", "n_members", "rep_score"
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot delta census — ``corpus_manifest``'s companion when
    two manifests DISAGREE and the pipeline needs to know how: per
    group, ``(group, n_added, n_removed, n_changed, n_unchanged,
    n_moved_in, n_moved_out)`` from a full-outer id join comparing
    content fingerprints. The data-versioning diff every
    incremental-crawl pipeline reports (added = id only in new,
    removed = only in old, changed = same id with different text
    hash).

    Group moves are accounted on BOTH sides (r10 advisor finding —
    attributing a moved document only to its new group left the old
    group's census blind to the departure): a document present in
    both snapshots with a different group label counts
    changed/unchanged under the NEW group as before, plus
    ``n_moved_in`` at the new group and ``n_moved_out`` at the old
    group, so every group's census reconciles against
    ``corpus_manifest`` deltas, not just the corpus-wide totals.

    Scale: two fingerprint projections + ONE full-outer hash join on
    the id (16-byte hashes, never text) + one combinable rollup; the
    move rows add one explode whose fan-out is bounded by the moved
    count.
    """

    def _fp(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias(f"__g_{side}"),
            F.md5(
                F.concat(
                    F.coalesce(F.col(id_col).cast("string"), F.lit("")),
                    F.lit("|"),
                    F.coalesce(F.col(text_col), F.lit("\x00null")),
                )
            ).alias(f"__h_{side}"),
        )

    j = _fp(old, "old").join(_fp(new, "new"), "__id", "full_outer")
    status = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    moved = (
        F.col("__h_old").isNotNull()
        & F.col("__h_new").isNotNull()
        & ~F.col("__g_old").eqNullSafe(F.col("__g_new"))
    )
    prim = F.struct(
        F.coalesce("__g_new", "__g_old").alias("grp"),
        status.alias("__st"),
        moved.alias("__mi"),
        F.lit(False).alias("__mo"),
    )
    sec = F.struct(
        F.col("__g_old").alias("grp"),
        F.lit(None).cast("string").alias("__st"),
        F.lit(False).alias("__mi"),
        F.lit(True).alias("__mo"),
    )
    rows = j.select(
        F.explode(
            F.when(moved, F.array(prim, sec)).otherwise(F.array(prim))
        ).alias("__e")
    ).select("__e.*")
    return (
        rows.groupBy("grp")
        .agg(
            # when/otherwise(0), not a bare boolean cast: the move-only
            # rows carry a NULL status, and an all-NULL sum is NULL —
            # a group seeing only departures must census zeros
            F.sum(
                F.when(F.col("__st") == "added", 1)
                .otherwise(0)
                .cast("long")
            ).alias("n_added"),
            F.sum(
                F.when(F.col("__st") == "removed", 1)
                .otherwise(0)
                .cast("long")
            ).alias("n_removed"),
            F.sum(
                F.when(F.col("__st") == "changed", 1)
                .otherwise(0)
                .cast("long")
            ).alias("n_changed"),
            F.sum(
                F.when(F.col("__st") == "unchanged", 1)
                .otherwise(0)
                .cast("long")
            ).alias("n_unchanged"),
            F.sum(F.col("__mi").cast("long")).alias("n_moved_in"),
            F.sum(F.col("__mo").cast("long")).alias("n_moved_out"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_added",
            "n_removed",
            "n_changed",
            "n_unchanged",
            "n_moved_in",
            "n_moved_out",
        )
    )


def capture_recapture(
    sample_a: DataFrame,
    sample_b: DataFrame,
    key_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Chapman's bias-corrected Lincoln-Petersen estimator of a
    population's true size from two overlapping samples (Chapman
    1951, public literature) — the dedup-QA trick: two independent
    crawls of the same corpus are a capture-recapture experiment, so
    the fingerprint overlap estimates how many documents exist that
    NEITHER crawl saw:

        N_hat = (n1+1)(n2+1)/(m+1) - 1
        se    = sqrt((n1+1)(n2+1)(n1-m)(n2-m) / ((m+1)^2 (m+2)))

    with n1/n2 the distinct key counts and m the distinct overlap —
    every term an exact integer (Chapman's +1s keep m = 0 defined),
    each estimate ONE fixed-order double expression rounded once.

    Output: one row ``(n1, n2, m_overlap, n_hat, se, coverage)`` with
    coverage = (n1 + n2 - m) / N_hat, the estimated fraction of the
    population either crawl captured.

    Scale: two distinct groupBys + one key-equi semi-join; shuffles
    carry keys only. No counterpart in the reference engine
    (SURVEY.md §2.2).
    """
    a = sample_a.select(F.col(key_col).alias("__k")).distinct()
    b = sample_b.select(F.col(key_col).alias("__k")).distinct()
    n1 = a.count()
    n2 = b.count()
    m = a.join(b, "__k", "left_semi").count()
    nh = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    import math

    se = math.sqrt(
        (n1 + 1.0)
        * (n2 + 1.0)
        * (n1 - m)
        * (n2 - m)
        / ((m + 1.0) * (m + 1.0) * (m + 2.0))
    )

    def _r6(x: float) -> float:
        scale = 10.0 ** ndigits
        return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale

    cov = (n1 + n2 - m) / nh if nh > 0 else None
    row = (
        int(n1),
        int(n2),
        int(m),
        _r6(nh),
        _r6(se),
        _r6(cov) if cov is not None else None,
    )
    return sample_a.sparkSession.createDataFrame(
        [row],
        schema="n1 bigint, n2 bigint, m_overlap bigint, n_hat double, "
        "se double, coverage double",
    )
