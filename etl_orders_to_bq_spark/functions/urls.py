"""URL canonicalization — the dedup key web-corpus curation actually
uses.

Raw crawl URLs are noisy duplicates of each other: mixed-case hosts,
default ports, tracking parameters (utm_*, fbclid, gclid), fragments,
unsorted query strings. CommonCrawl-derived pipelines (C4/RefinedWeb
shapes) canonicalize BEFORE URL-level dedup or per-host quotas, or the
same page is kept dozens of times. Pure Column math (regex extract +
array combinators), no UDF — the whole canonicalizer stays in codegen
and a SQL oracle replays it term for term.

No counterpart in the reference engine (SURVEY.md §2.2 scalar-function
absence family; the reference has no URL handling at all).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .exact import exact

# tracking parameters dropped by canonicalization (the public
# adtech-referrer set every pipeline starts from)
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)"

_URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(?:\?([^#]*))?.*$"


def canonicalize_url(col: Column | str) -> Column:
    """Canonical form of an http(s) URL:

    - scheme and host lowercased (case-insensitive per RFC 3986);
    - default port stripped (``:80`` for http, ``:443`` for https);
    - fragment dropped (never sent to the server);
    - tracking query params dropped (``TRACKING_PARAM_RE``);
    - surviving query params SORTED (order is semantically free, so
      one order is the canonical one);
    - empty path normalized to ``/``.

    Non-URL strings (no ``scheme://host``) pass through unchanged —
    canonicalization must never destroy a key it does not understand.
    """
    u = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    host = F.lower(F.regexp_extract(u, _URL_RE, 2))
    path = F.regexp_extract(u, _URL_RE, 3)
    query = F.regexp_extract(u, _URL_RE, 4)

    strip80 = (scheme == F.lit("http")) & host.rlike(r":80$")
    strip443 = (scheme == F.lit("https")) & host.rlike(r":443$")
    host = F.when(strip80, F.regexp_replace(host, r":80$", "")).when(
        strip443, F.regexp_replace(host, r":443$", "")
    ).otherwise(host)

    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qpart = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(path == "", F.lit("/")).otherwise(path),
        qpart,
    )
    return F.when(scheme == "", u).otherwise(canon)


def url_canonical_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level dedup on the canonical key: one row per canonical URL
    with ``(canonical_url, n_urls, n_raw_forms, first_id)`` — how many
    rows collapsed, how many DISTINCT raw spellings they had, and the
    kept (min-id) representative.

    ONE map-side-combinable shuffle on the canonical key; the shuffle
    carries (canonical, id, raw-url) triples. At 100 TB run it before
    fetch/dedup stages — every collapsed URL is a page never fetched
    twice.
    """
    canon = df.select(
        F.col(id_col), F.col(url_col).alias("__raw"),
        canonicalize_url(F.col(url_col)).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("__raw").alias("n_raw_forms"),
        F.min(id_col).alias("first_id"),
    )


# minimal built-in public-suffix set: the common generic TLDs plus the
# multi-label suffixes the fixtures exercise. Production swaps in the
# full Public Suffix List (publicsuffix.org, ~9k rules) as the
# suffix_df — the operator below takes ANY suffix table.
PUBLIC_SUFFIXES_MIN = [
    "com", "org", "net", "io", "edu", "gov", "info", "biz",
    "co.uk", "org.uk", "ac.uk", "com.au", "co.jp", "github.io",
]


def host_of(col: Column | str) -> Column:
    """Lowercased host of a URL with any ``:port`` stripped — the key
    per-host quotas and domain blocklists group on. Non-URL strings
    yield ''."""
    u = F.col(col) if isinstance(col, str) else col
    host = F.lower(F.regexp_extract(u, _URL_RE, 2))
    return F.regexp_replace(host, r":\d+$", "")


def registrable_domain(
    df: DataFrame,
    host_col: str = "host",
    suffixes: list[str] | None = None,
    out_col: str = "domain",
    max_suffix_labels: int | None = None,
) -> DataFrame:
    """Append the REGISTRABLE domain (PSL "eTLD+1") of ``host_col``:
    the label immediately before the longest matching public suffix,
    plus the suffix — ``cdn.alice.github.io`` → ``alice.github.io``,
    ``a.b.example.co.uk`` → ``example.co.uk``. This is the unit of
    corpus governance in every public pipeline (C4's blocklists,
    RefinedWeb's per-domain caps operate on eTLD+1, not raw hosts).

    The FULL PSL rule grammar is supported (publicsuffix.org/list):
    literal rules, wildcard rules (``*.ck`` — ``*`` matches exactly
    one label, so every ``<x>.ck`` is itself a public suffix), and
    exception rules (``!www.ck`` — prevails over any wildcard; the
    public suffix is the rule minus its leftmost label). Longest
    matching rule wins; a host with NO matching rule uses the
    implicit ``*`` rule (eTLD+1 = the last TWO labels); a host that
    IS a suffix outright returns itself. ``suffixes`` defaults to
    :data:`PUBLIC_SUFFIXES_MIN`; pass the full PSL for production.
    ``max_suffix_labels`` defaults to the longest rule actually
    supplied, so passing the full PSL (which maxes at 5 labels)
    generates every candidate key it needs with no knob to remember;
    set it explicitly only to CAP candidate generation below the
    rule table's own depth.

    Rows with a NULL host are KEPT with a NULL ``out_col`` (an inner
    join here silently dropped them — r10 review finding — which made
    a census stop reconciling with ``count(*)``).

    Scale: the suffix walk runs on the DISTINCT host table (domain
    cardinality, orders below row count), as in-row candidate keys
    (the literal tail of 1..``max_suffix_labels`` labels, plus the
    wildcarded form with the leftmost label replaced by ``*``) joined
    against the BROADCAST rule table — rule count is bounded (full
    PSL ~9k), the corpus-sized side pays one hash join back on the
    host key.
    """
    rules = suffixes if suffixes is not None else PUBLIC_SUFFIXES_MIN
    spark = df.sparkSession
    parsed = []
    for s in rules:
        kind = "e" if s.startswith("!") else "r"
        key = s.lstrip("!")
        parsed.append((key, len(key.split(".")), kind))
    if max_suffix_labels is None:
        max_suffix_labels = max((p[1] for p in parsed), default=1)
    sfx = F.broadcast(
        spark.createDataFrame(parsed, ["__sfx", "__sk", "__kind"])
    )
    hosts = df.select(F.col(host_col).alias("__h")).distinct()
    labels = F.split(F.col("__h"), r"\.")
    n = F.size(labels)
    kmax = F.least(F.lit(max_suffix_labels), n)
    lit_keys = F.transform(
        F.sequence(F.lit(1), kmax),
        lambda k: F.array_join(F.slice(labels, -k, k), "."),
    )
    # wildcard candidate of length k: '*.' + the last k-1 labels
    # (k >= 2; sequence(2, 1) would count DOWN, hence the guard)
    wild_keys = F.when(
        kmax >= 2,
        F.transform(
            F.sequence(F.lit(2), kmax),
            lambda k: F.concat(
                F.lit("*."),
                F.array_join(F.slice(labels, -(k - 1), k - 1), "."),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    cands = hosts.select(
        "__h",
        F.explode(
            F.filter(
                F.concat(lit_keys, wild_keys),
                lambda t: (t != "") & (t != "*."),
            )
        ).alias("__key"),
    )
    matched = (
        cands.join(sfx, F.col("__key") == F.col("__sfx"))
        .groupBy("__h")
        .agg(
            F.max(
                F.when(F.col("__kind") == "r", F.col("__sk"))
            ).alias("__rk"),
            F.max(
                F.when(F.col("__kind") == "e", F.col("__sk"))
            ).alias("__ek"),
        )
    )
    # exception prevails: its public suffix is the rule minus the
    # leading label; otherwise longest normal rule; otherwise the
    # implicit-* rule (suffix = last label)
    k = F.when(
        F.col("__ek").isNotNull(), F.col("__ek") - 1
    ).otherwise(F.coalesce(F.col("__rk"), F.lit(1)))
    dom = hosts.join(matched, "__h", "left").select(
        "__h",
        F.when(
            n > k, F.array_join(F.slice(labels, -(k + 1), k + 1), ".")
        )
        .otherwise(F.col("__h"))
        .alias(out_col),
    )
    return df.join(
        dom.withColumnRenamed("__h", host_col), host_col, "left"
    )


def domain_census(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    suffixes: list[str] | None = None,
    min_quality_tokens: int = 20,
    ndigits: int = 6,
) -> DataFrame:
    """Per-registrable-domain corpus census — the governance table
    behind domain blocklists and per-domain quotas (C4 / RefinedWeb
    practice): for every eTLD+1,

        (domain, n_docs, n_pages, n_tokens, n_dup_docs, dup_rate,
         n_quality)

    where n_pages counts distinct CANONICAL urls (tracking params and
    fragments collapsed), n_dup_docs = docs minus distinct exact text
    fingerprints (the within-domain exact-dup load), dup_rate its
    6dp-rounded share, and n_quality the docs with at least
    ``min_quality_tokens`` whitespace tokens (the cheap length gate
    every quality mix starts with).

    Scale: one canonicalize+host projection, the distinct-host suffix
    walk (:func:`registrable_domain`), then ONE map-side-combinable
    groupBy on the domain key carrying md5 fingerprints, never text.
    """
    from .text import normalize_text, tokenize

    base = df.select(
        F.col(id_col),
        canonicalize_url(F.col(url_col)).alias("__canon"),
        host_of(F.col(url_col)).alias("__host"),
        F.md5(F.coalesce(F.col(text_col), F.lit("\x00null"))).alias(
            "__fp"
        ),
        F.size(tokenize(normalize_text(text_col))).alias("__ntok"),
    )
    domed = registrable_domain(
        base, "__host", suffixes, out_col="domain"
    )
    return domed.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("__canon").alias("n_pages"),
        F.sum("__ntok").cast("long").alias("n_tokens"),
        (F.count("*") - F.countDistinct("__fp")).alias("n_dup_docs"),
        # exact half-away micro-unit division, NOT round(double ratio):
        # a dup/docs ratio with one extra factor of 2 in the
        # denominator (e.g. 1/128) lands exactly on the 6dp midpoint
        # where the engines' round() disagree (the kneser_ney trap)
        (
            F.floor(
                (
                    2
                    * exact(F.count("*") - F.countDistinct("__fp"))
                    * F.lit(int(10 ** ndigits))
                    + exact(F.count("*"))
                )
                / (2 * exact(F.count("*")))
            )
            / F.lit(float(10 ** ndigits))
        ).alias("dup_rate"),
        F.sum(
            (F.col("__ntok") >= min_quality_tokens).cast("long")
        ).alias("n_quality"),
    )
