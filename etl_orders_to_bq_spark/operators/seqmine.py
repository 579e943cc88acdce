"""Sequential-pattern support mining over event streams.

``seq_pattern_support`` counts, for every ordered pair of event
types (a, b), how many users fired an `a` strictly before a `b` —
the support statistic at the base of sequence mining (the length-2
case of GSP / PrefixSpan, Srikant & Agrawal 1996 / Pei et al. 2001,
public literature) and the everyday "do users who see X later do Y"
product question. Unlike the Markov `event_transitions` operator
(CONSECUTIVE pairs only), this counts non-adjacent precedence: an
`a ... anything ... b` user supports (a, b).

Algorithm — no per-event self-join:
1. sequence-number each user's events by (ts, id) with a PER-USER
   window (never global);
2. collapse to one row per (user, type): first and last sequence
   positions — |users| x |types| rows, types are a bounded domain;
3. self-join the tiny per-user summaries on the user key:
   (a, b) is supported iff first_pos(a) < last_pos(b) (this also
   makes (a, a) mean "a fired at least twice" — the repeat-behavior
   diagonal, kept deliberately);
4. one groupBy to supports, plus the user total broadcast back.

The ONLY shuffles are the user-key window, the (user, type)
groupBy, and the bounded-domain support rollup — event rows never
pair with event rows, so a heavy user costs |types|² summary
comparisons, not (events/user)².

Exactness: positions are integers from a deterministic total order;
support counts are integers; ``support_ratio`` is one rounded
division. The SQL oracle replays the identical row_number /
min / max / join pipeline.

No counterpart in the reference engine (surface =
`etl/orders_etl.py:17-198`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .staging import stage


def seq_pattern_support(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    min_support: int = 1,
    ndigits: int = 6,
) -> DataFrame:
    """Support table ``(from_type, to_type, n_users,
    support_ratio)`` for ordered type pairs; ``support_ratio``
    divides by the number of distinct users with any event."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pos = df.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("t"),
        F.row_number().over(w).alias("rn"),
    )
    # the summary feeds BOTH join branches and the user total —
    # stage it so the window + groupBy pipeline runs once, not 3x
    summary = stage(
        pos.groupBy("u", "t").agg(
            F.min("rn").alias("first_rn"),
            F.max("rn").alias("last_rn"),
        ),
        "seq_summary",
        eager=False,
    )
    a = summary.select(
        "u", F.col("t").alias("from_type"), "first_rn"
    )
    b = summary.select(
        F.col("u").alias("u2"),
        F.col("t").alias("to_type"),
        "last_rn",
    )
    supported = a.join(
        b, (a.u == b.u2) & (F.col("first_rn") < F.col("last_rn"))
    )
    totals = F.broadcast(
        summary.agg(F.count_distinct("u").alias("__n_users"))
    )
    return (
        supported.groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_users"))
        .filter(F.col("n_users") >= min_support)
        .crossJoin(totals)
        .select(
            "from_type",
            "to_type",
            "n_users",
            F.round(
                F.col("n_users") / F.col("__n_users"), ndigits
            ).alias("support_ratio"),
        )
    )


def window_funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    window_seconds: int,
) -> DataFrame:
    """ClickHouse-style ``windowFunnel``: per user, the deepest funnel
    level k such that SOME chain of events matching
    ``steps[0..k-1]`` in order fits inside ``window_seconds`` of its
    own FIRST step (the sliding-window funnel every product-analytics
    engine ships; semantics per ClickHouse's public docs, non-strict
    mode). Unlike ``seq_pattern_support`` (any precedence, no
    window) this bounds the chain's total duration, and unlike
    funnel_latency it reports depth, not timing.

    Algorithm — one in-row fold per user, no self-joins: events are
    collected per user sorted by (ts, type), then folded left with a
    state of ``len(steps)`` chain-start timestamps (micros; -1 =
    unset):

    - an event matching step k>=1 extends a chain whose step k-1 is
      set and whose START is within the window: slot k inherits slot
      k-1's chain-start. All slots read the PRE-event state, so one
      event never advances two levels;
    - an event matching step 0 overwrites slot 0 with its own ts —
      the LATEST first-step occurrence maximizes remaining window
      slack and is never worse (chains already promoted carry their
      own start).

    Level = deepest set slot after the fold. Steps must be distinct.

    Determinism: timestamps are integer epoch micros (unix_micros —
    UTC-pinned session), the fold order is the sorted (ts, type)
    order, and all state is integral, so an oracle replays the fold
    exactly (list_reduce with a bigint-list accumulator).

    Scale: ONE groupBy(user) shuffle carrying (ts_micros, type_code)
    pairs for events of the funnel types only (others are filtered
    before the shuffle); per-user state is len(steps) longs. Heavy
    users cost O(events/user * steps) fold work in-row.
    """
    if len(set(steps)) != len(steps) or not steps:
        raise ValueError(f"steps must be non-empty and distinct: {steps}")
    m = len(steps)
    win_us = int(window_seconds) * 1_000_000
    code = F.lit(None).cast("int")
    for i, s in enumerate(reversed(steps)):
        code = F.when(
            F.col(type_col) == s, F.lit(m - 1 - i)
        ).otherwise(code)
    ev = df.select(
        F.col(user_col).alias("__u"),
        F.struct(
            F.unix_micros(F.col(ts_col)).alias("t"),
            code.alias("k"),
        ).alias("__e"),
    ).filter(
        # null-ts rows have no fold position (Spark struct sort puts
        # them FIRST, SQL ORDER BY puts them LAST — the ewma_last
        # contract) and a NULL chain-start would poison every later
        # promotion: drop them with the non-funnel types
        F.col("__e.k").isNotNull() & F.col("__e.t").isNotNull()
    )
    per_user = ev.groupBy("__u").agg(
        F.sort_array(F.collect_list("__e")).alias("__es"),
        F.count("*").cast("long").alias("n_step_events"),
    )

    def _step(acc, e):
        slots = []
        for k in range(m):
            if k == 0:
                slots.append(
                    F.when(e["k"] == 0, e["t"])
                    .otherwise(F.element_at(acc, 1))
                    .alias("s0")
                )
            else:
                prev = F.element_at(acc, k)  # slot k-1 (1-based)
                cur = F.element_at(acc, k + 1)
                slots.append(
                    F.when(
                        (e["k"] == k)
                        & (prev != F.lit(-1))
                        & (e["t"] - prev <= F.lit(win_us)),
                        prev,
                    )
                    .otherwise(cur)
                    .alias(f"s{k}")
                )
        return F.array(*slots)

    init = F.array_repeat(F.lit(-1).cast("long"), m)
    state = F.aggregate(F.col("__es"), init, _step)
    # deepest set slot: filter -1s ascending-by-construction? slots
    # can be set sparsely only as prefixes (slot k needs slot k-1 at
    # some earlier time), so the level is the count of set slots'
    # maximum index + 1 — computed as the max k with slot != -1
    level = F.aggregate(
        F.zip_with(
            state,
            F.sequence(F.lit(1), F.lit(m)),
            lambda v, i: F.when(v != F.lit(-1), i).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda a, x: F.greatest(a, x),
    )
    return per_user.select(
        F.col("__u").alias(user_col),
        "n_step_events",
        level.cast("int").alias("funnel_level"),
    )
