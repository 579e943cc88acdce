"""Exact arithmetic: the one place the engine names its exact-sum type.

Integers, cents and micro-units are summed as ``decimal(38,s)``. A
decimal sum is order-free, so a group's total is the same integer in
any partitioning, any engine and any merge order, and the oracles
compare it bit for bit. With ANSI on, a long sum that leaves 64 bits
raises; 38 digits hold every product of two longs.

Spark's result types, for reference: a ``decimal(38,a)`` times a
``decimal(38,b)`` is ``decimal(38,a+b)`` while a+b <= 6 (past that the
scale is cut back to 6), and ``sum`` keeps its input's
``decimal(38,s)``. So ``exact_sum(a, b)`` is ``decimal(38,0)`` and
``exact_sum(a, b, scale=2)`` is ``decimal(38,4)``.
"""

from __future__ import annotations

from functools import reduce
from operator import mul

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_type(scale: int = 0) -> str:
    """The exact-sum type's SQL name, for ``F.expr`` text."""
    return f"decimal(38,{scale})"


def exact(col: Column | str, scale: int = 0) -> Column:
    """``col`` cast to ``decimal(38,scale)``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(exact_type(scale))


def exact_sum(*factors: Column | str, scale: int = 0) -> Column:
    """``sum(exact(f1) * exact(f2) * ...)``: Σa, Σa·b or Σa·a·b, exact.

    The factors multiply left to right, each cast first, so no
    intermediate product is ever a long."""
    return F.sum(reduce(mul, (exact(f, scale) for f in factors)))
