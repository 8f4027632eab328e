"""Skew-handling primitives for hot keys (SURVEY §2-D scale discipline).

AQE's skew-join splitting (enabled in the session factory) covers most
cases at runtime; these operators are the explicit fallback for *known*
hot keys, where pre-salting beats runtime splitting:

* ``salted_aggregate`` — two-phase aggregation: shuffle on (key, salt)
  first so no single reducer owns a hot key, then combine the partials
  with each aggregate's OWN combiner (sum-of-sums, sum-of-counts,
  min-of-mins, max-of-maxes).
* ``salted_join`` — big side gets a per-row salt, small side is
  replicated across all salts; the join key becomes (key, salt), fanning
  a hot key's rows across n reducers. Replication factor n on the small
  side is the price; n = expected skew factor.

Salts are drawn from a *seeded* ``rand`` — deterministic per (partition,
row position) across task retries; ``monotonically_increasing_id`` would
reshuffle rows between a map-stage retry and the reducers that already
consumed its output.

Both operators are result-identical to their unsalted forms — which is
exactly what their oracle queries assert.
"""

from __future__ import annotations

from collections.abc import Callable

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT_SEED = 0x5A17

# final-phase combiner per decomposable aggregate family
_COMBINERS: dict[str, Callable[[str], Column]] = {
    "sum": F.sum,
    "count": F.sum,  # count partials recombine by summing
    "min": F.min,
    "max": F.max,
}


def _salt_col(n_salts: int) -> Column:
    return (F.rand(_SALT_SEED) * n_salts).cast("int")


def _node_is_distinct(expr: Column) -> bool:
    """True when the Column's underlying UnresolvedFunction node carries
    the isDistinct flag (F.sum_distinct / F.count_distinct — their repr
    is just 'sum(x)', hiding the flag). Defensive: any backend that does
    not expose ``_jc.node().isDistinct`` simply reports False, leaving
    the string-based check as the only (repr-visible) detector there."""
    try:
        return bool(expr._jc.node().isDistinct())
    except (AttributeError, Py4JError):  # connect/other backends
        return False


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column | tuple[Column, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase (salted partial → final) aggregation.

    ``aggs`` maps output name → either ``(partial_expr, combiner)`` with
    combiner one of ``sum | count | min | max``, or a bare Column for the
    sum/count case (partials recombined with SUM). Only decomposable
    aggregates belong here — the combiner argument is what makes min/max
    recombine correctly instead of silently summing their partials.
    """
    import re

    partials: list[Column] = []
    finals: list[Column] = []
    for name, spec in aggs.items():
        expr, combiner = spec if isinstance(spec, tuple) else (spec, "sum")
        if not isinstance(spec, tuple):
            # the bare-Column shorthand implies SUM recombination; a bare
            # avg/first/min/... would silently return the sum of partials
            # (~n_salts× wrong for avg) — reject the recognizable ones up
            # front, same class as the tuple-path combiner check
            m = re.match(r"Column<'(\w+)\(", str(expr))
            fn = (m.group(1).lower() if m else None)
            if fn is not None and fn not in ("sum", "count"):
                raise ValueError(
                    f"aggregate {name!r}: bare Column {fn}(...) would recombine "
                    "partials with SUM — pass (expr, combiner) with an explicit "
                    f"combiner from {sorted(_COMBINERS)}, or decompose "
                    "non-decomposable aggregates (avg = sum/count) yourself"
                )
        if combiner not in _COMBINERS:
            raise ValueError(
                f"aggregate {name!r}: combiner must be one of {sorted(_COMBINERS)}, "
                f"got {combiner!r} — non-decomposable aggregates cannot be salted"
            )
        # DISTINCT inside the aggregate defeats salting for sum/count: a
        # value appearing under multiple salts is de-duplicated per
        # (key, salt) partial but re-counted when the partials are SUMmed
        # — the same silent-wrong-result class as a bare avg (ADVICE
        # r06). min/max are idempotent, so DISTINCT is harmless there.
        # Two detection paths: F.expr("sum(DISTINCT x)") keeps the word
        # in the Column repr, but F.sum_distinct()/count_distinct() hide
        # it (repr 'sum(x)') — their flag lives on the UnresolvedFunction
        # node, so ask the node directly when the backend exposes it.
        if combiner in ("sum", "count") and (
            re.search(r"\bDISTINCT\b", str(expr), re.IGNORECASE)
            or _node_is_distinct(expr)
        ):
            raise ValueError(
                f"aggregate {name!r}: DISTINCT partials recombined with SUM "
                "double-count values appearing under multiple salts — "
                "decompose the distinct aggregate yourself (e.g. pre-dedup "
                "on (key, value) before salting)"
            )
        partials.append(expr.alias(f"_p_{name}"))
        finals.append(_COMBINERS[combiner](f"_p_{name}").alias(name))

    salted = df.withColumn("_salt", _salt_col(n_salts))
    return salted.groupBy(*keys, "_salt").agg(*partials).groupBy(*keys).agg(*finals)


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = 8, how: str = "inner"
) -> DataFrame:
    """Equi-join with the hot-key fan-out: big side salted per row, small
    side replicated across salts.

    Only ``inner`` and ``left`` joins are salt-invariant: a right/full
    outer join would emit every unmatched small-side row once per salt
    replica, changing the result."""
    if how.replace("_", "").lower() == "leftouter":  # Spark-equivalent spellings
        how = "left"
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' (got {how!r}): outer joins "
            "replicate unmatched small-side rows once per salt"
        )
    big_s = big.withColumn("_salt", _salt_col(n_salts))
    salts = F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    small_s = small.withColumn("_salt", salts)
    return big_s.join(small_s, [key, "_salt"], how).drop("_salt")
