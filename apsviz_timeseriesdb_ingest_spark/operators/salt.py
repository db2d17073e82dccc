"""Skew mitigation: salted two-phase aggregation.

AQE's skew-join splitting handles joins; for *aggregations* over heavily
skewed keys (one station producing most of the stream, one event type
dominating), pre-splitting each key into N salt buckets keeps every
reduce task bounded: shuffle 1 groups (key, salt) — at most N partials
per hot key per task — and shuffle 2 combines N partials per key.

Correct only for algebraic aggregates (sum/count/min/max); the public
helper exposes exactly those.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MERGEABLE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def salted_join(skewed: DataFrame, other: DataFrame, on: Sequence[str],
                *, salt_buckets: int = 8) -> DataFrame:
    """Inner equi-join with manual skew salting: the skewed side gets a
    random salt, the other side is replicated once per salt value, and
    the join key becomes (keys..., salt) — a hot key's rows spread over
    ``salt_buckets`` reduce tasks instead of one. Result is exactly the
    plain inner join. (AQE skew-join does this adaptively; the explicit
    operator covers engines/paths where it can't, e.g. with AQE
    disabled.)"""
    salted = skewed.withColumn("__salt", (F.rand(seed=0) * salt_buckets).cast("int"))
    replicated = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
    return (salted.join(replicated, [*on, "__salt"], "inner")
            .drop("__salt"))


def salted_agg(df: DataFrame, keys: Sequence[str], aggs: dict[str, tuple[str, str]],
               *, salt_buckets: int = 16) -> DataFrame:
    """Two-phase aggregation with salting.

    ``aggs``: output column -> (function, input column) with function in
    sum/count/min/max. Result is identical to the direct groupBy — the
    salt only changes the physical shuffle shape.
    """
    salted = df.withColumn("__salt", (F.rand(seed=0) * salt_buckets).cast("int"))
    phase1 = salted.groupBy(*keys, "__salt").agg(*[
        (F.count("*") if fn == "count" else getattr(F, fn)(col)).alias(out)
        for out, (fn, col) in aggs.items()
    ])
    return phase1.groupBy(*keys).agg(*[
        _MERGEABLE[fn](out).alias(out) for out, (fn, col) in aggs.items()
    ])
