"""As-of join: for each left row, the latest right row at-or-before its
timestamp (per key), optionally within a tolerance.

Spark has no ASOF JOIN (DuckDB/Pandas/kdb do); the naive theta-join
``l.ts >= r.ts`` explodes to a quadratic range join and then needs a
keep-latest pass. This operator is the scale-safe **union + sort +
last-non-null carry-forward** formulation:

1. tag both sides and ``unionByName`` them (no join at all),
2. one shuffle: window over (key) ordered by (ts, side-tag) with
   ``last(right_value, ignorenulls=True)`` carrying the most recent
   right row forward onto each left row,
3. keep left rows; enforce the tolerance map-side.

Cost is a single hash-partition-by-key + per-partition sort — the same
shuffle a plain equi-join on the key would do, independent of how many
right rows precede each left row. The right-before-left tie order makes
an exactly-equal timestamp match (ASOF's <= semantics), mirroring DuckDB
``ASOF JOIN ... ON l.ts >= r.ts``, which this operator is oracle-checked
against.

Domain use (reference parity note): the reference serves observation and
model timeseries side-by-side bucketed on exact timestamps
(`scripts/get_obs_timeseries_station_data.sql` pivots on equality); an
as-of alignment is the generalization for sources on different cadences
— match each forecast point to the latest gauge reading at-or-before it.

Skew note: a hot key (one station with most of the corpus) concentrates
its sort in one task. The window is an append-ordered carry-forward, so
range-partition by (key, ts-bucket) + per-bucket carry-forward with a
boundary fix-up is the 1000-executor escalation; below that, AQE's
skew handling plus the single-shuffle shape is the right default.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, *,
              on: Sequence[str], left_ts: str = "ts", right_ts: str = "ts",
              value_cols: Sequence[str] | None = None,
              tolerance: str | None = None,
              suffix: str = "_asof") -> DataFrame:
    """Left as-of join.

    Returns every ``left`` row with ``<value_col><suffix>`` columns from
    the latest ``right`` row whose timestamp is <= the left timestamp on
    the same ``on`` keys (NULL when none exists), plus
    ``<right_ts><suffix>`` — the matched right timestamp. ``tolerance``
    (an INTERVAL string like ``'1 hour'``) nulls matches older than
    ``left_ts - tolerance``.
    """
    value_cols = list(value_cols if value_cols is not None
                      else [c for c in right.columns
                            if c not in set(on) and c != right_ts])
    keys = list(on)

    # left columns ride through the union; right rows carry the right
    # payload as one struct column, and each side gets NULLs for the
    # other's columns (right rows are dropped after the carry-forward)
    lcols = left.columns
    l_tag = left.select(*lcols, F.col(left_ts).alias("__ts"), F.lit(1).alias("__side"))
    payload = F.struct(F.col(right_ts).alias("__rts"), *[F.col(c) for c in value_cols])
    r_tag = right.select(*keys, F.col(right_ts).alias("__ts"), F.lit(0).alias("__side"),
                         payload.alias("__payload"))
    merged = l_tag.unionByName(r_tag, allowMissingColumns=True)

    # right rows (side 0) sort before left rows (side 1) at equal ts ->
    # an exactly-equal right timestamp IS matched (<= semantics)
    w = (Window.partitionBy(*keys).orderBy("__ts", "__side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = merged.withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w))

    out = carried.filter(F.col("__side") == 1)
    if tolerance is not None:
        out = out.withColumn(
            "__match",
            F.when(F.col("__match.__rts")
                   >= F.col("__ts") - F.expr(f"INTERVAL {tolerance}"),
                   F.col("__match")))
    return out.select(
        *lcols,
        F.col("__match.__rts").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__match.{c}").alias(f"{c}{suffix}") for c in value_cols],
    )
