"""Keep-latest duplicate resolution (SURVEY.md section 2.3 J7 / 2.8 M3).

The reference resolves overlapping harvest windows with a self-join DELETE
keeping the highest serial id per (source_id, time)
(``run/ingestObsTasks.py:45-56``; model variant per timemark
``run/ingestModelTasks.py:102-114``). Serial ids are load-order — an
artifact of a single-writer Postgres. The Spark-native equivalent is a
window dedup with a *deterministic* version ordering, which makes ingest
order-independent (same result no matter how files are parallelized).

Scale notes: ``row_number`` over (keys) is a single hash-partitioned
shuffle on the dedup keys. The incremental merge that uses it is
``sources.catalog.Catalog.merge_keep_latest``: it dedups the incoming
batch together with only the time-bucket partitions the batch touches —
the reference's bounded-DELETE optimization, expressed as partition
pruning instead of a DELETE predicate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def keep_latest(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str],
                ) -> DataFrame:
    """Keep exactly one row per ``keys``, the first under ``order_by``.

    ``order_by`` should be a total order (e.g. version DESC then a unique
    id DESC) so the result is deterministic — the replacement for the
    reference's serial-id tie-break.
    """
    cols = [F.col(c).desc() if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

