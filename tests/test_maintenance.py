"""Catalog maintenance seams: the merge strategy and drop."""

from __future__ import annotations

import datetime as dt

from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from pyspark.sql import functions as F


def test_merge_strategy_seam(spark, tmp_path):
    # the keep-latest upsert is a seam: a Catalog constructed
    # with a custom MergeStrategy routes every merge through it
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import MergeStrategy

    calls = []

    class Recording(MergeStrategy):
        def merge(self, catalog, table, incoming, keys, order_by, *,
                  time_col, drop_before_write):
            calls.append((table, tuple(keys), time_col))

    catalog = Catalog(spark, str(tmp_path / "wh"), merge_strategy=Recording())
    df = spark.createDataFrame([(1, dt.datetime(2024, 1, 1), 1.0)],
                               "source_id long, time timestamp_ntz, v double")
    catalog.merge_keep_latest("facts", df, keys=["source_id", "time"],
                              order_by=[F.col("v").desc()])
    assert calls == [("facts", ("source_id", "time"), "time")]


def test_catalog_drop_and_drop_prefix(spark, tmp_path):
    """The cleanup verb for transient state: drop removes one table
    (idempotently), drop_prefix clears a checkpoint family and reports
    what it removed."""
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    for t in ("pr_ranks_0", "pr_ranks_1", "pr_progress", "keepme"):
        cat.overwrite(spark.range(3), t)
    cat.drop("pr_ranks_0")
    assert not cat.exists("pr_ranks_0") and cat.exists("pr_ranks_1")
    cat.drop("pr_ranks_0")  # idempotent
    dropped = cat.drop_prefix("pr_")
    assert dropped == ["pr_progress", "pr_ranks_1"]
    assert cat.exists("keepme")
    assert cat.drop_prefix("nothing_") == []
