"""Zone-map maintenance hooks: Catalog mutation verbs keep the ``__zm``
sidecar exactly current (r6; previously staleness was SAFE but silent —
reads just skipped less until someone rebuilt the sidecar by hand).

Contract order mirrors the zonemap tests: result equality first, then
that the sidecar actually tracks the on-disk file set, then that its
covered columns survive refreshes untouched."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.sources.skipping import (
    build_skipping,
    read_between,
    refresh_skipping,
    zm_table,
)
from apsviz_timeseriesdb_ingest_spark.sources.zonemap import (
    footer_stats,
    list_parquet_files,
    prune_files,
)


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


def _covered(catalog: Catalog, table: str) -> set[str]:
    return {r.file for r in catalog.read(table).select("file").collect()}


def _seed(catalog, spark, n=40, files=4, table="t"):
    catalog.overwrite(spark.range(0, n).select(F.col("id").alias("k"))
                      .repartition(files, "k"), table)
    build_skipping(catalog, table, range_cols=["k"])


def test_append_auto_refreshes(spark, catalog):
    _seed(catalog, spark)
    catalog.append(spark.range(100, 120).select(F.col("id").alias("k"))
                   .repartition(2, "k"), "t")
    on_disk = set(list_parquet_files(catalog.path("t")))
    assert _covered(catalog, zm_table("t")) == on_disk
    # the refreshed zone map PRUNES the new range without path= help
    zm = catalog.read(zm_table("t")).collect()
    keep = prune_files(zm, "k", 100, 119)
    assert 0 < len(keep) < len(on_disk)
    assert read_between(catalog, "t", "k", 100, 119).count() == 20
    # tables with no sidecar, and the reserved sidecar names: no-ops
    assert refresh_skipping(catalog, "absent") == {}
    assert catalog.refresh_skipping("t__zm") == {}


def test_overwrite_auto_refreshes_and_reflects_replacement(spark, catalog):
    _seed(catalog, spark)
    catalog.overwrite(spark.range(1000, 1010)
                      .select(F.col("id").alias("k")), "t")
    assert _covered(catalog, zm_table("t")) == \
        set(list_parquet_files(catalog.path("t")))
    # old keys are gone from data AND stats prunes to zero files
    zm = catalog.read(zm_table("t")).collect()
    assert prune_files(zm, "k", 0, 39) == []
    assert read_between(catalog, "t", "k", 0, 39).count() == 0
    assert read_between(catalog, "t", "k", 1000, 1009).count() == 10


def test_opt_out_leaves_stats_stale_but_reads_correct(spark, catalog):
    _seed(catalog, spark)
    before = _covered(catalog, zm_table("t"))
    catalog.append(spark.range(100, 120).select(F.col("id").alias("k")),
                   "t", refresh_skipping=False)
    assert _covered(catalog, zm_table("t")) == before  # stale by choice
    # the facade still answers correctly (path= degradation)
    assert read_between(catalog, "t", "k", 100, 119).count() == 20


def test_merge_keep_latest_refreshes(spark, catalog):
    import datetime as dt

    rows = [(i, dt.datetime(2024, 1 + i % 2, 1), float(i))
            for i in range(20)]
    df = spark.createDataFrame(
        rows, "id long, time timestamp_ntz, v double")
    catalog.merge_keep_latest("facts", df, ["id"], ["time"])
    build_skipping(catalog, "facts", range_cols=["id"])
    newer = spark.createDataFrame(
        [(3, dt.datetime(2024, 3, 1), 99.0),
         (100, dt.datetime(2024, 3, 1), 1.0)],
        "id long, time timestamp_ntz, v double")
    catalog.merge_keep_latest("facts", newer, ["id"], ["time"])
    assert _covered(catalog, zm_table("facts")) == \
        set(list_parquet_files(catalog.path("facts")))
    assert read_between(catalog, "facts", "id", 100, 100).count() == 1


def test_empty_table_build_then_append_refreshes(spark, catalog):
    # built over an EMPTY table: the lone empty part file has zero row
    # groups, so its stats row is has_stats=false (has_stats=true with
    # NULL bounds would crash the pruner) — but it still NAMES the
    # column, so the first append's refresh covers the new files
    catalog.overwrite(
        spark.createDataFrame([], "k long"), "t", refresh_skipping=False)
    build_skipping(catalog, "t", range_cols=["k"])
    zm = catalog.read(zm_table("t")).collect()
    assert [(r.column, r.has_stats) for r in zm] == [("k", False)]
    catalog.append(spark.range(5).select(F.col("id").alias("k")), "t")
    assert _covered(catalog, zm_table("t")) == \
        set(list_parquet_files(catalog.path("t")))
    assert read_between(catalog, "t", "k", 0, 4).count() == 5


def test_zero_row_sidecar_is_skipped_not_crashed(spark, catalog):
    # built over a table DIRECTORY with no files at all: the sidecar
    # has zero rows, names zero columns — refresh cannot recover a
    # column list and must not fabricate one
    import os

    os.makedirs(catalog.path("t"))
    build_skipping(catalog, "t", range_cols=["k"])
    assert catalog.read(zm_table("t")).count() == 0
    assert catalog.refresh_skipping("t") == {}
    catalog.append(spark.range(5).select(F.col("id").alias("k")), "t")
    # stats stayed empty; reads degrade to keeping uncovered files
    assert read_between(catalog, "t", "k", 0, 4).count() == 5


#: one zone-map refresh: the sidecar rows cached by the build, footers
#: read and the sidecar rewritten on the driver
REFRESH_JOB_BUDGET = 0


def test_refresh_equals_rebuild_and_job_budget(spark, catalog, tmp_path):
    """After an append and a keep-latest merge, the
    refreshed ``__zm`` rows equal a full footer pass over the current
    files, and one refresh runs no Spark job. The fixture
    carries an empty part file (``has_stats=False``, null bounds) in a
    partition no step rewrites, and an all-null column."""
    import datetime as dt
    import os
    import shutil

    from apsviz_timeseriesdb_ingest_spark.sources.catalog import time_bucket

    schema = "id long, time timestamp_ntz, v double"
    cols = ["time", "v"]

    def frame(ids, day):
        return spark.createDataFrame(
            [(i, dt.datetime(2024, 1 + i % 3, day, i % 24), None)
             for i in ids], schema)

    def assert_current():
        got = {tuple(r) for r in catalog.read(zm_table("facts")).collect()}
        want = set(footer_stats(list_parquet_files(catalog.path("facts")), cols))
        assert got == want

    catalog.merge_keep_latest("facts", frame(range(12), 1), ["id"], ["time"])
    spark.createDataFrame([], schema).coalesce(1).write.parquet(
        str(tmp_path / "empty"))
    empty_dir = os.path.join(catalog.path("facts"), "time_bucket=2024-05")
    os.makedirs(empty_dir)
    for f in list_parquet_files(str(tmp_path / "empty")):
        shutil.copy(f, empty_dir)
    build_skipping(catalog, "facts", range_cols=cols)
    zm = catalog.read(zm_table("facts")).collect()
    assert any(r.file.startswith(empty_dir) and not r.has_stats for r in zm)
    assert not any(r.has_stats for r in zm if r.column == "v")

    catalog.append(frame(range(100, 106), 2).withColumn("time_bucket", time_bucket()),
                   "facts", partition_by=["time_bucket"], refresh_skipping=False)
    sc = spark.sparkContext
    sc.setJobGroup("zm-refresh-job-budget", "one zone-map refresh")
    try:
        out = catalog.refresh_skipping("facts")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("zm-refresh-job-budget"))
    assert jobs <= REFRESH_JOB_BUDGET, jobs
    assert out == {zm_table("facts"): len(list_parquet_files(catalog.path("facts")))}
    assert_current()

    # touches February only: January and March keep the appended files
    catalog.merge_keep_latest("facts", frame([4, 7, 301], 3), ["id"], ["time"])
    assert_current()
    assert any(r.file.startswith(empty_dir) and not r.has_stats
               for r in catalog.read(zm_table("facts")).collect())
    assert read_between(catalog, "facts", "time", dt.datetime(2024, 2, 1),
                        dt.datetime(2024, 2, 28)).count() == \
        catalog.read("facts").filter(F.month("time") == 2).count()
