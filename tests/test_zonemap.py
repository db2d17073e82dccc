"""Zone-map file skipping (sources/zonemap.py): per-file min/max stats
harvested from parquet FOOTERS, range queries answered from provably-
intersecting files only. Pruning is an I/O optimization — every test
asserts result equality against the unpruned read FIRST, then that
files were actually skipped."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.sources.zonemap import (
    ZONEMAP_SCHEMA,
    build_zonemap,
    footer_stats,
    list_parquet_files,
    prune_files,
    read_pruned,
)
from apsviz_timeseriesdb_ingest_spark.testdata import load_table

_ZM = Row(*(f.split()[0] for f in ZONEMAP_SCHEMA.split(", ")))


def _zonemap(path, columns):
    """The stats rows a zone-map build over ``path`` persists."""
    return [_ZM(*r) for r in footer_stats(list_parquet_files(path), columns)]


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


@pytest.fixture()
def orders_sharded(spark, sf_small, tmp_path):
    """orders re-laid-out as range-sharded files — the write pattern a
    time-keyed 100 TB corpus would have (each file covers a narrow
    o_orderdate window), which is what makes zone maps selective."""
    path = str(tmp_path / "orders_sharded")
    (load_table(spark, sf_small, "orders")
     .repartitionByRange(8, "o_orderdate")
     .write.parquet(path))
    return path


def test_prune_preserves_results_and_skips_files(spark, orders_sharded):
    files = list_parquet_files(orders_sharded)
    assert len(files) == 8
    zm = _zonemap(orders_sharded, ["o_orderdate", "o_custkey"])
    assert all(r.has_stats for r in zm)

    lo, hi = "1995-01-01 00:00:00", "1995-06-30 23:59:59"
    pred = F.col("o_orderdate").between(lo, hi)
    expect = (spark.read.parquet(orders_sharded).filter(pred)
              .agg(F.count("*"), F.sum("o_orderkey")).collect()[0])

    keep = prune_files(zm, "o_orderdate", lo, hi)
    # range-sharded layout → a 6-month window cannot need every file
    assert 0 < len(keep) < len(files)
    got = (read_pruned(spark, orders_sharded, keep).filter(pred)
           .agg(F.count("*"), F.sum("o_orderkey")).collect()[0])
    assert tuple(got) == tuple(expect) and expect[0] > 0

    # a column the layout was NOT keyed on prunes nothing (every file
    # spans the full key range) — but still returns correct results
    keep_ck = prune_files(zm, "o_custkey", 10, 20)
    assert len(keep_ck) == len(files)


def test_prune_outside_all_ranges_is_empty_but_typed(spark, orders_sharded):
    zm = _zonemap(orders_sharded, ["o_orderdate"])
    keep = prune_files(zm, "o_orderdate", "2099-01-01", "2099-12-31")
    assert keep == []
    out = read_pruned(spark, orders_sharded, keep)
    assert out.count() == 0
    assert "o_orderdate" in out.columns  # schema survives empty selection


def test_open_bounds_and_numeric_parse(spark, tmp_path):
    """Numeric min/max must compare numerically, not lexicographically
    (file with max=9 would wrongly survive lo=10 under string compare),
    and one-sided bounds work."""
    path = str(tmp_path / "nums")
    (spark.range(0, 1000).select(F.col("id").alias("k"))
     .repartitionByRange(4, "k").write.parquet(path))
    zm = _zonemap(path, ["k"])
    all_files = list_parquet_files(path)
    hi_only = prune_files(zm, "k", None, 10)
    lo_only = prune_files(zm, "k", 990, None)
    assert len(hi_only) == 1 and len(lo_only) == 1
    assert hi_only != lo_only
    assert prune_files(zm, "k") == sorted(all_files)  # unbounded = keep all
    got = sorted(r.k for r in read_pruned(spark, path, hi_only)
                 .filter(F.col("k") <= 10).collect())
    assert got == list(range(11))


def test_missing_stats_kept_conservatively(spark, tmp_path):
    """A column absent from some files (schema evolution) must keep
    those files — pruning can only ever remove provably-irrelevant
    ones."""
    path = str(tmp_path / "evolved")
    spark.createDataFrame([(1, 5)], "a long, b long") \
        .coalesce(1).write.parquet(path)
    spark.createDataFrame([(2,)], "a long") \
        .coalesce(1).write.mode("append").parquet(path)
    zm = _zonemap(path, ["b"])
    assert [r.has_stats for r in zm].count(False) == 1
    # b's range [5,5] misses [100,200], but the stats-less file stays
    keep = prune_files(zm, "b", 100, 200)
    assert len(keep) == 1
    assert [r.has_stats for r in zm if r.file == keep[0]] == [False]


def test_build_probe_many_via_catalog(spark, catalog, orders_sharded):
    """build_zonemap persists the stats; later probes read the metadata
    table only (no footer access) — the build-once/probe-many shape."""
    n = build_zonemap(catalog, orders_sharded, ["o_orderdate"],
                      table="orders_zm")
    assert n == 8
    zm = catalog.rows("orders_zm", ZONEMAP_SCHEMA)
    assert {tuple(r) for r in catalog.read("orders_zm").collect()} == \
        {tuple(r) for r in zm}
    keep = prune_files(zm, "o_orderdate", "1997-01-01", "1997-03-31")
    assert 0 < len(keep) < 8
    pred = F.col("o_orderdate").between("1997-01-01", "1997-03-31")
    assert (read_pruned(spark, orders_sharded, keep).filter(pred).count()
            == spark.read.parquet(orders_sharded).filter(pred).count())


def test_stale_stats_keep_uncovered_files(spark, tmp_path):
    """Files appended AFTER the stats build have no zone-map row; with
    path= they are kept unconditionally — a stale map must read more,
    never drop unseen data."""
    path = str(tmp_path / "grow")
    spark.range(0, 20).select(F.col("id").alias("k")) \
        .coalesce(1).write.parquet(path)
    zm = _zonemap(path, ["k"])  # stats taken BEFORE the table grows
    spark.range(100, 120).select(F.col("id").alias("k")) \
        .coalesce(1).write.mode("append").parquet(path)

    keep = prune_files(zm, "k", 105, 105, path=path)
    assert read_pruned(spark, path, keep) \
        .filter(F.col("k") == 105).count() == 1
    keep = prune_files(zm, "k", 5, 5, path=path)
    assert read_pruned(spark, path, keep) \
        .filter(F.col("k") == 5).count() == 1


def test_compacted_table_drops_dead_stats_rows(spark, tmp_path):
    """After a compaction rewrote the table, stats rows point at
    deleted files; with path= they are dropped (the replacement files
    are kept as uncovered) instead of failing the read."""
    path = str(tmp_path / "compact")
    spark.range(0, 40).select(F.col("id").alias("k")) \
        .repartition(4).write.parquet(path)
    zm = _zonemap(path, ["k"])
    # materialize before overwriting the path being read
    compacted = spark.createDataFrame(spark.read.parquet(path).toPandas())
    compacted.coalesce(1).write.mode("overwrite").parquet(path)

    keep = prune_files(zm, "k", 7, 7, path=path)
    assert keep == list_parquet_files(path)
    assert read_pruned(spark, path, keep) \
        .filter(F.col("k") == 7).count() == 1


def test_listing_skips_hidden_dirs_like_spark(spark, tmp_path):
    """A killed write's ``_temporary/`` and a crashed merge's stage hold
    part files Spark's file index never reads; the listing (and with it
    ``Catalog.rows``/``arrow`` and the zone-map build) skips them too,
    and keeps ``__batch=`` partitions."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "t"
    for sub, v in (("_temporary/0", 0), (".stage-x", 1), ("__batch=1", 2)):
        os.makedirs(root / sub)
        pq.write_table(pa.table({"v": [v]}), str(root / sub / f"part-{v}.parquet"))
    (root / "_SUCCESS").touch()
    listed = list_parquet_files(str(root))
    assert listed == [str(root / "__batch=1" / "part-2.parquet")]
    df = spark.read.parquet(str(root))
    assert [f.replace("file://", "") for f in df.inputFiles()] == listed
    assert [r.v for r in df.collect()] == [2]


def test_read_pruned_keeps_partition_columns(spark, catalog):
    # regression for the leaf-file read dropping Hive partition
    # columns: basePath anchors discovery
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p"))
    catalog.append(df, "t", partition_by=["p"], refresh_skipping=False)
    files = list_parquet_files(catalog.path("t"))
    out = read_pruned(spark, catalog.path("t"), files[:1])
    assert "p" in out.columns
    assert out.select("p").distinct().count() == 1
