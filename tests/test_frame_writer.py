"""``Catalog._write_frame``: every Spark-side catalog write is staged
whole and then published, so building a catalog leaves the session's
overwrite mode alone, a partitioned overwrite replaces only the
partitions its frame holds, a failed write job leaves the table as it
was, and empty frames replace an unpartitioned table with its schema
and change nothing else."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.sources.zonemap import list_parquet_files

MODE = "spark.sql.sources.partitionOverwriteMode"
SCHEMA = "id long, v string, __batch long, __writer string"


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _contents(path: str) -> dict[str, bytes]:
    out = {}
    for f in list_parquet_files(path):
        with open(f, "rb") as fh:
            out[os.path.relpath(f, path)] = fh.read()
    return out


def _stages(catalog) -> list[str]:
    return [e for e in os.listdir(catalog.warehouse) if e.startswith(".stage-")]


def test_session_mode_untouched_and_overwrite_replaces_its_partitions(spark, tmp_path):
    prev = spark.conf.get(MODE)
    spark.conf.set(MODE, "static")
    try:
        catalog = Catalog(spark, str(tmp_path / "wh"))
        assert spark.conf.get(MODE) == "static"
        parts = ["__batch", "__writer"]
        catalog.overwrite(_frame(spark, [(1, "old", 1, "a"), (2, "old", 1, "b"),
                                         (3, "old", 2, "a")]), "t", partition_by=parts)
        others = {k: v for k, v in _contents(catalog.path("t")).items()
                  if not k.startswith("__batch=1/__writer=a/")}
        assert len(others) == 2
        catalog.overwrite(_frame(spark, [(4, "new", 1, "a")]), "t", partition_by=parts)
        assert spark.conf.get(MODE) == "static"
        assert sorted(tuple(r) for r in catalog.read("t", SCHEMA).collect()) == [
            (2, "old", 1, "b"), (3, "old", 2, "a"), (4, "new", 1, "a")]
        after = _contents(catalog.path("t"))
        assert {k: after[k] for k in others} == others  # byte-identical
        assert not _stages(catalog)
    finally:
        spark.conf.set(MODE, prev)


def test_failed_overwrite_keeps_the_table(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    rows = [(i, "old", i % 2, "-") for i in range(5)]
    catalog.overwrite(_frame(spark, rows), "flat")
    catalog.overwrite(_frame(spark, rows), "parted", partition_by=["__batch", "__writer"])
    flat_files = _contents(catalog.path("flat"))
    failing = _frame(spark, [(i, "new", i % 2, "-") for i in range(5)]).withColumn(
        "id", F.when(F.col("id") == 3, F.raise_error(F.lit("boom"))).otherwise(F.col("id")))
    for table, parts in (("flat", ()), ("parted", ["__batch", "__writer"])):
        with pytest.raises(Exception, match="boom"):
            catalog.overwrite(failing, table, partition_by=parts)
        assert Counter(tuple(r) for r in catalog.read(table, SCHEMA).collect()) == \
            Counter(rows), table
    assert _contents(catalog.path("flat")) == flat_files
    assert not _stages(catalog)


def test_empty_frames(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    rows = [(i, "old", i % 2, "-") for i in range(4)]
    empty = _frame(spark, [])
    # unpartitioned: the table is replaced by a file holding the schema
    catalog.overwrite(_frame(spark, rows), "flat")
    catalog.overwrite(empty, "flat")
    assert len(list_parquet_files(catalog.path("flat"))) == 1
    got = catalog.read("flat")
    assert got.count() == 0
    assert got.schema == empty.schema
    # partitioned: no data file is written, so nothing changes
    parts = ["__batch", "__writer"]
    catalog.overwrite(_frame(spark, rows), "parted", partition_by=parts)
    listing = catalog._listing("parted")
    catalog.overwrite(empty, "parted", partition_by=parts)
    catalog.append(empty, "parted", partition_by=parts)
    assert catalog._listing("parted") == listing
    assert Counter(tuple(r) for r in catalog.read("parted", SCHEMA).collect()) == Counter(rows)
