"""Committed files of stream-owned tables and their zone maps (r6):
``committed_files`` drops uncommitted/orphan ``(__batch, __writer)``
partitions via the commit ledger by driver-side path arithmetic, the
zone map prunes committed files by their stats, and compaction keeps
both the partition chain and the sidecar current."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from apsviz_timeseriesdb_ingest_spark.llm.incremental import commits_table
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.sources.skipping import (
    build_skipping,
    committed_files,
    zm_table,
)
from apsviz_timeseriesdb_ingest_spark.sources.zonemap import (
    ZONEMAP_SCHEMA,
    list_parquet_files,
    prune_files,
    read_pruned,
)

IDX = "minhash_index"


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


@pytest.fixture()
def stream_table(spark, catalog):
    """A stream-owned corpus: 3 batches from writer w1 (0, 1 committed;
    2 crashed uncommitted) plus an orphan batch 1 from a fenced writer
    w2 — each batch owns a disjoint doc_id range so skipping has
    something to prune."""
    for batch, writer, base, committed in [
            (0, "w1", 0, True), (1, "w1", 100, True),
            (1, "w2", 500, False), (2, "w1", 200, False)]:
        df = spark.range(base, base + 50).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("doc "), F.col("id")).alias("text"),
            F.lit(batch).alias("__batch"),
            F.lit(writer).alias("__writer"))
        catalog.append(df, "corpus",
                       partition_by=["__batch", "__writer"],
                       refresh_skipping=False)
        if committed:
            catalog.commit_batch(commits_table(IDX), batch, writer)
    build_skipping(catalog, "corpus", range_cols=["doc_id"])
    return "corpus"


def test_committed_files_excludes_uncommitted(catalog, stream_table):
    files = committed_files(catalog, stream_table, commits_table(IDX))
    all_files = list_parquet_files(catalog.path(stream_table))
    assert set(files) < set(all_files)
    assert not any("__writer=w2" in f for f in files)
    assert not any("__batch=2" in f for f in files)
    # snapshot bound: as-of batch 0 keeps only batch 0's files
    asof = committed_files(catalog, stream_table, commits_table(IDX),
                           as_of_batch=0)
    assert asof and all("__batch=0" in f for f in asof)


def test_snapshot_read_pins_earlier_state(spark, catalog, stream_table):
    # the as-of-batch-0 committed files hold exactly batch 0's rows,
    # which is committed_corpus's snapshot
    files = committed_files(catalog, stream_table, commits_table(IDX),
                            as_of_batch=0)
    asof = read_pruned(spark, catalog.path(stream_table), files)
    assert asof.count() == 50
    assert asof.agg(F.max("doc_id")).collect()[0][0] == 49
    assert sorted(asof.collect()) == sorted(
        catalog.read_committed(stream_table, IDX, as_of_batch=0)
        .select(*asof.columns).collect())


def test_skipping_actually_prunes_committed_files(catalog, stream_table):
    # the range predicate lives entirely in batch 1: of the two
    # committed batches' files, only batch 1's survive both prunings
    committed = set(committed_files(catalog, stream_table, commits_table(IDX)))
    stats = set(prune_files(catalog.rows(zm_table(stream_table), ZONEMAP_SCHEMA),
                            "doc_id", 120, 130,
                            path=catalog.path(stream_table)))
    both = committed & stats
    assert both and both < committed
    assert all("__batch=1/__writer=w1" in f.replace("\\", "/")
               for f in both)


def test_plain_table_passthrough(spark, catalog):
    # a non-stream table has no (__batch, __writer) chain: committed
    # files are every file (nothing to exclude), like committed_corpus
    catalog.append(spark.range(10).select(F.col("id").alias("doc_id")),
                   "flat", refresh_skipping=False)
    os_files = list_parquet_files(catalog.path("flat"))
    assert committed_files(catalog, "flat", commits_table(IDX)) == \
        sorted(os_files)


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


def test_catalog_read_committed_sugar(catalog, stream_table):
    # Catalog.read_committed == committed_corpus (incl. snapshots)
    assert catalog.read_committed(stream_table, IDX).count() == 100
    assert catalog.read_committed(stream_table, IDX,
                                  as_of_batch=0).count() == 50


def test_compact_preserves_txn_layout_and_committed_reads(
        spark, catalog, stream_table):
    """Compaction of a stream-owned table must keep the
    (__batch, __writer) partition chain (files are replaced WITHIN
    partitions) — committed reads and the skipping composition stay
    correct, and the auto-refresh hook re-stats the new files."""
    before = sorted(
        r.doc_id for r in
        catalog.read_committed(stream_table, IDX).collect())
    catalog.compact(stream_table, partitions=1)
    assert catalog.partition_columns(stream_table) == \
        ["__batch", "__writer"]
    after = sorted(
        r.doc_id for r in
        catalog.read_committed(stream_table, IDX).collect())
    assert after == before
    # sidecars follow the rewrite (compact auto-refreshes)
    assert {r.file for r in catalog.read(zm_table(stream_table))
            .select("file").collect()} == \
        set(list_parquet_files(catalog.path(stream_table)))
    assert catalog.read_committed(stream_table, IDX).filter(
        F.col("doc_id").between(120, 130)).count() == 11
