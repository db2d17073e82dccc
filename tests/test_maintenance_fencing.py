"""ADVICE r6 closures: maintenance vs live-writer safety, full-schema
alert polling, drift rules over narrow reports, snapshot-read errors on
non-stream tables.

The medium finding: optimize()/maintain_tables() used to vacuum +
static-overwrite a stream-owned table with no writer fencing — a live
writer's pre-commit (__batch,__writer) partition could be deleted in
the window between its data write and its ledger commit, after which
the batch committed EMPTY. Now optimize() acquires the family's
WriterLease (fencing the writer: its pre-commit lease re-check raises,
the batch stays uncommitted and replays after restart), compaction
rewrites and replaces COMMITTED partitions only, and vacuum
re-checks the exact (batch, writer) commit pair before each rmtree.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.llm.incremental import (
    build_dedup_index,
    commits_table,
)
from apsviz_timeseriesdb_ingest_spark.sources.catalog import (
    Catalog,
    ConcurrentWriterError,
    WriterLease,
)
from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
    apply_dedup_increment_txn,
    committed_alerts,
    committed_corpus,
)

LSH = dict(k=2, num_hashes=8, bands=4)


def _docs(spark, *rows):
    return spark.createDataFrame(list(rows), "doc_id long, text string")


def test_optimize_fences_live_writer_precommit(spark, tmp_path):
    """A writer caught mid-batch by maintenance cannot commit: the
    pre-commit lease check raises, the batch stays uncommitted, and a
    post-maintenance replay lands it cleanly (no committed-empty
    batch, no lost docs)."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    build_dedup_index(catalog, _docs(spark, (1, "seed words for base")),
                      stream_index=True, **LSH)
    lease = WriterLease(catalog, "minhash_index").acquire()
    batch = _docs(spark, (2, "unique second batch content here"))

    # simulate "maintenance ran in the writer's pre-commit window":
    # optimize() takes the lease between this writer's first check and
    # its commit. We reproduce the interleave by fencing first, then
    # letting the writer run its whole txn — the txn's FIRST check
    # already raises, which is the fast-fail half...
    catalog.optimize("minhash_index", ledger=commits_table("minhash_index"))
    with pytest.raises(ConcurrentWriterError, match="fenced"):
        apply_dedup_increment_txn(catalog, batch, 1, lease=lease, **LSH)
    assert not catalog.batch_committed(commits_table("minhash_index"), 1)

    # ...and the pre-commit half: re-acquire, fence AFTER the first
    # check would have passed by calling check() manually, then verify
    # the commit-time check is what raises (the new second check).
    lease2 = WriterLease(catalog, "minhash_index").acquire()
    lease2.check()  # writer passes its batch-start check
    WriterLease(catalog, "minhash_index",
                writer_id="maintenance-x").acquire()  # fence mid-batch
    with pytest.raises(ConcurrentWriterError, match="fenced"):
        apply_dedup_increment_txn(catalog, batch, 1, lease=lease2, **LSH)
    assert not catalog.batch_committed(commits_table("minhash_index"), 1)

    # restart-after-maintenance: a fresh lease replays batch 1 cleanly
    lease3 = WriterLease(catalog, "minhash_index").acquire()
    apply_dedup_increment_txn(catalog, batch, 1, lease=lease3, **LSH)
    got = committed_corpus(catalog, "stream_corpus")
    assert {r.doc_id for r in got.select("doc_id").collect()} == {2}


def test_compact_committed_only_leaves_inflight_partition(spark, tmp_path):
    """compact(committed_ledger=) must not read or replace a partition
    that is on disk but not yet committed (a live writer's pre-commit
    window): the orphan partition survives compaction byte-for-byte
    visible to raw reads, stays invisible to committed reads, and a
    later commit of that exact (batch, writer) makes it appear."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    ledger = commits_table("idx")
    for batch, committed in [(0, True), (1, False)]:
        df = spark.range(batch * 10, batch * 10 + 10).select(
            F.col("id").alias("k"), F.lit(batch).alias("__batch"),
            F.lit("w").alias("__writer"))
        catalog.append(df.repartition(4), "t",
                       partition_by=["__batch", "__writer"])
        if committed:
            catalog.commit_batch(ledger, batch, "w")
    catalog.compact("t", partitions=1, committed_ledger=ledger)
    # in-flight partition untouched, committed partition compacted
    raw = catalog.read("t")
    assert raw.count() == 20
    assert raw.filter("__batch = 1").count() == 10
    # the writer now commits its in-flight batch: data appears whole
    catalog.commit_batch(ledger, 1, "w")
    assert catalog.read_committed("t", "idx").count() == 20


def test_vacuum_grace_and_pair_recheck(spark, tmp_path):
    """grace_seconds skips young uncommitted partitions (the no-lease
    writer's pre-commit window); an orphan sharing its batch id with a
    DIFFERENT writer's commit is still reclaimed (pair re-check, not
    batch re-check)."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    ledger = commits_table("idx")
    for writer, committed in [("winner", True), ("loser", False)]:
        df = spark.range(5).select(
            F.col("id").alias("k"), F.lit(0).alias("__batch"),
            F.lit(writer).alias("__writer"))
        catalog.append(df.coalesce(1), "t",
                       partition_by=["__batch", "__writer"])
        if committed:
            catalog.commit_batch(ledger, 0, writer)
    # young orphan protected by the grace window
    assert catalog.vacuum_uncommitted("t", ledger,
                                      grace_seconds=3600) == []
    # grace explicitly waived (the default now protects young
    # lease-less orphans — ADVICE r7): the loser's partition goes even
    # though batch 0 IS committed (by the winner) — the re-check is on
    # the (batch, writer) pair
    dropped = catalog.vacuum_uncommitted("t", ledger, grace_seconds=0.0)
    assert dropped == ["__batch=0/__writer=loser"]
    assert catalog.read_committed("t", "idx").count() == 5


def test_committed_alerts_empty_path_full_schema(spark, tmp_path):
    """A poller selecting flag_/metric columns works on a fresh
    deployment: the empty-path frame carries the full alert schema
    (ADVICE r6), for default and grouped/custom-rule configurations."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    empty = committed_alerts(catalog)
    for col in ("flag_dup_rate_win", "flag_vocab_ratio", "flag_p50_shift",
                "flag_top_token_jaccard", "any_alert", "dup_rate_win",
                "vocab_ratio", "__batch", "__writer"):
        assert col in empty.columns, col
    assert empty.select("flag_dup_rate_win").count() == 0

    grouped = committed_alerts(catalog, stats_group_by=("source",),
                               drift_rules={"vocab_ratio":
                                            ("outside", (0.5, 2.0))})
    assert "source" in grouped.columns
    assert "flag_vocab_ratio" in grouped.columns
    assert "flag_dup_rate_win" not in grouped.columns
    assert grouped.count() == 0

    # the empty-path schema matches the real path's columns once alerts
    # exist (modulo column order)
    build_dedup_index(catalog, _docs(spark, (1, "seed words base here")),
                      stream_index=True, **LSH)
    kw = dict(stats_table="stats", alerts_table="alerts", **LSH)
    apply_dedup_increment_txn(
        catalog, _docs(spark, (2, "calm steady ordinary words")), 1, **kw)
    apply_dedup_increment_txn(
        catalog, _docs(spark, (3, "zap zap zap zap zap zap")), 2, **kw)
    real = committed_alerts(catalog)
    assert real.count() == 1
    assert set(empty.columns) == set(real.columns)


def test_flag_drift_skips_absent_metric_rules(spark):
    """DEFAULT_DRIFT_RULES names p50_shift; a report built with qs
    omitting 0.5 must evaluate the remaining rules instead of raising
    (ADVICE r6)."""
    from apsviz_timeseriesdb_ingest_spark.llm.sketches import (
        corpus_stats_row,
        drift_report,
        flag_drift,
    )

    docs = _docs(spark, (1, "alpha beta gamma delta"),
                 (2, "alpha beta gamma delta epsilon"))
    stats = corpus_stats_row(docs)
    report = drift_report(stats, stats, qs=(0.9,))
    flagged = flag_drift(report)  # default rules, no p50_shift column
    assert "flag_p50_shift" not in flagged.columns
    assert "flag_dup_rate_win" in flagged.columns
    row = flagged.collect()[0]
    assert row["any_alert"] is False


def test_snapshot_read_requires_stream_layout(spark, tmp_path):
    """committed_files with as_of_batch on a table with files but no
    (__batch,__writer) layout raises the same ValueError as
    committed_corpus (ADVICE r6: previously silently ignored)."""
    from apsviz_timeseriesdb_ingest_spark.sources.skipping import (
        committed_files)
    from apsviz_timeseriesdb_ingest_spark.sources.zonemap import (
        list_parquet_files)

    catalog = Catalog(spark, str(tmp_path / "wh"))
    catalog.overwrite(spark.range(10).select(F.col("id").alias("k")), "t")
    with pytest.raises(ValueError, match="no .__batch, __writer. layout"):
        committed_files(catalog, "t", "idx_commits", as_of_batch=3)
    # without as_of every file is kept (non-stream tables mix nothing
    # to exclude)
    assert committed_files(catalog, "t", "idx_commits") == \
        list_parquet_files(catalog.path("t"))


def test_compact_is_incremental_per_partition(spark, tmp_path):
    """r7: compact rewrites ONLY partitions with small-file buildup —
    single-file partitions are not read or touched (their file paths
    survive byte-identical), and a table with no crowded partition is
    a zero-job no-op. Periodic maintenance cost is O(buildup since the
    last pass), not O(table)."""
    from apsviz_timeseriesdb_ingest_spark.sources.zonemap import (
        list_parquet_files,
    )

    catalog = Catalog(spark, str(tmp_path / "wh"))
    for month in ("2024-01", "2024-02"):
        df = spark.range(10).select(
            F.col("id").alias("k"), F.lit(month).alias("time_bucket"))
        catalog.append(df.coalesce(1), "t", partition_by=["time_bucket"])
    before = list_parquet_files(catalog.path("t"))
    assert len(before) == 2
    catalog.compact("t")  # nothing crowded: metadata-only no-op
    assert list_parquet_files(catalog.path("t")) == before

    # crowd ONE partition; the other's file must survive untouched
    extra = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit("2024-01").alias("time_bucket"))
    catalog.append(extra.coalesce(1), "t", partition_by=["time_bucket"])
    jan_files = [f for f in list_parquet_files(catalog.path("t"))
                 if "time_bucket=2024-01" in f]
    feb_files = [f for f in list_parquet_files(catalog.path("t"))
                 if "time_bucket=2024-02" in f]
    assert len(jan_files) == 2 and len(feb_files) == 1
    catalog.compact("t", partitions=1)
    after = list_parquet_files(catalog.path("t"))
    assert [f for f in after if "time_bucket=2024-02" in f] == feb_files
    assert len([f for f in after if "time_bucket=2024-01" in f]) == 1
    got = sorted(r.k for r in catalog.read("t").collect())
    assert got == sorted(list(range(10)) * 2 + list(range(10, 20)))


def test_commit_point_lease_rollback(spark, tmp_path):
    """commit_batch(lease=) checks the lease on both sides of the
    put-if-absent link: a writer fenced before the commit fails with NO
    commit file left behind; an unfenced writer commits normally."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    lease = WriterLease(catalog, "idx").acquire()
    catalog.commit_batch("idx_commits", 0, lease.writer_id, lease=lease)
    assert catalog.batch_committed("idx_commits", 0)

    WriterLease(catalog, "idx", writer_id="maintenance").acquire()
    with pytest.raises(ConcurrentWriterError, match="fenced"):
        catalog.commit_batch("idx_commits", 1, lease.writer_id,
                             lease=lease)
    assert not catalog.batch_committed("idx_commits", 1)
    # the fenced writer's batch can be re-committed by its successor
    lease2 = WriterLease(catalog, "idx").acquire()
    catalog.commit_batch("idx_commits", 1, lease2.writer_id, lease=lease2)
    assert catalog.batch_committed("idx_commits", 1)


def test_vacuum_grace_default_protects_leaseless_writer(spark, tmp_path):
    """ADVICE r7 (medium): the DEFAULT grace window now protects a
    lease-less writer's (__writer=-) freshly-written pre-commit
    partition — vacuum_uncommitted / optimize / maintain_tables no
    longer reclaim it unless the caller explicitly opts into
    grace_seconds=0.0."""
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import (
        VACUUM_GRACE_SECONDS, maintain_tables)

    assert VACUUM_GRACE_SECONDS > 0
    catalog = Catalog(spark, str(tmp_path / "wh"))
    ledger = commits_table("idx")
    df = spark.range(5).select(
        F.col("id").alias("k"), F.lit(0).alias("__batch"),
        F.lit("-").alias("__writer"))
    catalog.append(df.coalesce(1), "t",
                   partition_by=["__batch", "__writer"])
    catalog.commit_batch(ledger, 1, "other")  # ledger exists; batch 0 not
    # all three maintenance defaults leave the young orphan alone
    assert catalog.vacuum_uncommitted("t", ledger) == []
    assert catalog.optimize("t", ledger=ledger)["vacuumed_partitions"] == 0
    out = maintain_tables(catalog, {"t": ledger})
    assert out[0]["vacuumed_partitions"] == 0
    assert catalog.read("t").count() == 5
    # explicit opt-in reclaims it
    dropped = catalog.vacuum_uncommitted("t", ledger, grace_seconds=0.0)
    assert dropped == ["__batch=0/__writer=-"]
