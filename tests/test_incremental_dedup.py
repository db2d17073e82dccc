"""Incremental MinHash-LSH dedup against a persisted index
(llm/incremental.py): the O(|increment|) production shape of the
full-corpus near-dedup — new batches probe the stored (doc, band,
bucket) frame instead of re-shingling the corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
    minhash_band_buckets, minhash_lsh_pairs)
from apsviz_timeseriesdb_ingest_spark.llm.incremental import (
    build_dedup_index, dedup_increment)
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

LSH = dict(k=2, num_hashes=8, bands=4)

BASE = [
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "pack my box with five dozen liquor jugs right now"),
    (3, "sphinx of black quartz judge my vow before dawn"),
]
# 11 = near-copy of base doc 1; 12/13 = near-copies of each other;
# 14 = genuinely new.
INCREMENT = [
    (11, "the quick brown fox jumps over the lazy dog tonight again"),
    (12, "colorless green ideas sleep furiously every single night"),
    (13, "colorless green ideas sleep furiously every single night indeed"),
    (14, "a completely unrelated document about spark shuffle partitions"),
]


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_increment_semantics(spark, catalog):
    base = _docs(spark, BASE)
    assert build_dedup_index(catalog, base, **LSH) == 3

    # Sanity: the fixture collisions hold under these LSH params.
    both = _docs(spark, BASE + INCREMENT)
    pairs = {tuple(r) for r in minhash_lsh_pairs(both, **LSH).collect()}
    assert (1, 11) in pairs and (12, 13) in pairs
    assert not any(a == 14 or b == 14 for a, b in pairs)

    accepted = dedup_increment(catalog, _docs(spark, INCREMENT), **LSH)
    got = sorted(r.doc_id for r in accepted.collect())
    # 11 rejected (corpus dup of 1); 13 rejected (in-batch dup of 12,
    # smaller id wins); 12 and 14 accepted.
    assert got == [12, 14]

    # Index extended by exactly the accepted docs.
    indexed = sorted(r.doc for r in
                     catalog.read("minhash_index").select("doc")
                     .distinct().collect())
    assert indexed == [1, 2, 3, 12, 14]


def test_increment_idempotent_rerun(spark, catalog):
    build_dedup_index(catalog, _docs(spark, BASE), **LSH)
    first = dedup_increment(catalog, _docs(spark, INCREMENT), **LSH)
    assert first.count() == 2
    # Replaying the same increment: every doc now collides with the index
    # (accepted docs are in it; rejected docs still match their originals).
    again = dedup_increment(catalog, _docs(spark, INCREMENT), **LSH)
    assert again.count() == 0
    indexed = (catalog.read("minhash_index").select("doc")
               .distinct().count())
    assert indexed == 5


def test_increment_bootstraps_empty_index(spark, catalog):
    # No index table yet: increment behaves as in-batch dedup and seeds it.
    accepted = dedup_increment(catalog, _docs(spark, INCREMENT), **LSH)
    assert sorted(r.doc_id for r in accepted.collect()) == [11, 12, 14]
    assert catalog.exists("minhash_index")


def test_accepted_evaluable_after_append(spark, catalog):
    """The returned frame must not re-probe the mutated index (lineage is
    cut): evaluating it AFTER the append still shows the accepted docs."""
    build_dedup_index(catalog, _docs(spark, BASE), **LSH)
    accepted = dedup_increment(catalog, _docs(spark, INCREMENT), **LSH)
    # Force a fresh evaluation after the index has grown.
    assert accepted.filter(F.col("doc_id") == 12).count() == 1
    assert accepted.select(F.sum("doc_id")).collect()[0][0] == 26


def test_bucket_frame_matches_pairs_contract(spark):
    """lsh_pairs_from_buckets(minhash_band_buckets(df)) ==
    minhash_lsh_pairs(df) — the refactor seam the index relies on."""
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
        lsh_pairs_from_buckets)
    df = _docs(spark, BASE + INCREMENT)
    via_buckets = {tuple(r) for r in lsh_pairs_from_buckets(
        minhash_band_buckets(df, **LSH)).collect()}
    direct = {tuple(r) for r in minhash_lsh_pairs(df, **LSH).collect()}
    assert via_buckets == direct


class _CrashingCatalog:
    """Delegates to a real Catalog but injects one fault: either a
    PARTIAL index-partition write (half the bucket rows land, then the
    'process dies') or a crash after the index write but before the
    put-if-absent ledger commit."""

    def __init__(self, real, *, mode):
        self._real = real
        self._mode = mode  # "partial_index" | "before_commit"

    def __getattr__(self, name):
        return getattr(self._real, name)

    def overwrite(self, df, table, *, partition_by=(), **kw):
        if self._mode == "partial_index" and "__batch" in df.columns \
                and "band" in df.columns:
            half = df.filter(F.col("band") < 2)
            self._real.overwrite(half, table, partition_by=partition_by,
                                 **kw)
            raise RuntimeError("simulated crash mid index write")
        return self._real.overwrite(df, table, partition_by=partition_by,
                                    **kw)

    def commit_batch(self, ledger, batch_id, writer="-", *, lease=None):
        if self._mode == "before_commit":
            raise RuntimeError("simulated crash before ledger commit")
        return self._real.commit_batch(ledger, batch_id, writer,
                                       lease=lease)


@pytest.mark.parametrize("mode", ["partial_index", "before_commit"])
def test_txn_crash_replay_zero_recall_loss(spark, catalog, mode):
    """r3 verdict task 8: the commit-ledger protocol closes the
    partial-index-append window. Crash mid index write (partial bucket
    rows) or between index write and ledger commit; the replay with the
    same batch_id recovers to the FULLY indexed state — every accepted
    doc carries all `bands` index rows, a later near-dup is still
    rejected (zero recall loss), and a second replay is a no-op."""
    from apsviz_timeseriesdb_ingest_spark.llm.incremental import (
        commits_table,
    )
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        apply_dedup_increment_txn,
    )

    base = _docs(spark, BASE)
    assert build_dedup_index(catalog, base, stream_index=True, **LSH) == 3

    batch1 = _docs(spark, INCREMENT)
    with pytest.raises(RuntimeError, match="simulated crash"):
        apply_dedup_increment_txn(_CrashingCatalog(catalog, mode=mode),
                                  batch1, 7, **LSH)
    # not committed: the crashed attempt's rows are invisible to probes
    assert not catalog.batch_committed(commits_table("minhash_index"), 7)
    if mode == "partial_index":
        partial = (catalog.read("minhash_index")
                   .filter(F.col("__batch") == 7))
        assert 0 < partial.count() < 3 * LSH["bands"]  # genuinely partial

    # restart: same batch id, healthy catalog
    apply_dedup_increment_txn(catalog, batch1, 7, **LSH)

    idx = catalog.read("minhash_index")
    accepted_b1 = (idx.filter(F.col("__batch") == 7)
                   .select("doc").distinct())
    accepted_ids = {r.doc for r in accepted_b1.collect()}
    assert accepted_ids == {12, 14}  # 11 dups base, 13 dups 12
    # ZERO recall loss: every accepted doc has ALL its band rows
    per_doc = (idx.filter(F.col("__batch") == 7)
               .groupBy("doc").count().collect())
    assert {r["count"] for r in per_doc} == {LSH["bands"]}
    assert catalog.batch_committed(commits_table("minhash_index"), 7)
    # corpus exactly-once (committed view == raw view here: the solo
    # writer's replay REPLACED its own crashed partition)
    corpus = catalog.read("stream_corpus")
    assert {r.doc_id for r in corpus.collect()} == {12, 14}
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        committed_corpus)
    assert {r.doc_id for r in
            committed_corpus(catalog, "stream_corpus").collect()} == {12, 14}

    # a later near-dup of a batch-7 doc is rejected (the behavior the
    # old window lost)
    batch2 = _docs(spark, [
        (21, "colorless green ideas sleep furiously every single night")])
    apply_dedup_increment_txn(catalog, batch2, 8, **LSH)
    assert catalog.read("stream_corpus").filter(
        F.col("doc_id") == 21).count() == 0

    # replaying the fully-applied batch is a no-op
    n_idx = catalog.read("minhash_index").count()
    apply_dedup_increment_txn(catalog, batch1, 7, **LSH)
    assert catalog.read("minhash_index").count() == n_idx
    assert catalog.batch_committed(commits_table("minhash_index"), 7)


def test_txn_rejects_flat_legacy_index(spark, catalog):
    """A flat (non-__batch) index cannot distinguish committed from
    partial rows — the committed_only probe refuses it loudly instead
    of silently reopening the window."""
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        apply_dedup_increment_txn,
    )

    build_dedup_index(catalog, _docs(spark, BASE), **LSH)  # flat layout
    with pytest.raises(ValueError, match="stream_index=True"):
        apply_dedup_increment_txn(catalog, _docs(spark, INCREMENT), 1,
                                  **LSH)


def test_stream_index_rebuild_replaces_stale_batches(spark, catalog):
    """Rebuilding a stream-owned index over an existing one must fully
    REPLACE it: a partitioned overwrite only replaces partitions
    present in the new frame — without the pre-drop, a committed
    __batch=7 partition from the old generation survives the rebuild as
    phantom index rows that reject fresh docs (ADVICE r4, medium)."""
    import os

    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        apply_dedup_increment_txn)

    build_dedup_index(catalog, _docs(spark, BASE), stream_index=True, **LSH)
    apply_dedup_increment_txn(catalog, _docs(spark, INCREMENT), 7, **LSH)
    assert sorted(os.listdir(catalog.path("minhash_index")))[:2] == \
        ["__batch=-1", "__batch=7"]

    # rebuild over the live index from a SMALLER corpus
    assert build_dedup_index(catalog, _docs(spark, BASE[:2]),
                             stream_index=True, **LSH) == 2
    # the old generation is gone: no stale __batch=7 dir, ledger reset
    batches = [d for d in os.listdir(catalog.path("minhash_index"))
               if d.startswith("__batch=")]
    assert batches == ["__batch=-1"]
    assert catalog.committed_batches("minhash_index_commits") == [(-1, "-")]
    assert (catalog.read("minhash_index").select("doc")
            .distinct().count() == 2)

    # docs absent from the rebuilt corpus are fresh again — the phantom
    # __batch=7 rows would have rejected 12 and 14 here; 11 is still
    # rejected legitimately (near-copy of base doc 1, in the rebuild)
    apply_dedup_increment_txn(catalog, _docs(spark, INCREMENT), 8, **LSH)
    from apsviz_timeseriesdb_ingest_spark.llm.incremental import (
        commits_table)
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        committed_corpus)
    got = sorted(r.doc_id for r in
                 committed_corpus(catalog, "stream_corpus").collect())
    assert got == [12, 14]
    # the pre-rebuild batch-7 corpus partition is an orphan under the
    # reset ledger: invisible to the committed view above, reclaimed by
    # vacuum — after which even a raw read matches
    dropped = catalog.vacuum_uncommitted(
        "stream_corpus", commits_table("minhash_index"), grace_seconds=0.0)
    assert dropped == ["__batch=7/__writer=-"]
    got_raw = sorted(r.doc_id for r in
                     catalog.read("stream_corpus").collect())
    assert got_raw == [12, 14]


def test_failed_rebuild_keeps_old_generation(spark, catalog, monkeypatch):
    """A rebuild that fails mid-job must leave the OLD index generation
    fully readable and probe-able (ADVICE r5: the previous drop-then-
    write order left NO index, no meta, and no commit ledger on any
    rebuild failure). The staged rebuild writes __staging names and
    swaps only after the job succeeds."""
    import os

    build_dedup_index(catalog, _docs(spark, BASE), **LSH)
    before = sorted(r.doc for r in catalog.read("minhash_index")
                    .select("doc").distinct().collect())

    real_overwrite = Catalog.overwrite
    calls = {"n": 0}

    def failing_overwrite(self, df, table, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected rebuild failure")
        return real_overwrite(self, df, table, **kw)

    monkeypatch.setattr(Catalog, "overwrite", failing_overwrite)
    with pytest.raises(RuntimeError, match="injected"):
        build_dedup_index(catalog, _docs(spark, BASE + INCREMENT), **LSH)
    monkeypatch.undo()

    # old generation intact: same docs, same meta, probes still work
    after = sorted(r.doc for r in catalog.read("minhash_index")
                   .select("doc").distinct().collect())
    assert after == before
    assert catalog.exists("minhash_index_meta")
    assert dedup_increment(
        catalog, _docs(spark, INCREMENT), **LSH).count() == 2
    # no staging junk left behind
    assert not any(t.endswith("__staging")
                   for t in os.listdir(catalog.warehouse))


def test_staged_rebuild_contract(spark, catalog):
    """StagedRebuild rejects undeclared table names and clears leftover
    staging dirs from a crashed previous build on entry."""
    stale = spark.createDataFrame([(1,)], "x long")
    catalog.overwrite(stale, "idx__staging")
    with catalog.staged_rebuild("idx") as stage:
        assert stage("idx") == "idx__staging"
        # entry cleared the crashed build's leftover staging dir
        assert not catalog.exists("idx__staging")
    with pytest.raises(ValueError, match="not declared"):
        with catalog.staged_rebuild("idx") as stage:
            stage("other")


def test_flat_rebuild_retires_stale_commit_ledger(spark, catalog):
    """Rebuilding FLAT over a previous stream-owned generation drops the
    now-meaningless commit ledger (probing flat with committed_only
    raises by contract; a stale ledger was disk junk)."""
    build_dedup_index(catalog, _docs(spark, BASE), stream_index=True, **LSH)
    assert catalog.exists("minhash_index_commits")
    build_dedup_index(catalog, _docs(spark, BASE), **LSH)
    assert not catalog.exists("minhash_index_commits")
    assert "__batch" not in catalog.read("minhash_index").columns


def test_concurrent_writer_fencing(spark, catalog):
    """Two writers on one commit-ledger index: the second acquirer
    fences the first, whose next batch raises LOUDLY instead of
    silently interleaving __batch partitions (the previously
    docstring-only single-writer contract)."""
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import (
        ConcurrentWriterError, WriterLease)
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        apply_dedup_increment_txn)

    build_dedup_index(catalog, _docs(spark, BASE), stream_index=True, **LSH)
    a = WriterLease(catalog, "minhash_index").acquire(spark)
    apply_dedup_increment_txn(catalog, _docs(spark, INCREMENT), 1,
                              lease=a, **LSH)

    b = WriterLease(catalog, "minhash_index").acquire(spark)
    apply_dedup_increment_txn(
        catalog, _docs(spark, [(20, "a wholly new doc about lease fencing "
                                    "semantics and parquet tables")]),
        2, lease=b, **LSH)

    # writer A is now fenced: its next mutation raises before touching
    # the index
    before = catalog.read("minhash_index").count()
    with pytest.raises(ConcurrentWriterError, match="fenced"):
        apply_dedup_increment_txn(
            catalog, _docs(spark, [(21, "another new doc that writer a "
                                        "must not be able to index")]),
            3, lease=a, **LSH)
    assert catalog.read("minhash_index").count() == before

    # replays of an ALREADY-COMMITTED batch stay no-ops even for a
    # fenced writer (the short-circuit precedes the lease check)
    apply_dedup_increment_txn(catalog, _docs(spark, INCREMENT), 1,
                              lease=a, **LSH)

    # a rebuild retires the lease table: both writers now fail loudly
    build_dedup_index(catalog, _docs(spark, BASE), stream_index=True, **LSH)
    with pytest.raises(ConcurrentWriterError, match="gone"):
        apply_dedup_increment_txn(
            catalog, _docs(spark, [(22, "post rebuild doc")]), 4,
            lease=b, **LSH)


def test_dedup_stream_acquires_lease(spark, catalog, tmp_path):
    """run_incremental_dedup_stream stamps the writer lease at start, so
    a later stream on the same index fences the first."""
    import os

    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        run_incremental_dedup_stream)

    src = tmp_path / "in"
    os.makedirs(src)
    _docs(spark, BASE).coalesce(1).write.parquet(str(src / "b0"))
    import json

    def holder():
        with open(os.path.join(catalog.path("minhash_index_writer"),
                               "lease.json")) as f:
            return json.load(f)["writer_id"]

    q = run_incremental_dedup_stream(
        spark, str(src / "b0"), catalog,
        checkpoint_dir=str(tmp_path / "ck"), **LSH)
    q.processAllAvailable(); q.stop()
    assert catalog.exists("minhash_index_writer")
    first = holder()

    q2 = run_incremental_dedup_stream(
        spark, str(src / "b0"), catalog,
        checkpoint_dir=str(tmp_path / "ck2"), **LSH)
    q2.processAllAvailable(); q2.stop()
    assert holder() != first


def test_exclusive_commit_and_orphan_invisibility(spark, catalog):
    """The r6 two-writer closure at the protocol level: (a) commit_batch
    is put-if-absent — the second writer to commit a batch id RAISES;
    (b) a writer's uncommitted data partition is invisible to committed
    probes and to committed_corpus; (c) vacuum_uncommitted reclaims it."""
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
        minhash_band_buckets)
    from apsviz_timeseriesdb_ingest_spark.llm.incremental import (
        plan_increment)
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import (
        ConcurrentWriterError)

    build_dedup_index(catalog, _docs(spark, BASE), stream_index=True, **LSH)

    # (a) exactly one writer can commit a given batch id
    catalog.commit_batch("minhash_index_commits", 5, "writer-a")
    with pytest.raises(ConcurrentWriterError, match="already"):
        catalog.commit_batch("minhash_index_commits", 5, "writer-b")
    assert (5, "writer-a") in catalog.committed_batches(
        "minhash_index_commits")

    # (b) writer-b's UNCOMMITTED partition: rows present on disk but
    # invisible to the committed probe — its near-dup of doc 20 is NOT
    # rejected
    doc20 = [(20, "a wholly distinct doc about orphaned partitions and "
                  "exclusive ledger commits in parquet")]
    orphan = (minhash_band_buckets(_docs(spark, doc20), **LSH)
              .withColumn("__batch", F.lit(6).cast("long"))
              .withColumn("__writer", F.lit("writer-b")))
    catalog.overwrite(orphan, "minhash_index",
                      partition_by=["__batch", "__writer"])
    assert catalog.read("minhash_index").filter(
        F.col("__writer") == "writer-b").count() > 0
    accepted, _ = plan_increment(catalog, _docs(spark, doc20),
                                 committed_only=True, **LSH)
    assert [r.doc_id for r in accepted.collect()] == [20]

    # (c) vacuum drops exactly the uncommitted partition
    dropped = catalog.vacuum_uncommitted("minhash_index",
                                         "minhash_index_commits",
                                         grace_seconds=0.0)
    assert dropped == ["__batch=6/__writer=writer-b"]
    assert catalog.read("minhash_index").filter(
        F.col("__batch") == 6).count() == 0
    # committed data untouched
    assert catalog.read("minhash_index").filter(
        F.col("__batch") == -1).count() > 0


def test_snapshot_read_as_of_batch(spark, catalog):
    """Plain-parquet time travel (r6): commit files are immutable and
    batch ids monotone, so committed_corpus(as_of_batch=N) reproduces
    bit-identically the state a reader saw right after batch N — even
    after later batches commit. The reproducibility contract for
    pinning the corpus a training run consumed."""
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        apply_dedup_increment_txn, committed_corpus)

    build_dedup_index(catalog, _docs(spark, BASE), stream_index=True, **LSH)
    apply_dedup_increment_txn(catalog, _docs(spark, INCREMENT), 7, **LSH)
    snap7 = sorted(r.doc_id for r in
                   committed_corpus(catalog, "stream_corpus").collect())
    assert snap7 == [12, 14]

    batch8 = [(31, "fresh prose regarding columnar zone maps and "
                   "snapshot isolation for large corpora")]
    apply_dedup_increment_txn(catalog, _docs(spark, batch8), 8, **LSH)
    assert sorted(r.doc_id for r in
                  committed_corpus(catalog, "stream_corpus").collect()) \
        == [12, 14, 31]

    # the as-of view is exactly the pre-batch-8 state, and stays so
    assert sorted(r.doc_id for r in committed_corpus(
        catalog, "stream_corpus", as_of_batch=7).collect()) == snap7
    # before any stream batch: only the rebuild seed (-1) is visible,
    # and the corpus table has no seed partition → empty
    assert committed_corpus(catalog, "stream_corpus",
                            as_of_batch=-1).count() == 0
    # index snapshots prune the same way
    idx7 = (catalog.read("minhash_index")
            .join(F.broadcast(catalog.committed_frame(
                "minhash_index_commits", as_of=7)),
                ["__batch", "__writer"], "left_semi"))
    assert set(r.doc for r in idx7.select("doc").distinct().collect()) \
        == {1, 2, 3, 12, 14}

    # a flat corpus cannot be snapshot-read — loud, not silent
    catalog.overwrite(_docs(spark, BASE), "flat_corpus")
    with pytest.raises(ValueError, match="snapshot"):
        committed_corpus(catalog, "flat_corpus", as_of_batch=7)


def test_txn_stats_rows_commit_with_batches(spark, catalog):
    """stats_table=: one combined sketch row per committed batch under
    the SAME ledger commit; the committed window merges to the exact
    stats of the committed corpus, and a crashed attempt's stats row
    is invisible exactly like its data."""
    from apsviz_timeseriesdb_ingest_spark.llm.sketches import (
        heavy_hitters_estimates,
        length_quantiles,
        merge_corpus_sketches,
        merge_heavy_hitters,
        merge_length_sketches,
        sketch_estimates,
    )
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        apply_dedup_increment_txn,
        committed_corpus,
    )

    assert build_dedup_index(catalog, _docs(spark, BASE),
                             stream_index=True, **LSH) == 3
    # batch 1 accepts 12 and 14 (11/13 are near-dups); batch 2 is new
    apply_dedup_increment_txn(catalog, _docs(spark, INCREMENT), 1,
                              stats_table="corpus_stats", **LSH)
    apply_dedup_increment_txn(
        catalog, _docs(spark, [(22, "fresh words about window merges"),
                               (23, "another brand new tiny doc")]), 2,
        stats_table="corpus_stats", **LSH)

    stats = committed_corpus(catalog, "corpus_stats")
    # one row per committed batch WITH accepted docs
    assert stats.count() == 2

    # merged window == exact stats of the committed corpus
    corpus = committed_corpus(catalog, "stream_corpus")
    n_docs = corpus.count()
    est = sketch_estimates(merge_corpus_sketches(stats)).collect()[0]
    assert est.n_docs == n_docs
    exact_vocab = (corpus.select(F.explode(F.split(F.lower("text"),
                                                   r"\s+")).alias("t"))
                   .filter(F.col("t") != "").distinct().count())
    assert abs(est.vocab_estimate - exact_vocab) <= \
        max(2, 0.05 * exact_vocab)

    ln = length_quantiles(merge_length_sketches(stats),
                          qs=(0.0, 1.0)).collect()[0]
    lens = sorted(len(r.text.split()) for r in corpus.collect())
    assert (ln.p0, ln.p100) == (lens[0], lens[-1])  # exact below k

    hh = merge_heavy_hitters(stats)
    import collections
    true = collections.Counter(
        t for r in corpus.collect() for t in r.text.lower().split())
    for e in heavy_hitters_estimates(hh).collect():
        assert e.est_count <= true[e.item] <= e.max_count

    # a crashed batch's stats row is invisible until its replay commits
    with pytest.raises(RuntimeError, match="simulated crash"):
        apply_dedup_increment_txn(
            _CrashingCatalog(catalog, mode="before_commit"),
            _docs(spark, [(21, "more tokens arrive here")]), 3,
            stats_table="corpus_stats", **LSH)
    assert committed_corpus(catalog, "corpus_stats").count() == 2
    apply_dedup_increment_txn(catalog,
                              _docs(spark, [(21, "more tokens arrive "
                                                 "here")]), 3,
                              stats_table="corpus_stats", **LSH)
    stats = committed_corpus(catalog, "corpus_stats")
    assert stats.count() == 3
    assert sketch_estimates(merge_corpus_sketches(stats)) \
        .collect()[0].n_docs == n_docs + 1


def test_txn_grouped_stats_rows(spark, catalog):
    """stats_group_by=: one sketch row per SOURCE per committed batch
    (still under the batch's ledger commit); the committed windows feed
    drift_report(group_by=) — per-source composition monitoring with
    zero corpus rescans."""
    from apsviz_timeseriesdb_ingest_spark.llm.sketches import (
        drift_report,
        merge_corpus_sketches,
        sketch_estimates,
    )
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        apply_dedup_increment_txn,
        committed_corpus,
    )

    schema = "doc_id long, text string, source string"
    assert build_dedup_index(catalog, _docs(spark, BASE),
                             stream_index=True, **LSH) == 3
    b1 = spark.createDataFrame(
        [(31, "web words one about corpora", "web"),
         (32, "book words entirely different here", "books")], schema)
    b2 = spark.createDataFrame(
        [(41, "more web words drifting longer than before now", "web"),
         (42, "yet more web filler text arriving", "web")], schema)
    apply_dedup_increment_txn(catalog, b1, 1, stats_table="gstats",
                              stats_group_by=("source",), **LSH)
    apply_dedup_increment_txn(catalog, b2, 2, stats_table="gstats",
                              stats_group_by=("source",), **LSH)

    stats = committed_corpus(catalog, "gstats")
    rows = {(r["__batch"], r.source): r["n_docs"]
            for r in stats.collect()}
    assert rows == {(1, "web"): 1, (1, "books"): 1, (2, "web"): 2}

    # grouped merge over the committed window == per-source doc counts
    est = sketch_estimates(merge_corpus_sketches(stats,
                                                 group_by=["source"]))
    assert {(r.source, r.n_docs) for r in est.collect()} == \
        {("web", 3), ("books", 1)}

    # per-source drift between the two batch windows: books vanished
    rep = {r.source: r for r in drift_report(
        stats.filter("__batch = 1"), stats.filter("__batch = 2"),
        group_by=["source"]).collect()}
    assert rep["books"].n_docs_win == 0
    assert rep["web"].n_docs_base == 1 and rep["web"].n_docs_win == 2


def test_txn_drift_alerts_commit_with_batches(spark, catalog):
    """alerts_table=: each batch's stats are diffed against the
    trailing committed baseline window and flag_drift lands in the
    batch's own partition under the SAME ledger commit — exactly-once
    alerts, sketch rows only; the first batch (no committed baseline)
    writes no alert row."""
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        apply_dedup_increment_txn,
        committed_corpus,
    )

    assert build_dedup_index(catalog, _docs(spark, BASE),
                             stream_index=True, **LSH) == 3
    calm = [(100 + i, f"steady words about topic {i} run") for i in
            range(6)]
    flood = [(200 + i, "flood flood flood flood flood flood flood")
             for i in range(20)]
    kw = dict(stats_table="stats", alerts_table="alerts",
              drift_baseline_batches=5, **LSH)
    apply_dedup_increment_txn(catalog, _docs(spark, calm), 1, **kw)
    # batch 1 had no committed baseline: no alert row
    assert not catalog.exists("alerts") or \
        committed_corpus(catalog, "alerts").count() == 0
    apply_dedup_increment_txn(catalog, _docs(spark, flood), 2, **kw)
    alerts = committed_corpus(catalog, "alerts")
    rows = alerts.collect()
    assert [r["__batch"] for r in rows] == [2]
    # the near-dup stage already collapsed the flood to one accepted
    # doc (so no dup-rate alert — the stream PREVENTED the dups); the
    # replaced token mix is what survives to fire
    assert rows[0].flag_top_token_jaccard and rows[0].any_alert

    # replay of a committed batch is a no-op (no duplicate alert rows)
    apply_dedup_increment_txn(catalog, _docs(spark, flood), 2, **kw)
    assert committed_corpus(catalog, "alerts").count() == 1


def test_txn_refresh_skipping_policy(spark, catalog):
    """refresh_skipping=False in the txn defers sidecar maintenance
    (stale = read-safe, skips less); an explicit
    catalog.refresh_skipping catches the index up — the every-N-batches
    policy run_incremental_dedup_stream(refresh_skipping_every=N)
    implements."""
    from apsviz_timeseriesdb_ingest_spark.sources.skipping import (
        build_skipping, read_between, zm_table)
    from apsviz_timeseriesdb_ingest_spark.sources.zonemap import (
        list_parquet_files)
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        apply_dedup_increment_txn)

    assert build_dedup_index(catalog, _docs(spark, BASE),
                             stream_index=True, **LSH) == 3
    apply_dedup_increment_txn(
        catalog, _docs(spark, [(51, "first deferred batch body")]), 1,
        refresh_skipping=False, **LSH)
    build_skipping(catalog, "stream_corpus", range_cols=["doc_id"])
    covered = {r.file for r in catalog.read(zm_table("stream_corpus"))
               .select("file").collect()}
    apply_dedup_increment_txn(
        catalog, _docs(spark, [(52, "second deferred batch body")]), 2,
        refresh_skipping=False, **LSH)
    now = {r.file for r in catalog.read(zm_table("stream_corpus"))
           .select("file").collect()}
    assert now == covered  # deferred: stats untouched by batch 2
    # reads stay correct against the stale index
    assert read_between(catalog, "stream_corpus", "doc_id",
                        52, 52).count() == 1
    catalog.refresh_skipping("stream_corpus")  # the every-N catch-up
    assert {r.file for r in catalog.read(zm_table("stream_corpus"))
            .select("file").collect()} == \
        set(list_parquet_files(catalog.path("stream_corpus")))
