"""Reliable-checkpoint seam for iterative operators (r3 verdict task 2):
the catalog-table lineage cut produces IDENTICAL results to the
localCheckpoint path, writes the promised durable tables, and honors the
every-k cadence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.operators.itercheckpoint import (
    LineageCutter,
)
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog


def _edges(spark):
    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)] + \
        [("hub", f"n{i}") for i in range(0, 23, 2)]
    return spark.createDataFrame(pairs, "src string, dst string")


def test_cutter_slots_alternate_and_every(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cut = LineageCutter(cat, prefix="it", every=2)
    df = spark.range(5)
    cut(df, "s")          # count 0 -> table slot 0
    cut(df, "s")          # count 1 -> localCheckpoint (no new table)
    cut(df, "s")          # count 2 -> table slot 1
    cut(df, "s")          # count 3 -> local
    cut(df, "s")          # count 4 -> table slot 0 again (overwrite)
    assert cat.exists("it_s_0") and cat.exists("it_s_1")
    assert not cat.exists("it_s_2")
    # distinct state names get distinct tables
    cut(df, "other")
    assert cat.exists("it_other_0")
    with pytest.raises(ValueError):
        LineageCutter(cat, every=0)


def test_pagerank_catalog_checkpoint_identical(spark, tmp_path):
    from apsviz_timeseriesdb_ingest_spark.llm.graph import pagerank

    edges = _edges(spark)
    base = {r.node: r.rank for r in pagerank(edges, iters=8).collect()}
    cat = Catalog(spark, str(tmp_path / "wh"))
    via_tables = {r.node: r.rank
                  for r in pagerank(edges, iters=8,
                                    checkpoint_catalog=cat,
                                    checkpoint_every=3).collect()}
    # decimal-summed update => bit-identical, not merely close
    assert base == via_tables
    # the durable state tables exist on shared storage
    for t in ("pagerank_edges_0", "pagerank_ranks_0", "pagerank_ranks_1"):
        assert cat.exists(t), t
    assert os.listdir(cat.path("pagerank_ranks_0"))


def test_neardup_clusters_catalog_checkpoint_identical(spark, tmp_path):
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import neardup_clusters

    # two components + a chain (exercises several CC rounds)
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12),
             (20, 21), (5, 4), (6, 5), (7, 6)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    base = {(r.doc_id, r.cluster_id)
            for r in neardup_clusters(df).collect()}
    cat = Catalog(spark, str(tmp_path / "wh"))
    for algo in ("star", "label"):
        got = {(r.doc_id, r.cluster_id)
               for r in neardup_clusters(df, algorithm=algo,
                                         checkpoint_catalog=cat,
                                         checkpoint_prefix=f"cc_{algo}")
               .collect()}
        assert got == base, algo
        assert cat.exists(f"cc_{algo}_edges_0")
    assert cat.exists("cc_star_work_0")
    assert cat.exists("cc_label_labels_0")


def test_cross_corpus_neardup_catalog_checkpoint_identical(spark, tmp_path):
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
        cross_corpus_neardup,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "an entirely different sentence about spark catalysts"),
         (3, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string")
    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    base = {(r.doc_id, r.neardup_of_reference, r.best_jaccard)
            for r in cross_corpus_neardup(corpus, ref).collect()}
    cat = Catalog(spark, str(tmp_path / "wh"))
    got = {(r.doc_id, r.neardup_of_reference, r.best_jaccard)
           for r in cross_corpus_neardup(
               corpus, ref, checkpoint_catalog=cat).collect()}
    assert got == base
    assert cat.exists("xcorpus_cand_0")


def test_pagerank_resume_from_progress_table(spark, tmp_path):
    """Driver-loss recovery: a run killed after iteration k resumes
    from the {prefix}_progress row + slot tables and finishes
    bit-identical to an uninterrupted run."""
    from apsviz_timeseriesdb_ingest_spark.llm.graph import pagerank

    edges = _edges(spark)
    full = {r.node: r.rank for r in pagerank(edges, iters=9).collect()}

    cat = Catalog(spark, str(tmp_path / "wh"))
    # "crashed" run: completed only 4 of 9 iterations before dying
    pagerank(edges, iters=4, checkpoint_catalog=cat).collect()
    prog = cat.read("pagerank_progress").collect()[0]
    assert prog["iter"] == 4 and prog["table"].startswith("pagerank_ranks_")

    resumed = {r.node: r.rank
               for r in pagerank(edges, iters=9, checkpoint_catalog=cat,
                                 resume=True).collect()}
    assert resumed == full
    assert cat.read("pagerank_progress").collect()[0]["iter"] == 9

    # resume with nothing left to do returns the stored state unchanged
    again = {r.node: r.rank
             for r in pagerank(edges, iters=9, checkpoint_catalog=cat,
                               resume=True).collect()}
    assert again == full

    # resume without a progress table just runs fresh
    cat2 = Catalog(spark, str(tmp_path / "wh2"))
    fresh = {r.node: r.rank
             for r in pagerank(edges, iters=9, checkpoint_catalog=cat2,
                               resume=True).collect()}
    assert fresh == full

    import pytest as _pytest
    with _pytest.raises(ValueError, match="requires checkpoint_catalog"):
        pagerank(edges, iters=2, resume=True)


def test_pagerank_resume_round_trip(spark, tmp_path):
    """Resume reads the progress row, the edges slot and the ranks slot
    only: a run stopped after 1 of 3 passes resumes to exactly the
    serial reference's ranks (the shared decimal grid makes them
    bit-identical on this graph)."""
    from apsviz_timeseriesdb_ingest_spark.llm.graph import _pagerank_py, pagerank

    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    cat = Catalog(spark, str(tmp_path / "wh"))
    pagerank(edges, iters=1, checkpoint_catalog=cat).collect()
    resumed = {r.node: r.rank
               for r in pagerank(edges, iters=3, checkpoint_catalog=cat,
                                 resume=True).collect()}
    assert resumed == _pagerank_py(pairs, iters=3)
    assert cat.read("pagerank_progress").collect()[0]["iter"] == 3


def test_pagerank_resume_respects_every_k(spark, tmp_path):
    """With checkpoint_every=3, progress tracks only durable writes;
    resuming replays the missing rounds and still matches exactly."""
    from apsviz_timeseriesdb_ingest_spark.llm.graph import pagerank

    edges = _edges(spark)
    full = {r.node: r.rank for r in pagerank(edges, iters=8).collect()}
    cat = Catalog(spark, str(tmp_path / "wh"))
    pagerank(edges, iters=5, checkpoint_catalog=cat,
             checkpoint_every=3).collect()
    # durable writes happened at iterations 1 and 4 only
    assert cat.read("pagerank_progress").collect()[0]["iter"] == 4
    resumed = {r.node: r.rank
               for r in pagerank(edges, iters=8, checkpoint_catalog=cat,
                                 checkpoint_every=3,
                                 resume=True).collect()}
    assert resumed == full


def test_pagerank_resume_rejects_shorter_iters(spark, tmp_path):
    from apsviz_timeseriesdb_ingest_spark.llm.graph import pagerank

    cat = Catalog(spark, str(tmp_path / "wh"))
    edges = _edges(spark)
    pagerank(edges, iters=5, checkpoint_catalog=cat).collect()
    with pytest.raises(ValueError, match="further along"):
        pagerank(edges, iters=3, checkpoint_catalog=cat, resume=True)


@pytest.mark.parametrize("algorithm", ["star", "label"])
def test_neardup_clusters_resume(spark, tmp_path, algorithm):
    """Driver-loss recovery for near-dup connected components: a run
    that dies mid-rounds (simulated by a too-small max_iters budget,
    which raises AFTER recording durable progress) resumes from the
    {prefix}_progress row + state slot table and produces the identical
    clustering."""
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import neardup_clusters

    # a 33-node path graph: label propagation needs ~diameter rounds,
    # star needs ~log2(n) — both need > 2
    pairs = spark.createDataFrame([(i, i + 1) for i in range(33)],
                                  "doc_a long, doc_b long")
    full = {r.doc_id: r.cluster_id
            for r in neardup_clusters(pairs, algorithm=algorithm,
                                      max_iters=40).collect()}
    assert set(full.values()) == {0}

    cat = Catalog(spark, str(tmp_path / "wh"))
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(pairs, algorithm=algorithm, max_iters=2,
                         checkpoint_catalog=cat)
    prog = cat.read("neardup_cc_progress").collect()[0]
    assert prog["round"] == 2

    resumed = {r.doc_id: r.cluster_id
               for r in neardup_clusters(pairs, algorithm=algorithm,
                                         max_iters=40,
                                         checkpoint_catalog=cat,
                                         resume=True).collect()}
    assert resumed == full

    # resume with a satisfied budget re-verifies convergence and
    # returns the same clustering
    again = {r.doc_id: r.cluster_id
             for r in neardup_clusters(pairs, algorithm=algorithm,
                                       max_iters=40,
                                       checkpoint_catalog=cat,
                                       resume=True).collect()}
    assert again == full

    with pytest.raises(ValueError, match="requires checkpoint_catalog"):
        neardup_clusters(pairs, algorithm=algorithm, resume=True)
