"""Two-level table-backed centroid assignment (llm/similarity.
CentroidIndex) — the large-k regime the literal argmin projection
cannot reach (r6 verdict task 1: ``semantic_k(n) = n/500`` grows k with
the corpus, but `_centroid_argmin_expr` is O(k·dim) codegen literals).

Contract pinned here:
- probe-everything mode reproduces the flat literal argmin BIT-FOR-BIT
  (same fold order, tie-break, zero-norm convention);
- default probing agrees with the exact argmin on clustered data;
- the plan is constant-size in k, broadcast-join-backed, shuffle-free;
- semantic_dedup / train_kmeans compose with it.
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
    CentroidIndex,
    kmeans_assign,
    semantic_dedup,
    train_kmeans,
)


def _vectors(spark, n=300, dim=16, k_blobs=24, seed=7, with_zero=True):
    """Clustered unit-ish vectors around k_blobs random directions, plus
    one all-zero vector (the zero-norm convention row)."""
    r = random.Random(seed)
    dirs = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(k_blobs)]
    rows = []
    for i in range(n):
        d = dirs[i % k_blobs]
        rows.append((i, [x + r.gauss(0, 0.05) for x in d]))
    if with_zero:
        rows.append((n, [0.0] * dim))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _centroids(spark, df, k=24):
    return train_kmeans(df, k=k, iters=4, two_level_from=None)


def test_probe_all_matches_literal_bitwise(spark):
    df = _vectors(spark)
    cents = _centroids(spark, df)
    idx = CentroidIndex(cents, nprobe=10**6)  # clamped to len(coarse)
    assert idx.nprobe == len(idx.coarse)
    flat = {r.vec_id: r.centroid_id for r in kmeans_assign(df, cents).collect()}
    two = {r.vec_id: r.centroid_id
           for r in kmeans_assign(df, cents, index=idx).collect()}
    assert two == flat
    # the zero vector fell to centroid 0 on both paths
    assert two[300] == 0


def test_default_probe_agreement_on_clustered_data(spark):
    df = _vectors(spark)
    cents = _centroids(spark, df)
    idx = CentroidIndex(cents)  # default nprobe=8
    flat = {r.vec_id: r.centroid_id for r in kmeans_assign(df, cents).collect()}
    two = {r.vec_id: r.centroid_id
           for r in kmeans_assign(df, cents, index=idx).collect()}
    agree = sum(two[i] == flat[i] for i in flat) / len(flat)
    assert agree >= 0.95, agree


def test_index_partitions_every_fine_centroid_once(spark):
    cents = _centroids(spark, _vectors(spark))
    idx = CentroidIndex(cents)
    seen = sorted(cid for cells in idx.groups.values()
                  for cid, _, _ in cells)
    assert seen == list(range(len(cents)))
    assert set(idx.groups) == set(range(len(idx.coarse)))


def test_plan_constant_size_and_shuffle_free(spark):
    """At k=1024 the literal projection would be ~1024*16 literal terms;
    the indexed plan must stay small, carry the centroids as a
    BROADCAST relation, and introduce no shuffle exchange."""
    dim = 16
    r = random.Random(1)
    cents = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(1024)]
    df = _vectors(spark, n=50, dim=dim, with_zero=False)
    import contextlib
    import io

    idx = CentroidIndex(cents)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        kmeans_assign(df, cents, index=idx).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan
    assert len(plan) < 60_000, len(plan)


def test_semantic_dedup_with_index_matches_literal(spark):
    df = _vectors(spark, n=200, k_blobs=12)
    # duplicate a few rows under new ids: guaranteed dup groups
    dups = df.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    corpus = df.unionByName(dups)
    cents = _centroids(spark, corpus, k=12)
    idx = CentroidIndex(cents, nprobe=10**6)
    base = sorted(r.vec_id for r in
                  semantic_dedup(corpus, cents, threshold=0.99).collect())
    via = sorted(r.vec_id for r in
                 semantic_dedup(corpus, cents, threshold=0.99,
                                index=idx).collect())
    assert via == base
    assert len(base) < corpus.count()  # the dups actually collapsed


def test_train_kmeans_two_level_probe_all_matches_exact(spark):
    """Per-iteration two-level assignment with probe-everything is the
    exact literal assignment, so training converges identically."""
    df = _vectors(spark, n=150, dim=8, k_blobs=6, with_zero=False)
    exact = train_kmeans(df, k=6, iters=4, two_level_from=None)
    two = train_kmeans(df, k=6, iters=4, two_level_from=1,
                       index_kw={"nprobe": 10**6})
    assert np.allclose(np.array(exact), np.array(two), atol=0.0)


def test_probe_expr_indexed_probe_all_matches_literal(spark):
    """probe_cells_expr_indexed with probe-everything returns the same
    nprobe fine-cell lists as the literal probe_cells_expr for nonzero
    vectors (same sims, same tie-break)."""
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        _norm,
        probe_cells_expr,
        probe_cells_expr_indexed,
    )

    df = _vectors(spark, n=100, dim=8, k_blobs=10, with_zero=False)
    cents = _centroids(spark, df, k=10)
    idx = CentroidIndex(cents, nprobe=10**6)
    v = (df.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("vec"))
         .withColumn("nrm", _norm(F.col("vec"))))
    lit_probe = {r.vec_id: list(r.p) for r in v.select(
        "vec_id", probe_cells_expr(cents, F.col("vec"), F.col("nrm"),
                                   nprobe=3).alias("p")).collect()}
    via = (v.crossJoin(F.broadcast(idx.frame(spark)))
           .select("vec_id", probe_cells_expr_indexed(
               idx, F.col("vec"), F.col("nrm"), nprobe=3).alias("p")))
    idx_probe = {r.vec_id: list(r.p) for r in via.collect()}
    assert idx_probe == lit_probe


def test_semantic_dedup_auto_one_verb(spark):
    """semantic_dedup_auto = train_kmeans(semantic_k) + optional index +
    semantic_dedup, in one call; with index_from forcing the indexed
    path (probe-all) it returns the hand-composed literal result."""
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        semantic_dedup_auto,
        semantic_k,
    )

    df = _vectors(spark, n=200, k_blobs=12, with_zero=False)
    dups = df.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    corpus = df.unionByName(dups)
    n = corpus.count()
    k = semantic_k(n, 20)
    hand = sorted(r.vec_id for r in semantic_dedup(
        corpus, train_kmeans(corpus, k=k, iters=10),
        threshold=0.99).collect())
    auto = sorted(r.vec_id for r in semantic_dedup_auto(
        corpus, threshold=0.99, target_cell=20,
        index_from=1, index_kw={"nprobe": 10**6}).collect())
    assert auto == hand
    assert len(auto) < n
