"""Shuffled centroid-TABLE assignment (llm/similarity.CentroidTable) —
the assignment ladder's LAST rung (r7 verdict task 1): past
k·dim ≈ TABLE_FROM_KDIM the CentroidIndex broadcast frame stops being
comfortable, so the centroids become a regular multi-row DataFrame and
assignment becomes an exchange (explode-to-coarse-cell → shuffled hash
equi-join → max_by partial-agg argmin — the ivf_assign shape
generalized to trained centroids not drawn from the corpus).

Contract pinned here:
- probe-everything mode reproduces the flat literal argmin BIT-FOR-BIT
  (same cosine, same struct(sim, -cid) total order, zero-norm→0 pin);
- every input row comes back exactly once at any nprobe;
- the fine stage is a SHUFFLED join — the centroid table is never
  broadcast (that bound is the reason the rung exists);
- semantic_dedup / train_kmeans /
  semantic_dedup_auto compose with it through the same ``index=`` /
  ladder-selection seams as the CentroidIndex.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
    CentroidIndex,
    CentroidTable,
    kmeans_assign,
    semantic_dedup,
    train_kmeans,
    with_centroid_cell,
)


def _vectors(spark, n=300, dim=16, k_blobs=24, seed=7, with_zero=True):
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
    tbl = CentroidTable(cents, nprobe=10**6)  # clamped to len(coarse)
    assert tbl.nprobe == len(tbl.coarse)
    flat = {r.vec_id: r.centroid_id for r in kmeans_assign(df, cents).collect()}
    via = {r.vec_id: r.centroid_id
           for r in kmeans_assign(df, cents, index=tbl).collect()}
    assert via == flat
    # the zero vector fell to centroid 0 (the candidate set need not
    # contain cid 0 — the pin is explicit in CentroidTable.assign)
    assert via[300] == 0


def test_probe_all_matches_centroid_index(spark):
    """Same centroids, same probe-everything: the broadcast-index rung
    and the table rung agree row-for-row (both equal the literal)."""
    df = _vectors(spark, n=200, k_blobs=12)
    cents = _centroids(spark, df, k=12)
    idx = CentroidIndex(cents, nprobe=10**6)
    tbl = CentroidTable(cents, nprobe=10**6)
    a = {r.vec_id: r.centroid_id
         for r in kmeans_assign(df, cents, index=idx).collect()}
    b = {r.vec_id: r.centroid_id
         for r in kmeans_assign(df, cents, index=tbl).collect()}
    assert a == b


def test_default_probe_agreement_on_clustered_data(spark):
    df = _vectors(spark)
    cents = _centroids(spark, df)
    tbl = CentroidTable(cents)  # default nprobe=8
    flat = {r.vec_id: r.centroid_id for r in kmeans_assign(df, cents).collect()}
    via = {r.vec_id: r.centroid_id
           for r in kmeans_assign(df, cents, index=tbl).collect()}
    agree = sum(via[i] == flat[i] for i in flat) / len(flat)
    assert agree >= 0.95, agree


def test_every_row_back_exactly_once_any_nprobe(spark):
    df = _vectors(spark, n=150)
    cents = _centroids(spark, df)
    for nprobe in (1, 2, 8):
        out = kmeans_assign(df, cents,
                            index=CentroidTable(cents, nprobe=nprobe))
        rows = out.collect()
        assert len(rows) == 151
        assert len({r.vec_id for r in rows}) == 151


def test_plan_is_shuffled_join_never_broadcasts_table(spark):
    """The fine stage must be a shuffled hash join (r7 verdict task 1
    'done' criterion): the __ccell join against the k-sized centroid
    table is an exchange, never a broadcast — the whole point of the
    rung. (Joins NOT carrying the table — e.g. the id join-back of the
    argmin winners — stay Catalyst's size-based business and may
    legitimately broadcast a small corpus side.)"""
    dim = 16
    r = random.Random(1)
    cents = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(512)]
    df = _vectors(spark, n=50, dim=dim, with_zero=False)

    tbl = CentroidTable(cents)
    assert len(tbl.coarse) <= 150  # literal-coarse branch
    # simple plan string keeps the join keys on the node line
    plan = (kmeans_assign(df, cents, index=tbl)
            ._jdf.queryExecution().executedPlan().toString())
    fine = [ln for ln in plan.splitlines()
            if "Join" in ln and "__ccell" in ln]
    assert fine and all("ShuffledHashJoin" in ln for ln in fine), fine
    assert "BroadcastHashJoin [__ccell" not in plan
    # no k x dim literal matrix in the plan: the literal part is the
    # COARSE probe only (≤ sqrt(8k), capped at COARSE_LIT_MAX), so the
    # text stays ~55 KB here where a 512 x 16 literal argmin would be
    # several hundred KB (bound loose on purpose — formatted plans grow
    # a little with session-cumulative node ids, which tripped the old
    # 60 KB bound in full-suite runs)
    assert len(plan) < 150_000, len(plan)


def test_indexed_coarse_probe_branch(spark):
    """Past COARSE_LIT_MAX coarse centroids the per-row probe routes
    through a small CentroidIndex over the COARSE level (broadcast of
    sqrt(k)·dim — allowed; the k-sized fine table still is not). With
    probe-everything at BOTH levels the result is still the exact
    literal argmin."""
    df = _vectors(spark, n=120, dim=8, k_blobs=16)
    r = random.Random(3)
    cents = [[r.gauss(0, 1) for _ in range(8)] for _ in range(200)]
    tbl = CentroidTable(cents, coarse_k=160, nprobe=10**6)
    assert len(tbl.coarse) > 150
    # probe everything at the coarse-index level too (white-box: the
    # default internal nprobe=8 is the compounded approximation)
    tbl._coarse_index = CentroidIndex(tbl.coarse, nprobe=10**6)
    flat = {r_.vec_id: r_.centroid_id
            for r_ in kmeans_assign(df, cents).collect()}
    via = {r_.vec_id: r_.centroid_id
           for r_ in kmeans_assign(df, cents, index=tbl).collect()}
    assert via == flat
    # and the plan broadcasts only the coarse index, never the table
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        kmeans_assign(df, cents, index=tbl).explain("formatted")
    plan = buf.getvalue()
    assert "ShuffledHashJoin" in plan


def test_with_centroid_cell_table_requires_id_col(spark):
    df = _vectors(spark, n=20, with_zero=False)
    cents = _centroids(spark, df, k=4)
    v = df.select(F.col("vec_id").alias("id"),
                  F.col("embedding").alias("vec"))
    v = v.withColumn("nrm", F.sqrt(F.aggregate(
        F.transform("vec", lambda x: x * x), F.lit(0.0),
        lambda a, b: a + b)))
    with pytest.raises(ValueError, match="id_col"):
        with_centroid_cell(v, CentroidTable(cents))


def test_semantic_dedup_with_table_matches_literal(spark):
    df = _vectors(spark, n=200, k_blobs=12)
    dups = df.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    corpus = df.unionByName(dups)
    cents = _centroids(spark, corpus, k=12)
    tbl = CentroidTable(cents, nprobe=10**6)
    base = sorted(r.vec_id for r in
                  semantic_dedup(corpus, cents, threshold=0.99).collect())
    via = sorted(r.vec_id for r in
                 semantic_dedup(corpus, cents, threshold=0.99,
                                index=tbl).collect())
    assert via == base
    assert len(base) < corpus.count()


def test_train_kmeans_table_rung_probe_all_matches_exact(spark):
    """Per-iteration TABLE assignment with probe-everything is the exact
    literal assignment, so training converges to identical centroids
    (table_from_kdim=1 forces every two-level iteration onto the table
    rung)."""
    df = _vectors(spark, n=150, dim=8, k_blobs=6, with_zero=False)
    exact = train_kmeans(df, k=6, iters=4, two_level_from=None)
    via = train_kmeans(df, k=6, iters=4, two_level_from=1,
                       index_kw={"nprobe": 10**6}, table_from_kdim=1)
    assert np.allclose(np.array(exact), np.array(via), atol=0.0)


def test_semantic_dedup_auto_selects_table_past_bound(spark):
    """semantic_dedup_auto with the broadcast bound forced to 1 routes
    both training and dedup assignment through the table rung and
    still returns the hand-composed literal result (probe-all)."""
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
        index_from=1, index_kw={"nprobe": 10**6},
        table_from_kdim=1).collect())
    assert auto == hand
    assert len(auto) < n


def test_probe_and_assign_matches_literal_probe(spark):
    """probe_and_assign's top-nprobe fine-cell lists equal the literal
    probe_cells_expr output (probe-everything), its cell equals the
    literal argmin (and probes[0]), and zero-norm rows pin to cell 0
    with the literal path's [0..nprobe-1] list."""
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        _centroid_argmin_expr,
        _norm,
        probe_cells_expr,
    )

    df = _vectors(spark, n=100, dim=8, k_blobs=10)  # includes zero row
    cents = _centroids(spark, df, k=10)
    tbl = CentroidTable(cents, nprobe=10**6)
    v = (df.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("vec"))
         .withColumn("nrm", _norm(F.col("vec"))))
    lit = {r.vec_id: (r.cell, list(r.p)) for r in v.select(
        "vec_id",
        _centroid_argmin_expr(cents, F.col("vec"), F.col("nrm"))
        .alias("cell"),
        probe_cells_expr(cents, F.col("vec"), F.col("nrm"),
                         nprobe=3).alias("p")).collect()}
    got = {r.vec_id: (r.cell, list(r.probes)) for r in
           tbl.probe_and_assign(v, id_col="vec_id", nprobe=3).collect()}
    assert got == lit
    assert all(cell == probes[0] for cell, probes in got.values())
    assert got[100] == (0, [0, 1, 2])  # the zero-norm row


def test_hostile_vectors_match_literal(spark):
    """Zero vectors, NaN/Inf components, exact duplicates, k=1 and
    dim=1 degenerate tables: the table rung stays total (no ANSI
    aborts, every row back once) and probe-everything still equals the
    literal argmin — the hostile sweep the literal/index rungs already
    pass, applied to the shuffled rung."""
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import _norm

    dim = 8
    rows = [
        (1, [0.0] * dim),                          # zero vector
        (2, [float("nan")] + [1.0] * (dim - 1)),   # NaN component
        (3, [float("inf")] + [1.0] * (dim - 1)),   # Inf component
        (4, [1.0] + [0.0] * (dim - 1)),
        (5, [1.0] + [0.0] * (dim - 1)),            # exact duplicate
        (6, [-0.5] * dim),
        (7, [float(i) for i in range(dim)]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0 if i == a else 0.0 for i in range(dim)]
             for a in range(4)]
    tbl = CentroidTable(cents, nprobe=10**6)
    flat = {r.vec_id: r.centroid_id for r in kmeans_assign(vecs, cents).collect()}
    via = {r.vec_id: r.centroid_id
           for r in kmeans_assign(vecs, cents, index=tbl).collect()}
    assert via == flat and len(via) == 7
    assert all(v is not None for v in via.values())
    assert via[1] == 0  # zero-norm pin

    # degenerate shapes: one centroid; one dimension
    one = CentroidTable([[1.0, 0.0]], nprobe=3)
    v2 = spark.createDataFrame([(1, [3.0, 4.0]), (2, [0.0, 0.0])],
                               "vec_id long, embedding array<double>")
    got = {r.vec_id: r.centroid_id
           for r in kmeans_assign(v2, [[1.0, 0.0]], index=one).collect()}
    assert got == {1: 0, 2: 0}
    d1 = CentroidTable([[1.0], [-1.0]], nprobe=10**6)
    v1 = spark.createDataFrame([(1, [2.5]), (2, [-0.5]), (3, [0.0])],
                               "vec_id long, embedding array<double>")
    lit1 = {r.vec_id: r.centroid_id
            for r in kmeans_assign(v1, [[1.0], [-1.0]]).collect()}
    via1 = {r.vec_id: r.centroid_id
            for r in kmeans_assign(v1, [[1.0], [-1.0]], index=d1).collect()}
    assert via1 == lit1

    # probe_and_assign totality on the same hostile frame
    v = (vecs.select("vec_id",
                     F.col("embedding").cast("array<double>").alias("vec"))
         .withColumn("nrm", _norm(F.col("vec"))))
    pa = tbl.probe_and_assign(v, id_col="vec_id", nprobe=2).collect()
    assert len(pa) == 7
    assert all(r.cell is not None and len(r.probes) >= 1 for r in pa)


def test_training_sample_deterministic_and_bounded(spark):
    """_training_sample keeps training ~one corpus pass (r7 verdict
    task 1b): id-hash-based (same rows on ANY partitioning), engages
    only when it shrinks the input, size ≈ per_centroid·k."""
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        _training_sample,
    )

    df = _vectors(spark, n=2000, dim=4, k_blobs=8, with_zero=False)
    s1 = _training_sample(df, n=2000, k=4, id_col="vec_id", per_centroid=100)
    ids1 = sorted(r.vec_id for r in s1.collect())
    # same rows regardless of layout
    s2 = _training_sample(df.repartition(13), n=2000, k=4,
                          id_col="vec_id", per_centroid=100)
    assert sorted(r.vec_id for r in s2.collect()) == ids1
    # m = 2000 // 400 = 5 → ~1/5 of the corpus
    assert 250 <= len(ids1) <= 550, len(ids1)
    # no-op when the corpus is already <= the target sample
    s3 = _training_sample(df, n=2000, k=100, id_col="vec_id",
                          per_centroid=100)
    assert s3 is df


def test_auto_training_cost_is_sampled(spark):
    """The auto verb trains on the hash sample: train_kmeans sees
    ~n/(per_centroid·k)-fraction input. Verified structurally — the
    sample filter appears in the plan only when sampling engages."""
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        _training_sample,
    )

    df = _vectors(spark, n=1200, dim=4, k_blobs=4, with_zero=False)
    # k=2, per_centroid=100 → m=6 → sample engages
    s = _training_sample(df, n=1200, k=2, id_col="vec_id", per_centroid=100)
    assert s is not df
    assert "pmod" in s._jdf.queryExecution().analyzed().toString()
