"""Table-RESIDENT centroid state (r8 verdict task 1): the assignment
ladder's top rung. ``CentroidTable.from_frame`` builds the shuffled
rung from a centroid DATAFRAME without ever collecting or broadcasting
a k-sized structure, and ``train_kmeans_table`` keeps the whole
training loop's per-iteration state in a frame (seeds via hash-rank
enumeration, update via an in-plan aggregate, no k x (dim+1) collect).

Contract pinned here:
- from_frame probe-everything == the flat literal argmin (bit-for-bit)
  and == the driver-held CentroidTable at any coarse sampling;
- below the sample bound, from_frame is bit-identical to the list
  constructor at EVERY probe setting (sample = the whole frame);
- train_kmeans_table(seed_frame=train_kmeans's seeds, probe_all=True)
  reproduces train_kmeans bit-for-bit on exact-arithmetic vectors;
- hash-rank seeds are dense 0..k-1 and partitioning-independent;
- NULL ids raise loudly instead of silently vanishing (r8 ADVICE);
- the fine join stays a shuffled hash join; frame() is a distributed
  plan over the source frame, not a driver serialization.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
    CentroidIndex,
    CentroidTable,
    _centroid_argmin_expr,
    _hash_rank_seed_frame,
    _norm,
    semantic_dedup,
    semantic_dedup_auto,
    train_kmeans,
    train_kmeans_table,
)


def _vectors(spark, n=200, dim=8, k_blobs=12, seed=7, with_zero=True):
    r = random.Random(seed)
    dirs = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(k_blobs)]
    rows = [(i, [x + r.gauss(0, 0.05) for x in dirs[i % k_blobs]])
            for i in range(n)]
    if with_zero:
        rows.append((n, [0.0] * dim))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _v(df):
    return (df.select(F.col("vec_id").alias("id"),
                      F.col("embedding").cast("array<double>").alias("vec"))
            .withColumn("nrm", _norm(F.col("vec"))))


def _cent_frame(spark, cents):
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, cvec array<double>")


def _assign_map(tbl, v, **kw):
    return {r.id: r.cell for r in
            tbl.assign(v, id_col="id", **kw).select("id", "cell").collect()}


def test_from_frame_probe_all_matches_literal_bitwise(spark):
    df = _vectors(spark)
    cents = train_kmeans(df, k=12, iters=3, two_level_from=None)
    v = _v(df)
    lit = {r.id: r.cell for r in
           v.withColumn("cell", _centroid_argmin_expr(
               cents, F.col("vec"), F.col("nrm")))
           .select("id", "cell").collect()}
    tbl = CentroidTable.from_frame(_cent_frame(spark, cents), nprobe=10**6)
    assert _assign_map(tbl, v) == lit


def test_from_frame_bit_identical_to_list_ctor_below_sample_bound(spark):
    """Sample == whole frame below FRAME_SAMPLE_MAX, so the coarse
    level — and therefore every default-probe result — matches the
    driver-held constructor exactly."""
    df = _vectors(spark)
    cents = train_kmeans(df, k=12, iters=3, two_level_from=None)
    v = _v(df)
    a = _assign_map(CentroidTable(cents), v)
    b = _assign_map(CentroidTable.from_frame(_cent_frame(spark, cents)), v)
    assert a == b


def test_from_frame_sampled_coarse_probe_all_still_exact(spark, monkeypatch):
    """Force the coarse-training sample bound far below k: the coarse
    grouping now differs from the driver path, but probe-everything is
    still the exact argmin — matching the driver table's probe-all."""
    monkeypatch.setattr(CentroidTable, "FRAME_SAMPLE_MAX", 16)
    df = _vectors(spark, n=120, with_zero=True)
    r = random.Random(3)
    cents = [[r.gauss(0, 1) for _ in range(8)] for _ in range(64)]
    v = _v(df)
    driver = CentroidTable(cents, nprobe=10**6)
    framed = CentroidTable.from_frame(_cent_frame(spark, cents),
                                      nprobe=10**6)
    assert _assign_map(framed, v) == _assign_map(driver, v)
    # every row back exactly once at a small nprobe too
    few = framed.assign(v, id_col="id")
    assert few.count() == v.count()
    assert few.select("id").distinct().count() == v.count()


def test_from_frame_frame_is_distributed_not_serialized(spark):
    """frame() must derive from the source frame's plan (a real table
    read at scale), not a driver-side createDataFrame of k rows — and
    the fine stage stays a shuffled hash join (never broadcasts the
    k-sized side)."""
    k, dim = 2000, 8
    cf = spark.range(k).select(
        F.col("id").cast("int").alias("cid"),
        F.array(*[(F.col("id") * (j + 3) % 17 - 8).cast("double")
                  for j in range(dim)]).alias("cvec"))
    tbl = CentroidTable.from_frame(cf, k=k, dim=dim)
    plan = tbl.frame(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Range (0" in plan  # lineage reaches the source, no collect
    df = _vectors(spark, n=60, dim=dim, with_zero=False)
    asg = tbl.assign(_v(df), id_col="id")
    jplan = asg._jdf.queryExecution().executedPlan().toString()
    fine = [ln for ln in jplan.splitlines()
            if "Join" in ln and "__ccell" in ln]
    assert fine and all("ShuffledHashJoin" in ln for ln in fine), fine
    assert "BroadcastHashJoin [__ccell" not in jplan
    assert asg.count() == 60


def test_from_frame_zero_norm_pin_and_cent_col(spark):
    df = _vectors(spark, with_zero=True)
    cents = train_kmeans(df, k=8, iters=2, two_level_from=None)
    tbl = CentroidTable.from_frame(_cent_frame(spark, cents))
    v = _v(df)
    out = {r.id: r.cell for r in tbl.assign(v, id_col="id").collect()}
    zid = df.count() - 1  # the appended zero vector's id
    assert out[zid] == 0


def test_null_id_raises_instead_of_vanishing(spark):
    """r8 ADVICE: the join-back would silently drop a NULL-id row —
    the contract violation must be loud."""
    df = _vectors(spark, with_zero=False)
    cents = train_kmeans(df, k=8, iters=2, two_level_from=None)
    v = _v(df).withColumn(
        "id", F.when(F.col("id") == 5, F.lit(None)).otherwise(F.col("id")))
    tbl = CentroidTable(cents)
    with pytest.raises(Exception, match="non-null unique"):
        tbl.assign(v, id_col="id").count()


def test_train_kmeans_table_bit_parity_with_driver_loop(spark):
    """Pinned seeds + probe-everything + exact-arithmetic (integer)
    components: the table-resident loop reproduces the driver loop
    bit-for-bit (same sums, same _unit order, same empty-cluster
    keep)."""
    dim, k = 8, 6
    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(dim)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ref = train_kmeans(df, k=k, iters=4, two_level_from=None)
    seeds = spark.createDataFrame(
        [(i, vec) for i, (_, vec) in enumerate(sorted(rows)[:k])],
        "cid int, cvec array<double>")
    got = train_kmeans_table(df, k=k, iters=4, probe_all=True,
                             seed_frame=seeds)
    gm = {r.cid: list(r.cvec) for r in got.collect()}
    assert sorted(gm) == list(range(k))
    assert all(gm[i] == ref[i] for i in range(k))


def test_hash_rank_seeds_dense_and_layout_independent(spark):
    df = _vectors(spark, n=150, with_zero=False)
    k = 10
    a = {r.cid: list(r.cvec) for r in
         _hash_rank_seed_frame(_v(df), k, 150).collect()}
    b = {r.cid: list(r.cvec) for r in
         _hash_rank_seed_frame(_v(df.repartition(13)), k, 150).collect()}
    assert sorted(a) == list(range(k))
    assert a == b


def test_train_kmeans_table_k_exceeds_corpus_raises(spark):
    df = _vectors(spark, n=5, with_zero=False)
    with pytest.raises(ValueError, match="exceeds corpus size"):
        train_kmeans_table(df, k=50)


def test_semantic_dedup_auto_table_resident_rung(spark):
    """driver_kdim forced to 1 routes BOTH training and assignment
    through the table-resident path; result equals the hand-composed
    train_kmeans_table + from_frame + semantic_dedup, keeps a valid
    subset, and drops planted duplicates."""
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import semantic_k

    df = _vectors(spark, n=200, k_blobs=12, with_zero=False)
    dups = df.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    corpus = df.unionByName(dups)
    n = corpus.count()
    k = semantic_k(n, 20)
    kept = semantic_dedup_auto(
        corpus, threshold=0.99, target_cell=20,
        index_from=1, index_kw={"nprobe": 10**6},
        driver_kdim=1)
    auto = sorted(r.vec_id for r in kept.collect())
    # r10 (r9 ADVICE): the rung's constructed table rides along so the
    # caller can release the k x dim backing once materialized
    assert isinstance(kept.semantic_dedup_table, CentroidTable)
    kept.semantic_dedup_table.unpersist()
    cf = train_kmeans_table(corpus, k=k, iters=10, nprobe=10**6)
    tbl = CentroidTable.from_frame(cf, k=k, nprobe=10**6)
    hand = sorted(r.vec_id for r in semantic_dedup(
        corpus, None, threshold=0.99, index=tbl).collect())
    assert auto == hand
    assert len(auto) < n
    assert not [i for i in auto if i >= 10_000]  # planted dups dropped


def test_stream_frames_and_frame_caching(spark):
    """ADVICE r8: frame() must return the SAME object across calls
    (no per-micro-batch re-serialization), and stream_frames exposes
    the coarse index frame once the coarse level is indexed."""
    r = random.Random(5)
    cents16 = [[r.gauss(0, 1) for _ in range(4)] for _ in range(16)]
    idx = CentroidIndex(cents16)
    assert idx.frame(spark) is idx.frame(spark)
    tbl = CentroidTable(cents16)
    assert tbl.frame(spark) is tbl.frame(spark)
    assert tbl.stream_frames(spark) == [tbl.frame(spark)]
    big = CentroidTable.from_frame(
        spark.range(900).select(
            F.col("id").cast("int").alias("cid"),
            F.array(*[(((F.col("id") + 1) * (j * 37 + 13) * 48271)
                       % 2001 - 1000)
                      .cast("double") for j in range(4)]).alias("cvec")),
        k=900, dim=4, coarse_k=300)
    assert len(big.coarse) > 150
    frames = big.stream_frames(spark)
    assert len(frames) == 2
    assert frames[1] is big._coarse_index.frame(spark)


def test_train_kmeans_table_durable_resume_bit_identical(spark, tmp_path):
    """The repo's iterative-state contract applied to table-resident
    training: a run killed after 2 of 4 iterations resumes from the
    durable slot + progress pointer and produces centroids IDENTICAL
    to the uninterrupted run (exact-arithmetic vectors; hash-rank
    seeds are deterministic, so the interrupted run's state matches
    the uninterrupted run's at the same iteration)."""
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    dim, k = 8, 6
    rows = [(i, [float((i * 11 + j * 5) % 7 - 3) for j in range(dim)])
            for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ref = {r.cid: list(r.cvec) for r in
           train_kmeans_table(df, k=k, iters=4, probe_all=True).collect()}

    catalog = Catalog(spark, str(tmp_path / "wh"))
    # "crashed" run: only 2 of the 4 iterations complete
    train_kmeans_table(df, k=k, iters=2, probe_all=True,
                       checkpoint_catalog=catalog,
                       checkpoint_prefix="km").count()
    prog = catalog.read("km_progress").collect()[0]
    assert prog["iter"] == 2
    # resumed run continues at iteration 2 and lands on the same result
    got = {r.cid: list(r.cvec) for r in
           train_kmeans_table(df, k=k, iters=4, probe_all=True,
                              checkpoint_catalog=catalog,
                              checkpoint_prefix="km",
                              resume=True).collect()}
    assert got == ref
    # the resumed run advanced past the crash point (it may break
    # before iteration 4 on the tol early-stop, like the reference run)
    assert catalog.read("km_progress").collect()[0]["iter"] >= 3
    # resume without a catalog is a loud error, not a silent fresh run
    with pytest.raises(ValueError, match="requires checkpoint_catalog"):
        train_kmeans_table(df, k=k, resume=True)


def test_from_frame_from_stored_catalog_table(spark, tmp_path):
    """The 100 TB usage shape end-to-end: train -> write the centroid
    frame as a Catalog table -> read it back -> from_frame -> assign.
    The docstring promise ('a genuinely distributed-trained centroid
    set lands here as a real table read — same schema, same plan') as
    an actual parquet round-trip, probe-all equal to the literal
    argmin."""
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    df = _vectors(spark, n=150, with_zero=True)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    cent_frame = train_kmeans_table(df, k=10, iters=3)
    catalog.overwrite(cent_frame, "centroids")
    tbl = CentroidTable.from_frame(catalog.read("centroids"),
                                   nprobe=10**6)
    v = _v(df)
    cents = [list(r.cvec) for r in
             catalog.read("centroids").orderBy("cid").collect()]
    lit = {r.id: r.cell for r in
           v.withColumn("cell", _centroid_argmin_expr(
               cents, F.col("vec"), F.col("nrm")))
           .select("id", "cell").collect()}
    assert _assign_map(tbl, v) == lit
    # the frame plan reads the parquet table, not a driver serialization
    plan = tbl.frame(spark)._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower()


def test_train_kmeans_table_coarse_reuse_parity_and_skip(spark, monkeypatch):
    """r10 (r9 verdict task 3): coarse_reuse=True (the new default)
    hands the previous iteration's coarse level to from_frame, so the
    sample-collect + numpy coarse retrain runs ONCE per training, not
    once per iteration — and probe-everything results are bit-identical
    with reuse on or off (probe_all is exact for any coarse level)."""
    import apsviz_timeseriesdb_ingest_spark.llm.similarity as sim

    # overlapping blobs with k != k_blobs so Lloyd's keeps moving for
    # several iterations (an early tol-stop would make the per-
    # iteration claim vacuous — iteration count is measured, below)
    df = _vectors(spark, n=120, dim=8, k_blobs=10, with_zero=False)
    k = 6

    real_cc = sim._cluster_centroids
    real_ff = sim.CentroidTable.from_frame.__func__
    calls = {"cc": 0, "ff": 0}

    def counting_cc(*a, **kw):
        calls["cc"] += 1
        return real_cc(*a, **kw)

    def counting_ff(*a, **kw):
        calls["ff"] += 1
        return real_ff(*a, **kw)

    monkeypatch.setattr(sim, "_cluster_centroids", counting_cc)
    monkeypatch.setattr(sim.CentroidTable, "from_frame",
                        classmethod(counting_ff))
    reused = train_kmeans_table(df, k=k, iters=3, probe_all=True)
    rm = {r.cid: list(r.cvec) for r in reused.collect()}
    n_cc_reused, iters_run = calls["cc"], calls["ff"]

    calls["cc"] = calls["ff"] = 0
    fresh = train_kmeans_table(df, k=k, iters=3, probe_all=True,
                               coarse_reuse=False)
    fm = {r.cid: list(r.cvec) for r in fresh.collect()}
    n_cc_fresh, iters_fresh = calls["cc"], calls["ff"]

    assert rm == fm                     # bit-identical centroids
    assert iters_run == iters_fresh >= 2  # same (multi-)iteration count
    assert n_cc_reused == 1             # coarse trained ONCE
    assert n_cc_fresh == iters_fresh    # r9 behavior: once per iteration


def test_from_frame_coarse_param_skips_training_and_stays_exact(spark):
    """from_frame(coarse=...) reuses a caller-supplied coarse level:
    no sample collect, no numpy training, and probe-everything still
    reproduces the flat literal argmin bit-for-bit."""
    df = _vectors(spark)
    cents = train_kmeans(df, k=12, iters=3, two_level_from=None)
    v = _v(df)
    base = CentroidTable.from_frame(_cent_frame(spark, cents),
                                    nprobe=10**6)
    handed = CentroidTable.from_frame(_cent_frame(spark, cents),
                                      nprobe=10**6, coarse=base.coarse)
    assert handed.coarse == base.coarse
    assert _assign_map(handed, v) == _assign_map(base, v)
