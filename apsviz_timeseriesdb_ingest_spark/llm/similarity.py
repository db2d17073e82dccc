"""Similarity search over embedding columns (array<float>).

``brute_force_topk`` is the exact baseline: broadcast the (small) query
set against the corpus, dot products via ``zip_with``/``aggregate`` inside
codegen. ``hyperplane_lsh_bucket`` is the scale path: sign-random-
projection buckets computed map-side from deterministic pseudo-random
hyperplanes, so candidate generation is a bucket equi-join instead of an
O(n*q) scan; at 100 TB you bucket once, store, and probe buckets only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def hash_embedding(df: DataFrame, *, dim: int = 64,
                   text_col: str = "text", id_col: str = "doc_id",
                   normalize: bool = True,
                   seed: str = "hashemb-v1") -> DataFrame:
    """Feature-hashing text embeddings (the hashing trick, Weinberger
    et al. 2009): each token hashes to one of ``dim`` buckets with an
    md5-derived ±1 sign; a document's vector is the signed token-count
    histogram, optionally l2-normalized. A REAL dependency-free
    text→vector operator — cosine over these vectors approximates
    token-multiset cosine (near-duplicate texts score high), so it
    feeds the whole ANN stack (``hyperplane_lsh_bucket``,
    ``train_kmeans``/``kmeans_assign``, ``embedding_neardup_pairs``)
    without any model artifact or external library.

    Shape: explode tokens → one (doc, bucket) aggregate → per-doc dense
    vector via ``map_from_entries`` + a ``dim``-step transform (dim is
    small and static; the per-element map lookup is O(dim), so vector
    assembly is O(dim²) per doc — trivial next to tokenization).
    Deterministic md5 hashing: the same text yields the same vector on
    any engine/cluster/run. Empty docs get the zero vector (cosine 0
    to everything). Output: ``(id, embedding array<double>)``.
    """
    from ..functions.portable_hash import md5_hash64
    from .text import tokens

    par = df.sparkSession.sparkContext.defaultParallelism
    h = md5_hash64("token", seed=seed)
    entries = (df.repartition(par, id_col)
               .select(F.col(id_col).alias("doc"),
                       F.explode(tokens(text_col)).alias("token"))
               .select("doc", (h % dim).cast("int").alias("bucket"),
                       (F.when(F.call_function(
                           "shiftright", h, F.lit(20))
                           .bitwiseAND(F.lit(1)) == 1,
                           F.lit(1.0)).otherwise(F.lit(-1.0))).alias("sign"))
               .groupBy("doc", "bucket").agg(F.sum("sign").alias("val")))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.try_element_at(F.col("__m"), i), F.lit(0.0)))
    dense = (entries.groupBy("doc")
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("bucket", "val"))).alias("__m"))
             .select("doc", vec.alias("embedding")))
    if normalize:
        # materialize the norm in its own projection: inside the
        # transform lambda it would otherwise re-evaluate the O(dim)
        # fold once per element (the _with_tokens lesson)
        dense = (dense.withColumn("__n", _norm(F.col("embedding")))
                 .select("doc", F.when(F.col("__n") > 0, F.transform(
                     F.col("embedding"), lambda x: x / F.col("__n")))
                     .otherwise(F.col("embedding")).alias("embedding")))
    zero = F.array(*[F.lit(0.0) for _ in range(dim)])
    return (df.select(F.col(id_col).alias("doc"))
            .join(dense, "doc", "left")
            .select(F.col("doc").alias(id_col),
                    F.coalesce("embedding", zero).alias("embedding")))


def _dot_expanded(a: Column, b: Column, dim: int) -> Column:
    """Dot product as an expanded left-deep codegen sum — bitwise equal
    to the left-to-right HOF fold of :func:`_dot` but ~10x faster (the
    ``aggregate``/``zip_with`` fold is interpreted per element; the
    expansion compiles into whole-stage codegen). Needs a static
    ``dim``; used in pair-verify hot paths where the expression runs
    once per CANDIDATE, not once per row.

    Element access is ``getItem`` (0-based ``GetArrayItem``), NOT
    ``element_at``: identical values and identical out-of-bounds
    behavior under ANSI (both throw), but element_at carries the
    1-based/negative-index remap and its error machinery per access —
    measured r11: the getItem form is ~1.4x faster on the
    semantic-dedup pair verify (506k pairs: 2.29 s -> 1.65 s)."""
    dot = None
    for i in range(dim):
        term = a.getItem(i) * b.getItem(i)
        dot = term if dot is None else dot + term
    return dot


def _dot_expanded_sql(a_sql: str, b_sql: str, dim: int) -> Column:
    """:func:`_dot_expanded` built as one SQL string — the identical
    left-deep tree (same results, same codegen) for ~3*dim fewer py4j
    round-trips of driver-side plan construction (the banded-LSH
    lesson in ``_bucket_sql``). Takes column NAMES, not Columns.
    ``a[i]`` (0-based GetArrayItem) for the same reason as
    :func:`_dot_expanded` — same values, ~1.4x faster than
    element_at's ANSI remap (r11)."""
    return F.expr(" + ".join(
        f"({a_sql}[{i}] * {b_sql}[{i}])"
        for i in range(dim)))


def cosine(a: Column, b: Column) -> Column:
    """Cosine with the zero-norm convention: a zero vector has no
    direction, similarity 0 — and under Spark 4 ANSI mode the naive
    dot/(na*nb) THROWS DIVIDE_BY_ZERO on one zero vector, killing the
    whole job (the brute_force_topk r3 lesson, applied to every
    division site in this module in r4)."""
    na, nb = _norm(a), _norm(b)
    return F.when((na != 0) & (nb != 0),
                  _dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def brute_force_topk(vectors: DataFrame, *, id_col: str = "vec_id",
                     vec_col: str = "embedding", query_ids: list[int],
                     top_k: int = 3) -> DataFrame:
    """Exact cosine top-k neighbors for the given query ids.

    Returns (query_id, neighbor_id, rank). The query side is broadcast;
    ranking ties break on neighbor id for determinism.
    """
    vecs = (vectors.select(F.col(id_col).alias("nid"),
                           F.col(vec_col).cast("array<double>").alias("nvec"))
            .withColumn("nnrm", _norm(F.col("nvec"))))
    qs = (vectors.filter(F.col(id_col).isin(query_ids))
          .select(F.col(id_col).alias("query_id"),
                  F.col(vec_col).cast("array<double>").alias("qvec"))
          .withColumn("qnrm", _norm(F.col("qvec"))))
    scored = (
        vecs.join(F.broadcast(qs), F.col("nid") != F.col("query_id"))
        # zero-norm vectors (e.g. hash_embedding of an empty doc) have
        # cosine 0 to everything by convention — a bare division would
        # throw DIVIDE_BY_ZERO under ANSI mode
        .withColumn("sim", F.when(
            (F.col("qnrm") > 0) & (F.col("nnrm") > 0),
            _dot(F.col("qvec"), F.col("nvec"))
            / (F.col("qnrm") * F.col("nnrm"))).otherwise(F.lit(0.0)))
    )
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", F.col("nid").alias("neighbor_id"), "rank")
    )


def embedding_neardup_pairs(vectors: DataFrame, *, id_col: str = "vec_id",
                            vec_col: str = "embedding", threshold: float = 0.9,
                            dim: int | None = None, planes: int | str = 0,
                            bands: int = 1, inv_density: int | None = 8,
                            method: str = "auto",
                            max_bucket_size: int | None = None,
                            tune_kw: dict | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    With ``planes > 0`` candidates come from banded multi-table
    sign-random-projection LSH: ``bands`` independent tables of
    ``planes`` hyperplanes each, candidate pairs = union of per-table
    bucket collisions, then an exact cosine verify on the candidates
    only. More planes per band sharpen selectivity (2^planes buckets per
    table); more bands recover recall (a true pair only needs to collide
    in ONE band) — the standard b x r trade, the same shape as MinHash
    band-buckets in ``llm.dedup``. A single 4-plane table (r2's
    registered form) has only 16 buckets, dividing all-pairs work by
    ~16 at ANY corpus size; 12 bands x 8 planes is measured on the
    testdata to give ~2x the recall at FEWER candidates (see
    ``tests/test_llm_ops.py::test_banded_lsh_beats_single_table``).
    ``planes = 0`` is the exact quadratic baseline for small corpora /
    verification. ``max_bucket_size`` caps per-bucket candidate
    explosion exactly as in ``llm.dedup.lsh_pairs_from_buckets``.

    ``inv_density`` selects the hyperplane family: an int uses
    :func:`sparse_hyperplane_rows` (±1 entries at 1/inv_density
    density — dots compile to short codegen sums, ~10x faster
    bucketing than the interpreted dense fold); ``None`` uses the
    dense :func:`hyperplane_coefficients` family.

    ``method``: 'expr' folds dot products in codegen (bit-reproducible vs
    a SQL oracle); 'blas' broadcasts the corpus matrix and runs a blocked
    NumPy matmul scan per partition (~10x faster; requires the matrix to
    fit in a broadcast — beyond that, LSH/IVF candidate generation is the
    path). 'auto' = blas for the exact scan, expr when bucketed.

    ``planes="auto"`` sizes the LSH family FROM the corpus: one count
    job, then :func:`hyperplane_tune` picks (planes, bands) so bucket
    occupancy — and therefore candidate volume per vector — stays
    constant as n grows (fixed planes are the measured r6 scale cliff:
    10x vectors → 100x candidates). ``tune_kw`` forwards to the tuner
    (target_recall/target_bucket/max_bands); explicit ``bands`` is
    ignored in auto mode."""
    if planes == "auto":
        tuned = hyperplane_tune(vectors.count(), threshold,
                                **(tune_kw or {}))
        planes, bands = tuned["planes"], tuned["bands"]
    elif tune_kw is not None:
        raise ValueError("tune_kw is only meaningful with planes='auto'")
    if method == "auto":
        method = "expr" if planes else "blas"
    if method == "blas" and not planes:
        return _neardup_blas(vectors, id_col=id_col, vec_col=vec_col,
                             threshold=threshold)
    # norms precomputed once per vector: pair stages fold only the dot
    # product (3x cheaper than recomputing both norms per pair)
    v = vectors.select(F.col(id_col).alias("id"),
                       F.col(vec_col).cast("array<double>").alias("vec"))
    v = v.withColumn("nrm", _norm(F.col("vec")))
    if not planes:
        sim = F.when((F.col("a.nrm") != 0) & (F.col("b.nrm") != 0),
                     _dot(F.col("a.vec"), F.col("b.vec"))
                     / (F.col("a.nrm") * F.col("b.nrm"))).otherwise(F.lit(0.0))
        return (
            v.alias("a").join(v.alias("b"), F.col("a.id") < F.col("b.id"))
            .withColumn("sim", F.round(sim, 6))
            .filter(F.col("sim") >= threshold)
            .select(F.col("a.id").alias("vec_id_a"),
                    F.col("b.id").alias("vec_id_b"), "sim")
        )
    assert dim is not None
    from .dedup import lsh_pairs_from_buckets

    # same idiom as dedup._shingled: an embedding corpus often arrives
    # as one small parquet file, and both the bucket projection and the
    # verify dots are CPU-bound — without the repartition they run on
    # as many cores as there are input splits
    par = vectors.sparkSession.sparkContext.defaultParallelism
    v = v.repartition(par, "id")
    # per-band buckets are pure map-side expressions over the vector;
    # band t uses hyperplanes [t*planes, (t+1)*planes) of one shared
    # deterministic family, so Spark and any oracle agree literally.
    # All `bands` bucket expressions go into ONE SQL string (parsing 12
    # separate band expressions through F.expr cost ~0.5 s of driver
    # time per query, the r11 py4j/parse lesson), and a nested select
    # computes them as columns that stack() then reads: inlined into
    # stack() they form one expression past the 64 KB generated-code
    # limit, and Spark falls back to slow interpreted code.
    coeffs = (sparse_hyperplane_rows(dim, bands * planes, inv_density)
              if inv_density else hyperplane_coefficients(dim, bands * planes))
    cols = ", ".join(
        f"({_bucket_sql('vec', coeffs[t * planes:(t + 1) * planes])}) AS bucket_{t}"
        for t in range(bands))
    stack = ", ".join(f"{t}, bucket_{t}" for t in range(bands))
    buckets = v.sparkSession.sql(
        f"SELECT id AS doc, stack({bands}, {stack}) AS (band, bucket) "
        f"FROM (SELECT id, {cols} FROM {{v}})", v=v)
    cand = lsh_pairs_from_buckets(buckets, max_bucket_size=max_bucket_size)
    # pair-gen leaves cand AQE-coalesced to few partitions on small
    # inputs; spread the verify (the expensive stage) across cores.
    # cand rows are two ids — this shuffle is cheap at any scale, and
    # when v is too big to broadcast it doubles as the join's own
    # hash partitioning on doc_a.
    cand = cand.repartition(par, "doc_a")
    return (
        cand
        .join(v.select(F.col("id").alias("doc_a"), F.col("vec").alias("avec"),
                       F.col("nrm").alias("anrm")), "doc_a")
        .join(v.select(F.col("id").alias("doc_b"), F.col("vec").alias("bvec"),
                       F.col("nrm").alias("bnrm")), "doc_b")
        .withColumn("sim", F.round(
            F.when((F.col("anrm") != 0) & (F.col("bnrm") != 0),
                   _dot_expanded_sql("avec", "bvec", dim)
                   / (F.col("anrm") * F.col("bnrm")))
            .otherwise(F.lit(0.0)), 6))
        .filter(F.col("sim") >= threshold)
        .select(F.col("doc_a").alias("vec_id_a"),
                F.col("doc_b").alias("vec_id_b"), "sim")
    )


def _neardup_blas(vectors: DataFrame, *, id_col: str, vec_col: str,
                  threshold: float) -> DataFrame:
    """Exact scan as a blocked matmul: broadcast the full (ids, matrix,
    norms) once, each partition multiplies its row block against it.
    Arrow-batched; compute is BLAS, not per-element expressions."""
    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    base = vectors.select(F.col(id_col).alias("id"),
                          F.col(vec_col).cast("array<double>").alias("vec"))
    pdf = base.toPandas()
    ids = pdf["id"].to_numpy()
    mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def scan(batches):
        a_ids, a_mat, a_norms = bc.value
        for block in batches:
            if not len(block):
                continue
            b_ids = block["id"].to_numpy()
            b_mat = np.stack(block["vec"].to_numpy()).astype(np.float64)
            b_norms = np.linalg.norm(b_mat, axis=1)
            sims = np.round((b_mat @ a_mat.T) / np.outer(b_norms, a_norms), 6)
            keep = (sims >= threshold) & (b_ids[:, None] < a_ids[None, :])
            bi, ai = np.nonzero(keep)
            yield pd.DataFrame({"vec_id_a": b_ids[bi], "vec_id_b": a_ids[ai],
                                "sim": sims[bi, ai]})

    return base.mapInPandas(scan, schema="vec_id_a long, vec_id_b long, sim double")


def ivf_assign(vectors: DataFrame, *, id_col: str = "vec_id",
               vec_col: str = "embedding", centroid_ids: list[int],
               ) -> DataFrame:
    """IVF-style cell assignment: each vector maps to its nearest centroid
    by cosine (deterministic tie-break on centroid id).

    Centroids here are corpus vectors chosen by id (a deterministic,
    engine-reproducible stand-in for k-means training — swap in trained
    centroids without changing the plan). The assignment is a broadcast
    join + argmin-by-aggregation: ``max_by`` over struct(sim, -id) keeps
    the best centroid per vector with a deterministic tie-break, and the
    partial aggregate collapses the n x k scored rows back to n map-side
    — no Window sort, no n x k shuffle. This is the partition/bucketing
    key that turns ANN into 'search your cell (and n probe neighbors)
    only' at 100 TB."""
    v = (vectors.select(F.col(id_col).alias("id"),
                        F.col(vec_col).cast("array<double>").alias("vec"))
         .withColumn("nrm", _norm(F.col("vec"))))
    cents = (v.filter(F.col("id").isin(centroid_ids))
             .select(F.col("id").alias("centroid_id"),
                     F.col("vec").alias("cvec"), F.col("nrm").alias("cnrm")))
    scored = (
        v.join(F.broadcast(cents), how="cross")
        .withColumn("sim",
                    F.when((F.col("nrm") != 0) & (F.col("cnrm") != 0),
                           _dot(F.col("vec"), F.col("cvec"))
                           / (F.col("nrm") * F.col("cnrm")))
                    .otherwise(F.lit(-2.0)))
    )
    best = F.max_by(
        F.col("centroid_id"), F.struct(F.col("sim"), -F.col("centroid_id")))
    return (
        scored.groupBy("id").agg(best.alias("centroid_id"))
        .select(F.col("id").alias(id_col), "centroid_id")
    )


def ann_assign(vectors: DataFrame, *, id_col: str = "vec_id",
               vec_col: str = "embedding", dim: int, planes: int = 8,
               centroid_ids: list[int] | None = None) -> DataFrame:
    """Both ANN partitioning keys in ONE scan: the hyperplane-LSH bucket
    (map-side sign bits) and the IVF cell (broadcast centroids +
    argmin-by-max_by aggregation, see :func:`ivf_assign`). At 100 TB this
    is the single pass that writes the bucketed/partitioned ANN layout;
    separate calls would scan the corpus twice."""
    centroid_ids = centroid_ids or []
    v = (vectors.select(F.col(id_col).alias("id"),
                        F.col(vec_col).cast("array<double>").alias("vec"))
         .withColumn("nrm", _norm(F.col("vec")))
         .withColumn("bucket", hyperplane_bucket_col("vec", dim, planes)))
    cents = (v.filter(F.col("id").isin(centroid_ids))
             .select(F.col("id").alias("centroid_id"),
                     F.col("vec").alias("cvec"), F.col("nrm").alias("cnrm")))
    scored = (
        v.join(F.broadcast(cents), how="cross")
        .withColumn("sim",
                    F.when((F.col("nrm") != 0) & (F.col("cnrm") != 0),
                           _dot(F.col("vec"), F.col("cvec"))
                           / (F.col("nrm") * F.col("cnrm")))
                    .otherwise(F.lit(-2.0)))
    )
    best = F.max_by(
        F.col("centroid_id"), F.struct(F.col("sim"), -F.col("centroid_id")))
    return (
        scored.groupBy("id", "bucket").agg(best.alias("centroid_id"))
        .select(F.col("id").alias(id_col), "bucket", "centroid_id")
    )


def hyperplane_coefficients(dim: int, planes: int = 8) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: plane p component i =
    (md5int('plane|p|i') % 2001 - 1000)/1000. Computed driver-side so the
    same literals feed the Spark plan and any oracle SQL — no stored
    model, reproducible on any engine."""
    import hashlib

    def coeff(p: int, i: int) -> float:
        h = int(hashlib.md5(f"plane|{p}|{i}".encode()).hexdigest()[:15], 16)
        return (h % 2001 - 1000) / 1000.0

    return [[coeff(p, i) for i in range(dim)] for p in range(planes)]


def sparse_hyperplane_rows(dim: int, planes: int,
                           inv_density: int = 8) -> list[list[float]]:
    """Deterministic VERY SPARSE sign projections: entry (p, i) is ±1
    with probability 1/``inv_density``, else 0 (Achlioptas,
    "Database-friendly random projections", 2003; Li/Hastie/Church,
    "Very sparse random projections", KDD 2006 — public results: sparse
    ±1 projections preserve the sign-LSH geometry). The win here is
    EXECUTION, not just theory: a mostly-zero plane makes the dot an
    ~dim/inv_density-term arithmetic sum that whole-stage codegen
    compiles, where a dense plane needs an interpreted higher-order
    ``aggregate`` per plane — measured ~10x slower across 96 planes
    (6.2s vs 0.6s bucketing 2000 x 64-dim vectors). md5-derived, so any
    engine reproduces the exact pattern; every plane is guaranteed at
    least one nonzero entry (fallback index)."""
    import hashlib

    def md5int(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = []
    for p in range(planes):
        row = [0.0] * dim
        nonzeros = 0
        for i in range(dim):
            h = md5int(f"sparse|{p}|{i}")
            if h % inv_density == 0:
                row[i] = 1.0 if (h // inv_density) % 2 == 0 else -1.0
                nonzeros += 1
        if nonzeros == 0:
            row[md5int(f"sparse-fallback|{p}") % dim] = 1.0
        rows.append(row)
    return rows


def hyperplane_tune(n: int, threshold: float, *,
                    target_recall: float = 0.9, target_bucket: int = 32,
                    min_planes: int = 4, max_planes: int = 24,
                    max_bands: int = 64) -> dict:
    """Pick (planes, bands) for banded sign-random-projection LSH from
    the corpus size and cosine threshold — the :func:`~.dedup.
    minhash_tune` analogue for embeddings, and the closure of the r6
    soak's scale cliff: a FIXED plane count means a fixed ``2^planes``
    bucket count, so per-bucket occupancy grows with n and candidate
    volume grows ~n² (measured: 10x vectors → 100x candidates at 12x8).

    Theory (Charikar 2002, public): two vectors at angle θ disagree on
    one sign bit with probability θ/π, so a pair AT the cosine
    threshold collides in one r-plane band with p(r) = (1 - θ/π)^r and
    across b bands with recall 1 - (1 - p^r)^b. The tuner:

    - sets ``planes = ceil(log2(n / target_bucket))`` — bucket count
      scales WITH n, expected occupancy stays ~target_bucket, so
      per-band candidate volume is ~n·target_bucket/2: LINEAR in n;
    - sets ``bands`` = smallest b whose recall at the threshold meets
      ``target_recall``;
    - if that b exceeds ``max_bands`` (low thresholds make sign-LSH
      inherently weak: p per plane = 1 - θ/π falls toward 1/2), sheds
      planes one at a time — trading bucket occupancy back for per-band
      recall — until the band budget fits, and reports the achieved
      recall honestly.

    Returns ``{"planes", "bands", "recall_at_threshold",
    "exp_bucket_occupancy", "exp_candidates"}``. Driver-side arithmetic
    only — feed planes/bands to :func:`embedding_neardup_pairs`
    (``planes="auto"`` does exactly this internally).
    """
    import math

    if not -1.0 < threshold < 1.0:
        raise ValueError("cosine threshold must be in (-1, 1)")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    p1 = 1.0 - math.acos(threshold) / math.pi
    planes = max(min_planes,
                 math.ceil(math.log2(max(n, 1) / max(target_bucket, 1))))
    planes = min(planes, max_planes, 62)  # bucket is one signed long

    def bands_for(r: int) -> int:
        pr = p1 ** r
        if pr >= 1.0:
            return 1
        return max(1, math.ceil(math.log(1.0 - target_recall)
                                / math.log(1.0 - pr)))

    while planes > min_planes and bands_for(planes) > max_bands:
        planes -= 1
    bands = min(bands_for(planes), max_bands)
    pr = p1 ** planes
    recall = 1.0 - (1.0 - pr) ** bands
    occupancy = n / float(2 ** planes)
    return {
        "planes": planes, "bands": bands,
        "recall_at_threshold": round(recall, 6),
        "exp_bucket_occupancy": round(occupancy, 3),
        "exp_candidates": int(bands * n * max(occupancy - 1.0, 0.0) / 2),
    }


#: max nonzero coefficients for which a plane dot is emitted as an
#: expanded codegen sum; denser planes fall back to the HOF fold
#: (expanding a 64-term row x 8 planes into one column overflows
#: janino's compiler stack — measured, not guessed)
_EXPAND_MAX_TERMS = 24


def _bucket_sql(vec_sql: str, rows: list[list[float]]) -> str:
    """The :func:`_bucket_from_rows` expression as ONE SQL string.
    Parses to the identical tree (left-deep double sums, same literals,
    same CASE shape; dense rows parse to the identical
    aggregate/zip_with fold `_dot` builds) so results and codegen are
    bit-for-bit the same — the difference is driver-side cost: building
    96 planes of Column arithmetic is thousands of py4j round-trips
    (~4.5 s measured per fresh plan at 12x8 banding), one ``expr``
    string is a single parse call (~0.3 s). r11: dense rows no longer
    bail to the Column builder — they emit the HOF-fold SQL, so the
    dense-plane paths (ann_assign, hyperplane_lsh_bucket) get the same
    cheap construction (measured: llm_ann_assign construction 1.1 s ->
    ~0.3 s)."""
    parts = []
    for p, row in enumerate(rows):
        nonzero = [(i, c) for i, c in enumerate(row) if c != 0.0]
        if len(nonzero) > _EXPAND_MAX_TERMS:
            lits = ", ".join(f"{c!r}D" for c in row)
            terms = (f"aggregate(zip_with({vec_sql}, array({lits}), "
                     f"(x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        else:
            terms = " + ".join(f"(element_at({vec_sql}, {i + 1}) * {c!r}D)"
                               for i, c in nonzero)
        parts.append(f"(CASE WHEN ({terms}) > 0 THEN {2 ** p}L ELSE 0L END)")
    return "CAST(0 AS BIGINT) + " + " + ".join(parts)


def _bucket_from_rows(vec: Column, rows: list[list[float]]) -> Column:
    """Sign bucket over EXPLICIT hyperplane rows: bit p = sign(vec .
    rows[p]). Shared by the single-table and banded paths.

    Sparse rows (<= ``_EXPAND_MAX_TERMS`` nonzeros) expand to a
    left-deep arithmetic chain — bitwise identical to a left-to-right
    full dot (skipped zero terms add exactly ±0.0, which never changes
    a running IEEE sum), so SQL oracles can mirror term-by-term — and
    stay inside whole-stage codegen. Dense rows use the ``aggregate``
    fold (interpreted, but correct at any width)."""
    bucket = F.lit(0).cast("long")
    for p, row in enumerate(rows):
        nonzero = [(i, c) for i, c in enumerate(row) if c != 0.0]
        if len(nonzero) <= _EXPAND_MAX_TERMS:
            dot = None
            for i, c in nonzero:
                term = F.element_at(vec, i + 1) * F.lit(c)
                dot = term if dot is None else dot + term
        else:
            plane = F.array([F.lit(c) for c in row])
            dot = _dot(vec, plane)
        bucket = bucket + F.when(dot > 0, F.lit(2 ** p).cast("long")).otherwise(F.lit(0))
    return bucket


def hyperplane_bucket_col(vec: "Column | str", dim: int,
                          planes: int = 8) -> Column:
    """Sign-random-projection bucket expression: bit p = sign(vec . plane_p).
    A pure map-side expression over the vector column. Pass the vector
    as SQL TEXT (a column name or expression string) to build the
    expression via one ``expr`` parse instead of per-term py4j calls —
    identical tree either way (r11, see :func:`_bucket_sql`)."""
    rows = hyperplane_coefficients(dim, planes)
    if isinstance(vec, str):
        return F.expr(_bucket_sql(vec, rows))
    return _bucket_from_rows(vec, rows)


def hyperplane_lsh_bucket(vectors: DataFrame, *, id_col: str = "vec_id",
                          vec_col: str = "embedding", dim: int, planes: int = 8,
                          ) -> DataFrame:
    """(id, bucket) assignment — the candidate-generation stage of ANN.

    bucket bit p = sign(vec . plane_p). Pure map-side expression; at scale
    this is the partition/bucketing key that turns ANN into an equi-join.
    """
    v_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    return vectors.select(
        id_col, hyperplane_bucket_col(v_sql, dim, planes).alias("bucket"))


def _centroid_argmin_expr(centroids: list[list[float]], vec: Column,
                          nrm: Column) -> Column:
    """Nearest-centroid id (cosine, smallest-id tie-break) as ONE map-side
    expression over driver-held centroids: array_max over struct(sim,
    -cid). NaN sims (zero-norm vectors) are floored below any real
    similarity so they fall deterministically to centroid 0."""
    import math

    entries = []
    for i, c in enumerate(centroids):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        lit = F.array(*[F.lit(float(x)) for x in c])
        sim = F.when(nrm != 0, _dot(vec, lit) / (nrm * F.lit(cn))) \
            .otherwise(F.lit(-2.0))  # zero-norm: ANSI-safe, floors low
        entries.append(F.struct(F.nanvl(sim, F.lit(-2.0)).alias("sim"),
                                F.lit(-i).alias("negid")))
    return (-F.array_max(F.array(*entries))["negid"]).cast("int")


def probe_cells_expr(centroids: list[list[float]], vec: Column,
                     nrm: Column, *, nprobe: int = 2) -> Column:
    """``nprobe`` nearest centroid ids as a MAP-SIDE array expression
    (cosine, smallest-id tie-break), for rows that each need their own
    probe list: sort the struct(sim, -cid) array descending, slice
    nprobe, extract ids."""
    import math

    entries = []
    for i, c in enumerate(centroids):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        lit = F.array(*[F.lit(float(x)) for x in c])
        sim = F.when(nrm != 0, _dot(vec, lit) / (nrm * F.lit(cn))) \
            .otherwise(F.lit(-2.0))  # zero-norm: ANSI-safe, floors low
        entries.append(F.struct(F.nanvl(sim, F.lit(-2.0)).alias("sim"),
                                F.lit(-i).alias("negid")))
    top = F.slice(F.sort_array(F.array(*entries), asc=False), 1, nprobe)
    return F.transform(top, lambda s: (-s["negid"]).cast("int"))


def probe_cells_expr_indexed(index: CentroidIndex, vec: Column,
                             nrm: Column, *, nprobe: int = 2) -> Column:
    """:func:`probe_cells_expr` through a :class:`CentroidIndex` — the
    large-k form of the per-row probe list (the streaming embedding
    stream's plan otherwise inlines ALL k centroids as literals, the
    same r6 ceiling as assignment). Requires the index ``frame()``
    columns on the row (``with_centroid_cell``'s crossJoin, or attach
    ``index.frame(spark)`` yourself). Ranks the fine centroids of the
    row's ``index.nprobe`` nearest coarse cells and returns the
    ``nprobe`` best fine cell ids (cosine, smallest-id tie-break) —
    exact whenever the true top-``nprobe`` fine centroids live in the
    probed coarse cells (probe everything for guaranteed equality with
    the literal expression)."""
    scored = _indexed_scored_candidates(index, vec, nrm)
    top = F.slice(F.sort_array(scored, asc=False), 1, nprobe)
    return F.transform(top, lambda s: (-s["negid"]).cast("int"))


class CentroidIndex:
    """Two-level centroid index for LARGE-k nearest-centroid assignment
    (r6 verdict task 1 — the literal-centroid k ceiling).

    :func:`_centroid_argmin_expr` inlines all k centroids as codegen
    literals — exactly right up to a few hundred centroids, but
    ``semantic_k(n) = n/500`` grows k WITH the corpus (10 M docs →
    k = 20,000) and a 20,000 x 64 literal projection cannot be built,
    compiled, or shipped per task. This is the standard IVF
    coarse-quantizer shape instead, all DATA, no literals:

    - **coarse** level: ~sqrt(k) centroids obtained by driver-side
      spherical k-means OVER the k fine centroids (numpy, k x dim —
      trivial next to one corpus pass). Small enough to stay a literal
      argmin expression.
    - **fine** level: a one-row broadcast frame carrying
      ``map<coarse_cell -> array<struct(cid, cvec, cnrm)>>``. Each row
      probes its ``nprobe`` nearest coarse cells (map-side expression),
      flattens those cells' fine-centroid structs, and folds an argmin
      over them — a pure projection over broadcast DATA: per-row cost
      is O(nprobe * k/coarse_k * dim) regardless of total k, plan size
      is CONSTANT in k, and the stage keeps the zero-exchange property
      (one broadcast, no shuffle, no groupBy).

    Exactness: two-level assignment is exact whenever the true nearest
    fine centroid lives in one of the probed coarse cells — the
    standard IVF trade. ``nprobe=len(index.coarse)`` probes everything
    and reproduces the flat literal argmin BIT-FOR-BIT (same fold
    order, same tie-break, same zero-norm convention; pytest-pinned).
    Zero-norm vectors fall to centroid 0 exactly like the literal path.
    """

    def __init__(self, centroids: list[list[float]], *,
                 coarse_k: int | None = None, nprobe: int = 8,
                 iters: int = 10):
        import math

        k = len(centroids)
        dim = len(centroids[0])
        coarse_k = _default_coarse_k(k, nprobe, coarse_k)
        coarse, assign = _cluster_centroids(centroids, coarse_k, iters)
        groups: dict[int, list] = {}
        for cid, coarse_id in enumerate(assign):
            cn = math.sqrt(sum(x * x for x in centroids[cid])) or 1.0
            groups.setdefault(int(coarse_id), []).append(
                (cid, [float(x) for x in centroids[cid]], cn))
        # drop empty coarse cells and re-index so probe ids are dense
        live = sorted(groups)
        self.coarse = [coarse[g] for g in live]
        self.groups = {i: groups[g] for i, g in enumerate(live)}
        self.centroids = centroids
        self.nprobe = min(int(nprobe), len(self.coarse))
        self.k, self.dim = k, dim
        self._frame = None

    def frame(self, spark) -> DataFrame:
        """The broadcastable one-row frame: ``__cmap`` (coarse cell →
        fine-centroid structs).

        Cost/ceiling: building it is ONE driver-side serialization of
        the k x dim matrix (~seconds at k=10,000 x 64; reuse the frame
        across batches — the streams materialize it once at setup),
        and broadcasting holds ~k·dim·8 bytes per executor. Past the
        broadcast comfort zone (k·dim ≳ tens of millions — e.g.
        k=100,000 x 1024-dim ≈ 0.8 GB) assignment switches to the
        :class:`CentroidTable` (shuffled argmin: one exchange, no
        broadcast bound) — the next rung of the same ladder, engaged
        automatically past :data:`TABLE_FROM_KDIM` by
        ``train_kmeans``/``semantic_dedup_auto``.

        Cached per instance (r8 ADVICE: ``CentroidTable._probe_expr``
        rebuilt the coarse index frame per call — per micro-batch in a
        stream — because this method returned a fresh DataFrame every
        time; the plan is immutable, so caching is free)."""
        if self._frame is None:
            self._frame = spark.createDataFrame(
                [(self.groups,)],
                "__cmap map<int, array<struct<cid:int, cvec:array<double>, "
                "cnrm:double>>>")
        return self._frame

    def stream_frames(self, spark) -> "list[DataFrame]":
        """The frames a long-lived caller (a stream) should persist at
        setup and unpersist on termination — one per driver-side
        serialization this index performs per use."""
        return [self.frame(spark)]


def _cluster_centroids(centroids: list[list[float]], coarse_k: int,
                       iters: int) -> tuple[list[list[float]], list[int]]:
    """Driver-side deterministic spherical k-means over the k fine
    centroids (numpy; init = evenly-spaced fine centroids). Returns
    (coarse centroid rows, fine→coarse assignment). k x dim work —
    milliseconds even at k=20,000."""
    import numpy as np

    M = np.asarray(centroids, dtype=np.float64)
    k = len(centroids)
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0] = 1.0
    U = M / norms[:, None]
    idx = np.unique(np.round(np.linspace(0, k - 1, coarse_k)).astype(int))
    C = U[idx].copy()
    assign = None
    for _ in range(max(1, iters)):
        # argmax ties break to the SMALLEST coarse id (np.argmax takes
        # the first maximum) — deterministic on any platform
        assign = np.argmax(U @ C.T, axis=1)
        # vectorized per-group sums: the per-group boolean-mask loop
        # was O(coarse_k * k) per iteration — at coarse_k=4096 over a
        # 50k sample it dominated from_frame's build (r9 soak);
        # bincount-with-weights is O(k * dim) with deterministic
        # sequential (index-order) addition
        sums = np.column_stack([
            np.bincount(assign, weights=U[:, d], minlength=len(C))
            for d in range(U.shape[1])])
        norms = np.linalg.norm(sums, axis=1)
        upd = norms > 0
        C[upd] = sums[upd] / norms[upd, None]
    assign = np.argmax(U @ C.T, axis=1)
    return [[float(x) for x in row] for row in C], [int(a) for a in assign]


def _indexed_scored_candidates(index: CentroidIndex, vec: Column,
                               nrm: Column) -> Column:
    """The shared two-level candidate scorer: probe the row's
    ``index.nprobe`` nearest coarse cells, flatten their fine-centroid
    structs out of the broadcast ``__cmap`` column, and score each as
    ``struct(sim, -cid)`` — same cosine, same fold order, same
    smallest-id tie-break and zero-norm floor as the literal
    expressions. Both the argmin (:func:`_indexed_argmin_expr`) and the
    top-nprobe probe list (:func:`probe_cells_expr_indexed`) derive
    from THIS column so the two paths can never diverge."""
    probe = probe_cells_expr(index.coarse, vec, nrm, nprobe=index.nprobe)
    empty = F.array().cast(
        "array<struct<cid:int, cvec:array<double>, cnrm:double>>")
    cands = F.flatten(F.transform(
        probe, lambda p: F.coalesce(F.try_element_at(F.col("__cmap"), p),
                                    empty)))
    # expanded left-deep dot, not the _dot HOF fold: inside this
    # (already-interpreted) transform lambda the nested
    # aggregate(zip_with(...)) evaluates TWO inner lambdas per vector
    # element per candidate — the dominant cost of large-scale
    # assignment through an indexed coarse level (measured in the r9
    # from_frame grouping soak); the expansion is one flat expression
    # eval per candidate and bitwise-equal (same left-to-right adds,
    # the _dot_expanded contract)
    sim_of = lambda s: F.nanvl(  # noqa: E731
        F.when(nrm != 0,
               _dot_expanded(vec, s["cvec"], index.dim)
               / (nrm * s["cnrm"]))
        .otherwise(F.lit(-2.0)), F.lit(-2.0))
    return F.transform(cands, lambda s: F.struct(
        sim_of(s).alias("sim"), (-s["cid"]).alias("negid")))


def _indexed_argmin_expr(index: CentroidIndex, vec: Column,
                         nrm: Column) -> Column:
    """Two-level nearest-centroid id over a :class:`CentroidIndex` —
    requires the index ``frame()`` columns (``__cmap``) on the row (see
    :func:`with_centroid_cell`). Same cosine, same fold order, same
    smallest-id tie-break and zero-norm convention as
    :func:`_centroid_argmin_expr`."""
    scored = _indexed_scored_candidates(index, vec, nrm)
    best = (-F.array_max(scored)["negid"]).cast("int")
    # zero-norm rows fall deterministically to centroid 0 on the
    # literal path (every sim floors to -2.0, max negid wins) — pin the
    # same here, since the probed candidate set need not contain cid 0
    return F.when(nrm == 0, F.lit(0)).otherwise(F.coalesce(best, F.lit(0)))


def with_centroid_cell(df: DataFrame, index: "CentroidIndex | CentroidTable",
                       *, vec_col: str = "vec", nrm_col: str = "nrm",
                       out_col: str = "cell",
                       id_col: str | None = None) -> DataFrame:
    """Add the two-level nearest-centroid assignment ``out_col`` to
    ``df`` (which must already carry ``vec_col``/``nrm_col``): one
    broadcast of the index frame, then a pure projection — the
    drop-in large-k replacement for a `_centroid_argmin_expr` column.

    ``index`` may also be a :class:`CentroidTable` (the shuffled
    centroid-TABLE rung past the broadcast bound — r7 verdict task 1),
    in which case ``id_col`` is REQUIRED (the table path aggregates
    scored candidates per row and joins the winner back by id; a
    projection cannot express a shuffled argmin)."""
    if isinstance(index, CentroidTable):
        if id_col is None:
            raise ValueError(
                "CentroidTable assignment needs id_col= (the shuffled "
                "argmin joins the winning cell back by row id)")
        return index.assign(df, id_col=id_col, vec_col=vec_col,
                            nrm_col=nrm_col, out_col=out_col)
    return (df.crossJoin(F.broadcast(index.frame(df.sparkSession)))
            .withColumn(out_col, _indexed_argmin_expr(
                index, F.col(vec_col), F.col(nrm_col)))
            .drop("__cmap"))


#: k·dim above which the one-row CentroidIndex broadcast frame stops
#: being comfortable (~k·dim·8 bytes per executor: 4M ≈ 32 MB — the
#: classic broadcast-join comfort bound) and the auto paths switch to
#: the shuffled :class:`CentroidTable`. The CentroidIndex docstring's
#: "tens of millions" ceiling is where broadcast FAILS; this default
#: switches earlier, where it merely degrades.
TABLE_FROM_KDIM = 4_000_000

#: coarse-centroid count up to which the per-row coarse probe stays a
#: literal expression (the measured literal comfort zone — above it the
#: probe itself goes through a small CentroidIndex over the coarse
#: level, tools/soak_centroid_k.py crossover k≈200)
COARSE_LIT_MAX = 150

#: k·dim above which centroid STATE leaves the driver entirely
#: (``semantic_dedup_auto`` switches training to
#: :func:`train_kmeans_table` + :meth:`CentroidTable.from_frame`):
#: holding k x dim doubles driver-side costs ~3x over (python lists,
#: the createDataFrame serialization, py4j) — 64M components ≈ 0.5 GB
#: of raw doubles is where that stops being comfortable, an order of
#: magnitude past :data:`TABLE_FROM_KDIM` (which bounds only the
#: BROADCAST, not the driver).
DRIVER_KDIM = 64_000_000


def _default_coarse_k(k: int, nprobe: int, coarse_k: int | None) -> int:
    """The shared coarse-level sizing rule: balance the two probe
    stages (coarse literal argmin O(coarse_k·dim)/row vs fine fold
    O(nprobe·k/coarse_k·dim)) at coarse_k* = sqrt(nprobe·k), capped
    where the coarse level itself stays comfortably driver-held."""
    import math

    if coarse_k is None:
        eff = max(1, min(int(nprobe), k))
        coarse_k = min(1024, math.isqrt(max(eff * k - 1, 0)) + 1)
    return max(1, min(int(coarse_k), int(k)))


class CentroidTable:
    """Nearest-centroid assignment against a centroid TABLE — the last
    rung of the assignment ladder (r7 verdict task 1; the rung
    :class:`CentroidIndex`'s own docstring names).

    Ladder recap: literal argmin (k ≲ 200; plan is O(k·dim) codegen) →
    broadcast two-level :class:`CentroidIndex` (plan constant in k,
    but every executor holds the k x dim map frame — dies past
    k·dim ≈ tens of millions) → THIS: the centroids live in a regular
    multi-row DataFrame ``(__ccell, __cid, __cvec, __cnrm)`` grouped by
    the same driver-side coarse clustering, and assignment is an
    EXCHANGE, not a broadcast:

    1. map-side: each vector row computes its ``nprobe`` nearest
       coarse cells (literal probe up to :data:`COARSE_LIT_MAX` coarse
       centroids, else through a small CentroidIndex over the ~sqrt(k)
       coarse level — that index is sqrt(k)·dim, comfortably
       broadcastable even when k·dim is not) and EXPLODES to
       (row, coarse_cell);
    2. a SHUFFLED hash equi-join on ``__ccell`` against the centroid
       table (``shuffle_hash`` hint — never a broadcast of the index
       side, that bound is the reason this rung exists) scores each
       candidate fine centroid;
    3. ``max_by(cid, struct(sim, -cid))`` with map-side partial
       aggregation collapses the n·nprobe·(k/coarse_k) scored rows to
       one winner per row id — the :func:`ivf_assign` argmin shape
       generalized to TRAINED centroids not drawn from the corpus.

    Per-row cost matches the CentroidIndex (same probe, same candidate
    count); cluster cost adds one shuffle of the probe side (n·nprobe
    rows carrying the vector) + the argmin exchange — the price of
    unbounded k. Exactness is the same IVF trade: exact whenever the
    true argmin's coarse cell is probed; ``nprobe=len(coarse)`` probes
    everything and reproduces the literal argmin BIT-FOR-BIT (same
    cosine expression, driver-side ``math.sqrt`` norms, same
    struct(sim, -cid) total order — max over rows is fold-order-free —
    same zero-norm→0 pin; pytest-pinned in test_centroid_table).

    Construction is two-headed: the original constructor takes a
    driver-held ``list[list[float]]`` (fine below driver memory);
    :meth:`from_frame` takes a centroid DATAFRAME and never collects
    the k rows (r8 verdict task 1 — the table-RESIDENT rung, for the
    k in the tens of millions ``semantic_k`` implies at 100 TB where
    even holding k·dim on the driver fails before any plan runs).
    """

    def __init__(self, centroids: list[list[float]], *,
                 coarse_k: int | None = None, nprobe: int = 8,
                 iters: int = 10):
        import math

        k = len(centroids)
        dim = len(centroids[0])
        coarse_k = _default_coarse_k(k, nprobe, coarse_k)
        coarse, assign = _cluster_centroids(centroids, coarse_k, iters)
        groups: dict[int, list] = {}
        for cid, coarse_id in enumerate(assign):
            cn = math.sqrt(sum(x * x for x in centroids[cid])) or 1.0
            groups.setdefault(int(coarse_id), []).append(
                (cid, [float(x) for x in centroids[cid]], cn))
        live = sorted(groups)
        self.coarse = [coarse[g] for g in live]
        self.rows = [(ccell, cid, vec, cn)
                     for ccell, g in enumerate(live)
                     for cid, vec, cn in groups[g]]
        self.centroids = centroids
        self.nprobe = min(int(nprobe), len(self.coarse))
        self.k, self.dim = k, dim
        self._frame = None
        self._coarse_index = None

    #: ``from_frame``'s driver-held coarse-training sample never exceeds
    #: this many centroid rows, whatever k is — the flat-driver-memory
    #: guarantee of the table-resident rung (50k x dim doubles; at
    #: dim=1024 ≈ 400 MB worst case, ≈ 6 MB at dim=16).
    FRAME_SAMPLE_MAX = 50_000

    @classmethod
    def from_frame(cls, frame: DataFrame, *, k: int | None = None,
                   dim: int | None = None, coarse_k: int | None = None,
                   nprobe: int = 8, iters: int = 10,
                   cid_col: str = "cid", cvec_col: str = "cvec",
                   coarse: list | None = None,
                   ) -> "CentroidTable":
        """Build the table rung from a centroid DATAFRAME
        ``(cid int, cvec array<double>)`` — e.g.
        :func:`train_kmeans_table`'s output or a stored table read —
        WITHOUT ever collecting or broadcasting a k-sized structure
        (r8 verdict task 1: the driver previously held k x dim three
        times over — seed collect, per-iteration aggregate collect,
        and ``createDataFrame`` of the rows — which fails before any
        plan runs once ``semantic_k`` steers k into the tens of
        millions).

        What stays on the driver (all bounded, none k-sized):

        - a deterministic md5-hash SAMPLE of at most
          :data:`FRAME_SAMPLE_MAX` centroid rows, collected to train
          the ~sqrt(k) coarse level with the same
          :func:`_cluster_centroids` numpy loop as the list
          constructor (coarse quality needs a representative sample,
          not every centroid — the same argument as
          ``semantic_dedup_auto``'s sampled Lloyd's);
        - the resulting coarse matrix (≤1024 x dim);
        - the ≤coarse_k live-cell id list (one tiny distinct).

        The fine→coarse grouping itself is a one-pass DISTRIBUTED
        assignment over the centroid frame (the rung applied to its
        own construction): a literal coarse argmin below
        :data:`COARSE_LIT_MAX`, else a broadcast
        :class:`CentroidIndex` over the coarse level. Empty coarse
        cells are dropped and re-indexed densely exactly like the
        list constructor (probed cells must be live, or a row whose
        probes are all empty would vanish from the inner candidate
        join). :meth:`frame` then returns this real distributed frame
        — the docstring promise at the list constructor's ``frame()``
        ("a genuinely distributed-trained centroid set would land
        here as a real table read instead, same schema, same plan").

        Contract on ``frame``: ``cid`` values are unique, non-null,
        non-negative ints INCLUDING 0 (zero-norm vectors pin to
        centroid 0 on every rung). When k ≤ the sample bound the
        sample is the whole frame sorted by cid, so the coarse level —
        and therefore every probe/assign result — is BIT-IDENTICAL to
        ``CentroidTable(collected_list)``; above it the coarse
        grouping differs (sampled training) but probe-everything
        assignment is still exactly the literal argmin.

        Exactness/parity: unchanged from the class contract —
        ``nprobe=len(coarse)`` probes everything and reproduces the
        flat literal argmin bit-for-bit regardless of how the coarse
        level was trained (all fine centroids become candidates; the
        argmin is over the same cosine and total order).

        ``coarse`` (a ≤1024 x dim list of vectors) skips the sample
        collect and the numpy coarse training and reuses the given
        coarse level as-is — :func:`train_kmeans_table` passes the
        previous Lloyd's iteration's (centroids move little per step,
        so re-running only the distributed fine→coarse grouping saves
        the dominant rebuild cost each iteration). Probe-everything
        assignment stays exact for any coarse level; approximate
        probes follow the supplied grouping.
        """
        import math

        sel = frame.select(F.col(cid_col).cast("int").alias("cid"),
                           F.col(cvec_col).cast("array<double>")
                           .alias("cvec"))
        if k is None:
            k = sel.count()
        if k <= 0:
            raise ValueError("from_frame needs a non-empty centroid frame")
        if dim is None:
            dim = sel.select(F.size("cvec")).first()[0]
        if coarse is not None:
            # caller-supplied coarse level (e.g. the previous Lloyd's
            # iteration's — train_kmeans_table's reuse path, r9 verdict
            # task 3): skip the sample collect and the numpy coarse
            # training entirely; only the distributed fine→coarse
            # grouping below runs. Assignment exactness is unchanged —
            # probe-everything reproduces the flat argmin for ANY
            # coarse level; approximate probes may group differently.
            coarse = [list(c) for c in coarse]
        else:
            # deterministic hash sample, collected driver-side ONLY
            # for coarse training — CEILING division keeps the
            # expected sample ≤ FRAME_SAMPLE_MAX at every k (floor
            # collected up to 2x the bound just past the threshold)
            coarse_k = _default_coarse_k(k, nprobe, coarse_k)
            m = -(-int(k) // int(cls.FRAME_SAMPLE_MAX))
            if m <= 1:
                sample_rows = sel.orderBy("cid").collect()
            else:
                from ..functions.portable_hash import md5_hash64

                sample_rows = (sel.filter(F.pmod(
                    md5_hash64(F.col("cid").cast("string"),
                               seed="ctable-coarse-v1"), F.lit(m)) == 0)
                    .orderBy("cid").collect())
            if not sample_rows:
                sample_rows = sel.orderBy("cid").limit(coarse_k).collect()
            sample = [list(r.cvec) for r in sample_rows]
            coarse_k = min(coarse_k, len(sample))
            coarse, _ = _cluster_centroids(sample, coarse_k, iters)
        # distributed fine→coarse grouping over the centroid frame
        # (one pass, k rows): literal argmin while the coarse level is
        # literal-sized, else through a CentroidIndex over the coarse
        # matrix (≤1024 x dim — broadcast-safe at any k)
        v = sel.withColumn("nrm", _norm(F.col("cvec")))
        if len(coarse) <= COARSE_LIT_MAX:
            grouped = v.withColumn("__ccell", _centroid_argmin_expr(
                coarse, F.col("cvec"), F.col("nrm")))
        else:
            cidx = CentroidIndex(coarse, nprobe=min(8, len(coarse)))
            grouped = (v.crossJoin(F.broadcast(cidx.frame(
                frame.sparkSession)))
                .withColumn("__ccell", _indexed_argmin_expr(
                    cidx, F.col("cvec"), F.col("nrm")))
                .drop("__cmap"))
        # the grouping pass over k centroid rows is the expensive part
        # of construction (it runs the coarse probe per centroid) —
        # persist it so the live-cell distinct below, the remapped
        # frame(), and every later assignment job share ONE execution
        # instead of re-deriving the k-row lineage per job (measured:
        # 178 s → seconds per assign at k=1M, tools/
        # soak_table_resident.py). persist, not localCheckpoint: the
        # lineage is deterministic, so a lost executor recomputes
        # instead of killing every later job (the r7 stream lesson).
        # Storage is k x dim distributed executor memory — the rung's
        # whole point; release with :meth:`unpersist` when done.
        grouped = grouped.persist()
        backing = grouped
        # live-cell remap: ≤coarse_k ids, driver-tiny; same dense
        # re-indexing as the list constructor (this also materializes
        # the persist)
        live = sorted(r[0] for r in
                      grouped.select("__ccell").distinct().collect())
        # dense re-indexing of live coarse cells: identity when every
        # cell is live (the common case — zero plan cost), a literal
        # map while small, a broadcast-joined mapping frame past the
        # literal comfort zone (a 2·|live| literal map at |live| in
        # the tens of thousands is its own plan-size ceiling)
        backings = [backing]
        if live == list(range(len(coarse))):
            remap_expr = F.col("__ccell")
        elif len(live) <= 2000:
            remap = {old: new for new, old in enumerate(live)}
            remap_expr = F.element_at(
                F.create_map(*[F.lit(x)
                               for old, new in sorted(remap.items())
                               for x in (old, new)]),
                F.col("__ccell"))
        else:
            # past the literal-map comfort zone the remap is a
            # broadcast join against the (≤coarse_k-row) mapping frame
            # — folded into a SECOND persisted backing so assignment
            # plans stay join-free on the centroid side (the fine
            # stage must read as exactly one shuffled join; the soak's
            # never-broadcast audit greps join nodes on __ccell)
            mapping = frame.sparkSession.createDataFrame(
                [(old, new) for new, old in enumerate(live)],
                "__ccell int, __ccell_new int")
            grouped = (grouped.join(F.broadcast(mapping), "__ccell")
                       .drop("__ccell")
                       .withColumnRenamed("__ccell_new", "__ccell")
                       .persist())
            backings.append(grouped)
            remap_expr = F.col("__ccell")
        cnrm = F.when(F.col("nrm") == 0, F.lit(1.0)).otherwise(F.col("nrm"))
        out = cls.__new__(cls)
        out.coarse = [coarse[g] for g in live]
        out.rows = None
        out.centroids = None
        out.nprobe = min(int(nprobe), len(out.coarse))
        out.k, out.dim = int(k), int(dim)
        out._backing = backings
        out._frame = grouped.select(
            remap_expr.cast("int").alias("__ccell"),
            F.col("cid").alias("__cid"),
            F.col("cvec").alias("__cvec"),
            cnrm.alias("__cnrm"))
        out._coarse_index = None
        return out

    def unpersist(self) -> None:
        """Release the from_frame backing cache(s) (k x dim distributed
        executor storage). No-op for the list constructor."""
        for backing in getattr(self, "_backing", None) or []:
            backing.unpersist()

    def frame(self, spark) -> DataFrame:
        """The centroid TABLE: k rows ``(__ccell, __cid, __cvec,
        __cnrm)``. Unlike :meth:`CentroidIndex.frame` this is never
        broadcast — it is one join SIDE. Cached per instance. For the
        list constructor the driver holds k x dim and this is a
        ``createDataFrame`` of those rows; for :meth:`from_frame` it
        is a real distributed frame derived from the centroid table
        read — same schema, same plan downstream (the promise this
        docstring carried since r8, implemented in r9)."""
        if self._frame is None:
            self._frame = spark.createDataFrame(
                self.rows,
                "__ccell int, __cid int, __cvec array<double>, "
                "__cnrm double")
        return self._frame

    def stream_frames(self, spark) -> "list[DataFrame]":
        """The frames a long-lived caller should persist at setup and
        unpersist on termination: the centroid table itself, plus —
        when the coarse level is past :data:`COARSE_LIT_MAX` — the
        coarse CentroidIndex frame that :meth:`_probe_expr` otherwise
        re-derives per plan (r8 ADVICE: the stream persisted only the
        table frame while the sqrt(k)-sized coarse frame was rebuilt
        per micro-batch)."""
        frames = [self.frame(spark)]
        if len(self.coarse) > COARSE_LIT_MAX:
            if self._coarse_index is None:
                self._coarse_index = CentroidIndex(
                    self.coarse, nprobe=min(8, len(self.coarse)))
            frames.append(self._coarse_index.frame(spark))
        return frames

    def _probe_expr(self, spark, df: DataFrame,
                    vec: Column, nrm: Column) -> tuple[DataFrame, Column]:
        """(df ready for the probe, nprobe-coarse-cells array column).
        Literal probe while the coarse level is literal-sized; past
        that, a CentroidIndex over the COARSE centroids (sqrt(k)·dim —
        broadcast-safe even when k·dim is not)."""
        if len(self.coarse) <= COARSE_LIT_MAX:
            return df, probe_cells_expr(self.coarse, vec, nrm,
                                        nprobe=self.nprobe)
        if self._coarse_index is None:
            self._coarse_index = CentroidIndex(
                self.coarse, nprobe=min(8, len(self.coarse)))
        cidx = self._coarse_index
        out = df.crossJoin(F.broadcast(cidx.frame(spark)))
        return out, probe_cells_expr_indexed(cidx, vec, nrm,
                                             nprobe=self.nprobe)

    def _scored(self, df: DataFrame, *, id_col: str, vec_col: str,
                nrm_col: str) -> tuple[DataFrame, Column]:
        """The shared candidate scorer: (joined candidate frame, the
        ``struct(sim, -cid)`` order column) — both :meth:`assign` and
        :meth:`probe_and_assign` aggregate THIS join so the two paths
        can never diverge (the `_indexed_scored_candidates` rule, one
        rung down)."""
        spark = df.sparkSession
        # id contract enforcement (r8 ADVICE): the winner joins back by
        # id, and a NULL id never equi-joins — the row would silently
        # vanish where every other rung (pure projections) keeps it.
        # raise_error makes the violation LOUD at zero cost on the
        # clean path (the branch never evaluates for non-null ids).
        guarded_id = F.when(
            F.col(id_col).isNotNull(), F.col(id_col)).otherwise(
            F.raise_error(F.lit(
                f"CentroidTable assignment requires non-null unique "
                f"'{id_col}' values: a NULL id cannot equi-join its "
                f"winning cell back and the row would silently vanish "
                f"(filter or key the frame before assigning)")))
        probe_in = df.select(guarded_id.alias(id_col), vec_col, nrm_col)
        probe_in, probe = self._probe_expr(
            spark, probe_in, F.col(vec_col), F.col(nrm_col))
        # the probe list is a derived array — bind it in its own
        # projection BEFORE the explode (the Generate-drag trap), and
        # drop the coarse-index map columns so they don't ride the join
        ex = (probe_in.withColumn("__probe", probe)
              .select(id_col, vec_col, nrm_col,
                      F.explode("__probe").alias("__ccell")))
        joined = ex.join(self.frame(spark).hint("shuffle_hash"), "__ccell")
        # expanded left-deep dot, NOT the interpreted HOF fold: this
        # runs once per CANDIDATE join row (the hot path — measured
        # 2.5 ms/row at k=10k with the fold) and dim is static here;
        # bitwise-equal sums, so the probe-everything parity pins hold
        sim = F.nanvl(
            F.when((F.col(nrm_col) != 0) & (F.col("__cnrm") != 0),
                   _dot_expanded(F.col(vec_col), F.col("__cvec"), self.dim)
                   / (F.col(nrm_col) * F.col("__cnrm")))
            .otherwise(F.lit(-2.0)), F.lit(-2.0))
        order = F.struct(sim.alias("sim"), (-F.col("__cid")).alias("negid"))
        return joined, order

    def assign(self, df: DataFrame, *, id_col: str,
               vec_col: str = "vec", nrm_col: str = "nrm",
               out_col: str = "cell") -> DataFrame:
        """``df`` + ``out_col`` via the shuffled argmin. ``df`` must carry a UNIQUE ``id_col`` plus
        ``vec_col``/``nrm_col``; every input row comes back exactly
        once (probed coarse cells are live by construction, so the
        candidate join never drops a row)."""
        joined, order = self._scored(df, id_col=id_col, vec_col=vec_col,
                                     nrm_col=nrm_col)
        won = joined.groupBy(id_col).agg(
            F.max_by(F.col("__cid"), order).alias("__best"),
            F.any_value(F.col(nrm_col)).alias("__nrm0"))
        # zero-norm rows fall to centroid 0 on every other path (all
        # sims floor to -2.0 and cid 0 wins the literal fold); the
        # probed candidate set here need not contain cid 0 — pin it
        cell = F.when(F.col("__nrm0") == 0, F.lit(0)) \
            .otherwise(F.col("__best"))
        return df.join(won.select(F.col(id_col), cell.alias(out_col)),
                       id_col)

    def probe_and_assign(self, df: DataFrame, *, id_col: str,
                         vec_col: str = "vec", nrm_col: str = "nrm",
                         nprobe: int = 2, cell_col: str = "cell",
                         probes_col: str = "probes") -> DataFrame:
        """``df`` + argmin ``cell_col`` + top-``nprobe`` fine-cell list
        ``probes_col`` in ONE aggregation over the shuffled candidate
        join — the table-rung twin of ``probe_cells_expr_indexed`` +
        `_indexed_argmin_expr` (what the streaming embedding dedup
        needs per batch row). Ranking collects the row's scored
        candidates (``collect_list`` → sort → slice): per-row candidate
        width is nprobe_coarse·k/coarse_k ≈ sqrt(k)-sized — bounded,
        but heavier than the argmin-only :meth:`assign`; use that when
        the probe list is not needed. Same cosine, same
        struct(sim, -cid) order, so ``cell_col`` is always
        ``probes_col[0]``; zero-norm rows pin to cell 0 and the
        literal path's [0..nprobe-1] probe list."""
        joined, order = self._scored(df, id_col=id_col, vec_col=vec_col,
                                     nrm_col=nrm_col)
        top = F.slice(F.sort_array(F.collect_list(order), asc=False),
                      1, nprobe)
        won = joined.groupBy(id_col).agg(
            F.max_by(F.col("__cid"), order).alias("__best"),
            F.any_value(F.col(nrm_col)).alias("__nrm0"),
            F.transform(top, lambda s: (-s["negid"]).cast("int"))
            .alias("__top"))
        zeroprobe = F.array(*[F.lit(i)
                              for i in range(min(int(nprobe), self.k))])
        cell = F.when(F.col("__nrm0") == 0, F.lit(0)) \
            .otherwise(F.col("__best"))
        probes = F.when(F.col("__nrm0") == 0, zeroprobe) \
            .otherwise(F.col("__top"))
        return df.join(
            won.select(F.col(id_col), cell.alias(cell_col),
                       probes.alias(probes_col)), id_col)


def kmeans_assign(vectors: DataFrame, centroids: list[list[float]], *,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  index: "CentroidIndex | CentroidTable | None" = None,
                  ) -> DataFrame:
    """(id, centroid_id) for TRAINED centroids (:func:`train_kmeans`).

    Unlike :func:`ivf_assign` (broadcast join + shuffled argmin
    aggregation), this inlines the k centroids as literals so
    assignment is a pure projection: zero exchanges, pipelineable into
    the partitioned-layout write. Use for the common IVF regime (k*dim
    up to a few tens of thousands — codegen expression size is the
    bound, documented not guessed: 256x64 works).

    ``index=`` (a :class:`CentroidIndex` built over the same
    centroids) switches to the two-level table-backed assignment for
    the LARGE-k regime ``semantic_k`` steers into at corpus scale:
    plan size constant in k, per-row cost O(nprobe·k/coarse_k·dim),
    still one projection + one broadcast, zero shuffles. Exact when
    the probed coarse cells contain the true argmin (probe everything
    for bit-parity with the literal path)."""
    v = (vectors.select(F.col(id_col).alias("id"),
                        F.col(vec_col).cast("array<double>").alias("vec"))
         .withColumn("nrm", _norm(F.col("vec"))))
    if index is not None:
        return (with_centroid_cell(v, index, out_col="centroid_id",
                                   id_col="id")
                .select(F.col("id").alias(id_col), "centroid_id"))
    cid = _centroid_argmin_expr(centroids, F.col("vec"), F.col("nrm"))
    return v.select(F.col("id").alias(id_col), cid.alias("centroid_id"))


def semantic_k(n_vectors: int, target_cell: int = 500) -> int:
    """The cluster count that holds SemDeDup's expected cell occupancy
    at ``target_cell`` vectors — pass to :func:`train_kmeans` so the
    within-cell |cell|^2 pair work stays ~linear in the corpus
    (measured: tools/soak_neardup.py semantic_dedup legs)."""
    return max(4, int(n_vectors) // max(1, int(target_cell)))


def semantic_dedup(vectors: DataFrame,
                   centroids: "list[list[float]] | None", *,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   threshold: float = 0.95,
                   max_cell_size: int | None = None,
                   index: "CentroidIndex | CentroidTable | None" = None,
                   ) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication", 2023 — public paper): k-means-cluster the embedding
    space, call two items duplicates when their cosine WITHIN a cluster
    reaches ``threshold``, keep the smallest id per duplicate group.
    Returns the kept subset of ``vectors`` (all columns).

    Composition of existing pieces, all bucketed: literal-centroid cell
    assignment (zero exchange, :func:`kmeans_assign`'s expression) →
    within-cell pair join (equi-join on the cell id: candidate work is
    sum over cells of |cell|^2, never corpus^2 — the paper's reason for
    clustering first) → expanded-codegen cosine verify → connected
    components → broadcast anti-join of the losers. Cross-cluster
    duplicates are missed BY DESIGN (the paper's trade; k tunes it).

    **Scale the CLUSTER COUNT with the corpus** (:func:`semantic_k`):
    |cell|^2 work means a fixed k is quadratic in n — measured 10x
    vectors at fixed k=4 cost 957 s while k=n/500 cost 90 s with far
    less transitive chaining (tools/soak_neardup.py) — the paper's
    regime (k grows with the corpus, cell occupancy stays constant),
    and the same lesson as the fixed-plane LSH family's cliff.

    ``max_cell_size`` guards a degenerate clustering (everything in one
    cell → quadratic pair join): cells above it are skipped for pair
    generation with the same caveat as ``lsh_pairs_from_buckets``.
    ``centroids`` come from :func:`train_kmeans`.

    ``index=`` (a :class:`CentroidIndex` or :class:`CentroidTable`
    over the same centroids) switches the cell assignment to the
    two-level broadcast form or the shuffled centroid-table form —
    REQUIRED in the large-k regime :func:`semantic_k` produces at
    corpus scale (k grows with n; the literal projection does not,
    and past k·dim ≈ :data:`TABLE_FROM_KDIM` neither does the
    broadcast frame). The pair stage is unchanged: duplicates are
    defined within the ASSIGNED cell either way.

    ``centroids=None`` is allowed when ``index`` is given (the
    table-RESIDENT rung never materializes a driver-side centroid
    list — :meth:`CentroidTable.from_frame` carries k/dim itself).
    """
    if centroids is None:
        if index is None:
            raise ValueError("semantic_dedup needs centroids= or index=")
        dim = index.dim
    else:
        dim = len(centroids[0])
    par = vectors.sparkSession.sparkContext.defaultParallelism
    # the pair join broadcasts one side, so the PROBE side's layout is
    # the entire parallelism of the |cell|^2 cosine work — a single-file
    # corpus scan would run every pair on one core (the repo's
    # single-core probe trap); spread it by id before the join
    v = (vectors.select(F.col(id_col).alias("id"),
                        F.col(vec_col).cast("array<double>").alias("vec"))
         .repartition(par, F.col("id"))
         .withColumn("nrm", _norm(F.col("vec"))))
    if index is not None:
        v = with_centroid_cell(v, index, id_col="id")
        if isinstance(index, CentroidTable):
            # the table rung's assignment is a shuffled join+agg
            # lineage, and the pair stage self-joins v (aliases a/b) —
            # materialize it ONCE instead of running the exchange
            # twice (the r7 CC pair-lineage lesson)
            v = v.localCheckpoint(eager=False)
    else:
        v = v.withColumn("cell",
                         _centroid_argmin_expr(centroids, F.col("vec"),
                                               F.col("nrm")))
    if max_cell_size is not None:
        sizes = v.groupBy("cell").agg(F.count("*").alias("n"))
        v_pairs = v.join(F.broadcast(
            sizes.filter(F.col("n") <= max_cell_size).select("cell")), "cell")
    else:
        v_pairs = v
    sim = F.when((F.col("a.nrm") != 0) & (F.col("b.nrm") != 0),
                 _dot_expanded_sql("a.vec", "b.vec", dim)
                 / (F.col("a.nrm") * F.col("b.nrm"))).otherwise(F.lit(0.0))
    # the cosine verify goes INTO the join condition, explicitly LAST:
    # a post-join .filter() is pushed into the BroadcastHashJoin
    # condition anyway (PushPredicateThroughJoin), but it lands BEFORE
    # the residual `a.id < b.id` conjunct — the 64-term dot then runs
    # on every unordered cell collision, 2x the ordered-pair count.
    # Ordering the conjuncts ourselves (equi keys for the hash lookup,
    # cheap id< short-circuit, expensive verify last) was measured r11
    # at 4.40 s -> 1.88 s on the sf0.1 pair stage (with the getItem
    # dot); results identical — same pairs, same expression values.
    pairs = (
        v_pairs.alias("a")
        .join(v_pairs.alias("b"),
              (F.col("a.cell") == F.col("b.cell"))
              & (F.col("a.id") < F.col("b.id"))
              & (F.round(sim, 6) >= threshold))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
    )
    from .dedup import dedup_keep_representative

    # SemDeDup's pair stage bounds the residual graph (per-cell joins,
    # max_cell_size cap), so at ANY corpus size the edge count is small
    # relative to the corpus: "auto" runs driver-side union-find below
    # the LOCAL_CC_MAX_EDGES gate (milliseconds vs seconds-per-round of
    # distributed job overhead — the sf0.1 graph is ~400 edges) and
    # falls back to star CC above it; outputs identical (test_llm_ops)
    return dedup_keep_representative(vectors, pairs, id_col=id_col,
                                     cc_algorithm="auto")


def semantic_dedup_auto(vectors: DataFrame, *, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95, target_cell: int = 500,
                        iters: int = 10,
                        max_cell_size: int | None = None,
                        index_from: int = 256,
                        index_kw: dict | None = None,
                        train_per_centroid: int | None = 100,
                        table_from_kdim: int = TABLE_FROM_KDIM,
                        driver_kdim: int = DRIVER_KDIM,
                        ) -> DataFrame:
    """One-verb SemDeDup with the scale knobs set from the corpus:
    k = :func:`semantic_k` (cell occupancy ~``target_cell``, keeping
    the within-cell pair work linear in n), spherical k-means trained
    on the corpus, and the two-level :class:`CentroidIndex` engaged
    automatically once k reaches ``index_from`` (the literal argmin's
    comfortable ceiling). Equivalent to composing
    :func:`train_kmeans` → :func:`CentroidIndex` →
    :func:`semantic_dedup` by hand; exists so the at-scale defaults
    are one call instead of three decisions. An empty corpus returns
    the empty frame (fresh deployments poll unconditionally).

    ``index_from`` defaults to the MEASURED literal/indexed crossover
    (tools/soak_centroid_k.py: at k=256 the literal argmin costs
    21 s plan + 3.8 s exec vs the index's 4.2 + 1.5 — the literal
    plan-build is super-linear in k, so 256 is already firmly on the
    indexed side; r7 verdict task 2 aligned the default with that
    measurement, down from 512).

    **Training cost is bounded to ~one corpus pass** (r7 verdict task
    1b): Lloyd's iterations run on a deterministic hash-sample of
    ``train_per_centroid`` (default 100) vectors per centroid — the
    standard k-means-at-scale shape (train on ~100·k, assign ALL n) —
    instead of ``iters`` full corpus scans. With
    k = n/``target_cell`` the sample is ~n/5 of the corpus, so 10
    iterations cost ~2 corpus-row-passes of work rather than 10. The
    sample is id-hash based (md5, partitioning-independent), so the
    trained centroids are bit-reproducible on any layout; sampling
    engages only when it actually shrinks the input (n > 100·k), and
    the full-corpus assignment in :func:`semantic_dedup` is untouched
    either way.

    .. note:: **Changed in r8** (ADVICE r8): ``index_from`` dropped
       512 → 256 (the measured crossover) and training moved to the
       hash sample above — both change the trained centroids, so
       dedup sets produced by earlier rounds are not reproduced by
       the same call. Pass ``train_per_centroid=None`` to recover the
       prior FULL-CORPUS training path explicitly (and pin
       ``index_from`` if the r7 value mattered to you).

    **The ladder's top rung (r9)**: past ``driver_kdim`` (k·dim where
    even HOLDING the centroids driver-side stops being comfortable —
    :data:`DRIVER_KDIM`), training and assignment both go
    table-resident: :func:`train_kmeans_table` (per-iteration state
    is a centroid DataFrame, nothing k-sized on the driver) feeding
    :meth:`CentroidTable.from_frame`. At the 100 TB north star
    (semantic_k in the tens of millions) this is the only rung that
    runs at all. On this rung the returned frame carries the
    constructed table as ``result.semantic_dedup_table`` — call its
    ``unpersist()`` after materializing the result, or the k x dim
    backing cache outlives the call (r9 ADVICE)."""
    n = vectors.count()
    if n == 0:
        return vectors
    k = min(semantic_k(n, target_cell), n)
    if train_per_centroid is None:
        train = vectors
    else:
        train = _training_sample(vectors, n=n, k=k, id_col=id_col,
                                 per_centroid=train_per_centroid)
    if k >= int(index_from):
        # dim decides the rung past index_from; one single-row job
        dim = vectors.select(
            F.size(F.col(vec_col).cast("array<double>"))).first()[0]
        if k * dim > int(driver_kdim):
            cent_frame = train_kmeans_table(
                train, id_col=id_col, vec_col=vec_col, k=k, iters=iters,
                dim=dim, **{kk: vv for kk, vv in (index_kw or {}).items()
                            if kk in ("nprobe", "coarse_k")})
            table = CentroidTable.from_frame(cent_frame, k=k, dim=dim,
                                             **(index_kw or {}))
            out = semantic_dedup(vectors, None, id_col=id_col,
                                 vec_col=vec_col, threshold=threshold,
                                 max_cell_size=max_cell_size,
                                 index=table)
            # the from_frame backing is k x dim persisted executor
            # storage the lazy result still reads — unpersisting here
            # would force a full rebuild per downstream action, so the
            # table rides along for the caller to release once the
            # result is materialized (r9 ADVICE: long-lived sessions
            # otherwise leak one backing per call):
            #   kept = semantic_dedup_auto(...); kept.write...(...)
            #   kept.semantic_dedup_table.unpersist()
            out.semantic_dedup_table = table
            return out
    cents = train_kmeans(train, id_col=id_col, vec_col=vec_col, k=k,
                         iters=iters, two_level_from=int(index_from),
                         index_kw=index_kw,
                         table_from_kdim=int(table_from_kdim))
    idx = None
    if k >= int(index_from):
        # the same ladder the trainer climbs: broadcast index while the
        # frame is comfortable, shuffled centroid table past the bound
        cls = (CentroidTable if k * len(cents[0]) > int(table_from_kdim)
               else CentroidIndex)
        idx = cls(cents, **(index_kw or {}))
    return semantic_dedup(vectors, cents, id_col=id_col, vec_col=vec_col,
                          threshold=threshold,
                          max_cell_size=max_cell_size, index=idx)


def _training_sample(vectors: DataFrame, *, n: int, k: int,
                     id_col: str, per_centroid: int) -> DataFrame:
    """Deterministic ~``per_centroid``·k-vector sample for k-means
    training: keep ids whose md5-derived portable hash is ≡ 0 mod m
    (m = n // (per_centroid·k) — a uniform 1/m of the id space). One
    filter on one scan — no shuffle, no count job — and the SAME rows
    are chosen regardless of partitioning/file layout (DataFrame.sample
    is partition-order-sensitive; this is not). Guarantees nothing
    about the exact sample size (hashing is uniform, n is large when
    sampling engages), but :func:`train_kmeans` only requires ≥ k seed
    rows and per_centroid·k ≫ k."""
    m = n // max(1, int(per_centroid) * k)
    if m <= 1:
        return vectors
    from ..functions.portable_hash import md5_hash64

    return vectors.filter(
        F.pmod(md5_hash64(F.col(id_col).cast("string"),
                          seed="kmeans-train-v1"), F.lit(m)) == 0)


def train_kmeans(vectors: DataFrame, *, id_col: str = "vec_id",
                 vec_col: str = "embedding", k: int = 8, iters: int = 10,
                 tol: float = 1e-9,
                 two_level_from: int | None = None,
                 index_kw: dict | None = None,
                 table_from_kdim: int = TABLE_FROM_KDIM,
                 ) -> list[list[float]]:
    """Distributed spherical k-means (Lloyd's) for IVF centroid training.

    Deterministic init: the k smallest-id vectors. Each iteration is one
    corpus pass: map-side nearest-centroid assignment (literal centroids,
    no join, no shuffle) + ONE k-group aggregate of per-component sums
    (map-side partials collapse each partition to k x dim numbers — the
    only shuffled bytes). The driver holds just the k x dim centroid
    matrix between iterations, never corpus rows; this is the standard
    scalable Lloyd's shape (same as Spark MLlib's KMeans aggregation
    strategy, re-expressed on DataFrames so it composes with
    :func:`kmeans_assign` / the partitioned ANN layout).

    Centroids are unit-normalized each round (spherical k-means — the
    cosine-geometry variant); empty clusters keep their previous
    centroid. Returns the k x dim list-of-lists (row i = centroid i).

    Training commonly runs on a :meth:`DataFrame.sample` of the corpus;
    pass the sample in — this function does not subsample.

    ``two_level_from``: at or above this k, each iteration's
    assignment switches from the literal argmin projection (whose plan
    is O(k·dim) codegen — the r6 scale ceiling) to the table-backed
    two-level :class:`CentroidIndex` built per iteration from the
    CURRENT centroids (driver-side numpy over k x dim — trivial next
    to the corpus pass). The per-iteration plan is then constant-size
    in k. Two-level assignment is the standard IVF approximation, so
    huge-k training is approximate Lloyd's (each step still reduces
    within-probe distortion). The default is ``None`` — exact Lloyd's
    at any k, so existing trained centroids stay bit-reproducible;
    large-k callers OPT IN (``semantic_dedup_auto`` passes its
    ``index_from``, 256 — the measured literal/indexed crossover,
    tools/soak_centroid_k.py). ``index_kw`` tunes
    coarse_k/nprobe. Below the threshold the two paths are the same
    algorithm. Past ``table_from_kdim`` (k·dim where the broadcast
    index frame stops being comfortable) the per-iteration assignment
    climbs one more rung to the shuffled :class:`CentroidTable` —
    same candidates, same argmin, exchange instead of broadcast.
    """
    v = (vectors.select(F.col(id_col).alias("id"),
                        F.col(vec_col).cast("array<double>").alias("vec"))
         .withColumn("nrm", _norm(F.col("vec"))))
    seed_rows = v.orderBy("id").limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(seed_rows)}")
    dim = len(seed_rows[0].vec)

    def _unit(c: list[float]) -> list[float]:
        import math
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        return [x / n for x in c]

    two_level = two_level_from is not None and k >= int(two_level_from)
    centroids = [_unit(list(r.vec)) for r in seed_rows]
    for _ in range(iters):
        if two_level:
            cls = (CentroidTable if k * dim > int(table_from_kdim)
                   else CentroidIndex)
            idx = cls(centroids, **(index_kw or {}))
            assigned = with_centroid_cell(v, idx, out_col="cid",
                                          id_col="id")
        else:
            cid = _centroid_argmin_expr(centroids, F.col("vec"),
                                        F.col("nrm"))
            assigned = v.withColumn("cid", cid)
        stats = (assigned
                 .groupBy("cid")
                 .agg(F.count("*").alias("n"),
                      *[F.sum(F.col("vec")[j]).alias(f"s{j}")
                        for j in range(dim)])
                 .collect())
        new = [list(c) for c in centroids]
        for row in stats:
            new[row.cid] = _unit([row[f"s{j}"] / row.n for j in range(dim)])
        shift = max(abs(a - b) for nc, oc in zip(new, centroids)
                    for a, b in zip(nc, oc))
        centroids = new
        if shift <= tol:
            break
    return centroids


def _unit_expr(vec: Column) -> Column:
    """Spark-side twin of ``train_kmeans``'s driver ``_unit``: l2
    normalization with the zero-norm→1.0 guard, as the SAME sequence
    of IEEE ops (left-to-right fold of squares = python ``sum``,
    correctly-rounded sqrt, per-component division) so a table-resident
    iteration reproduces the driver iteration bit-for-bit when the
    component sums agree."""
    nrm = F.sqrt(F.aggregate(F.transform(vec, lambda x: x * x),
                             F.lit(0.0), lambda acc, v: acc + v))
    safe = F.when(nrm == 0, F.lit(1.0)).otherwise(nrm)
    return F.transform(vec, lambda x: x / safe)


def _hash_rank_seed_frame(v: DataFrame, k: int, n: int, *,
                          oversample: int = 8,
                          buckets: int = 1024) -> DataFrame:
    """k seed centroids ``(cid 0..k-1, cvec)`` chosen and densely
    numbered WITHOUT a driver collect or a global sort — the
    table-resident replacement for ``train_kmeans``'s
    ``orderBy(id).limit(k).collect()`` seed (r8 verdict task 1b).

    Order = (md5 hash, id): a deterministic, partitioning-independent
    pseudo-random total order (effectively random seeds — at least as
    good an init as smallest-id). Dense numbering is the repo's
    two-phase enumeration shape (the pack_documents lesson): bucket by
    CONTIGUOUS hash ranges, collect the ≤``buckets`` per-bucket counts,
    cumulate offsets driver-side, then rank = offset + per-bucket
    ``row_number`` — every window partition is ~pool/buckets rows, no
    single-task global sort anywhere. The pool is a deterministic
    hash pre-filter of ~``oversample``·k rows so the ranking shuffle
    is k-sized, not corpus-sized."""
    from pyspark.sql import Window

    from ..functions.portable_hash import md5_hash64

    h = md5_hash64(F.col("id").cast("string"), seed="kmeans-seed-v1")
    pool = v.select("id", "vec").withColumn("__h", h)
    m = n // max(1, int(oversample) * k)
    if m > 1:
        pool = pool.filter(F.pmod(F.col("__h"), F.lit(m)) == 0)
    # exact bigint division (`div`), not float `/`: h is 60-bit and a
    # double carries 53 — float rounding would still be monotone (so
    # buckets stay contiguous) but exact is simpler to defend
    span = (1 << 60) // int(buckets) + 1
    pool = pool.withColumn("__b", F.expr(f"__h div {span}").cast("int"))
    counts = {r["__b"]: r["c"] for r in
              pool.groupBy("__b").agg(F.count("*").alias("c")).collect()}
    total = sum(counts.values())
    if total < k:
        raise ValueError(
            f"k={k} exceeds the seed pool ({total} rows after the "
            f"1/{m} hash pre-filter; corpus n={n})")
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    keep = [b for b in sorted(counts) if offsets[b] < k]
    off_map = F.create_map(*[F.lit(x) for b in keep
                             for x in (b, offsets[b])])
    w = Window.partitionBy("__b").orderBy("__h", "id")
    return (pool.filter(F.col("__b").isin(keep))
            .withColumn("__r", F.row_number().over(w) - 1
                        + F.element_at(off_map, F.col("__b")))
            .filter(F.col("__r") < k)
            .select(F.col("__r").cast("int").alias("cid"),
                    _unit_expr(F.col("vec")).alias("cvec")))


def train_kmeans_table(vectors: DataFrame, *, id_col: str = "vec_id",
                       vec_col: str = "embedding", k: int = 8,
                       iters: int = 10, tol: float = 1e-9,
                       n: int | None = None, dim: int | None = None,
                       nprobe: int = 8, coarse_k: int | None = None,
                       probe_all: bool = False,
                       seed_frame: DataFrame | None = None,
                       checkpoint_catalog=None,
                       checkpoint_prefix: str = "kmeans",
                       resume: bool = False,
                       coarse_reuse: bool = True) -> DataFrame:
    """:func:`train_kmeans` with TABLE-RESIDENT per-iteration state —
    the training loop for k past driver memory (r8 verdict task 1).
    Returns the centroid DATAFRAME ``(cid int, cvec array<double>)``,
    unit-normalized, materialized (``localCheckpoint``) — feed it to
    :meth:`CentroidTable.from_frame` for assignment or write it with a
    ``Catalog`` for durability.

    Same algorithm (spherical Lloyd's, empty clusters keep their
    previous centroid, ``tol`` max-shift early stop), different
    residency: nothing k-sized ever lands on the driver —

    - **seeds**: :func:`_hash_rank_seed_frame` (deterministic hash
      order + two-phase dense numbering) instead of
      ``orderBy(id).limit(k).collect()``;
    - **assignment**: the shuffled :class:`CentroidTable` rung built
      per iteration via :meth:`~CentroidTable.from_frame` from the
      CURRENT centroid frame (its driver cost is the bounded coarse
      sample, never k rows). ``probe_all=True`` probes every coarse
      cell — exact Lloyd's, the parity mode; the default ``nprobe``
      is approximate Lloyd's exactly like ``train_kmeans``'s
      ``two_level_from`` path (each step still reduces within-probe
      distortion);
    - **update**: the same ``groupBy(cid)`` count+component-sum
      aggregate, but the mean/normalize/empty-cluster-coalesce runs
      IN the plan (:func:`_unit_expr` — bit-matching the driver
      ``_unit``) and the result is checkpointed as the next
      iteration's centroid frame — no k x (dim+1) ``collect()``;
    - **convergence**: one scalar per iteration (max abs component
      shift via a cid equi-join of consecutive frames) — the only
      thing the driver ever holds.

    Parity: with ``seed_frame`` pinned to ``train_kmeans``'s seeds
    and ``probe_all=True``, the returned centroids equal the driver
    loop's bit-for-bit whenever the component sums do (exact for
    integer-valued components; float sums share the same shuffle-order
    caveat BOTH paths always had — pinned in test_table_resident).

    One corpus pass per iteration (assignment + aggregate fused in a
    single job), plus the bounded seed/coarse-sample jobs. ``n`` /
    ``dim`` skip their one-off discovery jobs when the caller already
    knows them. Changed in r10: ``coarse_reuse=True`` (the default)
    rebuilds only the distributed fine→coarse grouping after the first
    iteration, reusing the previous iteration's coarse level instead
    of re-collecting the sample and re-training numpy coarse per step
    (the r9 soak measured ~2 min of rebuild per iteration at k=1M);
    ``coarse_reuse=False`` restores the per-iteration retrain. Exact
    (``probe_all=True``) results are identical either way.

    **Durable resume** (the repo's iterative-state contract —
    ``operators.itercheckpoint``, same shape as PageRank):
    with ``checkpoint_catalog=`` the per-iteration lineage cut writes
    alternating ``{prefix}_centroids_{0,1}`` Catalog tables plus a
    self-consistent one-row ``{prefix}_progress`` pointer (iteration,
    slot table, cut count) — a 100 TB training run that loses the
    driver resumes from the last COMPLETED iteration with
    ``resume=True``, repeating at most one corpus pass, and the
    resumed centroids are identical to the uninterrupted run's
    (pytest-pinned). Without a catalog the cuts are plain
    ``localCheckpoint`` (single-process default)."""
    from ..operators.itercheckpoint import LineageCutter

    cut = LineageCutter(checkpoint_catalog, checkpoint_prefix)
    progress_table = f"{checkpoint_prefix}_progress"
    v = (vectors.select(F.col(id_col).alias("id"),
                        F.col(vec_col).cast("array<double>").alias("vec"))
         .withColumn("nrm", _norm(F.col("vec"))))
    if n is None:
        n = v.count()
    if k > n:
        raise ValueError(f"k={k} exceeds corpus size {n}")
    if dim is None:
        dim = v.select(F.size("vec")).first()[0]
    start_iter = 0
    cent = None
    if resume:
        if checkpoint_catalog is None:
            raise ValueError("resume=True requires checkpoint_catalog")
        if checkpoint_catalog.exists(progress_table):
            row = checkpoint_catalog.read(progress_table).collect()[0]
            cent = checkpoint_catalog.read(row["table"])
            cut.seed("centroids", row["cuts"])
            start_iter = int(row["iter"])
    if cent is None:
        if seed_frame is not None:
            cent = seed_frame.select(F.col("cid").cast("int").alias("cid"),
                                     _unit_expr(F.col("cvec")
                                                .cast("array<double>"))
                                     .alias("cvec"))
        else:
            cent = _hash_rank_seed_frame(v, int(k), int(n))
        cent = cut(cent, "centroids")
    eff_nprobe = int(k) if probe_all else int(nprobe)
    prev_coarse = None
    for it in range(start_iter, iters):
        # coarse_reuse (default on, added r10): iterations after the
        # first hand the PREVIOUS iteration's coarse level to
        # from_frame, skipping its dominant one-time costs (the ≤50k
        # sample collect + numpy coarse training) — centroids move
        # little per Lloyd's step, so the grouping stays balanced.
        # Parity: probe_all=True is exact for ANY coarse level, so
        # the pinned bit-parity vs train_kmeans is unaffected;
        # approximate-probe (nprobe<k) assignments may differ from a
        # freshly-retrained coarse level — both are approximate
        # Lloyd's, but pass coarse_reuse=False to reproduce the r9
        # per-iteration-retrain behavior exactly.
        table = CentroidTable.from_frame(cent, k=int(k), dim=int(dim),
                                         nprobe=eff_nprobe,
                                         coarse_k=coarse_k,
                                         coarse=prev_coarse)
        if coarse_reuse:
            prev_coarse = table.coarse
        assigned = table.assign(v, id_col="id", vec_col="vec",
                                nrm_col="nrm", out_col="cid")
        stats = (assigned.groupBy("cid")
                 .agg(F.count("*").alias("__n"),
                      *[F.sum(F.col("vec")[j]).alias(f"__s{j}")
                        for j in range(dim)]))
        mean = F.array(*[F.col(f"__s{j}") / F.col("__n")
                         for j in range(dim)])
        new = (cent.alias("c").join(stats.alias("s"), "cid", "left")
               .select(F.col("cid"),
                       F.when(F.col("__n").isNotNull(),
                              _unit_expr(mean))
                       .otherwise(F.col("c.cvec")).alias("cvec")))
        new = cut(new, "centroids")
        # the iteration's table backing is k x dim executor cache —
        # release it now that `new` is cut, or `iters` copies
        # accumulate
        table.unpersist()
        if checkpoint_catalog is not None and cut.last_written:
            # iteration pointer + slot table + cut count in ONE
            # overwrite so the progress row is always self-consistent
            # (the BPE convention)
            checkpoint_catalog.overwrite(
                vectors.sparkSession.createDataFrame(
                    [(it + 1, cut.last_written, cut.count("centroids"))],
                    "iter int, table string, cuts int"),
                progress_table)
        shift = (new.alias("x").join(cent.alias("y"), "cid")
                 .select(F.max(F.array_max(F.zip_with(
                     F.col("x.cvec"), F.col("y.cvec"),
                     lambda a, b: F.abs(a - b)))).alias("s"))
                 .first()["s"])
        cent = new
        if shift is not None and shift <= tol:
            break
    return cent
