"""Sparse retrieval scoring: BM25 top-k over the corpus.

The lexical counterpart of ``llm/similarity``'s dense ANN — training-data
curation uses it to pull benchmark-adjacent documents (contamination
auditing), build retrieval baselines, and mine hard negatives.

Okapi BM25 (Robertson et al., public formulation):

    score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))
    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))

Scale shape: the corpus term-frequency table shuffles once on
``(doc, term)``, document frequencies aggregate on ``term`` (map-side
partial), the tiny query-term set broadcasts, and the final ranking
window partitions by query — state bounded by matches per query, never
the corpus. High-df stopword terms carry idf ≈ ln(1+~1/N) ≈ 0 and can
be dropped with ``min_idf`` to starve the term-key skew before the
join (exactness caveat: scores lose those near-zero contributions).

Scores are ROUNDED (6 dp) before ranking with a doc-id tie-break, so
rankings are reproducible across engines and hardware — the same
convention as ``text.tf_idf_top_terms``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def contamination_report(corpus: DataFrame, benchmark: DataFrame, *,
                         top_k: int = 5, shingle_k: int = 3,
                         text_col: str = "text", id_col: str = "doc_id",
                         min_idf: float | None = None) -> DataFrame:
    """Which corpus documents are suspiciously close to each benchmark
    item, and how close: BM25 top-``top_k`` lexical matches per
    benchmark doc, each annotated with the EXACT ``shingle_k``-gram
    Jaccard overlap — the audit the binary ``decontaminate`` flag
    cannot give (reviewers want a ranked list with evidence, not a
    bit).

    Returns ``(bench_id, doc_id, bm25, rnk, overlap_shingles,
    jaccard)`` ordered by rank within each benchmark doc. The Jaccard
    stage touches only the |benchmark|·top_k matched pairs: corpus
    shingles are computed for HIT docs only (semi-join first), so cost
    after BM25 is bounded by the report size, never the corpus.
    """
    from .dedup import shingles_from_tokens

    def shingled(d: DataFrame, out: str) -> DataFrame:
        return (d.select(F.col(id_col).alias(out),
                         tokens(text_col).alias("__tk"))
                .select(out, F.explode(F.array_distinct(
                    shingles_from_tokens(F.col("__tk"), shingle_k)))
                    .alias("shingle")))

    # hits (|benchmark|·top_k rows) feeds three consumers and doc_sh /
    # bench_sh two each — checkpoint so the BM25 corpus scan and the
    # shingling run once, not per consumer (all three frames are
    # report-sized, never corpus-sized)
    hits = bm25_topk(
        corpus, benchmark.select(F.col(id_col).alias("query_id"), text_col),
        top_k=top_k, text_col=text_col, id_col=id_col,
        query_text_col=text_col, min_idf=min_idf,
    ).select(F.col("query_id").alias("bench_id"),
             F.col(id_col).alias("doc"), "bm25", "rnk"
             ).localCheckpoint(eager=True)

    hit_docs = hits.select(F.col("doc").alias(id_col)).distinct()
    doc_sh = shingled(corpus.join(hit_docs, id_col, "left_semi"),
                      "doc").localCheckpoint(eager=True)
    bench_sh = shingled(benchmark, "bench_id").localCheckpoint(eager=True)
    doc_sizes = doc_sh.groupBy("doc").agg(F.count("*").alias("n_doc"))
    bench_sizes = (bench_sh.groupBy("bench_id")
                   .agg(F.count("*").alias("n_bench")))
    inter = (hits.select("bench_id", "doc")
             .join(doc_sh, "doc")
             .join(bench_sh, ["bench_id", "shingle"], "left_semi")
             .groupBy("bench_id", "doc")
             .agg(F.count("*").alias("overlap_shingles")))
    return (hits
            .join(inter, ["bench_id", "doc"], "left")
            .join(doc_sizes, "doc", "left")
            .join(F.broadcast(bench_sizes), "bench_id", "left")
            .select(
                "bench_id", F.col("doc").alias(id_col), "bm25", "rnk",
                F.coalesce("overlap_shingles", F.lit(0))
                .alias("overlap_shingles"),
                F.round(F.coalesce("overlap_shingles", F.lit(0))
                        / (F.col("n_doc") + F.col("n_bench")
                           - F.coalesce("overlap_shingles", F.lit(0))), 6)
                .alias("jaccard")))


def bm25_topk(docs: DataFrame, queries: DataFrame, *, top_k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id",
              query_id_col: str = "query_id", query_text_col: str = "text",
              min_idf: float | None = None,
              n_docs: int | None = None,
              avgdl: float | None = None) -> DataFrame:
    """Top-``top_k`` documents per query by BM25.

    Returns ``(query_id, doc_id, bm25, rnk)``; query terms are DISTINCT
    per query (the standard unweighted-query form). Documents sharing
    no term with a query simply do not appear.

    ``n_docs``/``avgdl`` are the corpus statistics the formula needs;
    left as None they ride the scoring job as a broadcast ONE-ROW
    aggregate (r11 — previously a separate collected tokenization pass
    before the scoring job; same exact-integer arithmetic, same
    scores, zero extra driver jobs). Callers scoring many query
    batches against one corpus should still compute them once
    (``count`` plus exact integer ``sum(size(tokens)) / count``) and
    pass them in — plan literals beat even the lazy aggregate when
    reused.

    Reproducibility: per-term contributions are cast to DECIMAL(38, 12)
    before the per-document SUM (double addition is partition-order-
    dependent — the CLAUDE.md decimal-before-SUM rule), avgdl derives
    from an exact integer token total, and ranking uses the
    6-dp-rounded score with a doc-id tie-break — the same ranking on
    every run and engine (residual cross-engine risk is sub-1e-12 libm
    ulp noise against the 1e-6 rounding grid).
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = (docs.repartition(par, id_col)
            .select(F.col(id_col).alias("doc"), tokens(text_col).alias("__tk"))
            .select("doc", "__tk", F.size("__tk").alias("dl")))
    stats = None
    if n_docs is None or avgdl is None:
        # lazy corpus stats: a 1-row (n, avgdl) aggregate broadcast
        # into the scoring plan — same doubles as the collected path
        # for any token total below 2^53 (Spark's long/long division
        # widens both operands to double first, while Python's int
        # true division is correctly rounded: the two can differ by
        # an ulp once sum(dl) exceeds 2^53 ≈ 9e15 tokens — beyond any
        # real corpus, but not "any scale"); the empty corpus yields
        # an empty result through the plan itself (no rows ever reach
        # the division)
        stats = base.agg(
            F.count("*").cast("double").alias("__n"),
            F.when(F.count("*") > 0,
                   F.sum("dl") / F.count("*"))
            .otherwise(F.lit(0.0)).alias("__avgdl"))
    elif not n_docs:
        qt = queries.schema[query_id_col].dataType.simpleString()
        dt = docs.schema[id_col].dataType.simpleString()
        return (docs.sparkSession.createDataFrame(
            [], f"{query_id_col} {qt}, {id_col} {dt}, bm25 double, rnk int"))

    tf = (base.select("doc", "dl", F.explode("__tk").alias("term"))
          .groupBy("doc", "dl", "term").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = (queries
              .select(F.col(query_id_col).alias("q"),
                      F.explode(F.array_distinct(tokens(query_text_col)))
                      .alias("term")))
    if stats is not None:
        dfreq = dfreq.crossJoin(F.broadcast(stats))
        n_col, avgdl_col = F.col("__n"), F.col("__avgdl")
    else:
        n_col, avgdl_col = F.lit(float(n_docs)), F.lit(float(avgdl))
    dfreq = dfreq.withColumn("idf", F.log(
        F.lit(1.0) + (n_col - F.col("df") + 0.5)
        / (F.col("df") + 0.5)))
    if min_idf is not None:
        dfreq = dfreq.filter(F.col("idf") >= min_idf)
    keep = ["term", "idf"] + (["__avgdl"] if stats is not None else [])
    contrib = (tf.join(dfreq.select(*keep), "term")
               .join(F.broadcast(qterms), "term")
               .select("q", "doc",
                       (F.col("idf") * F.col("tf") * (k1 + 1)
                        / (F.col("tf") + F.lit(k1)
                           * (1 - b + F.lit(b) * F.col("dl") / avgdl_col)))
                       .cast("decimal(38,12)").alias("s")))
    w = Window.partitionBy("q").orderBy(F.desc("bm25"), F.col("doc"))
    return (contrib.groupBy("q", "doc")
            .agg(F.round(F.sum("s").cast("double"), 6).alias("bm25"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= top_k)
            .select(F.col("q").alias(query_id_col),
                    F.col("doc").alias(id_col), "bm25", "rnk"))


def rrf_fuse(rankings: list[DataFrame], *, k: int = 60, top_k: int = 10,
             query_id_col: str = "query_id", id_col: str = "doc_id",
             rank_col: str = "rnk") -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of per-query
    rankings from heterogeneous systems — the standard hybrid-retrieval
    combiner for a lexical (:func:`bm25_topk`) and a dense
    (``similarity.brute_force_topk``) ranking, which
    have incomparable scores but comparable RANKS:

        rrf(q, d) = Σ_systems 1 / (k + rank_s(q, d))

    Every input frame must expose (query_id_col, id_col, rank_col) —
    rename dense outputs (``neighbor_id``/``rank``) at the call site.
    One union + one (query, doc) aggregate + one per-query ranking
    window: state bounded by candidates per query, never the corpus.
    Contributions sum as DECIMAL (order-independent); the fused score
    is rounded to 9 dp and ties break on doc id, so the fused ranking
    is reproducible across runs and engines.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    norm = [r.select(F.col(query_id_col).alias("q"),
                     F.col(id_col).alias("doc"),
                     (F.lit(1.0) / (F.lit(k) + F.col(rank_col).cast("int")))
                     .cast("decimal(38,18)").alias("s"))
            for r in rankings]
    u = norm[0]
    for frame in norm[1:]:
        u = u.unionByName(frame)
    w = Window.partitionBy("q").orderBy(F.desc("rrf"), F.col("doc"))
    return (u.groupBy("q", "doc")
            .agg(F.round(F.sum("s").cast("double"), 9).alias("rrf"),
                 F.count("*").alias("n_systems"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= top_k)
            .select(F.col("q").alias(query_id_col),
                    F.col("doc").alias(id_col), "rrf", "n_systems", "rnk"))
