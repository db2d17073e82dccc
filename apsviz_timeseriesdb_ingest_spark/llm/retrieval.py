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
    qterms = _query_terms(queries, query_id_col, query_text_col)
    return _rank_bm25(tf, dfreq, qterms, n_docs=n_docs, avgdl=avgdl,
                      stats=stats,
                      k1=k1, b=b, min_idf=min_idf, top_k=top_k,
                      query_id_col=query_id_col, id_col=id_col)


def _query_terms(queries: DataFrame, query_id_col: str,
                 query_text_col: str) -> DataFrame:
    return (queries
            .select(F.col(query_id_col).alias("q"),
                    F.explode(F.array_distinct(tokens(query_text_col)))
                    .alias("term")))


def _rank_bm25(tf: DataFrame, dfreq: DataFrame, qterms: DataFrame, *,
               n_docs: int | None, avgdl: float | None, k1: float,
               b: float, min_idf: float | None, top_k: int,
               query_id_col: str, id_col: str,
               stats: DataFrame | None = None) -> DataFrame:
    """Shared BM25 scoring tail over a ``(doc, dl, term, tf)`` frame —
    the direct and the persisted-index paths both end here, so probe
    scores are bit-identical to a from-scratch run by construction.
    ``stats`` (a 1-row ``(__n, __avgdl)`` frame) is the lazy form of
    the two corpus scalars: broadcast-joined onto the vocabulary-sized
    ``dfreq``, same doubles as the literal path (r11)."""
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


#: number of term-hash directories the persisted index is partitioned
#: into: probes prune the tf/df scans to the query terms' buckets
_BM25_TERM_BUCKETS = 64


def _term_bucket() -> F.Column:
    from ..functions.portable_hash import md5_hash64

    # fast (xxhash64) is fine: the bucket is engine-internal layout,
    # never oracle-compared
    return F.pmod(md5_hash64(F.col("term"), fast=True),
                  F.lit(_BM25_TERM_BUCKETS)).cast("int")


def build_bm25_index(catalog, docs: DataFrame, *, table: str = "bm25",
                     text_col: str = "text", id_col: str = "doc_id",
                     append: bool = False, txn: bool = False) -> None:
    """Persist the BM25 corpus statistics so queries never re-tokenize
    the corpus — the build-once/probe-many seam, same pattern as the
    MinHash dedup index and the partitioned ANN layout.

    Three tables, all LOG-STRUCTURED so ``append=True`` is a plain
    parquet append of the increment's own counts (no read-modify-write
    of corpus-sized state):

    - ``{table}_tf``: (doc, dl, term, tf), partitioned by a 64-way term
      hash bucket — probes prune the scan to the query terms' buckets;
    - ``{table}_df``: per-batch (term, df) rows; true document
      frequency = SUM per term at probe time (vocabulary-sized);
    - ``{table}_stats``: per-batch (n_docs, total_tokens) rows; summed
      at probe time for N and avgdl (exact integers).

    Replaying a batch double-counts it — gate appends behind a ledger
    anti-join (``operators/ledger``) exactly as the ingest pipelines
    do, or use :func:`append_bm25_increment_txn`, which carries its own
    commit ledger AND closes the multi-table partial-append window
    (this legacy path commits tf/df/stats as THREE separate writes — a
    crash between them leaves the tables mutually inconsistent until
    the batch is replayed). ``txn=True`` writes the txn-ready layout
    (rows carry ``__batch = -1`` / ``__writer = "-"``, the
    ``{table}_commits`` put-if-absent ledger seeds batch -1) so
    increments can use the crash-safe, writer-exclusive path — the
    ``build_dedup_index(stream_index=True)`` twin.
    """
    tf, dfreq, stats = _bm25_counts(docs, text_col, id_col)
    if txn and append:
        raise ValueError("txn=True rebuilds the layout; use "
                         "append_bm25_increment_txn for increments")
    if append:
        catalog.append(tf, f"{table}_tf", partition_by=["term_bucket"])
        catalog.append(dfreq, f"{table}_df", partition_by=["term_bucket"])
        catalog.append(stats, f"{table}_stats")
        return
    # A rebuild must fully REPLACE the index: a partitioned overwrite
    # replaces only the frame's partitions, so it would leave stale __batch /
    # term_bucket partitions and phantom rows in probes (ADVICE r4) —
    # but dropping the generation BEFORE the rebuild job left a window
    # where any failure destroyed the index entirely (ADVICE r5). The
    # staged rebuild writes the new generation to __staging names and
    # swaps after the job succeeds; a flat rebuild stages no commits
    # ledger, so publish retires a previous txn generation's ledger.
    names = [f"{table}{t}"
             for t in ("_tf", "_df", "_stats", "_commits", "_writer")]
    with catalog.staged_rebuild(*names) as stage:
        if txn:
            bid = F.lit(-1).cast("long")
            wid = F.lit("-")
            catalog.overwrite(
                tf.withColumn("__batch", bid).withColumn("__writer", wid),
                stage(f"{table}_tf"),
                partition_by=["__batch", "__writer", "term_bucket"])
            catalog.overwrite(
                dfreq.withColumn("__batch", bid).withColumn("__writer", wid),
                stage(f"{table}_df"),
                partition_by=["__batch", "__writer", "term_bucket"])
            catalog.overwrite(
                stats.withColumn("__batch", bid).withColumn("__writer", wid),
                stage(f"{table}_stats"),
                partition_by=["__batch", "__writer"])
            catalog.commit_batch(stage(f"{table}_commits"), -1, "-")
        else:
            catalog.overwrite(tf, stage(f"{table}_tf"),
                              partition_by=["term_bucket"])
            catalog.overwrite(dfreq, stage(f"{table}_df"),
                              partition_by=["term_bucket"])
            catalog.overwrite(stats, stage(f"{table}_stats"))


def _bm25_counts(docs: DataFrame, text_col: str, id_col: str):
    """The index's three count frames (shared by the legacy and txn
    write paths)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = (docs.repartition(par, id_col)
            .select(F.col(id_col).alias("doc"), tokens(text_col).alias("__tk"))
            .select("doc", "__tk", F.size("__tk").alias("dl")))
    tf = (base.select("doc", "dl", F.explode("__tk").alias("term"))
          .groupBy("doc", "dl", "term").agg(F.count("*").alias("tf"))
          .withColumn("term_bucket", _term_bucket()))
    dfreq = (tf.groupBy("term").agg(F.count("*").alias("df"))
             .withColumn("term_bucket", _term_bucket()))
    stats = base.agg(F.count("*").alias("n_docs"),
                     F.coalesce(F.sum("dl"), F.lit(0)).alias("total_tokens"))
    return tf, dfreq, stats


def append_bm25_increment_txn(catalog, docs: DataFrame, batch_id: int, *,
                              table: str = "bm25", text_col: str = "text",
                              id_col: str = "doc_id", lease=None) -> None:
    """Append one corpus increment to a ``txn=True`` BM25 index under
    the EXCLUSIVE COMMIT-LEDGER protocol (the
    ``streaming.corpus_stream.apply_dedup_increment_txn`` pattern,
    applied to the lexical index):

    1. ``batch_id`` already committed in ``{table}_commits`` (a
       driver-side file check) → fully applied, return (replay no-op).
    2. Write the increment's tf/df/stats rows as
       ``(__batch=batch_id, __writer)`` partitions by a partitioned
       overwrite — a replay REPLACES a crashed attempt's
       partial partitions across all three tables, and a racing
       writer's rows land in its OWN partition.
    3. ``Catalog.commit_batch`` — the atomic, exclusive commit point
       (hard-link put-if-absent). Probes
       (:func:`bm25_topk_from_index`) read committed (batch, writer)
       pairs only, so a crash ANYWHERE before (3) leaves the index
       observably unchanged — no torn tf-without-df state, no double
       counts — and at most one writer ever commits a given batch.

    ``lease=`` (a :class:`~..sources.catalog.WriterLease`) is the
    fast-fail layer: checked after the replay short-circuit, so a
    fenced writer raises before burning compute; its id becomes the
    ``__writer`` partition value (``"-"`` without a lease). A writer
    that slips past the fence loses at (3) and its orphan partitions
    stay invisible (``Catalog.vacuum_uncommitted`` reclaims them).
    """
    commits = f"{table}_commits"
    if catalog.batch_committed(commits, int(batch_id)):
        return
    if lease is not None:
        lease.check()
    writer = lease.writer_id if lease is not None else "-"
    if (catalog.exists(f"{table}_tf")
            and not {"__batch", "__writer"}.issubset(
                catalog.read(f"{table}_tf").columns)):
        raise ValueError(
            f"BM25 index '{table}' has a legacy layout — rebuild "
            "with build_bm25_index(txn=True) before transactional appends")
    if not docs.isEmpty():
        tf, dfreq, stats = _bm25_counts(docs, text_col, id_col)
        bid = F.lit(int(batch_id)).cast("long")
        wid = F.lit(writer)
        catalog.overwrite(
            tf.withColumn("__batch", bid).withColumn("__writer", wid),
            f"{table}_tf",
            partition_by=["__batch", "__writer", "term_bucket"])
        catalog.overwrite(
            dfreq.withColumn("__batch", bid).withColumn("__writer", wid),
            f"{table}_df",
            partition_by=["__batch", "__writer", "term_bucket"])
        catalog.overwrite(
            stats.withColumn("__batch", bid).withColumn("__writer", wid),
            f"{table}_stats", partition_by=["__batch", "__writer"])
    # the commit point re-checks the lease around the put-if-absent
    # link (rollback if fenced mid-link): a writer fenced mid-batch by
    # maintenance cannot commit partitions that may have been vacuumed
    catalog.commit_batch(commits, int(batch_id), writer, lease=lease)


def bm25_topk_from_index(catalog, queries: DataFrame, *,
                         table: str = "bm25", top_k: int = 10,
                         k1: float = 1.2, b: float = 0.75,
                         min_idf: float | None = None,
                         id_col: str = "doc_id",
                         query_id_col: str = "query_id",
                         query_text_col: str = "text") -> DataFrame:
    """Score a query batch against a :func:`build_bm25_index` corpus.

    The query terms' hash buckets become a LITERAL partition filter on
    the tf/df tables (the IVF-probe trick), so the scan touches ~|query
    vocabulary|/64 of the index regardless of corpus size; scoring then
    runs the exact same tail as :func:`bm25_topk`. The driver holds
    only the distinct query terms (queries are small by contract — the
    same bound as the broadcast in the direct path).
    """
    qterms = _query_terms(queries, query_id_col, query_text_col)
    qterms = qterms.localCheckpoint(eager=True)  # tiny; scanned thrice
    buckets = sorted({r[0] for r in
                      qterms.select(_term_bucket()).distinct().collect()})

    # txn layout: read COMMITTED (batch, writer) pairs only, so a
    # crashed partial append (append_bm25_increment_txn) or a fenced
    # writer's orphan partition is invisible to probes
    committed = (catalog.committed_frame(f"{table}_commits")
                 if catalog.exists(f"{table}_commits") else None)

    def _committed(df_):
        if committed is not None and "__batch" in df_.columns:
            return df_.join(F.broadcast(committed),
                            ["__batch", "__writer"], "left_semi")
        return df_

    stats = (_committed(catalog.read(f"{table}_stats"))
             .agg(F.sum("n_docs").alias("n"),
                  F.sum("total_tokens").alias("t")).collect()[0])
    n_docs = stats["n"] or 0
    if not n_docs:
        qt = queries.schema[query_id_col].dataType.simpleString()
        dt = catalog.read(f"{table}_tf").schema["doc"].dataType.simpleString()
        return (queries.sparkSession.createDataFrame(
            [], f"{query_id_col} {qt}, {id_col} {dt}, bm25 double, rnk int"))
    avgdl = stats["t"] / n_docs
    tf = (_committed(catalog.read(f"{table}_tf"))
          .filter(F.col("term_bucket").isin(buckets)))
    dfreq = (_committed(catalog.read(f"{table}_df"))
             .filter(F.col("term_bucket").isin(buckets))
             .groupBy("term").agg(F.sum("df").alias("df")))
    return _rank_bm25(tf, dfreq, qterms, n_docs=n_docs, avgdl=avgdl,
                      k1=k1, b=b, min_idf=min_idf, top_k=top_k,
                      query_id_col=query_id_col, id_col=id_col)


def ranking_recall_at_k(got: DataFrame, truth: DataFrame, *, k: int,
                        query_id_col: str = "query_id",
                        id_col: str = "doc_id",
                        rank_col: str = "rnk") -> DataFrame:
    """Recall@k of a retrieved ranking against a ground-truth ranking,
    computed distributed — the measurement the ANN/IVF/PQ tests do in
    Python, as a product operator for index-quality monitoring at
    corpus scale (e.g. ``ivfpq_topk`` vs ``brute_force_topk`` over a
    probe query set, or an incremental index vs a fresh rebuild).

    Both inputs expose (query_id_col, id_col, rank_col); rows ranked
    beyond k are ignored on both sides. Returns per-query
    ``(query_id, n_true, n_hit, recall)`` plus macro averaging is one
    ``avg`` away. Queries present only in ``truth`` score 0; queries
    present only in ``got`` are dropped (no truth to recall). One
    broadcast-sized join per side — rankings are query-bounded, never
    corpus-sized.
    """
    t = (truth.filter(F.col(rank_col) <= k)
         .select(F.col(query_id_col).alias("q"), F.col(id_col).alias("doc")))
    g = (got.filter(F.col(rank_col) <= k)
         .select(F.col(query_id_col).alias("q"), F.col(id_col).alias("doc")))
    hits = (t.join(g, ["q", "doc"], "left_semi")
            .groupBy("q").agg(F.count("*").alias("n_hit")))
    return (t.groupBy("q").agg(F.count("*").alias("n_true"))
            .join(hits, "q", "left")
            .select(F.col("q").alias(query_id_col), "n_true",
                    F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
                    F.round(F.coalesce("n_hit", F.lit(0)) / F.col("n_true"),
                            6).alias("recall")))


def rrf_fuse(rankings: list[DataFrame], *, k: int = 60, top_k: int = 10,
             query_id_col: str = "query_id", id_col: str = "doc_id",
             rank_col: str = "rnk") -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of per-query
    rankings from heterogeneous systems — the standard hybrid-retrieval
    combiner for a lexical (:func:`bm25_topk`) and a dense
    (``similarity.brute_force_topk`` / ``ivf_probe``) ranking, which
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
