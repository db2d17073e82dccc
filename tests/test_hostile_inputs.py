"""Hostile-corpus sweep: every per-document operator must COMPLETE
(no ANSI aborts — the r4 shingle lesson) and account for every input
row on a corpus of NULLs, empties, whitespace, control characters,
unicode, and megatoken lines. Semantic assertions are minimal by
design; the gate here is 'one bad document must never kill a
distributed job'."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

HOSTILE = [
    (1, None),                                  # NULL text
    (2, ""),                                    # empty
    (3, "   \t  \n  "),                         # whitespace only
    (4, "one"),                                 # single token
    (5, "two words"),                           # sub-shingle
    (6, "café naïve \U0001f600 中文 tokens"),  # unicode
    (7, "a" * 5000),                            # one megatoken
    (8, "line one\n\nline two\n\nline one"),    # paragraphs
    (9, "nul\x00byte and bell\x07 chars"),      # control chars
    (10, "the quick brown fox jumps over the lazy dog"),  # normal
]


@pytest.fixture(scope="module")
def hostile(spark):
    return spark.createDataFrame(HOSTILE, "doc_id long, text string") \
        .localCheckpoint(eager=True)


def _ids(df):
    return {r.doc_id for r in df.select("doc_id").collect()}


def test_text_signal_operators_total(spark, hostile):
    from apsviz_timeseriesdb_ingest_spark.llm.text import (
        c4_line_filter,
        chunk_documents,
        clean_text,
        compression_ratio,
        document_fingerprint,
        gopher_quality_stats,
        language_id,
        pack_documents,
        remove_repeated_lines,
        repetition_stats,
        scrub_pii,
        text_stats,
    )

    all_ids = set(range(1, 11))
    for op in (text_stats, scrub_pii, repetition_stats, language_id,
               document_fingerprint, gopher_quality_stats,
               remove_repeated_lines, c4_line_filter, clean_text,
               compression_ratio):
        out = op(hostile)
        assert _ids(out) == all_ids, op.__name__
    # chunking drops nothing it shouldn't: every doc with >= 1 token
    # appears; NULL/empty/whitespace docs simply yield no chunks
    chunked = chunk_documents(hostile, max_tokens=4, overlap=1)
    assert _ids(chunked) == {4, 5, 6, 7, 8, 9, 10}
    # packing accounts for every row including NULL text
    packed = pack_documents(hostile)
    assert _ids(packed) == all_ids


def test_dedup_operators_total(spark, hostile):
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
        exact_dedup,
        minhash_band_buckets,
        ngram_jaccard_pairs,
        simhash,
        simhash_neardup_pairs,
    )
    from apsviz_timeseriesdb_ingest_spark.llm.spans import (
        dedup_paragraphs,
        duplicate_spans,
        split_sentences,
    )

    assert sum(r.n_copies for r in exact_dedup(
        hostile.filter(F.col("text").isNotNull())).collect()) == 9
    simhash(hostile).collect()
    simhash_neardup_pairs(hostile, bits=60, max_hamming=4).collect()
    minhash_band_buckets(hostile, k=3, num_hashes=8, bands=4).collect()
    ngram_jaccard_pairs(hostile, threshold=0.5).collect()
    duplicate_spans(hostile, k=3).collect()
    assert _ids(dedup_paragraphs(hostile)) == set(range(1, 11))
    split_sentences(hostile).collect()


def test_lm_and_embedding_operators_total(spark, hostile):
    from apsviz_timeseriesdb_ingest_spark.llm.lm import (
        min_k_prob,
        perplexity,
        perplexity_ngram,
        train_bigram_lm,
        train_ngram_lm,
    )
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        brute_force_topk,
        hash_embedding,
    )

    lm2 = train_bigram_lm(hostile)
    assert _ids(perplexity(hostile, lm2)) == set(range(1, 11))
    lm3 = train_ngram_lm(hostile, n=3)
    assert _ids(perplexity_ngram(hostile, lm3)) == set(range(1, 11))
    assert _ids(perplexity_ngram(hostile, lm3, hot_grams=5)) == \
        set(range(1, 11))
    assert _ids(min_k_prob(hostile, lm3)) == set(range(1, 11))
    emb = hash_embedding(hostile, dim=16)
    assert _ids(emb) == set(range(1, 11))
    brute_force_topk(emb.withColumnRenamed("doc_id", "vec_id"),
                     query_ids=[10], top_k=3,
                     vec_col="embedding").collect()


def test_url_operators_total(spark):
    from apsviz_timeseriesdb_ingest_spark.llm.text import (
        canonical_url,
        domain_stats,
        url_dedup,
        url_host,
    )

    urls = spark.createDataFrame(
        [(1, None), (2, ""), (3, "::::"), (4, "http://"),
         (5, "ftp://weird.host:21/x"), (6, "https://ok.example/a?b=1"),
         (7, "http://host:99999/port-out-of-range"),
         (8, "https://example.com/" + "p" * 3000)],
        "doc_id long, url string")
    urls.select(url_host("url"), canonical_url("url")).collect()
    assert sum(r.n_copies for r in url_dedup(urls).collect()) == 8
    domain_stats(urls).collect()


def test_pipeline_total_on_hostile_corpus(spark, hostile):
    """The prep operators chained end to end (unicode normalization,
    Gopher signals folded into a drop tag, exact dedup of the
    survivors) complete on the hostile corpus, and the audit accounts
    for EVERY hostile row."""
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import exact_dedup
    from apsviz_timeseriesdb_ingest_spark.llm.text import (
        gopher_drop_reason,
        gopher_quality_stats,
        normalize_unicode,
    )

    norm = normalize_unicode(hostile)
    audit = gopher_quality_stats(norm).select(
        "doc_id",
        F.when(F.coalesce("n_tokens", F.lit(0)) < 2, F.lit("too_short"))
        .otherwise(gopher_drop_reason()).alias("drop_reason"))
    assert _ids(audit) == set(range(1, 11))
    kept = norm.join(audit.filter(F.col("drop_reason").isNull()), "doc_id")
    assert sum(r.n_copies for r in exact_dedup(kept).collect()) \
        + audit.filter(F.col("drop_reason").isNotNull()).count() == 10


def test_normalize_unicode_collapses_equivalent_forms(spark):
    """NFC vs NFD 'café' are byte-different but visually identical:
    after normalization every dedup grain treats them as one document;
    without it exact_dedup keeps both (the gap this operator closes).
    NULL text and non-text columns ride through untouched."""
    import unicodedata

    from apsviz_timeseriesdb_ingest_spark.llm.dedup import exact_dedup
    from apsviz_timeseriesdb_ingest_spark.llm.text import normalize_unicode

    nfc = unicodedata.normalize("NFC", "café au lait")
    nfd = unicodedata.normalize("NFD", "café au lait")
    assert nfc != nfd
    docs = spark.createDataFrame(
        [(1, nfc, "a"), (2, nfd, "b"), (3, None, "c"),
         (4, "ｆｕｌｌｗｉｄｔｈ ｆｏｒｍｓ", "d")],
        "doc_id long, text string, source string")

    raw_groups = exact_dedup(docs.filter("text is not null")).count()
    norm = normalize_unicode(docs, form="NFKC")
    assert {r.source for r in norm.collect()} == {"a", "b", "c", "d"}
    got = {r.doc_id: r.text for r in norm.collect()}
    assert got[1] == got[2]           # forms collapsed
    assert got[3] is None             # NULL rides through
    assert got[4] == "fullwidth forms"  # NFKC compatibility folding
    assert exact_dedup(norm.filter("text is not null")).count() \
        == raw_groups - 1

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown normalization"):
        normalize_unicode(docs, form="NFX")


def test_embedding_operators_on_hostile_vectors(spark):
    """Zero vectors, NULL embeddings, and duplicate vectors through the
    ANN/similarity stack: completion + accounting, no ANSI aborts, no
    NaN poisoning of rankings."""
    import math

    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        brute_force_topk,
        embedding_neardup_pairs,
        hyperplane_coefficients,
        ivf_assign,
        kmeans_assign,
    )

    dim = 8
    rows = [
        (1, [0.0] * dim),                        # zero vector
        (2, None),                               # NULL embedding
        (3, [1.0] + [0.0] * (dim - 1)),
        (4, [1.0] + [0.0] * (dim - 1)),          # exact duplicate of 3
        (5, [0.5] * dim),
        (6, [-0.5] * dim),
        (7, [float(i) for i in range(dim)]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ok = vecs.filter("embedding is not null")

    top = brute_force_topk(ok, query_ids=[3, 1], top_k=2)
    got = {(r.query_id, r.rank): r.neighbor_id for r in top.collect()}
    assert got[(3, 1)] == 4              # the duplicate wins at cosine 1
    assert len([k for k in got if k[0] == 1]) == 2  # zero vec still ranks

    cents = kmeans_assign(ok, hyperplane_coefficients(dim=dim, planes=3))
    assert {r.vec_id for r in cents.collect()} == {1, 3, 4, 5, 6, 7}
    assert cents.filter("centroid_id is null").count() == 0

    iv = ivf_assign(ok, centroid_ids=[3, 5])
    assert {r.vec_id for r in iv.collect()} == {1, 3, 4, 5, 6, 7}

    pairs = embedding_neardup_pairs(ok, threshold=0.9, dim=dim,
                                    planes=3, bands=2)
    found = {(r.vec_id_a, r.vec_id_b) for r in pairs.collect()}
    assert (3, 4) in found
    for a, b, s in ((r.vec_id_a, r.vec_id_b, r.sim)
                    for r in pairs.collect()):
        assert s is None or not math.isnan(s)


def test_skipping_probes_hostile_values(spark, tmp_path):
    """An inverted range, open bounds and a column the zone map does not
    cover, through the zone-map probe: correct (empty/full) results,
    never a crash."""
    import pyspark.sql.functions as F

    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
    from apsviz_timeseriesdb_ingest_spark.sources.skipping import (
        build_skipping, read_between)
    from apsviz_timeseriesdb_ingest_spark.sources.zonemap import (
        ZONEMAP_SCHEMA, list_parquet_files, prune_files)

    catalog = Catalog(spark, str(tmp_path / "wh"))
    catalog.overwrite(spark.range(20).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id")).alias("name")).repartition(4), "t",
        refresh_skipping=False)
    build_skipping(catalog, "t", range_cols=["k"])
    zm = catalog.rows("t__zm", ZONEMAP_SCHEMA)
    path = catalog.path("t")
    everything = set(list_parquet_files(path))
    assert read_between(catalog, "t", "k", 10, 5).count() == 0
    # unbounded, and a column with no stats rows: no file can be pruned
    assert set(prune_files(zm, "k", path=path)) == everything
    assert set(prune_files(zm, "name", "n1", "n2", path=path)) == everything
    assert read_between(catalog, "t", "name", "n1", "n2").count() == \
        sum("n1" <= f"n{i}" <= "n2" for i in range(20))
