"""LLM operator behaviors beyond oracle parity: fast-hash production
path, expr-vs-blas equivalence, multimodal metadata."""

from __future__ import annotations

from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
    minhash_lsh_pairs,
    simhash,
)
from apsviz_timeseriesdb_ingest_spark.llm.multimodal import (
    extract_media_features,
    with_binary_payload,
)
from apsviz_timeseriesdb_ingest_spark.llm.similarity import embedding_neardup_pairs
from apsviz_timeseriesdb_ingest_spark.testdata import load_table


def test_minhash_fast_path_finds_planted_dups(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    slow = {tuple(r) for r in minhash_lsh_pairs(docs).collect()}
    fast = {tuple(r) for r in minhash_lsh_pairs(docs, fast=True).collect()}
    # different hash family, same planted near-dups: substantial overlap
    assert slow and fast
    assert len(slow & fast) >= len(slow) * 0.6


def test_simhash_fast_path_runs(spark, sf_small):
    out = simhash(load_table(spark, sf_small, "documents"), fast=True)
    assert out.count() == load_table(spark, sf_small, "documents").count()
    assert out.filter(F.col("simhash") < 0).count() == 0


def test_neardup_expr_equals_blas(spark, sf_small):
    vecs = load_table(spark, sf_small, "embeddings")
    expr = {(r.vec_id_a, r.vec_id_b, r.sim) for r in
            embedding_neardup_pairs(vecs, threshold=0.4, method="expr").collect()}
    blas = {(r.vec_id_a, r.vec_id_b, r.sim) for r in
            embedding_neardup_pairs(vecs, threshold=0.4, method="blas").collect()}
    assert expr == blas


def test_multimodal_metadata_struct(spark, sf_small):
    docs = with_binary_payload(load_table(spark, sf_small, "documents"))
    row = docs.select("media_meta.mime", "media_meta.n_bytes", "payload").first()
    assert row.mime == "application/octet-stream"
    assert row.n_bytes == len(row.payload)
    feats = extract_media_features(docs)
    assert feats.columns == ["doc_id", "n_bytes", "payload_md5", "width",
                             "height", "mode", "decoder"]
    f = feats.first()
    assert f.width == f.n_bytes % 640


def test_frame_sampling_explodes_rows(spark, sf_small):
    from apsviz_timeseriesdb_ingest_spark.llm.multimodal import sample_frames

    docs = with_binary_payload(load_table(spark, sf_small, "documents"))
    n_docs = docs.count()
    frames = sample_frames(docs, n_frames=4)
    assert frames.count() == n_docs * 4
    one = {r.frame_idx: r for r in
           frames.join(docs.select("doc_id", "payload"), "doc_id")
           .filter(F.col("doc_id") == docs.first().doc_id).collect()}
    assert sorted(one) == [0, 1, 2, 3]
    assert one[1].frame_ms == 1000
    # frame 0 is the leading byte slice of the source payload
    src = bytes(one[0].payload)
    step = max(1, len(src) // 4)
    assert bytes(one[0].frame_payload) == src[:step]
    # deterministic across runs
    a = {(r.doc_id, r.frame_idx): bytes(r.frame_payload)
         for r in sample_frames(docs, n_frames=2).collect()}
    b = {(r.doc_id, r.frame_idx): bytes(r.frame_payload)
         for r in sample_frames(docs, n_frames=2).collect()}
    assert a == b


def test_resize_images_fixed_payload_size(spark, sf_small):
    from apsviz_timeseriesdb_ingest_spark.llm.multimodal import resize_images

    docs = with_binary_payload(load_table(spark, sf_small, "documents"))
    out = resize_images(docs, width=16, height=8)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(len(bytes(r.payload)) == 16 * 8 for r in rows)
    assert all((r.width, r.height) == (16, 8) for r in rows)


def test_scrub_pii_masks_and_counts(spark):
    from apsviz_timeseriesdb_ingest_spark.llm.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@example.co.uk now"),
         (2, "server at 10.0.255.7 port"),
         (3, "call +1 (919) 555-0199 or 919-555-0100 today"),
         (4, "clean text no pii at all"),
         (5, "a@b.io and 1.2.3.4 and 8005551212x")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert got[1].scrubbed_text == "mail <EMAIL> now"
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (1, 0, 0)
    assert got[2].scrubbed_text == "server at <IP> port"
    assert got[2].n_ipv4 == 1
    assert got[3].scrubbed_text == "call <PHONE> or <PHONE> today"
    assert got[3].n_phone == 2
    assert got[4].scrubbed_text == "clean text no pii at all"
    assert (got[4].n_email, got[4].n_ipv4, got[4].n_phone) == (0, 0, 0)
    # email scrubbed before its digits can look like a phone; IP before
    # phone so dotted digits stay typed
    assert got[5].scrubbed_text == "<EMAIL> and <IP> and <PHONE>x"


def test_repetition_stats_signals(spark):
    from apsviz_timeseriesdb_ingest_spark.llm.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "same line\nsame line\nsame line\nother line"),
         (2, "a b a b a b a b"),       # one dominant bigram
         (3, "w x y z q r s t")],      # all bigrams distinct
        "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[1].dup_line_frac == 0.5  # 4 lines, 2 distinct
    assert got[3].dup_line_frac == 0.0
    # doc 2 bigrams: "a b" x4, "b a" x3 -> top = 4/7
    assert got[2].n_bigrams == 7
    assert got[2].top_bigram_frac == round(4 / 7, 6)
    assert got[3].top_bigram_frac == round(1 / 7, 6)


def test_neardup_clusters_and_representative(spark):
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
        dedup_keep_representative,
        neardup_clusters,
    )

    # components: {1,2,3,4} (a chain), {7,9}; 5 and 8 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 7)], "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in neardup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 5, 7, 8, 9)],
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in dedup_keep_representative(docs, pairs).collect())
    assert kept == [1, 5, 7, 8]


def test_star_cc_matches_label_prop(spark):
    """Large-star/small-star CC agrees with min-label propagation on
    chain, clique, hub, and seeded-random graphs."""
    import random

    from apsviz_timeseriesdb_ingest_spark.llm.dedup import neardup_clusters

    graphs = {
        "chain": [(i, i + 1) for i in range(1, 40)],
        "clique+chain": ([(a, b) for a in range(200, 208)
                          for b in range(a + 1, 208)]
                         + [(i, i + 1) for i in range(1, 20)]),
        "hub-largest-id": [(1000, i) for i in range(1, 40)],
    }
    r = random.Random(7)
    graphs["random"] = list({(r.randint(1, 60), r.randint(1, 61))
                             for _ in range(120)} - {(i, i) for i in range(62)})
    for name, edges in graphs.items():
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        star = sorted(map(tuple, neardup_clusters(df, algorithm="star").collect()))
        lab = sorted(map(tuple, neardup_clusters(
            df, algorithm="label", max_iters=100).collect()))
        assert star == lab, name
        # the driver-side union-find fast path: identical labels
        loc = sorted(map(tuple, neardup_clusters(
            df, algorithm="local").collect()))
        assert star == loc, name


def test_auto_cc_gates_local_vs_star(spark):
    """algorithm="auto": union-find at or below local_max_edges,
    star above — identical labels either way; resume is refused for
    one-shot algorithms."""
    import pytest

    from apsviz_timeseriesdb_ingest_spark.llm.dedup import neardup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 50)], "doc_a long, doc_b long")
    small = sorted(map(tuple, neardup_clusters(
        chain, algorithm="auto").collect()))
    # forced over the gate: the distributed star path must agree
    big = sorted(map(tuple, neardup_clusters(
        chain, algorithm="auto", local_max_edges=10).collect()))
    assert small == big
    assert all(cid == 1 for _n, cid in small)
    with pytest.raises(ValueError, match="resume"):
        neardup_clusters(chain, algorithm="auto", resume=True)
    with pytest.raises(ValueError, match="resume"):
        neardup_clusters(chain, algorithm="local", resume=True)


def test_star_cc_logarithmic_rounds(spark):
    """A diameter-256 chain converges within ~log2(n)+1 star rounds —
    the property label propagation (O(diameter) rounds) lacks."""
    import pytest

    from apsviz_timeseriesdb_ingest_spark.llm.dedup import neardup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 257)], "doc_a long, doc_b long")
    got = neardup_clusters(chain, max_iters=12, algorithm="star").collect()
    assert len(got) == 257 and all(r.cluster_id == 1 for r in got)
    # Truncated iteration budgets fail loudly instead of mislabeling.
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(chain, max_iters=3, algorithm="star")
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(chain, max_iters=10, algorithm="label")


def test_lsh_hot_bucket_cap_bounds_spam_explosion(spark):
    """A planted spam cluster (near-identical, not byte-identical, so
    exact dedup would NOT remove it) must not emit a quadratic pair set
    when max_bucket_size is set, while small genuine near-dup clusters
    keep their pairs."""
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the old barn behind the quiet green hill")
    spam = [(i, f"{base} variant {i}") for i in range(40)]
    other = ("completely different text about tide gauges and water "
             "levels measured hourly at coastal stations in the bay")
    pair = [(100, other), (101, other + " addendum")]
    lone = [(200, "unrelated short text about nothing in particular at "
                  "all for anyone anywhere ever")]
    docs = spark.createDataFrame(spam + pair + lone, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(docs).collect()
    capped = minhash_lsh_pairs(docs, max_bucket_size=10).collect()

    spam_ids = set(range(40))
    uncapped_spam = [r for r in uncapped
                     if r.doc_a in spam_ids and r.doc_b in spam_ids]
    capped_spam = [r for r in capped
                   if r.doc_a in spam_ids and r.doc_b in spam_ids]
    # uncapped: the 40-doc cluster explodes toward 40*39/2 pairs
    assert len(uncapped_spam) > 300
    # capped: every bucket holding >10 docs is dropped
    assert len(capped_spam) < len(uncapped_spam) // 4
    # the 2-doc genuine cluster is far below the cap and survives
    assert any(r.doc_a == 100 and r.doc_b == 101 for r in capped)


def test_banded_lsh_beats_single_table(spark, sf_oracle):
    """The registered 12-band x 8-sparse-plane geometry must dominate
    r2's single dense 4-plane table on the real testdata: strictly more
    recall against the exact blas verifier from strictly fewer
    candidates (hyperplanes are deterministic, so these numbers are
    stable)."""
    vecs = load_table(spark, sf_oracle, "embeddings")
    blas = {(r.vec_id_a, r.vec_id_b) for r in embedding_neardup_pairs(
        vecs, threshold=0.4, method="blas").collect()}
    single = {(r.vec_id_a, r.vec_id_b) for r in embedding_neardup_pairs(
        vecs, threshold=0.4, dim=64, planes=4, bands=1,
        inv_density=None).collect()}
    banded = {(r.vec_id_a, r.vec_id_b) for r in embedding_neardup_pairs(
        vecs, threshold=0.4, dim=64, planes=8, bands=12,
        inv_density=8).collect()}
    # the verify stage is exact, so every returned pair is a true pair
    assert single <= blas and banded <= blas
    assert len(banded) > len(single)          # more recall...
    # ...from fewer candidates (threshold=-1 keeps every candidate pair)
    single_cand = embedding_neardup_pairs(
        vecs, threshold=-1.0, dim=64, planes=4, bands=1,
        inv_density=None).count()
    banded_cand = embedding_neardup_pairs(
        vecs, threshold=-1.0, dim=64, planes=8, bands=12,
        inv_density=8).count()
    assert banded_cand < single_cand


def test_hyperplane_tune_scales_with_corpus():
    """The r6 soak cliff closure: planes must grow with n so bucket
    occupancy (→ candidate volume per vector) stays constant, bands
    must meet the recall target, and low thresholds must shed planes
    under the band cap instead of exploding."""
    import pytest

    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        hyperplane_tune)

    small = hyperplane_tune(2_000, 0.9)
    big = hyperplane_tune(20_000_000, 0.9)
    assert big["planes"] > small["planes"]
    # occupancy pinned near the target at any n (power-of-two rounding)
    for t in (small, big):
        assert t["exp_bucket_occupancy"] <= 32
        assert t["recall_at_threshold"] >= 0.9
    # candidate volume ~ n * bands (bands rises with planes to hold
    # recall, so the curve is O(n log n), NOT the fixed-family n^2):
    # 10_000x vectors → <= 2 * 10_000x per-band candidates
    assert (big["exp_candidates"] / big["bands"]
            <= 2 * 10_000 * max(small["exp_candidates"]
                                / small["bands"], 1))
    # higher threshold → per-plane collision prob rises → fewer bands
    assert (hyperplane_tune(100_000, 0.95)["bands"]
            < hyperplane_tune(100_000, 0.6)["bands"])
    # low threshold + tight band budget: planes shed to min_planes and
    # the achieved recall is reported honestly (< target is allowed)
    capped = hyperplane_tune(10_000_000, 0.3, max_bands=8)
    assert capped["bands"] <= 8
    assert capped["planes"] == 4
    assert 0 < capped["recall_at_threshold"] < 1
    with pytest.raises(ValueError):
        hyperplane_tune(1000, -1.0)


def test_embedding_neardup_auto_tunes(spark, sf_oracle):
    """planes='auto' sizes the family from the corpus and keeps the
    exact-verify contract: returned pairs are a subset of the blas
    truth, and realized recall meets the tuner's target (hyperplanes
    and testdata are deterministic, so these numbers are stable)."""
    import pytest

    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        hyperplane_tune)

    vecs = load_table(spark, sf_oracle, "embeddings")
    exact = {(r.vec_id_a, r.vec_id_b) for r in embedding_neardup_pairs(
        vecs, threshold=0.4, method="blas").collect()}
    auto = {(r.vec_id_a, r.vec_id_b) for r in embedding_neardup_pairs(
        vecs, threshold=0.4, dim=64, planes="auto").collect()}
    assert auto <= exact
    assert len(auto) / len(exact) >= 0.9          # measured: 0.949
    # the auto family is the tuned family: same candidate volume
    t = hyperplane_tune(vecs.count(), 0.4)
    assert t["planes"] == 4 and t["bands"] == 14
    with pytest.raises(ValueError, match="tune_kw"):
        embedding_neardup_pairs(vecs, threshold=0.4, dim=64, planes=8,
                                tune_kw={"target_recall": 0.5})


def test_semantic_dedup_synthetic_cells(spark):
    """SemDeDup composition: within-cell near-identical pair loses its
    larger id; lone vectors and cross-cell neighbors survive."""
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import semantic_dedup

    e = lambda axis, eps=0.0: [1.0 if i == axis else (eps if i == axis + 1 else 0.0)
                               for i in range(8)]
    rows = [(1, e(0)), (2, e(0, 0.01)),   # near-identical pair in cell 0
            (3, e(2)), (4, e(4))]         # lone vectors in other cells
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [e(0), e(2), e(4)]
    kept = {r.vec_id for r in
            semantic_dedup(vecs, centroids, threshold=0.95).collect()}
    assert kept == {1, 3, 4}
    # degenerate-clustering guard: cap below the cell size -> no pairs
    kept_capped = {r.vec_id for r in semantic_dedup(
        vecs, centroids, threshold=0.95, max_cell_size=1).collect()}
    assert kept_capped == {1, 2, 3, 4}


def test_semantic_dedup_testdata_precision(spark, sf_small):
    """Every drop is backed by an exact-scan pair (the verify is exact,
    so semantic dedup can only lose recall vs blas, never precision)."""
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        semantic_dedup, train_kmeans)

    vecs = load_table(spark, sf_small, "embeddings")
    cents = train_kmeans(vecs, k=8, iters=5)
    kept = {r.vec_id for r in
            semantic_dedup(vecs, cents, threshold=0.4).collect()}
    dropped = {r.vec_id for r in vecs.collect()} - kept
    blas_pairs = embedding_neardup_pairs(vecs, threshold=0.4,
                                         method="blas").collect()
    paired = ({r.vec_id_a for r in blas_pairs}
              | {r.vec_id_b for r in blas_pairs})
    assert dropped and dropped <= paired


def test_corpus_mixture_matches_duckdb(spark, sf_small):
    import duckdb

    from apsviz_timeseriesdb_ingest_spark.llm.text import corpus_mixture

    docs = load_table(spark, sf_small, "documents")
    rates = {"src0": 0.0, "src1": 1.0}
    got = sorted(r.doc_id for r in corpus_mixture(
        docs, rates, default_rate=0.5).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_small}/documents.parquet')")
    exp = sorted(x[0] for x in con.execute("""
        SELECT doc_id FROM documents
        WHERE ('0x' || substr(md5('mixture-v1|' || doc_id::VARCHAR), 1, 15))::BIGINT
              / 1152921504606846976.0
              < (CASE WHEN source = 'src0' THEN 0.0
                      WHEN source = 'src1' THEN 1.0 ELSE 0.5 END)
    """).fetchall())
    assert got == exp
    by_src = {r.source for r in corpus_mixture(
        docs, rates, default_rate=0.5).select("source").distinct().collect()}
    assert "src0" not in by_src and "src1" in by_src
    # re-runnable: identical surviving set
    again = sorted(r.doc_id for r in corpus_mixture(
        docs, rates, default_rate=0.5).collect())
    assert got == again


def test_hash_embedding_numpy_parity_and_ann_compose(spark):
    """Feature-hashing embeddings: exact python recompute of the signed
    histogram, determinism, zero-vector empties, and cosine behavior
    (near-dup texts high, unrelated low) feeding brute_force_topk."""
    import math

    from apsviz_timeseriesdb_ingest_spark.functions.portable_hash import (
        HEX_CHARS,
    )
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        brute_force_topk,
        hash_embedding,
    )

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank on a sunny day with friends")
    rows = [(1, base),
            (2, base + " okay"),                       # near-dup of 1
            (3, "completely different text about spark shuffles and "
                "parquet row groups and codegen stages"),
            (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: list(r.embedding)
           for r in hash_embedding(df, dim=32).collect()}

    import hashlib

    def h64(tok):
        return int(hashlib.md5(f"hashemb-v1|{tok}".encode()).hexdigest()
                   [:HEX_CHARS], 16)

    def ref_vec(text):
        v = [0.0] * 32
        for t in text.lower().split():
            hv = h64(t)
            v[hv % 32] += 1.0 if (hv >> 20) & 1 else -1.0
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n else v

    for i, t in rows:
        assert got[i] == ref_vec(t), i
    assert got[4] == [0.0] * 32

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert cos(got[1], got[2]) > 0.95
    assert cos(got[1], got[3]) < 0.5

    # composes with the ANN stack: doc 1's nearest (non-self) neighbor
    # is its near-dup doc 2, then the unrelated doc 3; the zero-vector
    # doc 4 ranks last with cosine 0 (exercises the ANSI-safe guard)
    emb = hash_embedding(df, dim=32)
    top = brute_force_topk(emb, id_col="doc_id", query_ids=[1],
                           top_k=3).collect()
    ranked = sorted(top, key=lambda r: r.rank)
    assert [r.neighbor_id for r in ranked] == [2, 3, 4]


def test_hash_embedding_feeds_embedding_neardup(spark):
    """Full text->vector->near-dup loop with zero external models:
    hash embeddings of near-identical texts collide through the banded
    LSH candidate path and survive the exact cosine verify."""
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        embedding_neardup_pairs,
        hash_embedding,
    )

    base = ("a long enough document with many distinct words about "
            "rivers mountains forests and the animals living there "
            "written for the purpose of this very test")
    rows = [(1, base), (2, base + " appended"),
            (3, "totally unrelated content covering parquet files and "
                "shuffle partitions and adaptive query execution plans"),
            (4, "another unrelated piece on cooking pasta with garlic "
                "and olive oil for a quick weeknight dinner at home")]
    emb = hash_embedding(
        spark.createDataFrame(rows, "doc_id long, text string"), dim=64)
    pairs = embedding_neardup_pairs(
        emb, id_col="doc_id", threshold=0.9, dim=64,
        planes=4, bands=8).collect()
    assert {(r.vec_id_a, r.vec_id_b) for r in pairs} == {(1, 2)}


def test_repeat_for_epochs(spark):
    from apsviz_timeseriesdb_ingest_spark.llm.text import repeat_for_epochs

    rows = [(i, "srcA" if i < 200 else "srcB", f"doc {i}")
            for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    # integer epochs: exactly e copies, epoch = 0..e-1
    out = repeat_for_epochs(df, {"srcA": 3.0, "srcB": 1.0}).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    assert all(sorted(by_doc[i]) == [0, 1, 2] for i in range(200))
    assert all(by_doc[i] == [0] for i in range(200, 400))

    # fractional epochs: deterministic, expected count ~ e * n
    e = 2.4
    out1 = repeat_for_epochs(df, {"srcA": e, "srcB": 0.5})
    out2 = repeat_for_epochs(df, {"srcA": e, "srcB": 0.5})
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))
    n_a = out1.filter("source = 'srcA'").count()
    assert abs(n_a - 200 * e) < 0.15 * 200 * e
    # e < 1 degrades to sampling (0 or 1 copies)
    b_epochs = {r.epoch for r in out1.filter("source = 'srcB'").collect()}
    assert b_epochs == {0}
    n_b = out1.filter("source = 'srcB'").count()
    assert 0 < n_b < 200


def test_decontaminate_fractional_overlap(spark):
    """min_overlap_frac: incidental single-shingle collisions pass, high
    fractional overlap flags; python-recomputed fraction; default
    any-shingle rule unchanged."""
    from apsviz_timeseriesdb_ingest_spark.llm.text import decontaminate

    bench_text = ("what is the capital of france the answer is paris "
                  "and everyone knows it")
    bench = spark.createDataFrame([(0, bench_text)],
                                  "doc_id long, text string")
    rows = [
        (1, "prefix " + bench_text + " suffix words here"),   # heavy overlap
        (2, "an essay about travel that asks what is the capital "
            "city of italy and many other questions entirely"),  # one 3-gram
        (3, "no shared phrases at all in this other document"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    strict = {r.doc_id: r.contaminated
              for r in decontaminate(docs, bench).collect()}
    assert strict[1] and strict[2] and not strict[3]  # any-rule flags 2

    frac = {r.doc_id: r for r in
            decontaminate(docs, bench, min_overlap_frac=0.3).collect()}
    assert frac[1].contaminated and not frac[2].contaminated
    assert not frac[3].contaminated and frac[3].overlap_frac == 0.0

    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    a, b = sh(rows[0][1]), sh(bench_text)
    assert frac[1].overlap_frac == round(len(a & b) / len(a), 6)

    import pytest
    with pytest.raises(ValueError):
        decontaminate(docs, bench, min_overlap_frac=1.5)


def test_semantic_k_scales_cluster_count():
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import semantic_k

    assert semantic_k(2_000) == 4
    assert semantic_k(20_000) == 40
    assert semantic_k(10_000_000) == 20_000
    assert semantic_k(10, target_cell=0) >= 4  # degenerate guard


def test_bucket_frame_matches_pairs_contract(spark):
    """lsh_pairs_from_buckets(minhash_band_buckets(df)) ==
    minhash_lsh_pairs(df) — the seam for callers that already hold the
    bucket frame."""
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
        lsh_pairs_from_buckets,
        minhash_band_buckets,
    )
    lsh = dict(k=2, num_hashes=8, bands=4)
    df = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "pack my box with five dozen liquor jugs right now"),
        (3, "sphinx of black quartz judge my vow before dawn"),
        (11, "the quick brown fox jumps over the lazy dog tonight again"),
        (12, "colorless green ideas sleep furiously every single night"),
        (13, "colorless green ideas sleep furiously every single night indeed"),
        (14, "a completely unrelated document about spark shuffle partitions"),
    ], "doc_id long, text string")
    via_buckets = {tuple(r) for r in lsh_pairs_from_buckets(
        minhash_band_buckets(df, **lsh)).collect()}
    direct = {tuple(r) for r in minhash_lsh_pairs(df, **lsh).collect()}
    assert via_buckets == direct


def test_stateless_text_ops_compose_on_streams(spark, tmp_path):
    """chunk_documents / gopher_quality_stats / remove_repeated_lines
    are pure map-side (plus a repartition) — they must run unchanged on
    a streaming frame, and produce batch-identical rows."""
    from apsviz_timeseriesdb_ingest_spark.llm.text import (
        chunk_documents,
        gopher_quality_stats,
        remove_repeated_lines,
    )

    schema = "doc_id long, text string"
    en = ("the cat sat on the mat and the dog is a friend of the cat "
          "and they walk to the park every day to see the ducks swim")
    en2 = ("a quick brown fox jumps over the lazy dog and the fox is "
           "happy to run in the field all day with the other animals")
    rows = [(1, en), (2, "dup line here okay\ndup line here okay\n" + en2)]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    batch = spark.createDataFrame(rows, schema)

    for name, op in (
            ("chunk", lambda d: chunk_documents(d, max_tokens=8, overlap=2)),
            ("gopher", gopher_quality_stats),
            ("lines", remove_repeated_lines)):
        out = str(tmp_path / f"out_{name}")
        q = (op(stream).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120), name
        got = sorted(map(tuple, spark.read.parquet(out).collect()))
        expect = sorted(map(tuple, op(batch).collect()))
        assert got == expect, name
