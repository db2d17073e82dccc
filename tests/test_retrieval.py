"""BM25 top-k: DuckDB-recomputed ranking parity on the documents table
plus behavioral checks (self-retrieval, min_idf skew cap)."""

from __future__ import annotations

import duckdb

from apsviz_timeseriesdb_ingest_spark.llm.retrieval import bm25_topk
from apsviz_timeseriesdb_ingest_spark.testdata import load_table

TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"


def _duck_bm25(sf_dir: str, query_rows, top_k=10, k1=1.2, b=0.75):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    qvals = ", ".join(f"({qid}, '{t}')" for qid, t in query_rows)
    sql = f"""
        WITH lens AS (
            SELECT doc_id, {TOKS} AS tk, len({TOKS}) AS dl FROM documents),
        stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens),
        tf AS (SELECT doc_id, dl, term, count(*) AS tf
               FROM (SELECT doc_id, dl, unnest(tk) AS term FROM lens)
               GROUP BY doc_id, dl, term),
        idf AS (SELECT term, ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf
                FROM (SELECT term, count(*) AS df FROM tf GROUP BY term),
                     stats),
        q(qid, term) AS (VALUES {qvals}),
        contrib AS (
            SELECT q.qid, tf.doc_id,
                   idf.idf * tf.tf * ({k1} + 1)
                   / (tf.tf + {k1} * (1 - {b} + {b} * tf.dl / stats.avgdl))
                   AS s
            FROM tf JOIN idf USING (term) JOIN q USING (term)
            CROSS JOIN stats),
        scored AS (SELECT qid, doc_id, round(sum(s), 6) AS bm25
                   FROM contrib GROUP BY qid, doc_id)
        SELECT qid, doc_id, bm25,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY bm25 DESC, doc_id) AS rnk
        FROM scored QUALIFY rnk <= {top_k} ORDER BY qid, rnk
    """
    return con.execute(sql).fetchall()


def test_bm25_matches_duckdb_ranking(spark, sf_oracle):
    docs = load_table(spark, sf_oracle, "documents")
    # query terms drawn from real corpus docs (so matches exist)
    sample = {r.doc_id: r.text for r in docs.orderBy("doc_id").limit(3).collect()}
    ids = sorted(sample)
    q_rows = []
    for qid, i in enumerate(ids):
        words = [w for w in sample[i].lower().split() if w.isalpha()][:4]
        q_rows.extend((qid, w) for w in dict.fromkeys(words))
    queries = spark.createDataFrame(
        [(qid, " ".join(w for q, w in q_rows if q == qid))
         for qid in {q for q, _ in q_rows}],
        "query_id long, text string")

    got = [(r.query_id, r.doc_id, r.bm25, r.rnk)
           for r in bm25_topk(docs, queries, top_k=10)
           .orderBy("query_id", "rnk").collect()]
    expect = _duck_bm25(sf_oracle, q_rows)
    assert [(q, d, k) for q, d, _, k in got] \
        == [(q, d, k) for q, d, _, k in expect]
    for (_, _, s1, _), (_, _, s2, _) in zip(got, expect):
        assert abs(s1 - s2) < 1e-4


def test_bm25_self_retrieval_and_min_idf(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    probe = docs.orderBy("doc_id").limit(1).collect()[0]
    queries = spark.createDataFrame([(0, probe.text)],
                                    "query_id long, text string")
    # the doc retrieves itself among the top hits (exact top-1 is not
    # guaranteed under BM25 length normalization when the synthetic
    # corpus plants near-duplicates of the probe)
    top = {r.doc_id for r in bm25_topk(docs, queries, top_k=5).collect()}
    assert probe.doc_id in top

    # min_idf only drops near-zero stopword contributions: the self
    # match survives the cap
    capped = {r.doc_id for r in
              bm25_topk(docs, queries, top_k=5, min_idf=0.05).collect()}
    assert probe.doc_id in capped


def test_bm25_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    queries = spark.createDataFrame([(0, "anything")],
                                    "query_id long, text string")
    assert bm25_topk(empty, queries).count() == 0


def test_contamination_report_ranks_planted_overlap(spark):
    from apsviz_timeseriesdb_ingest_spark.llm.retrieval import (
        contamination_report,
    )

    bench_text = ("what is the capital of france and the answer "
                  "is paris of course my friend")
    corpus_rows = [
        # verbatim-span contaminated doc
        (1, "prefix words " + bench_text + " suffix words"),
        # topically related but low overlap
        (2, "the capital city has many answers about france and travel"),
        # unrelated
        (3, "numpy arrays and spark dataframes process tokens quickly"),
        (4, "gardening tips for growing tomatoes in small spaces daily"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, bench_text)],
                                  "doc_id long, text string")
    rep = sorted(contamination_report(corpus, bench, top_k=3).collect(),
                 key=lambda r: r.rnk)
    assert rep[0].doc_id == 1 and rep[0].bench_id == 100

    # python recompute of the planted pair's 3-gram jaccard
    def sh(text):
        t = text.lower().split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    a, b = sh(corpus_rows[0][1]), sh(bench_text)
    expect_j = round(len(a & b) / len(a | b), 6)
    assert rep[0].jaccard == expect_j
    assert rep[0].overlap_shingles == len(a & b)
    # weaker matches rank below and overlap less
    assert all(r.jaccard < expect_j for r in rep[1:])


def test_bm25_precomputed_stats_and_string_id_schema(spark):
    rows = [("a", "the cat sat on the mat"), ("b", "a dog ran fast today")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    queries = spark.createDataFrame([("q1", "cat mat")],
                                    "query_id string, text string")
    auto = bm25_topk(docs, queries, top_k=2).collect()
    # precomputed stats reproduce the same scores (6 + 5 tokens)
    pre = bm25_topk(docs, queries, top_k=2, n_docs=2, avgdl=11 / 2).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, pre))
    assert auto[0].doc_id == "a"

    # empty corpus preserves the caller's id types (string, not long)
    empty = spark.createDataFrame([], "doc_id string, text string")
    out = bm25_topk(empty, queries)
    assert out.count() == 0
    assert dict(out.dtypes)["doc_id"] == "string"
    assert dict(out.dtypes)["query_id"] == "string"


def test_rrf_fuse_matches_python_recompute(spark):
    from apsviz_timeseriesdb_ingest_spark.llm.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1)],
        "query_id long, doc_id long, rnk int")
    dense = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2), (1, 20, 1), (1, 21, 2)],
        "query_id long, doc_id long, rnk int")
    got = {(r.query_id, r.doc_id): (r.rrf, r.n_systems, r.rnk)
           for r in rrf_fuse([lex, dense], k=60, top_k=10).collect()}

    scores: dict = {}
    for rows in ([(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1)],
                 [(0, 11, 1), (0, 13, 2), (1, 20, 1), (1, 21, 2)]):
        for q, d, r in rows:
            s, n = scores.get((q, d), (0.0, 0))
            scores[(q, d)] = (s + 1.0 / (60 + r), n + 1)
    for q in (0, 1):
        ranked = sorted(((d, v) for (qq, d), v in scores.items() if qq == q),
                        key=lambda x: (-round(x[1][0], 9), x[0]))
        for rnk, (d, (s, n)) in enumerate(ranked, start=1):
            assert got[(q, d)] == (round(s, 9), n, rnk)
    # doc 11 (in both systems) outranks every single-system doc for q0
    assert got[(0, 11)][2] == 1


def test_hybrid_retrieval_composes_on_testdata(spark, sf_small):
    """Lexical BM25 + dense hash-embedding rankings fuse end-to-end:
    deterministic across runs, and the fused winner is a doc BOTH
    systems retrieved (the testdata plants near-dups of the probe;
    brute_force_topk excludes the self-match, so the winner is a
    near-dup, not the probe itself)."""
    from apsviz_timeseriesdb_ingest_spark.llm.retrieval import rrf_fuse
    from apsviz_timeseriesdb_ingest_spark.llm.similarity import (
        brute_force_topk,
        hash_embedding,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_small, "documents")
    probe = docs.orderBy("doc_id").limit(1).collect()[0]
    queries = spark.createDataFrame([(int(probe.doc_id), probe.text)],
                                    "query_id long, text string")
    lex = bm25_topk(docs, queries, top_k=5)
    dense = (brute_force_topk(hash_embedding(docs),
                              id_col="doc_id", query_ids=[int(probe.doc_id)],
                              top_k=5)
             .select("query_id", F.col("neighbor_id").alias("doc_id"),
                     F.col("rank").alias("rnk")))
    fused1 = sorted(map(tuple, rrf_fuse([lex, dense], top_k=5).collect()))
    fused2 = sorted(map(tuple, rrf_fuse([lex, dense], top_k=5).collect()))
    assert fused1 == fused2 and fused1
    # lexical self-retrieval keeps the probe in the fused set ...
    assert probe.doc_id in {t[1] for t in fused1}
    # ... but the winner is a two-system consensus doc: rrf's point
    top = min(fused1, key=lambda t: t[4])
    assert top[3] == 2  # n_systems

