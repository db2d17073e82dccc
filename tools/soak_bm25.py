"""BM25 retrieval scale soak: ``bm25_topk`` wall for a query batch at
sf0.1 documents and at 10x. Scoring tokenizes the corpus once per
batch, so the wall should grow about linearly in corpus tokens.

10x construction: per-replica consonant permutation (soak_neardup's) —
token structure and document lengths unchanged, vocabulary and posting
tables grow realistically, and the SAME probe queries (built from
replica-0 text) have real matches at both scales.

Usage: python tools/soak_bm25.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

_CONS = "bcdfghjklmnpqrstvwxz"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get(
        "SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--queries", type=int, default=50)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from apsviz_timeseriesdb_ingest_spark.llm.retrieval import bm25_topk
    from apsviz_timeseriesdb_ingest_spark.testdata import load_table

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .config("spark.sql.shuffle.partitions", args.cpus)
             .config("spark.ui.enabled", "false")
             .appName("soak_bm25").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    base = (load_table(spark, args.sf_dir, "documents")
            .select("doc_id", "text")
            .repartition(int(args.cpus)).cache())
    base.count()

    # queries: middle trigrams of the first N replica-0 docs
    queries = (base.orderBy("doc_id").limit(args.queries)
               .select(F.col("doc_id").alias("query_id"),
                       F.concat_ws(
                           " ", F.slice(F.split(F.lower("text"),
                                                r"\s+"), 4, 3))
                       .alias("text"))
               .cache())
    queries.count()

    def replicate(times: int):
        parts = []
        for i in range(times):
            rot = _CONS[i:] + _CONS[:i]
            parts.append(base.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                F.translate(F.lower("text"), _CONS, rot).alias("text")))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.repartition(int(args.cpus)).cache()

    for times in (1, 10):
        docs = replicate(times)
        n = docs.count()

        t0 = time.time()
        n_direct = bm25_topk(docs, queries, top_k=10).count()
        t_direct = time.time() - t0

        print(json.dumps({
            "scale": f"{times}x", "docs": n,
            "direct_s": round(t_direct, 2),
            "direct_rows": n_direct,
            "queries": args.queries}), flush=True)
        docs.unpersist()

    spark.stop()


if __name__ == "__main__":
    main()
