"""Per-batch cost of the skipping auto-refresh inside the streaming
dedup txn (r7 candidate 1): once a corpus table has a ``__zm``
sidecar, every micro-batch's corpus write triggers
``Catalog.refresh_skipping`` — footer stats over the batch's new files
and one rewrite of the sidecar. This measures what that adds to a batch
at a realistic size, against the same batches with no sidecar (the
default: tables that never opted into skipping pay one dir check).

One JSON line on stdout: mean batch wall without and with a zone map;
the per-batch delta is the number a deployment weighs against its probe
savings (the refresh is correctness-optional — staleness only skips
less — so a latency-bound stream can pass refresh_skipping=False and
refresh on compaction).

Usage: python tools/soak_txn_refresh.py [--batches 6] [--docs 500]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=6)
    ap.add_argument("--docs", type=int, default=500)
    ap.add_argument("--cpus", default=os.environ.get(
        "SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from apsviz_timeseriesdb_ingest_spark.llm.incremental import (
        build_dedup_index)
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
    from apsviz_timeseriesdb_ingest_spark.sources.skipping import (
        build_skipping)
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        apply_dedup_increment_txn)

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .config("spark.sql.shuffle.partitions", args.cpus)
             .config("spark.ui.enabled", "false")
             .appName("soak_txn_refresh").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def batch_df(b: int):
        lo = b * args.docs
        return (spark.range(lo, lo + args.docs).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit(f"batch {b} document body number "),
                     F.col("id"),
                     F.lit(" with some distinct trailing words "),
                     (F.col("id") * 7919) % 104729).alias("text")))

    def run(range_cols) -> float:
        with tempfile.TemporaryDirectory() as tmp:
            catalog = Catalog(spark, tmp)
            build_dedup_index(catalog, batch_df(999),
                              stream_index=True, k=2, num_hashes=16,
                              bands=4)
            apply_dedup_increment_txn(catalog, batch_df(0), 0,
                                      k=2, num_hashes=16, bands=4)
            if range_cols:
                build_skipping(catalog, "stream_corpus",
                               range_cols=range_cols)
            walls = []
            for b in range(1, args.batches + 1):
                t0 = time.time()
                apply_dedup_increment_txn(catalog, batch_df(b), b,
                                          k=2, num_hashes=16, bands=4)
                walls.append(time.time() - t0)
            return sum(walls) / len(walls)

    plain = run(())
    zm = run(["doc_id"])
    print(json.dumps({
        "batches": args.batches, "docs_per_batch": args.docs,
        "mean_batch_s_plain": round(plain, 2),
        "mean_batch_s_zm": round(zm, 2),
        "refresh_overhead_s_zm": round(zm - plain, 2),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
