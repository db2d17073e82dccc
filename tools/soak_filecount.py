"""Tail-latency soak for the skipping layer at REAL file counts
(r7 candidate 4, pulled into r6): a 100 TB corpus is O(10k-100k)
files, and every driver-side piece of the skipping machinery —
file listing, prune arithmetic, the incremental build's
covered-set diff — is O(#files). This measures those walls at
1k/10k files so a flat curve at a few hundred files doesn't hide a
10k-file cliff.

Measured per file count:

- ``list_s``: plain file listing (os.walk) — the floor every
  driver-side op pays;
- ``zm_build_s``: the full zone-map build (parquet footers read on
  the driver);
- ``zm_incr_s``: incremental refresh after appending ``--append``
  files — must be O(new files), NOT a rebuild;
- ``zm_prune_s``: driver arithmetic over the stats rows for a
  ~0.1%-selective range;
- ``zm_kept``: files surviving the prune (the selectivity sanity
  check: pruned read == full filtered read is asserted,
  result-equality first as always).

The layout is range shards, the one a zone map prunes. Rows/file is
tiny here — the soak scales FILE COUNT, not bytes. One JSON line per
file count on stdout.

Usage: python tools/soak_filecount.py [--files 1000,10000]
                                      [--rows-per-file 100]
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
    ap.add_argument("--files", default="1000,10000")
    ap.add_argument("--rows-per-file", type=int, default=100)
    ap.add_argument("--append", type=int, default=50)
    ap.add_argument("--cpus", default=os.environ.get(
        "SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
    from apsviz_timeseriesdb_ingest_spark.sources.skipping import (
        build_skipping, read_between, zm_table)
    from apsviz_timeseriesdb_ingest_spark.sources.zonemap import (
        ZONEMAP_SCHEMA, list_parquet_files, prune_files)

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .config("spark.sql.shuffle.partitions", args.cpus)
             .config("spark.ui.enabled", "false")
             .appName("soak_filecount").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    for n_files in [int(x) for x in args.files.split(",")]:
        with tempfile.TemporaryDirectory() as tmp:
            catalog = Catalog(spark, tmp)
            n_rows = n_files * args.rows_per_file
            base = spark.range(n_rows).select(F.col("id").alias("k"))

            # range shards: the layout a zone map prunes
            (base.repartitionByRange(n_files, "k")
             .write.parquet(catalog.path("zt")))

            t0 = time.time()
            files = list_parquet_files(catalog.path("zt"))
            list_s = time.time() - t0
            assert len(files) == n_files, len(files)

            t0 = time.time()
            build_skipping(catalog, "zt", range_cols=["k"])
            zm_build_s = time.time() - t0

            # ~0.1%-selective range probe
            lo, hi = n_rows // 2, n_rows // 2 + n_rows // 1000
            zm = catalog.rows(zm_table("zt"), ZONEMAP_SCHEMA)
            t0 = time.time()
            kept = prune_files(zm, "k", lo, hi,
                               path=catalog.path("zt"))
            zm_prune_s = time.time() - t0
            expect = hi - lo + 1
            got = read_between(catalog, "zt", "k", lo, hi).count()
            assert got == expect, (got, expect)

            # incremental refresh paid per APPEND (the auto-hook path):
            # footer stats over the new files only
            extra = spark.range(n_rows, n_rows
                                + args.append * 10).select(
                F.col("id").alias("k"))
            t0 = time.time()
            catalog.append(extra.repartition(args.append, "k"), "zt")
            zm_incr_s = time.time() - t0
            covered = catalog.read(zm_table("zt")).count()
            assert covered == n_files + args.append, covered

            print(json.dumps({
                "files": n_files, "rows": n_rows,
                "list_s": round(list_s, 3),
                "zm_build_s": round(zm_build_s, 2),
                "zm_prune_s": round(zm_prune_s, 3),
                "zm_kept": len(kept),
                "zm_incr_append_s": round(zm_incr_s, 2),
                "appended_files": args.append,
            }), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
