"""Bloom-filter file skipping for plain-parquet corpora.

The equality-predicate companion to :mod:`.zonemap`: zone maps prune
range predicates on clustered columns, but a point lookup on a
HIGH-CARDINALITY, UNCLUSTERED column (``doc_id``, url host, content
hash) intersects almost every file's [min, max] — min/max carries no
information when every file spans the key domain. The standard fix
(Delta's bloom-filter index; Impala/Iceberg bloom column stats) is a
per-file Bloom filter: a bitmap sized for the file's distinct values
answers "value certainly absent" from kilobytes of metadata, so an
equality / IN-list probe schedules tasks ONLY for files that may
contain a match. False positives cost one extra file read; false
negatives cannot happen (bits are only ever set, never cleared).

Design for 100 TB:

- **Build** is one distributed, COLUMN-PRUNED pass (``mapInPandas``
  over the file list; each task reads just the probed column of its
  files via pyarrow). Unlike the zone map's driver-side footer read
  this touches row data — a build-once/probe-many artifact, persisted
  via :func:`build_bloom_skip`.
- **Bitmaps are stored as ``array<bigint>`` words** (n_bits/64 per
  row), so probing is a JVM-side ``(word >> bit) & 1`` conjunction
  over the tiny stats table — bitmaps never move to the driver and the
  probe is an O(#files x k) metadata scan, not a data scan.
- **Geometry is fixed per build** (``n_bits``/``n_hashes`` shared by
  every file), so a probe renders each value once, derives k literal
  bit positions driver-side, and pushes one boolean expression down.
  Files whose distinct count would overflow the false-positive budget
  (``nunique * bits_per_distinct > n_bits``) record ``has_bloom=false``
  and are kept conservatively — pruning must never change results.
- **Hashing is the repo's portable md5 double-hash** (two 60-bit md5
  halves, ``pos_i = (h1 + i*h2) % n_bits``, Kirsch-Mitzenmacher 2006)
  over the zone map's fixed-width value rendering, identical on build
  and probe side by construction.

Reference parity note: the reference's ledger lookup dedups harvest
files by an indexed equality probe on file_name in PostgreSQL
(`/root/reference/run/createHarvestObsFileMeta.py:35-42`); at Spark
scale the same "is this key in this storage unit?" question is
answered per FILE, which is exactly a Bloom skipping index.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .zonemap import _render, list_parquet_files

#: stats-table schema: one row per (file, column); ``words`` is the
#: bitmap as n_bits/64 signed 64-bit words
BLOOM_SCHEMA = ("file string, column string, n_bits int, n_hashes int, "
                "n_distinct long, num_rows long, words array<long>, "
                "has_bloom boolean")

#: default geometry: 2^17 bits (16 KB/file/column) at 5 hashes holds
#: ~13k distinct values under 1% FPP, ~26k under ~5%
DEFAULT_N_BITS = 1 << 17
DEFAULT_N_HASHES = 5

#: build refuses to overfill: distinct values per file may claim at
#: most n_bits / MIN_BITS_PER_DISTINCT bits (10 bits/value ~ 1% FPP)
MIN_BITS_PER_DISTINCT = 10


def _positions(value, n_bits: int, n_hashes: int) -> list[int]:
    """The k bit positions for ``value`` — md5 double hashing over the
    zone map's fixed-width rendering, so build (executor Python) and
    probe (driver Python) agree by construction."""
    s = _render(value)
    if s is None:
        return []
    d = hashlib.md5(s.encode("utf-8")).hexdigest()
    h1, h2 = int(d[:15], 16), int(d[15:30], 16)
    return [(h1 + i * h2) % n_bits for i in range(n_hashes)]


def collect_bloom(spark: SparkSession, path: str, columns: Iterable[str],
                  *, n_bits: int = DEFAULT_N_BITS,
                  n_hashes: int = DEFAULT_N_HASHES,
                  files: list[str] | None = None) -> DataFrame:
    """One (file, column) Bloom row per data file — a distributed,
    column-pruned data pass (each task reads ONLY the probed column of
    its files). Files where the column is missing, un-renderable, or
    too distinct for the geometry's false-positive budget yield
    ``has_bloom = false`` (kept conservatively at prune time).
    ``files`` restricts the pass to a subset (the incremental-build
    path)."""
    if n_hashes < 1 or n_hashes > 8:
        raise ValueError("n_hashes must be in [1, 8]")
    files = list_parquet_files(path) if files is None else list(files)
    cols = list(columns)
    if not files:
        return spark.createDataFrame([], BLOOM_SCHEMA)
    n_words = (n_bits + 63) // 64
    cap = n_bits // MIN_BITS_PER_DISTINCT

    def scan(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        from apsviz_timeseriesdb_ingest_spark.sources.bloomskip import (
            _positions)

        for b in batches:
            rows = []
            for f in b["file"]:
                pf = pq.ParquetFile(f)
                names = set(pf.schema_arrow.names)
                num_rows = pf.metadata.num_rows
                for c in cols:
                    if c not in names:
                        rows.append((f, c, n_bits, n_hashes, 0,
                                     num_rows, None, False))
                        continue
                    # distincts arrow-side; to_pylist yields PYTHON
                    # scalars (datetime, float, int, str) so _render
                    # sees exactly what a probe-side value renders —
                    # pandas would hand back numpy/datetime64 scalars
                    # whose str() differs from the probe's rendering
                    # (false negatives on timestamp columns)
                    distinct = [v for v in pf.read(columns=[c])
                                .column(c).unique().to_pylist()
                                if v is not None]
                    ok = len(distinct) <= cap
                    words = [0] * n_words
                    if ok:
                        for v in distinct:
                            pos = _positions(v, n_bits, n_hashes)
                            if not pos:  # un-renderable value
                                ok = False
                                break
                            for p in pos:
                                words[p >> 6] |= 1 << (p & 63)
                    if ok:
                        signed = [w - (1 << 64) if w >= (1 << 63) else w
                                  for w in words]
                    rows.append((f, c, n_bits, n_hashes, len(distinct),
                                 num_rows, signed if ok else None, ok))
            yield pd.DataFrame(rows, columns=[
                "file", "column", "n_bits", "n_hashes", "n_distinct",
                "num_rows", "words", "has_bloom"])

    par = min(len(files), spark.sparkContext.defaultParallelism)
    return (spark.createDataFrame([(f,) for f in files], "file string")
            .repartition(par)
            .mapInPandas(scan, schema=BLOOM_SCHEMA))


def build_bloom_skip(catalog, path: str, columns: Iterable[str], *,
                     table: str, n_bits: int = DEFAULT_N_BITS,
                     n_hashes: int = DEFAULT_N_HASHES,
                     incremental: bool = False) -> int:
    """Persist :func:`collect_bloom` as a catalog table — the
    build-once/probe-many form. Returns the file count covered.

    ``incremental=True`` collects only files absent from the existing
    table and retires rows for deleted files through a Spark-side
    semi-join; the geometry must match the existing table's — a
    mismatch raises rather than plant the mixed-geometry probe error."""
    on_disk = list_parquet_files(path)
    if not incremental or not catalog.exists(table):
        catalog.overwrite(collect_bloom(catalog.spark, path, columns,
                                        n_bits=n_bits, n_hashes=n_hashes),
                          table)
        return len(on_disk)
    old = catalog.read(table, BLOOM_SCHEMA)
    geom = (old.filter("has_bloom")
            .select("n_bits", "n_hashes").distinct().collect())
    if geom and (geom[0].n_bits, geom[0].n_hashes) != (n_bits, n_hashes):
        raise ValueError(
            f"incremental build geometry ({n_bits}, {n_hashes}) != "
            f"existing table's ({geom[0].n_bits}, {geom[0].n_hashes})"
            " — rebuild with incremental=False to change geometry")
    covered = {r.file for r in old.select("file").distinct().collect()}
    fresh = [f for f in on_disk if f not in covered]
    # survivors via a Spark-side semi-join: the bitmaps never reach the
    # driver (an isin literal would not scale to 100k-file tables);
    # materialized before the overwrite replaces what it reads
    disk_df = catalog.spark.createDataFrame([(f,) for f in on_disk],
                                            "file string")
    keep = (old.join(F.broadcast(disk_df), "file", "left_semi")
            .localCheckpoint(eager=True))
    if fresh:
        keep = keep.unionByName(collect_bloom(
            catalog.spark, path, columns, n_bits=n_bits, n_hashes=n_hashes,
            files=fresh))
    catalog.overwrite(keep, table)
    return len(on_disk)


def prune_files_bloom(bloom: DataFrame, column: str, values: Sequence,
                      *, path: str | None = None) -> list[str]:
    """Files that may contain ANY of ``values`` in ``column`` (an
    equality probe is a 1-element IN-list). Bloom-less rows are KEPT —
    skipping is an I/O optimization, never a semantic one. The bit
    tests run Spark-side over the stats table (``shiftright & 1``
    conjunctions on the words array), so bitmaps never reach the
    driver; only surviving file names are collected.

    Pass ``path`` whenever the table may have CHANGED since the stats
    build: files on disk but absent from the stats table are kept
    unconditionally — a stale index degrades to reading more, never
    to dropping unseen data — and stats rows for files no longer on
    disk are dropped (compaction replaced them; keeping them would
    make the read fail)."""
    rows = bloom.filter(F.col("column") == column)
    uncovered: list[str] = []
    on_disk: set | None = None
    if path is not None:
        on_disk = set(list_parquet_files(path))
        covered = {r.file for r in rows.select("file").collect()}
        uncovered = [f for f in on_disk if f not in covered]

    def existing(files: Iterable[str]) -> set:
        return {f for f in files
                if on_disk is None or f in on_disk}
    geom = (rows.filter("has_bloom")
            .select("n_bits", "n_hashes").distinct().collect())
    if len(geom) > 1:
        raise ValueError(
            f"mixed bloom geometries for {column!r}: {geom} — rebuild "
            "the stats table with one (n_bits, n_hashes)")
    keep_all = [r.file for r in
                rows.filter(~F.col("has_bloom")).select("file").collect()]
    if not geom:
        return sorted(existing(keep_all) | set(uncovered))
    n_bits, n_hashes = geom[0].n_bits, geom[0].n_hashes

    def bit(pos: int):
        word = F.element_at("words", pos // 64 + 1)
        return F.shiftright(word, pos % 64).bitwiseAND(F.lit(1)) == 1

    any_val = F.lit(False)
    for v in values:
        pos = _positions(v, n_bits, n_hashes)
        if not pos:
            continue
        all_bits = F.lit(True)
        for p in pos:
            all_bits = all_bits & bit(p)
        any_val = any_val | all_bits
    hits = [r.file for r in
            rows.filter("has_bloom").filter(any_val)
            .select("file").collect()]
    return sorted(existing(keep_all) | existing(hits) | set(uncovered))
