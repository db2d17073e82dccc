"""Zone-map file skipping for plain-parquet corpora.

Spark's parquet reader already prunes ROW GROUPS inside a file once a
filter is pushed to the scan — but it still schedules a task per file
split and opens every footer at query time. At 100 TB / O(100k) files
that planning cost dominates selective queries on NON-partition columns
(partition pruning only helps columns the layout was keyed on). The
zone map is the standard fix (Moerkotte "Small Materialized Aggregates"
1998; Delta/Iceberg column stats + data skipping): harvest per-file
min/max once, persist them as a tiny stats table, and answer every
later range query by reading ONLY the files whose [min, max] intersects
the predicate — file-level skipping decided from kilobytes of metadata,
before any data task is scheduled.

Build reads parquet FOOTERS only, on the driver (no row data; a
distributed footer pass measured slower at 6 to 1,276 files). The stats
table is planning metadata: a refresh reads it once and writes it once,
and pruning is driver-side arithmetic over its O(#files) rows.

Reference parity note: the reference ingests into PostgreSQL, where
BRIN indexes play this exact role for its time-range queries
(`/root/reference/run/ingestObsTasks.py:390-399` bounds dedup DELETEs
to a file's [min(TIME), max(TIME)] window — the same min/max-per-file
idea, applied at write time). This module is the Spark-side,
query-time generalization.
"""

from __future__ import annotations

import datetime as _dt
import os
from functools import partial
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: stats-table schema; values rendered to strings so ONE table covers
#: every column type (comparisons re-parse via ``dtype`` at prune time)
ZONEMAP_SCHEMA = ("file string, column string, dtype string, "
                  "min_val string, max_val string, null_count long, "
                  "num_rows long, has_stats boolean")

_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"  # fixed width → lexicographic = chronological


def _render(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, _dt.datetime):
        return v.strftime(_TS_FMT)
    if isinstance(v, _dt.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return repr(v) if isinstance(v, float) else str(v)


def _parse(dtype: str, s: str):
    """Inverse of :func:`_render` for comparisons, per column type."""
    if s is None:
        return None
    if dtype.startswith(("int", "uint")):
        return int(s)
    if dtype.startswith(("float", "double", "halffloat")):
        return float(s)
    # timestamps/dates/strings: fixed-width rendering makes the plain
    # string comparison order-correct
    return s


def list_parquet_files(path: str) -> list[str]:
    """The data files under a parquet table path (driver-side listing —
    file METADATA, cheap at any corpus size; nested partition dirs
    included, hidden/_SUCCESS/commit sidecars excluded)."""
    out: list[str] = []
    if os.path.isfile(path):
        return [path]
    for root, _dirs, names in os.walk(path):
        for n in sorted(names):
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                out.append(os.path.join(root, n))
    return sorted(out)


def footer_stats(files: Iterable[str], columns: Iterable[str]) -> list[tuple]:
    """One ``ZONEMAP_SCHEMA`` row per (file, column), read on the driver
    from parquet FOOTERS only (kilobytes per file, never row data).
    Columns whose physical type has no usable ordered stats (or files
    written without statistics) yield ``has_stats = false`` — the
    pruner keeps those files conservatively."""
    import pyarrow.parquet as pq

    cols = list(columns)
    rows = []
    for f in files:
        md = pq.read_metadata(f)
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in cols:
            mn = mx = None
            nulls = 0
            ok = c in idx
            dtype = ""
            if ok:
                dtype = md.schema.column(idx[c]).logical_type.type.lower()
                if dtype == "none":
                    dtype = md.schema.column(idx[c]).physical_type.lower()
                key = partial(_parse, dtype)
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(idx[c]).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    nulls += st.null_count or 0
                    lo, hi = _render(st.min), _render(st.max)
                    if lo is None or hi is None:
                        ok = False
                        break
                    mn = lo if mn is None else min(mn, lo, key=key)
                    mx = hi if mx is None else max(mx, hi, key=key)
            if mn is None or mx is None:
                # zero row groups (an empty part file) carry no ordered
                # stats — has_stats=True with NULL bounds would crash
                # the pruner's comparisons
                ok = False
            rows.append((f, c, dtype, mn if ok else None,
                         mx if ok else None, nulls, md.num_rows, ok))
    return rows


def collect_zonemap(spark: SparkSession, path: str,
                    columns: Iterable[str], *,
                    files: list[str] | None = None) -> DataFrame:
    """:func:`footer_stats` over the table's data files (or ``files``)
    as a frame."""
    files = list_parquet_files(path) if files is None else files
    return spark.createDataFrame(footer_stats(files, columns),
                                 ZONEMAP_SCHEMA)


def build_zonemap(catalog, path: str, columns: Iterable[str], *,
                  table: str, incremental: bool = False) -> int:
    """Persist :func:`footer_stats` over the files under ``path`` as a
    catalog table — the build-once/probe-many form (probes then cost a
    metadata-table read, no footer access at all). Returns the file
    count covered.

    ``incremental=True`` refreshes an existing stats table: it is read
    to the driver ONCE, rows of files no longer on disk are retired,
    only files absent from it get footer stats, and ONE overwrite from
    driver rows (none when nothing changed) brings it exactly current
    after appends AND compactions."""
    old = (catalog.read(table, ZONEMAP_SCHEMA).collect()
           if incremental and catalog.exists(table) else None)
    return _write_zonemap(catalog, path, columns, table, old)


def refresh_zonemap(catalog, path: str, *, table: str) -> int | None:
    """Incremental :func:`build_zonemap` over the columns the stats
    table already covers, taken from the same one read. None when the
    table has no rows to name them."""
    old = catalog.read(table, ZONEMAP_SCHEMA).collect()
    cols = sorted({r.column for r in old})
    return _write_zonemap(catalog, path, cols, table, old) if cols else None


def _write_zonemap(catalog, path: str, columns: Iterable[str], table: str,
                   old: list | None) -> int:
    on_disk = list_parquet_files(path)
    new, rows = on_disk, []
    if old is not None:
        covered, live = {r.file for r in old}, set(on_disk)
        new = [f for f in on_disk if f not in covered]
        rows = [tuple(r) for r in old if r.file in live]
        if not new and len(rows) == len(old):
            return len(on_disk)
    catalog.overwrite(catalog.spark.createDataFrame(
        rows + footer_stats(new, columns), ZONEMAP_SCHEMA), table)
    return len(on_disk)


def _prune_by(zonemap: DataFrame, column: str, path: str | None,
              may_match) -> list[str]:
    """Shared prune driver: keep files without usable stats (and, with
    ``path``, files on disk but absent from a STALE stats table — a
    stale zone map must degrade to reading more, never to dropping
    unseen data; stats rows for files no longer on disk are dropped),
    plus every file where ``may_match(dtype, min_val, max_val)`` is
    True. Driver-side arithmetic over the stats frame."""
    rows = (zonemap.filter(F.col("column") == column)
            .select("file", "dtype", "min_val", "max_val", "has_stats")
            .collect())
    on_disk = set(list_parquet_files(path)) if path is not None else None
    covered = {r.file for r in rows}
    keep = ([f for f in on_disk if f not in covered]
            if on_disk is not None else [])
    for r in rows:
        if on_disk is not None and r.file not in on_disk:
            continue
        if not r.has_stats or may_match(r.dtype, r.min_val, r.max_val):
            keep.append(r.file)
    return sorted(keep)


def prune_files(zonemap: DataFrame, column: str, lo=None, hi=None, *,
                path: str | None = None) -> list[str]:
    """Files whose ``[min, max]`` for ``column`` can intersect
    ``[lo, hi]`` (either bound may be None = unbounded). Files without
    stats for the column are KEPT — pruning must never change results,
    only skip provably-irrelevant files. Driver-side arithmetic over
    the stats frame (planning metadata).

    Pass ``path`` whenever the table may have CHANGED since the stats
    build (appends, compaction, overwrite): files on disk but absent
    from the stats table are kept unconditionally — a stale zone map
    must degrade to reading more, never to dropping unseen data — and
    stats rows for files no longer on disk are dropped (compaction
    replaced them; keeping them would make the read fail)."""
    lo_r, hi_r = _render(lo), _render(hi)

    def may_match(dtype, mn, mx):
        p = lambda s: _parse(dtype, s)  # noqa: E731
        if lo_r is not None and p(mx) < p(lo_r):
            return False
        if hi_r is not None and p(mn) > p(hi_r):
            return False
        return True

    return _prune_by(zonemap, column, path, may_match)


def prune_files_in(zonemap: DataFrame, column: str, values, *,
                   path: str | None = None) -> list[str]:
    """Files whose ``[min, max]`` can contain ANY of ``values`` — the
    IN-list probe on a CLUSTERED column, where each point value
    intersects at most a few files' ranges (on an unclustered
    high-cardinality column every file spans the domain and the Bloom
    index is the right tool — ``bloomskip``). Same staleness contract
    as :func:`prune_files`. NULL values never match (parquet min/max
    exclude nulls, matching Spark's ``isin`` semantics)."""
    rendered = [_render(v) for v in values]
    rendered = [v for v in rendered if v is not None]

    def may_match(dtype, mn, mx):
        p = lambda s: _parse(dtype, s)  # noqa: E731
        lo, hi = p(mn), p(mx)
        return any(lo <= p(v) <= hi for v in rendered)

    return _prune_by(zonemap, column, path, may_match)


def prefix_upper_bound(prefix: str) -> str | None:
    """The smallest string greater than every string with ``prefix``:
    increment the rightmost incrementable character and truncate
    (``"ab"`` → ``"ac"``). None when no such bound exists (all
    characters at the maximum code point — match everything)."""
    for i in range(len(prefix) - 1, -1, -1):
        if ord(prefix[i]) < 0x10FFFF:
            return prefix[:i] + chr(ord(prefix[i]) + 1)
    return None


def prune_files_prefix(zonemap: DataFrame, column: str, prefix: str, *,
                       path: str | None = None) -> list[str]:
    """Files that may contain a STRING starting with ``prefix``
    (``LIKE 'abc%'``): a string starts with ``prefix`` iff
    ``prefix <= s < prefix_upper_bound(prefix)``, so the probe is the
    half-open interval intersection against each file's [min, max] —
    range-convertible exactly like a BETWEEN. Same staleness contract
    as :func:`prune_files`. String columns only (the rendered stats of
    other types do not compare meaningfully against a raw prefix)."""
    upper = prefix_upper_bound(prefix)

    def may_match(dtype, mn, mx):
        if not (dtype.startswith("string") or dtype.startswith("byte")):
            return True  # not a string column: never prune on a prefix
        if mx < prefix:  # every value < prefix → none can carry it
            return False
        if upper is not None and mn >= upper:
            return False
        return True

    return _prune_by(zonemap, column, path, may_match)


def read_pruned(spark: SparkSession, path: str, files: list[str],
                schema: StructType | str | None = None) -> DataFrame:
    """Read only ``files`` of the table at ``path``; an empty selection
    returns the empty frame with the table's schema (footer-only read).
    The caller still applies its real filter — zone-map pruning is an
    I/O optimization, never a semantic one. ``basePath`` anchors
    partition discovery so Hive-partitioned tables keep their
    partition COLUMNS (``__batch``/``time_bucket``/…) when read as a
    leaf-file list. A declared ``schema`` skips footer inference."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    if not files:
        return reader.parquet(path).filter(F.lit(False))
    if os.path.isdir(path):
        reader = reader.option("basePath", path)
    return reader.parquet(*files)


def zonemap_aggregates(zonemap: DataFrame, column: str, *,
                       path: str | None = None) -> dict | None:
    """``count(*)`` / ``min`` / ``max`` / null count for ``column``
    answered ENTIRELY from the stats table — zero data tasks, the
    manifest-aggregate trick transactional table formats use for
    metadata-only queries. Returns ``None`` whenever the stats cannot
    answer exactly: any covered file lacks usable stats for the
    column, or (with ``path=``) the on-disk file set differs from the
    covered set (stale stats must never produce a wrong answer —
    callers fall back to the real scan).

    min/max semantics match Spark's null-ignoring aggregates (parquet
    column statistics exclude nulls; all-null files carry no min/max
    and surface as ``has_stats = false`` → ``None`` here)."""
    rows = (zonemap.filter(F.col("column") == column)
            .select("file", "dtype", "min_val", "max_val",
                    "null_count", "num_rows", "has_stats")
            .collect())
    if not rows or not all(r.has_stats for r in rows):
        return None
    if path is not None and \
            set(list_parquet_files(path)) != {r.file for r in rows}:
        return None
    mins = [_parse(r.dtype, r.min_val) for r in rows]
    maxs = [_parse(r.dtype, r.max_val) for r in rows]
    return {
        "num_rows": sum(r.num_rows for r in rows),
        "null_count": sum(r.null_count for r in rows),
        "min": min(mins),
        "max": max(maxs),
    }
