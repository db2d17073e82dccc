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
from typing import Iterable, Sequence

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


def _hidden(name: str) -> bool:
    """Spark's file-index rule: a name starting with ``.``, or with
    ``_`` and holding no ``=`` (``__batch=3`` is a partition), is not
    table data."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def list_parquet_files(path: str) -> list[str]:
    """The data files under a parquet table path, as Spark's file index
    lists them (driver-side listing — file METADATA, cheap at any corpus
    size): nested partition dirs included; hidden files and directories
    (``_SUCCESS``, checksums, a killed write's ``_temporary/``, a write
    stage) excluded."""
    out: list[str] = []
    if os.path.isfile(path):
        return [path]
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        out.extend(os.path.join(root, n) for n in names
                   if n.endswith(".parquet") and not _hidden(n))
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


def build_zonemap(catalog, path: str, columns: Iterable[str], *,
                  table: str) -> int:
    """Persist :func:`footer_stats` over the files under ``path`` as a
    catalog table — the build-once/probe-many form (probes then cost a
    metadata-table read, no footer access at all). Returns the file
    count covered."""
    files = list_parquet_files(path)
    catalog.overwrite_rows(footer_stats(files, columns), table, ZONEMAP_SCHEMA)
    return len(files)


def refresh_zonemap(catalog, path: str, *, table: str) -> int | None:
    """Bring the stats table exactly current with the files under
    ``path``, over the columns it already covers: rows of files no
    longer on disk are retired, only files absent from it get footer
    stats, and ONE overwrite from driver rows (none when nothing
    changed) follows appends AND rewrites. The old rows come from
    the catalog's driver-side copy (``Catalog.rows``: no job when this
    process wrote it last). Returns the file count covered; None when
    the table has no rows to name its columns."""
    old = catalog.rows(table, ZONEMAP_SCHEMA)
    cols = sorted({r.column for r in old})
    if not cols:
        return None
    on_disk = list_parquet_files(path)
    covered, live = {r.file for r in old}, set(on_disk)
    new = [f for f in on_disk if f not in covered]
    rows = [r for r in old if r.file in live]
    if new or len(rows) != len(old):
        catalog.overwrite_rows(rows + footer_stats(new, cols), table,
                               ZONEMAP_SCHEMA)
    return len(on_disk)


def prune_files(zonemap: Sequence, column: str, lo=None, hi=None, *,
                path: str | None = None) -> list[str]:
    """Files whose ``[min, max]`` for ``column`` can intersect
    ``[lo, hi]`` (either bound may be None = unbounded), by driver-side
    arithmetic over the stats rows (``Catalog.rows`` of the stats
    table). Files without stats for the column are KEPT — pruning must
    never change results, only skip provably-irrelevant files.

    Pass ``path`` whenever the table may have CHANGED since the stats
    build (appends, merges, overwrites): files on disk but absent
    from the stats table are kept unconditionally — a stale zone map
    must degrade to reading more, never to dropping unseen data — and
    stats rows for files no longer on disk are dropped (a rewrite
    replaced them; keeping them would make the read fail)."""
    lo_r, hi_r = _render(lo), _render(hi)
    rows = [r for r in zonemap if r.column == column]
    on_disk = set(list_parquet_files(path)) if path is not None else None
    covered = {r.file for r in rows}
    keep = ([f for f in on_disk if f not in covered]
            if on_disk is not None else [])
    for r in rows:
        if on_disk is not None and r.file not in on_disk:
            continue
        p = partial(_parse, r.dtype)
        if not r.has_stats or ((lo_r is None or p(r.max_val) >= p(lo_r))
                               and (hi_r is None or p(r.min_val) <= p(hi_r))):
            keep.append(r.file)
    return sorted(keep)


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
