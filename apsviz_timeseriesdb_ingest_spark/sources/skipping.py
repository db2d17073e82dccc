"""File skipping for Catalog tables: the zone map of a range column.

`zonemap.py` is the mechanism (per-file min/max read from parquet
footers); this module is the usage contract. Build the sidecar once,
and the Catalog mutation verbs keep it current (:func:`refresh_skipping`).
A range read then (a) prunes the table's files by the sidecar, (b)
passes the CURRENT table path so staleness degrades safely in both
directions (post-build files kept, rewrite-deleted files dropped),
and (c) applies the real predicate on the pruned scan — skipping is an
I/O optimization the caller cannot get wrong, and a missing sidecar
falls back to the plain read.

The sidecar is named ``{table}__zm`` (double underscore: the repo's
reserved-sidecar convention)."""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import zonemap
from .zonemap import ZONEMAP_SCHEMA, build_zonemap, read_pruned, refresh_zonemap


def zm_table(table: str) -> str:
    return f"{table}__zm"


def build_skipping(catalog, table: str, *,
                   range_cols: Iterable[str]) -> dict[str, int]:
    """Build the zone map over ``range_cols`` for a Catalog table.
    Returns ``{stats_table: files_covered}``. Once built, the Catalog
    mutation verbs keep the sidecar current via
    :func:`refresh_skipping`; reads stay CORRECT against stale stats
    either way (the pruner gets the live path), they just skip less."""
    return {zm_table(table): build_zonemap(
        catalog, catalog.path(table), range_cols, table=zm_table(table))}


def refresh_skipping(catalog, table: str) -> dict[str, int]:
    """Bring the zone map of ``table``, if it has one, exactly current
    with the table's on-disk files — the maintenance hook
    :class:`~.catalog.Catalog` mutation verbs call. Only files new
    since the last refresh pay footer stats, and the rows of files a
    merge or overwrite replaced are retired. One sidecar read from the
    catalog's driver-side copy and at most one write
    (:func:`~.zonemap.refresh_zonemap`); a dir check and nothing else
    for a table that never built a zone map."""
    if not catalog.exists(zm_table(table)):
        return {}
    n = refresh_zonemap(catalog, catalog.path(table), table=zm_table(table))
    return {} if n is None else {zm_table(table): n}


def pruned_scan(catalog, table: str, column: str, lo, hi,
                schema: StructType | str | None = None) -> DataFrame:
    """The files of ``table`` whose zone map ``[min, max]`` of
    ``column`` can meet ``[lo, hi]`` (either bound None = unbounded),
    read UNFILTERED; the plain read when the table has no
    ``{table}__zm`` sidecar. The sidecar rows come from the catalog's
    driver-side copy (``Catalog.rows``), so pruning runs no Spark job
    once the catalog holds it. The caller applies the real predicate.
    ``schema``: the table's declaration (skips footer inference)."""
    if not catalog.exists(zm_table(table)) or not catalog.exists(table):
        return catalog.read(table, schema)
    path = catalog.path(table)
    # looked up on the module at call time, so a wrapper installed there
    # (tsdbbench/trace.py) sees every prune
    keep = zonemap.prune_files(catalog.rows(zm_table(table), ZONEMAP_SCHEMA),
                               column, lo, hi, path=path)
    return read_pruned(catalog.spark, path, keep, schema)


def read_between(catalog, table: str, column: str, lo, hi) -> DataFrame:
    """``SELECT * FROM table WHERE column BETWEEN lo AND hi`` over
    :func:`pruned_scan`. Results are identical with or without the
    zone map."""
    return pruned_scan(catalog, table, column, lo, hi).filter(
        F.col(column).between(F.lit(lo), F.lit(hi)))
