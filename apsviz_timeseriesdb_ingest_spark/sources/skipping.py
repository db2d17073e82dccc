"""File skipping for Catalog tables: the zone map of a range column.

`zonemap.py` is the mechanism (per-file min/max read from parquet
footers); this module is the usage contract. Build the sidecar once,
and the Catalog mutation verbs keep it current (:func:`refresh_skipping`).
A range read then (a) prunes the table's files by the sidecar, (b)
passes the CURRENT table path so staleness degrades safely in both
directions (post-build files kept, compaction-deleted rows dropped),
and (c) applies the real predicate on the pruned scan — skipping is an
I/O optimization the caller cannot get wrong, and a missing sidecar
falls back to the plain read.

The sidecar is named ``{table}__zm`` (double underscore: the repo's
reserved-sidecar convention, like the commit ledgers)."""

from __future__ import annotations

import os
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
    :class:`~.catalog.Catalog` mutation verbs call. Appends pay footer
    stats over the new files only; a compaction or overwrite replaced
    every file, so the refresh then rebuilds. One sidecar read from the
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


def committed_files(catalog, table: str, ledger: str,
                    as_of_batch: int | None = None) -> list[str]:
    """The data files of a stream-owned ``(__batch, __writer)``-
    partitioned table that belong to COMMITTED batches of ``ledger``
    (optionally only batches ``<= as_of_batch`` — the snapshot-read
    bound). Driver-side path arithmetic over the file listing plus the
    ledger listing — both metadata, no Spark job. Files outside a
    ``__batch=…/__writer=…`` partition chain are kept (a non-stream
    table mixes nothing to exclude), matching
    ``streaming.corpus_stream.committed_corpus``'s semantics —
    including its error: ``as_of_batch`` on a table with files but NO
    stream layout raises :class:`ValueError`, exactly like
    ``committed_corpus`` (ADVICE r6: silently ignoring the snapshot
    bound diverged from the results-equal docstring contract)."""
    committed = {(b, w) for b, w in catalog.committed_batches(ledger)
                 if as_of_batch is None or b <= int(as_of_batch)}
    root = catalog.path(table)
    out = []
    saw_stream_layout = False
    files = zonemap.list_parquet_files(root)
    for f in files:
        rel = os.path.relpath(f, root)
        batch = writer = None
        for seg in rel.split(os.sep):
            if seg.startswith("__batch="):
                batch = int(seg.split("=", 1)[1])
            elif seg.startswith("__writer="):
                writer = seg.split("=", 1)[1]
        if batch is None or writer is None:
            out.append(f)
        else:
            saw_stream_layout = True
            if (batch, writer) in committed:
                out.append(f)
    if as_of_batch is not None and files and not saw_stream_layout:
        raise ValueError(
            f"corpus '{table}' has no (__batch, __writer) layout — "
            "snapshot reads need the stream-owned partitioning")
    return sorted(out)
