"""One-call facade over the file-skipping indexes for Catalog tables.

`zonemap.py` and `bloomskip.py` are the mechanisms; this module is the
usage contract: build both stats tables for a Catalog table in one
call, then issue predicate reads that (a) consult the right index,
(b) pass the CURRENT table path so staleness degrades safely in both
directions (post-build files kept, compaction-deleted rows dropped),
and (c) ALWAYS apply the real predicate on the pruned scan — skipping
is an I/O optimization the caller cannot get wrong, and a missing
stats table silently falls back to the plain filtered read.

Stats tables are named ``{table}__zm`` / ``{table}__bloom`` (double
underscore: the repo's reserved-sidecar convention, like the commit
ledgers)."""

from __future__ import annotations

import os
from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloomskip import BLOOM_SCHEMA, build_bloom_skip, prune_files_bloom
from .zonemap import (
    ZONEMAP_SCHEMA,
    build_zonemap,
    prune_files,
    prune_files_in,
    prune_files_prefix,
    read_pruned,
    refresh_zonemap,
)


def zm_table(table: str) -> str:
    return f"{table}__zm"


def bloom_table(table: str) -> str:
    return f"{table}__bloom"


def build_skipping(catalog, table: str, *,
                   range_cols: Iterable[str] = (),
                   equality_cols: Iterable[str] = (),
                   incremental: bool = False,
                   **bloom_kw) -> dict[str, int]:
    """Build the zone map over ``range_cols`` and the Bloom index over
    ``equality_cols`` for a Catalog table (either may be empty).
    Returns ``{stats_table: files_covered}``. ``incremental=True``
    refreshes without rescanning covered files (stats passes over new
    files only, dead rows retired). Once built, the Catalog mutation
    verbs keep the sidecars current automatically via
    :func:`refresh_skipping`; reads stay CORRECT against stale stats
    either way (the pruners get the live path), they just skip less."""
    out: dict[str, int] = {}
    path = catalog.path(table)
    if list(range_cols):
        out[zm_table(table)] = build_zonemap(
            catalog, path, range_cols, table=zm_table(table),
            incremental=incremental)
    if list(equality_cols):
        out[bloom_table(table)] = build_bloom_skip(
            catalog, path, equality_cols, table=bloom_table(table),
            incremental=incremental, **bloom_kw)
    return out


def skipping_spec(catalog, table: str) -> dict:
    """What the existing sidecars of ``table`` cover, recovered from the
    sidecars THEMSELVES (each stats row names its column; Bloom rows
    carry their geometry) — so no record of the original
    ``build_skipping`` arguments is needed. :func:`refresh_skipping`
    takes the zone map's columns from the one sidecar read its refresh
    makes anyway, and the Bloom part from the same helper as here. Keys
    present only for sidecars that exist AND have rows: ``range_cols``,
    ``equality_cols``, ``n_bits``, ``n_hashes``. A zero-row sidecar
    (built while the table was empty) names no columns and cannot be
    refreshed — reads already degrade safely against it (uncovered
    files are kept), so it is simply skipped."""
    spec: dict = {}
    if catalog.exists(zm_table(table)):
        cols = sorted(r.column for r in _read_zm(catalog, table)
                      .select("column").distinct().collect())
        if cols:
            spec["range_cols"] = cols
    return spec | _bloom_spec(catalog, table)


def _bloom_spec(catalog, table: str) -> dict:
    if not catalog.exists(bloom_table(table)):
        return {}
    bl = _read_bloom(catalog, table)
    cols = sorted(r.column for r in bl.select("column").distinct().collect())
    if not cols:
        return {}
    geom = (bl.filter("has_bloom")
            .select("n_bits", "n_hashes").distinct().collect())
    return {"equality_cols": cols, **(geom[0].asDict() if geom else {})}


def refresh_skipping(catalog, table: str) -> dict[str, int]:
    """Bring whatever skipping sidecars exist for ``table`` exactly
    current with the table's on-disk files — the maintenance hook
    :class:`~.catalog.Catalog` mutation verbs call automatically, so
    index staleness (previously SAFE but silent: reads just skipped
    less until someone re-ran ``build_skipping``) no longer
    accumulates. Incremental by construction: appends pay stats over
    the new files only; compaction/overwrite replaced every file, so
    the incremental build degenerates to the full rebuild those need.
    The zone map refresh is :func:`~.zonemap.refresh_zonemap`: one
    sidecar read and at most one write. No-op (two dir checks, zero
    Spark jobs) when the table has no sidecars — which is every table
    that never opted into skipping."""
    out: dict[str, int] = {}
    path = catalog.path(table)
    if catalog.exists(zm_table(table)):
        n = refresh_zonemap(catalog, path, table=zm_table(table))
        if n is not None:
            out[zm_table(table)] = n
    spec = _bloom_spec(catalog, table)
    if spec:
        out[bloom_table(table)] = build_bloom_skip(
            catalog, path, spec.pop("equality_cols"),
            table=bloom_table(table), incremental=True, **spec)
    return out


def _read_zm(catalog, table: str) -> DataFrame:
    return catalog.read(zm_table(table), ZONEMAP_SCHEMA)


def _read_bloom(catalog, table: str) -> DataFrame:
    return catalog.read(bloom_table(table), BLOOM_SCHEMA)


def read_between(catalog, table: str, column: str, lo, hi) -> DataFrame:
    """``SELECT * FROM table WHERE column BETWEEN lo AND hi`` with
    zone-map file skipping when ``{table}__zm`` exists (plain filtered
    read otherwise). The real predicate is always applied — results
    are identical with or without the index."""
    path = catalog.path(table)
    pred = F.col(column).between(F.lit(lo), F.lit(hi))
    if not catalog.exists(zm_table(table)):
        return catalog.read(table).filter(pred)
    keep = prune_files(_read_zm(catalog, table), column, lo, hi,
                       path=path)
    return read_pruned(catalog.spark, path, keep).filter(pred)


def read_equals(catalog, table: str, column: str,
                values: Sequence) -> DataFrame:
    """``SELECT * FROM table WHERE column IN (values)`` with Bloom
    file skipping when ``{table}__bloom`` exists, zone-map point
    skipping when only ``{table}__zm`` does (right when the column is
    CLUSTERED — each point value intersects few file ranges), plain
    filtered read otherwise. The real predicate is always applied."""
    path = catalog.path(table)
    vals = list(values)
    pred = F.col(column).isin(vals)
    if catalog.exists(bloom_table(table)):
        keep = prune_files_bloom(_read_bloom(catalog, table),
                                 column, vals, path=path)
    elif catalog.exists(zm_table(table)):
        keep = prune_files_in(_read_zm(catalog, table), column,
                              vals, path=path)
    else:
        return catalog.read(table).filter(pred)
    return read_pruned(catalog.spark, path, keep).filter(pred)


def read_prefix(catalog, table: str, column: str,
                prefix: str) -> DataFrame:
    """``SELECT * FROM table WHERE column LIKE 'prefix%'`` with
    zone-map file skipping when ``{table}__zm`` exists — a prefix is
    the half-open range ``[prefix, prefix_upper_bound)``, so it prunes
    exactly like a BETWEEN on a clustered string column. The real
    predicate is always applied."""
    path = catalog.path(table)
    pred = F.col(column).startswith(prefix)
    if not catalog.exists(zm_table(table)):
        return catalog.read(table).filter(pred)
    keep = prune_files_prefix(_read_zm(catalog, table), column,
                              prefix, path=path)
    return read_pruned(catalog.spark, path, keep).filter(pred)


# -- committed reads composed with file skipping ----------------------

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
    from .zonemap import list_parquet_files

    committed = {(b, w) for b, w in catalog.committed_batches(ledger)
                 if as_of_batch is None or b <= int(as_of_batch)}
    root = catalog.path(table)
    out = []
    saw_stream_layout = False
    files = list_parquet_files(root)
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


def _committed_pruned_read(catalog, table: str, index_table: str,
                           as_of_batch, stats_keep: list[str] | None
                           ) -> DataFrame:
    """Intersect a skipping pruner's file list with the committed file
    set and read via ``basePath`` (partition columns survive the
    leaf-file read)."""
    from ..llm.incremental import commits_table

    path = catalog.path(table)
    keep = committed_files(catalog, table, commits_table(index_table),
                           as_of_batch)
    if stats_keep is not None:
        keep = sorted(set(keep) & set(stats_keep))
    return read_pruned(catalog.spark, path, keep)


def read_committed_between(catalog, table: str, column: str, lo, hi, *,
                           index_table: str = "minhash_index",
                           as_of_batch: int | None = None) -> DataFrame:
    """:func:`read_between` composed with the read-committed view of a
    stream-owned table (``streaming.corpus_stream.committed_corpus``):
    ONE call that (a) drops uncommitted/orphan ``(__batch, __writer)``
    partitions via the index's commit ledger — optionally as-of a
    snapshot batch — and (b) skips committed files whose zone-map
    ``[min, max]`` cannot intersect the range. Both prunings are
    driver-side metadata arithmetic; results equal
    ``committed_corpus(...).filter(pred)`` exactly (skipping is I/O
    only, and the real predicate is always applied)."""
    pred = F.col(column).between(F.lit(lo), F.lit(hi))
    stats_keep = None
    if catalog.exists(zm_table(table)):
        stats_keep = prune_files(_read_zm(catalog, table), column,
                                 lo, hi, path=catalog.path(table))
    return _committed_pruned_read(catalog, table, index_table,
                                  as_of_batch, stats_keep).filter(pred)


def read_committed_equals(catalog, table: str, column: str,
                          values: Sequence, *,
                          index_table: str = "minhash_index",
                          as_of_batch: int | None = None) -> DataFrame:
    """:func:`read_equals` composed with the read-committed view —
    the Bloom twin of :func:`read_committed_between`."""
    vals = list(values)
    pred = F.col(column).isin(vals)
    stats_keep = None
    if catalog.exists(bloom_table(table)):
        stats_keep = prune_files_bloom(_read_bloom(catalog, table),
                                       column, vals,
                                       path=catalog.path(table))
    return _committed_pruned_read(catalog, table, index_table,
                                  as_of_batch, stats_keep).filter(pred)
