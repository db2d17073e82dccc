"""Parquet-backed table catalog with partition-bounded keep-latest merges.

The reference's sink is Postgres COPY + DELETE-dedup + UPDATE flags
(SURVEY section 2.1 S5, 2.8 M2/M3). Here every table is a partitioned
parquet directory and the mutation verbs become:

    append            -- COPY of a Spark frame
    overwrite         -- CREATE TABLE AS
    merge_keep_latest -- COPY + bounded DELETE-dedup: the touched months
                         are rebuilt in a stage and published
    append_rows       -- COPY of driver-side rows (ledger entries, station
                         snapshots): one parquet file written on the
                         driver, no Spark job
    overwrite_rows    -- full replace of a small table from driver rows
                         (ledger flag flips, zone-map sidecars), likewise

A small table is read back through a driver-side copy that the two
``*_rows`` writers keep current: ``rows`` hands it out as ``Row``s (a
few hundred dimension or stats rows), ``arrow`` as a ``pyarrow.Table``
(a ledger that grows a row per harvest file, probed with Arrow compute
rather than a Python loop). A probe after a write costs a directory walk
and no Spark job.

Scale design: fact tables are partitioned by a derived time bucket
(``yyyy-MM`` of the event time). ``merge_keep_latest`` only reads and
rewrites the partitions the incoming batch touches — the cost is
proportional to the batch's time window, never the table, which is the
reference's bounded-DELETE optimization
(``run/ingestObsTasks.py:390-399``) expressed as partition pruning.

Every write commits one way (:func:`_publish`): finished files written
under hidden names are ``os.replace``d into a table or partition
directory, and only then are its old entries unlinked. A Spark frame is
first written whole under a hidden stage (:meth:`Catalog._write_frame`),
a small table's rows to a hidden file; so a failed write job leaves the
table as it was, and no write reads what it replaces. The two windows:

- a crash between publish and unlink leaves both generations in the
  directory until the rerun: a rerun merge reads both and keeps the
  latest of each key; a small table's reader tolerates a key listed
  twice (:meth:`Catalog.overwrite_rows`);
- a reader racing the publish can see both generations of a partition
  (one writer per table and no racing reader is assumed throughout).
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.dedup import keep_latest
from ..session import arrow_rows, arrow_schema, local_frame
from .zonemap import list_parquet_files

#: partition column derived from event time for fact tables
TIME_BUCKET = "time_bucket"

#: how old a hidden ``.stage-<uuid>`` must be before :meth:`Catalog._stage`
#: reclaims it as a killed writer's leftover; a younger stage may still
#: be a live writer's
VACUUM_GRACE_SECONDS = 600.0

#: the most files :meth:`Catalog.append_rows` lets a small table hold;
#: the append that finds this many rewrites the table as one file
SMALL_TABLE_MAX_FILES = 16


def time_bucket(col: str = "time") -> Column:
    return F.date_format(col, "yyyy-MM").alias(TIME_BUCKET)


def _arrow(rows: Sequence | pa.Table, schema: StructType | str) -> pa.Table:
    return (rows.cast(arrow_schema(schema)) if isinstance(rows, pa.Table)
            else arrow_rows(rows, schema))


def _as_rows(data: pa.Table) -> tuple[Row, ...]:
    named = Row(*data.column_names)
    return tuple(named(*r.values()) for r in data.to_pylist())


def _publish(dest: str, staged: Sequence[tuple[str, str]], *, replace: bool) -> None:
    """The catalog's one commit: ``os.replace`` each finished file
    ``(path, name)`` into directory ``dest``, then, with ``replace``,
    remove every other entry of ``dest`` (old data files, checksums,
    ``_SUCCESS``)."""
    os.makedirs(dest, exist_ok=True)
    for path, name in staged:
        os.replace(path, os.path.join(dest, name))
    if replace:
        for entry in set(os.listdir(dest)) - {name for _, name in staged}:
            p = os.path.join(dest, entry)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.unlink(p)


class MergeStrategy:
    """Seam for the keep-latest upsert (M3/J7): dedup ``incoming`` per
    ``keys`` by ``order_by`` (first row wins), then upsert into
    ``table`` such that for every key the winner across stored+incoming
    survives. Swap the strategy at Catalog construction (to wrap or
    instrument it); pipeline code never changes."""

    def merge(self, catalog: "Catalog", table: str, incoming: DataFrame,
              keys: Sequence[str], order_by: Sequence[Column | str], *,
              time_col: str, drop_before_write: Sequence[str]) -> None:
        raise NotImplementedError


class DynamicOverwriteMerge(MergeStrategy):
    """Single-writer merge for plain parquet: a staged swap of the
    months the batch touches, so cost follows the batch's time window,
    never the table (the reference's bounded DELETE,
    ``run/ingestObsTasks.py:390-399``, as partition pruning). The
    benchmark's tracer wraps this class by name.

    ``incoming`` runs once, written by month under a hidden
    :meth:`Catalog._stage`; the month directories it creates are the
    touched months (none for an empty batch). That batch and the stored
    rows of those months, read with the schema this strategy writes
    (the incoming columns less ``drop_before_write``: callers pass rows
    of the table's full schema), are deduplicated and written by
    :meth:`Catalog._write_frame`, which replaces exactly those months.
    A new table is a merge with no stored months."""

    def merge(self, catalog: "Catalog", table: str, incoming: DataFrame,
              keys: Sequence[str], order_by: Sequence[Column | str], *,
              time_col: str, drop_before_write: Sequence[str]) -> None:
        with catalog._stage() as stage:
            # a sub-directory: Spark warns on reading a hidden root path
            staged_in = os.path.join(stage, "in")
            incoming = incoming.withColumn(TIME_BUCKET, time_bucket(time_col))
            incoming.write.partitionBy(TIME_BUCKET).parquet(staged_in)
            months = _month_dirs(staged_in)
            if not months:
                return
            merged = catalog.spark.read.schema(incoming.schema).parquet(staged_in)
            dest = catalog.path(table)
            have = [os.path.join(dest, m) for m in months
                    if os.path.isdir(os.path.join(dest, m))]
            if have:
                stored = StructType([f for f in incoming.schema.fields
                                     if f.name not in drop_before_write])
                merged = (catalog.spark.read.schema(stored).option("basePath", dest)
                          .parquet(*have).unionByName(merged, allowMissingColumns=True))
            # cluster rows by the dedup keys inside each file: parquet
            # row-group min/max stats then skip for key-selective reads
            catalog._write_frame(keep_latest(merged, keys, order_by).drop(*drop_before_write)
                                 .sortWithinPartitions(*keys),
                                 table, [TIME_BUCKET], replace=True)


def _young(path: str, grace_seconds: float, now: float) -> bool:
    """Whether anything under ``path`` (itself included) was modified
    less than ``grace_seconds`` before ``now``: a live writer may still
    own it. A path that vanishes underneath counts as young (skipped
    this pass)."""
    try:
        newest = os.path.getmtime(path)
    except OSError:
        return True
    for d, dirs, names in os.walk(path):
        for nm in dirs + names:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(d, nm)))
            except OSError:
                pass
    return (now - newest) < grace_seconds


def _month_dirs(path: str) -> list[str]:
    return sorted(e for e in os.listdir(path) if e.startswith(f"{TIME_BUCKET}="))


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str,
                 merge_strategy: MergeStrategy | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self.merge_strategy = merge_strategy or DynamicOverwriteMerge()
        # table -> (listing, Arrow copy or None, Row copy or None)
        self._copies: dict[str, tuple[tuple, pa.Table | None,
                                      tuple[Row, ...] | None]] = {}

    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    def read(self, table: str, schema: StructType | str | None = None) -> DataFrame:
        """``schema``: the table's ``schemas.py`` declaration. It skips
        parquet footer inference (a Spark job per read); a missing table
        reads as an empty frame of it."""
        if schema is not None and not self.exists(table):
            return local_frame(self.spark, [], schema)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path(table))

    def rows(self, table: str, schema: StructType | str) -> tuple[Row, ...]:
        """An unpartitioned small table's rows on the driver
        (dimensions, stats sidecars), read with its declared ``schema``
        and cached. The
        cache key is the table's on-disk listing (path, size and mtime
        of every data file), so any writer — another ``Catalog`` or
        process included — invalidates it: a hit costs one directory
        walk and no Spark job, and a miss builds the rows from the
        pyarrow read of :meth:`arrow`, which runs none either.
        :meth:`append_rows` and :meth:`overwrite_rows` keep the copy
        current. A missing table has no rows."""
        data = self.arrow(table, schema)
        listing, _, rows = self._copies[table]
        if rows is None:
            rows = _as_rows(data)
            self._copies[table] = (listing, data, rows)
        return rows

    def arrow(self, table: str, schema: StructType | str) -> pa.Table:
        """The same driver-side copy as :meth:`rows`, as a
        ``pyarrow.Table`` of ``schema``: for an unpartitioned table too
        long to walk as ``Row``s each pass (a ledger of every harvest
        file), probed with ``pyarrow.compute``. A miss reads the
        listing's files with pyarrow, so it runs no Spark job either."""
        listing = self._listing(table)
        known, data, rows = self._copies.get(table, (None, None, None))
        if known != listing:
            rows = None
        if known != listing or data is None:
            data = (pq.read_table([f for f, _, _ in listing], schema=arrow_schema(schema))
                    if listing else arrow_schema(schema).empty_table())
        self._copies[table] = (listing, data, rows)
        return data

    def append_rows(self, rows: Sequence | pa.Table, table: str,
                    schema: StructType | str) -> None:
        """Append driver-side ``rows`` to ``table`` as one parquet file
        (:meth:`_write_rows`); no rows write nothing. A table already
        holding :data:`SMALL_TABLE_MAX_FILES` files is rewritten as one
        file instead, its Arrow copy plus ``rows``, so an append-only
        table (a station snapshot per pass) never costs more than that
        many files to list and read."""
        if not len(rows):
            return
        if len(self._listing(table)) < SMALL_TABLE_MAX_FILES:
            self._write_rows(rows, table, schema, replace=False)
        else:
            self._write_rows(pa.concat_tables([self.arrow(table, schema),
                                               _arrow(rows, schema)]),
                             table, schema, replace=True)

    def overwrite_rows(self, rows: Sequence | pa.Table, table: str,
                       schema: StructType | str) -> None:
        """Replace ``table`` with driver-side ``rows``, as one parquet
        file (:meth:`_write_rows`). A crash inside :func:`_publish`
        leaves both generations visible, so a reader must tolerate a key
        listed twice: the obs ledger keeps a file's ingested row over its
        pending one (``ObsIngest.ingest_new``), and its next rewrite
        drops the stale row."""
        self._write_rows(rows, table, schema, replace=True)

    def _write_rows(self, rows: Sequence | pa.Table, table: str,
                    schema: StructType | str, *, replace: bool) -> None:
        """The driver-side writer of small tables: pyarrow writes the
        rows (a ``pyarrow.Table``, or rows as ``session.arrow_rows``
        takes them) to a hidden temp name that :func:`_publish` moves
        into the table, so no Spark job runs and no reader sees a
        partial file. The rows become the table's driver-side copy
        (appended to it when that copy was current) under the listing
        taken after the write, one writer per table as every
        plain-parquet verb here assumes; an append to a table whose
        copy is stale drops the copy instead."""
        import uuid

        data = _arrow(rows, schema)
        before = self._listing(table)
        known, old_data, old_rows = self._copies.get(table, (None, None, None))
        d = self.path(table)
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(data, tmp)
        _publish(d, [(tmp, name)], replace=replace)
        if replace or not before:
            copy = (data, None)
        elif known == before:
            copy = (None if old_data is None else pa.concat_tables([old_data, data]),
                    None if old_rows is None else old_rows + _as_rows(data))
        else:
            copy = None
        if copy is None:
            self._copies.pop(table, None)
        else:
            self._copies[table] = (self._listing(table), *copy)
        self.refresh_skipping(table)

    def _listing(self, table: str) -> tuple:
        return tuple((f, st.st_size, st.st_mtime_ns)
                     for f in list_parquet_files(self.path(table))
                     for st in (os.stat(f),))

    def refresh_skipping(self, table: str) -> dict[str, int]:
        """Bring the table's zone map (``{table}__zm``, see
        ``sources/skipping.py``) current with its on-disk files. Every
        mutation verb calls this by default so index staleness never
        accumulates silently; it costs one dir check for the tables that
        never built one. Reserved-sidecar names (double underscore, the
        zone-map stats tables) are excluded, which
        also breaks the recursion of the stats build's own sidecar
        overwrite."""
        if "__" in table:
            return {}
        from .skipping import refresh_skipping
        return refresh_skipping(self, table)

    @contextmanager
    def _stage(self) -> Iterator[str]:
        """A fresh hidden stage path ``{warehouse}/.stage-<uuid>`` for a
        Spark write, removed on exit. It sits under the warehouse so the
        :func:`_publish` renames out of it stay on one filesystem, and no
        reader lists it (``zonemap.list_parquet_files`` hides dot
        directories). A killed writer leaves its stage behind: entering
        removes every stage whose newest entry is older than
        :data:`VACUUM_GRACE_SECONDS` (a younger one may be a live
        writer's)."""
        import uuid

        if os.path.isdir(self.warehouse):
            now = time.time()
            for e in os.listdir(self.warehouse):
                left = os.path.join(self.warehouse, e)
                if e.startswith(".stage-") and not _young(left, VACUUM_GRACE_SECONDS, now):
                    shutil.rmtree(left, ignore_errors=True)
        stage = os.path.join(self.warehouse, f".stage-{uuid.uuid4().hex}")
        try:
            yield stage
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def _write_frame(self, df: DataFrame, table: str, partition_by: Sequence[str], *,
                     replace: bool) -> None:
        """The writer of every Spark frame: ``df`` is written whole
        under a :meth:`_stage`, then each directory that write created
        is :func:`_publish`ed into the table, so a failed job leaves the
        table as it was. With ``replace``, an unpartitioned frame
        replaces the table and a partitioned one only the ``col=value``
        partitions it holds; an empty partitioned frame writes no data
        file, so it changes nothing (an empty unpartitioned one writes a
        file holding only the schema)."""
        with self._stage() as stage:
            w = df.write.partitionBy(*partition_by) if partition_by else df.write
            w.parquet(stage)
            by_dir: dict[str, list[str]] = {}
            for f in list_parquet_files(stage):
                by_dir.setdefault(os.path.dirname(f), []).append(f)
            dest = self.path(table)
            os.makedirs(dest, exist_ok=True)
            for d, files in by_dir.items():
                _publish(os.path.normpath(os.path.join(dest, os.path.relpath(d, stage))),
                         [(f, os.path.basename(f)) for f in files], replace=replace)

    def overwrite(self, df: DataFrame, table: str, *,
                  partition_by: Sequence[str] = (),
                  refresh_skipping: bool = True) -> None:
        """Replace ``table`` with ``df``; partitioned, only the
        partitions ``df`` holds (:meth:`_write_frame`)."""
        self._write_frame(df, table, partition_by, replace=True)
        if refresh_skipping:
            self.refresh_skipping(table)

    def append(self, df: DataFrame, table: str, *,
               partition_by: Sequence[str] = (),
               refresh_skipping: bool = True) -> None:
        self._write_frame(df, table, partition_by, replace=False)
        if refresh_skipping:
            self.refresh_skipping(table)

    def merge_keep_latest(self, table: str, incoming: DataFrame,
                          keys: Sequence[str],
                          order_by: Sequence[Column | str],
                          *, time_col: str = "time",
                          drop_before_write: Sequence[str] = ()) -> None:
        """Upsert ``incoming`` with keep-latest semantics, touching only the
        time-bucket partitions present in the batch. Delegates to the
        catalog's :class:`MergeStrategy` (:class:`DynamicOverwriteMerge`
        by default).

        ``order_by``: column names (a bare name means ``<name> DESC`` —
        ``operators.dedup.keep_latest``'s convention) or Column
        expressions.

        ``drop_before_write``: transient ordering helper columns present
        only on the incoming side (e.g. source file identity used as a
        dedup tie-break). The stored side joins in with nulls there, so
        ``order_by`` on them must tolerate nulls (desc puts nulls last —
        incoming wins ties, i.e. last-loaded-wins, like the reference's
        serial-id tie-break).
        """
        self.merge_strategy.merge(self, table, incoming, keys, order_by,
                                  time_col=time_col,
                                  drop_before_write=drop_before_write)
        self.refresh_skipping(table)

    def drop(self, table: str) -> None:
        """Remove a table directory (idempotent — missing tables are a
        no-op). The cleanup verb for transient state: iteration
        checkpoint tables (``operators/itercheckpoint`` leaves
        ``{prefix}_{name}_{slot}`` slots in place by contract).
        Plain-parquet single-writer semantics: never drop
        a table a live frame still reads."""
        shutil.rmtree(self.path(table), ignore_errors=True)

    def drop_prefix(self, prefix: str) -> list[str]:
        """Drop every table whose name starts with ``prefix`` (e.g. an
        iteration-checkpoint family). Returns the dropped table names."""
        if not os.path.isdir(self.warehouse):
            return []
        victims = sorted(t for t in os.listdir(self.warehouse)
                         if t.startswith(prefix)
                         and os.path.isdir(os.path.join(self.warehouse, t)))
        for t in victims:
            self.drop(t)
        return victims

    def partition_columns(self, table: str) -> list[str]:
        """The table's on-disk partition columns, detected from the
        Hive-style ``col=value`` directory chain (outermost first).
        Empty for flat tables."""
        out: list[str] = []
        p = self.path(table)
        while True:
            try:
                sub = sorted(e for e in os.listdir(p)
                             if "=" in e and
                             os.path.isdir(os.path.join(p, e)))
            except FileNotFoundError:
                return []
            if not sub:
                return out
            col = sub[0].split("=", 1)[0]
            if not col or col in out:
                return out
            out.append(col)
            p = os.path.join(p, sub[0])
