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

#: default vacuum grace window: an uncommitted partition younger than
#: this is NEVER reclaimed by default — the only protection a
#: lease-less writer (``__writer=-``) has for its write-to-commit
#: window (ADVICE r7). 0.0 is an explicit per-call opt-in.
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
    this pass); ``grace_seconds <= 0`` makes nothing young."""
    if grace_seconds <= 0:
        return False
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
        never built one. Reserved-sidecar names (double underscore —
        stats tables, commit ledgers, staging dirs) are excluded, which
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
        ``{prefix}_{name}_{slot}`` slots in place by contract),
        ``corpus_prep_*`` pipeline intermediates, and retired index
        generations. Plain-parquet single-writer semantics: never drop
        a table a live frame still reads."""
        shutil.rmtree(self.path(table), ignore_errors=True)

    def drop_prefix(self, prefix: str) -> list[str]:
        """Drop every table whose name starts with ``prefix`` (e.g. an
        iteration-checkpoint family or a pipeline's ``corpus_prep_``
        set). Returns the dropped table names."""
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

    def staged_rebuild(self, *tables: str) -> "StagedRebuild":
        """Crash-safe whole-generation rebuild for a FAMILY of tables
        (an index plus its sidecars) on plain parquet::

            with catalog.staged_rebuild("idx", "idx_meta") as stage:
                catalog.overwrite(frame, stage("idx"), partition_by=[...])
                catalog.overwrite(meta, stage("idx_meta"))
            # publish happened here — or nothing happened at all

        The new generation is written to ``{table}__staging`` names; on
        clean exit each declared table is atomically-ish replaced by its
        staged content (drop + directory rename — milliseconds, no job
        execution). A failure ANYWHERE during the (expensive) rebuild
        job leaves the OLD generation fully readable and drops the
        staging dirs — closing the destroy-then-write window where a
        failed rebuild left NO index at all (ADVICE r5). A declared
        table with no staged content is dropped at publish (how a flat
        rebuild retires a previous stream generation's commit ledger).
        Leftover staging dirs from a crashed build are cleared on entry.
        Single-writer, like every plain-parquet mutation here."""
        return StagedRebuild(self, tables)

    def compact(self, table: str, *, partitions: int | None = None,
                committed_ledger: str | None = None,
                min_files: int = 2) -> None:
        """Rewrite a table to heal the small-file problem incremental
        merges accumulate (many micro-batches → many tiny parquet files).

        The on-disk partition layout is DETECTED and PRESERVED — not
        just ``time_bucket``: the ``__batch``/``term_bucket`` layouts
        the commit-ledger indexes rely on must survive compaction, or
        the next transactional append would mix a partitioned write
        into a flattened table (r4). Partitioned tables re-cluster on
        their partition columns so each partition dir collapses to ~one
        file.

        INCREMENTAL (r7): only directories (a leaf partition, or a flat
        table's root) holding at least ``min_files`` data files are
        read, and :meth:`_write_frame` replaces exactly those —
        already-compacted partitions are not read, not rewritten, and a
        table with no crowded directory is a metadata-only NO-OP. That
        turns periodic maintenance from O(table) per pass into
        O(small-file buildup since the last pass), which is the
        difference between OPTIMIZE being free and being a nightly full
        rewrite at 100 TB (Delta/Iceberg OPTIMIZE has the same
        file-count gating). A flat table is coalesced to an eighth of
        ``partitions`` (default: the default parallelism) files. The
        rewrite is staged whole before anything it read is replaced. A
        crash inside the publish leaves both generations of a
        partition: no row is lost, but that partition lists its rows
        twice until a keep-latest merge of it (compacting again keeps
        both copies).

        ``committed_ledger``: for a stream-owned ``(__batch, __writer)``
        table, compact only the partitions COMMITTED in that ledger —
        an in-flight writer's not-yet-committed partition is never read
        or replaced (ADVICE r6: the old static full overwrite raced a
        live writer's pre-commit window and could drop its partition).
        Uncommitted orphans are also left in place
        (``vacuum_uncommitted`` owns reclaiming them)."""
        from .zonemap import read_pruned

        part_cols = self.partition_columns(table)
        files = list_parquet_files(self.path(table))
        if committed_ledger is not None and part_cols[:2] == ["__batch", "__writer"]:
            from .skipping import committed_files

            files = committed_files(self, table, committed_ledger)
        by_dir: dict[str, list[str]] = {}
        for f in files:
            by_dir.setdefault(os.path.dirname(f), []).append(f)
        min_files = max(2, int(min_files))
        crowded = [f for fs in by_dir.values() if len(fs) >= min_files for f in fs]
        if not crowded:
            return  # nothing to heal — zero jobs
        n = partitions or self.spark.sparkContext.defaultParallelism
        df = read_pruned(self.spark, self.path(table), crowded)
        df = df.repartition(n, *part_cols) if part_cols else df.coalesce(max(1, n // 8))
        self._write_frame(df, table, part_cols, replace=True)
        self.refresh_skipping(table)

    def optimize(self, table: str, *, ledger: str | None = None,
                 partitions: int | None = None, fence: bool = True,
                 grace_seconds: float = VACUUM_GRACE_SECONDS) -> dict:
        """One-verb table maintenance (the ``OPTIMIZE`` role on plain
        parquet): vacuum uncommitted/orphan partitions (when the table
        is stream-owned — pass its commit ``ledger``), compact small
        files preserving the on-disk partition layout, and bring the
        skipping sidecars current (the compact hook). Returns a summary
        ``{vacuumed_partitions, files_before, files_after}``
        (``files_before`` counted BEFORE the vacuum step, so the delta
        attributes vacuum-reclaimed files too — ADVICE r7).

        Concurrent-writer safety (ADVICE r6) when ``ledger`` is given:

        - ``fence=True`` (default) acquires the index family's
          :class:`WriterLease` first (family = ledger name minus its
          ``_commits`` suffix) — a live stream writer is FENCED and
          raises :class:`ConcurrentWriterError` at its next lease
          check: before its mutation, and at the commit point itself,
          which checks the lease on both sides of the put-if-absent
          link and withdraws a commit made while fenced
          (:meth:`commit_batch` ``lease=``). A writer caught mid-batch
          therefore cannot commit a batch whose partition maintenance
          may have rewritten. Restart the stream after maintenance (it
          re-acquires on start).
        - compaction touches only COMMITTED partitions (see
          :meth:`compact` ``committed_ledger``), never an in-flight
          writer's pre-commit partition.
        - ``grace_seconds``: additionally skip vacuuming uncommitted
          partitions newer than this many seconds — the ONLY
          protection for writers that take no lease (writer id
          ``"-"``), whose pre-commit window fencing cannot close.
          Defaults to :data:`VACUUM_GRACE_SECONDS` (10 min — longer
          than any sane write-to-commit window); ``0.0`` is an
          explicit opt-in for "I know no lease-less writer is live"
          (ADVICE r7: the old 0.0 default let a maintenance pass
          rmtree a live lease-less writer's pre-commit partition,
          which then committed anyway).

        Without ``ledger`` the table is plain/single-writer and the
        caller owns exclusion, as with every plain-parquet mutation."""
        before = len(list_parquet_files(self.path(table)))
        dropped = []
        if ledger is not None:
            if fence:
                family = (ledger[: -len("_commits")]
                          if ledger.endswith("_commits") else ledger)
                WriterLease(self, family,
                            writer_id=f"maintenance-{table}").acquire()
            dropped = self.vacuum_uncommitted(
                table, ledger, grace_seconds=grace_seconds)
        self.compact(table, partitions=partitions,
                     committed_ledger=ledger)
        after = len(list_parquet_files(self.path(table)))
        return {"vacuumed_partitions": len(dropped),
                "files_before": before, "files_after": after}

    # -- exclusive commit ledger -------------------------------------
    #
    # The ledger of a transactional index family is a DIRECTORY of one
    # small json file per committed batch, created via hard-link
    # put-if-absent — the atomic create-exclusive primitive every POSIX
    # filesystem provides (HDFS: create(overwrite=false); S3:
    # If-None-Match puts). File creation is the COMMIT POINT: it either
    # happens exactly once or raises, so two writers racing the same
    # batch id cannot both commit — which closes the check-to-write
    # window that :class:`WriterLease` fencing alone leaves open.
    # Commits are driver-side file ops (no Spark job per batch), and
    # the ledger directory participates in :meth:`staged_rebuild`
    # exactly like a table (it is dropped/renamed as a directory).

    def commit_batch(self, ledger: str, batch_id: int,
                     writer: str = "-", *, lease=None) -> None:
        """Atomically commit ``batch_id`` to ``ledger`` (put-if-absent).
        Raises :class:`ConcurrentWriterError` if the batch is already
        committed — the loser of a two-writer race fails here, BEFORE
        its data becomes visible (probes read committed
        (batch, writer) pairs only).

        ``lease=`` (the writer's :class:`WriterLease`) closes the
        fence-to-commit race against maintenance (r7): the lease is
        checked immediately BEFORE the commit file is created
        (fast-fail) and immediately AFTER — a writer fenced DURING the
        link (maintenance acquired the family and may have vacuumed
        this batch's partition) rolls its own commit back (unlink) and
        raises, so a reclaimed partition cannot surface as a committed
        batch. Residual window: a crash between the link and the
        rollback unlink (one file read apart) can leave a fenced
        writer's commit in place — microseconds, and only reachable
        when maintenance runs concurrently; lease-less writers
        (``writer='-'``) have no fence and rely on maintenance
        ``grace_seconds`` instead."""
        import json
        import uuid

        d = self.path(ledger)
        os.makedirs(d, exist_ok=True)
        final = os.path.join(d, f"b{int(batch_id)}.json")
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        if lease is not None:
            lease.check()  # fast-fail before the commit file exists
        with open(tmp, "w") as f:
            json.dump({"__batch": int(batch_id), "__writer": writer}, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            # link-then-unlink publishes the COMPLETE file atomically:
            # a concurrent reader never observes a half-written commit,
            # and link() fails with EEXIST if the batch is committed
            os.link(tmp, final)
        except FileExistsError:
            raise ConcurrentWriterError(
                f"batch {batch_id} of ledger '{ledger}' is already "
                "committed — a concurrent writer won this batch; this "
                "writer must stop (its data partition is invisible: "
                "probes read committed (batch, writer) pairs only)")
        finally:
            os.unlink(tmp)
        if lease is not None:
            try:
                lease.check()
            except ConcurrentWriterError:
                # fenced between the pre-check and the link: the
                # partition this batch wrote may already be vacuumed —
                # withdraw the commit before anyone treats it as real
                try:
                    os.unlink(final)
                except OSError:
                    pass
                raise
        try:  # durability of the directory entry itself
            dfd = os.open(d, os.O_RDONLY)
            os.fsync(dfd)
            os.close(dfd)
        except OSError:
            pass

    def batch_committed(self, ledger: str, batch_id: int) -> bool:
        """True if ``batch_id`` is committed in ``ledger`` (driver-side
        file check — the replay short-circuit costs no Spark job)."""
        return os.path.isfile(
            os.path.join(self.path(ledger), f"b{int(batch_id)}.json"))

    def _pair_committed(self, ledger: str, batch_id: int,
                        writer: str) -> bool:
        """True if exactly ``(batch_id, writer)`` is the committed pair
        — the vacuum's pre-removal re-check (a batch id committed by a
        DIFFERENT writer leaves this writer's partition an orphan)."""
        import json

        f = os.path.join(self.path(ledger), f"b{int(batch_id)}.json")
        try:
            with open(f) as fh:
                return str(json.load(fh).get("__writer")) == writer
        except (OSError, ValueError):
            return False

    def committed_batches(self, ledger: str) -> list[tuple[int, str]]:
        """All committed ``(batch_id, writer)`` pairs, batch-ordered.
        Ledger size is O(#batches) — driver listing by design."""
        import json

        d = self.path(ledger)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.startswith("b") and name.endswith(".json"):
                with open(os.path.join(d, name)) as f:
                    row = json.load(f)
                out.append((int(row["__batch"]), str(row["__writer"])))
        return sorted(out)

    def committed_frame(self, ledger: str,
                        as_of: int | None = None) -> DataFrame:
        """The ledger as a ``(__batch, __writer)`` frame — broadcast
        this against a ``[__batch, __writer]``-partitioned table to
        make uncommitted/orphan partitions invisible.

        ``as_of`` gives SNAPSHOT reads for free: commits are immutable
        put-if-absent files and batch ids are monotone, so the state a
        reader observed right after batch N committed is exactly the
        committed pairs with ``__batch <= N`` — the plain-parquet
        analogue of Delta/Iceberg time travel (``VERSION AS OF``). An
        ``as_of`` below every committed batch yields an empty frame
        (before even the rebuild's seed batch -1)."""
        rows = self.committed_batches(ledger)
        if as_of is not None:
            rows = [r for r in rows if r[0] <= int(as_of)]
        return local_frame(self.spark, rows, "__batch long, __writer string")

    def read_committed(self, table: str,
                       index_table: str = "minhash_index",
                       as_of_batch: int | None = None) -> DataFrame:
        """The read-committed view of a stream-owned table: uncommitted
        and orphan ``(__batch, __writer)`` partitions are invisible;
        ``as_of_batch=N`` is the snapshot read. Sugar over
        ``streaming.corpus_stream.committed_corpus`` so non-stream
        callers need no streaming import."""
        from ..streaming.corpus_stream import committed_corpus

        return committed_corpus(self, table, index_table,
                                as_of_batch=as_of_batch)

    def vacuum_uncommitted(self, table: str, ledger: str, *,
                           grace_seconds: float = VACUUM_GRACE_SECONDS,
                           ) -> list[str]:
        """Drop ``__batch=…/__writer=…`` partitions of ``table`` absent
        from ``ledger`` — the GC for orphans left by crashed or fenced
        writers (their partitions are already invisible to committed
        probes; this reclaims the bytes). Returns the dropped partition
        dirs. Safe concurrently with readers of COMMITTED data only;
        against a LIVE writer, fence it first (see :meth:`optimize`
        ``fence=``) — the writer's commit point checks its lease on
        both sides of the put-if-absent link and withdraws a commit
        made while fenced (:meth:`commit_batch` ``lease=``), so a
        partition this vacuum reclaims only surfaces as committed if
        the writer crashes inside its one-file-read rollback window.
        ``grace_seconds`` skips uncommitted partitions whose newest
        file is younger than that — protection for a writer's
        pre-commit window when no lease fences it, and therefore ON
        BY DEFAULT (:data:`VACUUM_GRACE_SECONDS`; pass ``0.0``
        explicitly only when no lease-less writer can be live —
        ADVICE r7). Each partition's
        commit file is re-checked immediately before removal (a commit
        landing between the ledger snapshot and the rmtree wins)."""
        committed = set(self.committed_batches(ledger))
        root = self.path(table)
        dropped: list[str] = []
        if not os.path.isdir(root):
            return dropped
        now = time.time()
        for bdir in sorted(os.listdir(root)):
            if not bdir.startswith("__batch="):
                continue
            batch = int(bdir.split("=", 1)[1])
            bpath = os.path.join(root, bdir)
            for wdir in sorted(os.listdir(bpath)):
                if not wdir.startswith("__writer="):
                    continue
                writer = wdir.split("=", 1)[1]
                wpath = os.path.join(bpath, wdir)
                if ((batch, writer) not in committed
                        and not _young(wpath, grace_seconds, now)
                        and not self._pair_committed(ledger, batch,
                                                     writer)):
                    shutil.rmtree(wpath, ignore_errors=True)
                    dropped.append(f"{bdir}/{wdir}")
            if not os.listdir(bpath):
                shutil.rmtree(bpath, ignore_errors=True)
        if dropped:
            self.refresh_skipping(table)
        return dropped


def maintain_tables(catalog: Catalog, families: dict,
                    *, partitions: int | None = None,
                    fence: bool = True,
                    grace_seconds: float = VACUUM_GRACE_SECONDS,
                    ) -> list[dict]:
    """Run :meth:`Catalog.optimize` over a set of tables in one call —
    the periodic-maintenance driver's body. ``families`` maps each
    table to its commit ledger (stream-owned tables get orphan
    vacuuming) or ``None`` (plain tables compact only). Returns one
    summary dict per table, ``table`` key added; tables absent on disk
    are skipped with ``{"skipped": True}`` so a fleet-wide maintenance
    pass survives tables that haven't been created yet.

    ``fence``/``grace_seconds`` forward to :meth:`Catalog.optimize` —
    with the default ``fence=True``, live stream writers of the listed
    ledger families are fenced (they stop loudly at their next lease
    check and must restart after maintenance); plain-``None`` tables
    still require the caller not to write them concurrently."""
    out = []
    for table, ledger in families.items():
        if not catalog.exists(table):
            out.append({"table": table, "skipped": True})
            continue
        res = catalog.optimize(table, ledger=ledger,
                               partitions=partitions, fence=fence,
                               grace_seconds=grace_seconds)
        res["table"] = table
        out.append(res)
    return out


class ConcurrentWriterError(RuntimeError):
    """Another writer has taken over a single-writer table family (or
    lost a commit race) — this writer is FENCED and must stop (see
    :class:`WriterLease` and :meth:`Catalog.commit_batch`)."""


class WriterLease:
    """Writer-generation fencing for transactional index families (r4
    verdict task 5 — previously a docstring-only contract: "the commit
    check is not a lock").

    Each writer stamps ``{table}_writer/lease.json`` with its id on
    :meth:`acquire` via atomic rename (last acquirer wins ownership),
    and re-reads it via :meth:`check` before every mutation — both
    driver-side file ops, no Spark job. A fenced writer — one whose id
    is no longer the stored id because a second writer acquired after
    it — raises :class:`ConcurrentWriterError` LOUDLY at the top of its
    next batch instead of burning a batch of compute. The fence is the
    FAST-FAIL layer; the exclusivity GUARANTEE is
    :meth:`Catalog.commit_batch`'s put-if-absent ledger commit plus the
    ``[__batch, __writer]`` data layout (a racing writer that slips
    past the fence loses the commit and its writer-scoped partition is
    never visible to committed probes). Together they map onto a
    transactional table format's commit-conflict detection.

    Usage::

        lease = WriterLease(catalog, "minhash_index").acquire()
        ...
        lease.check()                 # before each batch's mutation
    """

    def __init__(self, catalog: Catalog, table: str,
                 writer_id: str | None = None):
        import uuid

        self.catalog = catalog
        self.table = f"{table}_writer"
        self.writer_id = writer_id or uuid.uuid4().hex

    def _file(self) -> str:
        return os.path.join(self.catalog.path(self.table), "lease.json")

    def acquire(self, spark=None) -> "WriterLease":
        """Stamp ownership of the table family (atomic replace — last
        acquirer wins). Call once per writer session, before the first
        mutation. ``spark`` is accepted for call-site symmetry and
        unused (the stamp is a driver-side file op)."""
        import json
        import uuid

        d = self.catalog.path(self.table)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"writer_id": self.writer_id}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._file())
        return self

    def check(self) -> None:
        """Raise :class:`ConcurrentWriterError` if another writer has
        acquired since this one did. Call before every mutation."""
        import json

        try:
            with open(self._file()) as f:
                holder = json.load(f)["writer_id"]
        except FileNotFoundError:
            # lease sidecar dropped (e.g. index rebuilt from scratch) —
            # treat as fenced: this writer's view of the index is stale
            raise ConcurrentWriterError(
                f"writer lease '{self.table}' is gone — the index was "
                "rebuilt or retired under this writer; restart it")
        if holder != self.writer_id:
            raise ConcurrentWriterError(
                f"writer {self.writer_id} is fenced: '{self.table}' is "
                f"now held by {holder} — a second writer acquired this "
                "index; this writer must stop (single-writer contract)")


_STAGING_SUFFIX = "__staging"


class StagedRebuild:
    """Context manager behind :meth:`Catalog.staged_rebuild` — see its
    docstring for the contract. The publish order is the declaration
    order, so callers can put the table probes consult for validity
    LAST (e.g. the params/meta sidecar) and a crash mid-publish is
    detected rather than silently mixed-generation."""

    def __init__(self, catalog: Catalog, tables: Sequence[str]):
        if not tables:
            raise ValueError("staged_rebuild needs at least one table")
        self.catalog = catalog
        self.tables = list(tables)

    def __call__(self, table: str) -> str:
        """Staging name for a declared table (the only names a rebuild
        body may write — writing the final name directly would reopen
        the destroy-then-write window this exists to close)."""
        if table not in self.tables:
            raise ValueError(
                f"table '{table}' was not declared to staged_rebuild"
                f" ({self.tables})")
        return table + _STAGING_SUFFIX

    def __enter__(self) -> "StagedRebuild":
        for t in self.tables:
            self.catalog.drop(t + _STAGING_SUFFIX)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            # failed rebuild: old generation untouched, staging retired
            for t in self.tables:
                self.catalog.drop(t + _STAGING_SUFFIX)
            return
        for t in self.tables:
            staged = self.catalog.path(t + _STAGING_SUFFIX)
            self.catalog.drop(t)
            if os.path.isdir(staged):
                os.rename(staged, self.catalog.path(t))
