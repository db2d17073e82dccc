"""Parquet-backed table catalog with partition-bounded keep-latest merges.

The reference's sink is Postgres COPY + DELETE-dedup + UPDATE flags
(SURVEY section 2.1 S5, 2.8 M2/M3). Here every table is a partitioned
parquet directory and the mutation verbs become:

    append            -- COPY
    overwrite         -- CREATE TABLE AS
    merge_keep_latest -- COPY + bounded DELETE-dedup, as one atomic-ish
                         dynamic-partition overwrite
    update            -- ledger flag flips (read-modify-write of the tiny
                         ledger table)

Scale design: fact tables are partitioned by a derived time bucket
(``yyyy-MM`` of the event time). ``merge_keep_latest`` only reads and
rewrites the partitions the incoming batch touches (dynamic partition
overwrite) — the cost is proportional to the batch's time window, never
the table, which is the reference's bounded-DELETE optimization
(``run/ingestObsTasks.py:390-399``) expressed as partition pruning. On a
real deployment this maps 1:1 onto Delta/Iceberg MERGE; plain parquet
keeps this repo dependency-free.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.dedup import keep_latest

#: partition column derived from event time for fact tables
TIME_BUCKET = "time_bucket"

#: default vacuum grace window: an uncommitted partition younger than
#: this is NEVER reclaimed by default — the only protection a
#: lease-less writer (``__writer=-``) has for its write-to-commit
#: window (ADVICE r7). 0.0 is an explicit per-call opt-in.
VACUUM_GRACE_SECONDS = 600.0


def time_bucket(col: str = "time") -> Column:
    return F.date_format(col, "yyyy-MM").alias(TIME_BUCKET)


class MergeStrategy:
    """Deployment seam for the keep-latest upsert (M3/J7).

    The engine's merge semantics are: dedup ``incoming`` per ``keys`` by
    ``order_by`` (first row wins), then upsert into ``table`` such that
    for every key the winner across stored+incoming survives. How that
    executes is a deployment concern — plain parquet needs a partition
    overwrite; Delta/Iceberg deployments use a real transactional MERGE
    with concurrent-writer safety. Swap the strategy at Catalog
    construction; pipeline code never changes."""

    def merge(self, catalog: "Catalog", table: str, incoming: DataFrame,
              keys: Sequence[str], order_by: Sequence[Column | str], *,
              time_col: str, drop_before_write: Sequence[str]) -> None:
        raise NotImplementedError


class DynamicOverwriteMerge(MergeStrategy):
    """Single-writer merge for plain parquet: keep-latest dedup union'd
    with only the time-bucket partitions the batch touches, rewritten via
    dynamic partition overwrite. Cost is proportional to the batch's time
    window, never the table (the reference's bounded DELETE,
    ``run/ingestObsTasks.py:390-399``, as partition pruning). ``incoming``
    runs ONCE: it is materialized with ``time_bucket``, and one
    ``distinct`` over that copy is both the emptiness guard and the
    month list; the dedup never re-runs the caller's lineage."""

    def merge(self, catalog: "Catalog", table: str, incoming: DataFrame,
              keys: Sequence[str], order_by: Sequence[Column], *,
              time_col: str, drop_before_write: Sequence[str]) -> None:
        incoming = (incoming.withColumn(TIME_BUCKET, time_bucket(time_col))
                    .localCheckpoint(eager=True))
        months = [r[0] for r in incoming.select(TIME_BUCKET).distinct().collect()]
        if not months:
            # degenerate batches (e.g. a header-only harvest file) must
            # not create/overwrite anything: writing an empty frame to a
            # fresh table path leaves a parquet dir with no footers that
            # poisons every later read
            return
        if not catalog.exists(table):
            deduped = (keep_latest(incoming, keys, order_by).drop(*drop_before_write)
                       .sortWithinPartitions(*keys))
            # merge_keep_latest refreshes skipping sidecars once, after
            # the strategy returns — skip the inner overwrite's hook
            catalog.overwrite(deduped, table, partition_by=[TIME_BUCKET],
                              refresh_skipping=False)
            return
        existing = catalog.read(table).filter(F.col(TIME_BUCKET).isin(months))
        merged = keep_latest(
            existing.unionByName(incoming, allowMissingColumns=True), keys, order_by,
        ).drop(*drop_before_write)
        # cluster rows by the dedup keys inside each file: parquet
        # row-group min/max stats then skip for key-selective reads
        merged = merged.sortWithinPartitions(*keys)
        # Materialize before writing: the write target is also the read
        # source; breaking lineage avoids read-your-own-overwrite. (A real
        # deployment uses Delta/Iceberg MERGE and skips this.)
        merged = merged.localCheckpoint(eager=True)
        (merged.write.mode("overwrite").partitionBy(TIME_BUCKET)
         .parquet(catalog.path(table)))


class DeltaMerge(MergeStrategy):
    """Delta Lake binding: the same keep-latest upsert as a transactional
    ``MERGE`` with optimistic concurrency (multi-writer safe). Requires
    ``delta-spark`` on the cluster (not shipped in this repo's sandbox;
    the binding is exercised on deployments).

    Semantics mapping: dedup incoming per key first (one winner per key
    in the batch), then ``MERGE ON keys`` where ``whenMatched`` updates
    only if the incoming row wins ``order_by`` against the stored row —
    for an all-descending ``order_by`` (every pipeline here: newest
    timemark/file wins, nulls last) that condition is a tuple compare
    ``struct(src.o1, src.o2, ...) >= struct(tgt.o1, tgt.o2, ...)``.
    Iceberg's ``MERGE INTO`` binds identically via SQL."""

    def merge(self, catalog: "Catalog", table: str, incoming: DataFrame,
              keys: Sequence[str], order_by: Sequence[Column], *,
              time_col: str, drop_before_write: Sequence[str]) -> None:
        try:
            from delta.tables import DeltaTable
        except ImportError as e:  # pragma: no cover - deployment-only path
            raise NotImplementedError(
                "DeltaMerge requires delta-spark; use DynamicOverwriteMerge "
                "in environments without it") from e
        incoming = incoming.withColumn(TIME_BUCKET, time_bucket(time_col))
        winners = keep_latest(incoming, keys, order_by).drop(*drop_before_write)
        if not DeltaTable.isDeltaTable(catalog.spark, catalog.path(table)):
            (winners.write.format("delta").partitionBy(TIME_BUCKET)
             .save(catalog.path(table)))
            return
        target = DeltaTable.forPath(catalog.spark, catalog.path(table))
        on = " AND ".join(f"tgt.{k} <=> src.{k}" for k in keys)
        # order columns that survive drop_before_write (transient
        # tie-break columns exist only batch-side and can't be compared
        # against the stored row; the surviving prefix, e.g. timemark,
        # decides — ties resolve incoming-wins via >=, the reference's
        # last-loaded-wins). Names must be passed AS names: extracting a
        # name from a Column expression (str(col) parsing) breaks
        # silently the day an ordering is an expression, so it is a
        # TypeError here instead.
        order_cols = []
        for c in order_by:
            if not isinstance(c, str):
                raise TypeError(
                    "DeltaMerge requires order_by entries as column NAMES "
                    "(a bare name means '<name> DESC' — the keep-latest "
                    "convention); got a Column expression, whose name "
                    "cannot be extracted reliably for the MERGE condition")
            if c in winners.columns:
                order_cols.append(c)
        newer = ("struct(" + ", ".join(f"src.{c}" for c in order_cols) + ") >= "
                 "struct(" + ", ".join(f"tgt.{c}" for c in order_cols) + ")"
                 ) if order_cols else "true"
        (target.alias("tgt").merge(winners.alias("src"), on)
         .whenMatchedUpdateAll(condition=newer)
         .whenNotMatchedInsertAll()
         .execute())


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str,
                 merge_strategy: MergeStrategy | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self.merge_strategy = merge_strategy or DynamicOverwriteMerge()
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    def read(self, table: str, schema: StructType | str | None = None) -> DataFrame:
        """``schema``: the table's ``schemas.py`` declaration. It skips
        parquet footer inference (a Spark job per read); a missing table
        reads as an empty frame of it."""
        if schema is not None and not self.exists(table):
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path(table))

    def refresh_skipping(self, table: str) -> dict[str, int]:
        """Bring the table's skipping sidecars (``{table}__zm`` /
        ``{table}__bloom``, see ``sources/skipping.py``) current with
        its on-disk files. Every mutation verb calls this by default so
        index staleness never accumulates silently; it costs nothing
        (two dir checks) for the overwhelming majority of tables that
        never built a skipping index. Reserved-sidecar names (double
        underscore — stats tables, commit ledgers, staging dirs) are
        excluded, which also breaks the recursion of the stats build's
        own sidecar overwrite."""
        if "__" in table:
            return {}
        from .skipping import refresh_skipping
        return refresh_skipping(self, table)

    def overwrite(self, df: DataFrame, table: str, *,
                  partition_by: Sequence[str] = (),
                  cluster_by: Sequence[str] = (),
                  zorder_by: Sequence[str] = (),
                  files: int = 32,
                  refresh_skipping: bool = True) -> None:
        """``cluster_by`` range-shards + sorts on one key set (zone-map
        selectivity on the leading key); ``zorder_by`` Morton-interleaves
        several keys (selectivity on any of them) — see
        ``sources/layout.py``. Mutually exclusive with each other and
        with ``partition_by`` (directory partitioning already clusters
        its keys)."""
        if sum(map(bool, (partition_by, cluster_by, zorder_by))) > 1:
            raise ValueError("partition_by, cluster_by, and zorder_by "
                             "are mutually exclusive")
        if cluster_by:
            from .layout import cluster_write
            cluster_write(df, self.path(table), cluster_by, files=files)
        elif zorder_by:
            from .layout import zorder_write
            zorder_write(df, self.path(table), zorder_by, files=files)
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self.path(table))
        if refresh_skipping:
            self.refresh_skipping(table)

    def append(self, df: DataFrame, table: str, *,
               partition_by: Sequence[str] = (),
               refresh_skipping: bool = True) -> None:
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))
        if refresh_skipping:
            self.refresh_skipping(table)

    def merge_keep_latest(self, table: str, incoming: DataFrame,
                          keys: Sequence[str],
                          order_by: Sequence[Column | str],
                          *, time_col: str = "time",
                          drop_before_write: Sequence[str] = ()) -> None:
        """Upsert ``incoming`` with keep-latest semantics, touching only the
        time-bucket partitions present in the batch. Delegates to the
        catalog's :class:`MergeStrategy` (parquet dynamic overwrite by
        default; :class:`DeltaMerge` on Delta deployments).

        Prefer passing ``order_by`` as column NAMES (a bare name means
        ``<name> DESC`` — ``operators.dedup.keep_latest``'s convention):
        names work under every strategy; Column expressions work for
        parquet merges but are rejected by :class:`DeltaMerge`, which
        needs the names to build its ``whenMatched`` tuple compare.

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

    def update(self, table: str, df: DataFrame) -> None:
        """Full-replace of a small control/ledger table (flag flips)."""
        df = df.localCheckpoint(eager=True)
        df.write.mode("overwrite").parquet(self.path(table))
        self.refresh_skipping(table)

    def drop(self, table: str) -> None:
        """Remove a table directory (idempotent — missing tables are a
        no-op). The cleanup verb for transient state: iteration
        checkpoint tables (``operators/itercheckpoint`` leaves
        ``{prefix}_{name}_{slot}`` slots in place by contract),
        ``corpus_prep_*`` pipeline intermediates, and retired index
        generations. Plain-parquet single-writer semantics: never drop
        a table a live frame still reads."""
        import shutil

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

        INCREMENTAL for partitioned tables (r7): only leaf partitions
        holding at least ``min_files`` data files are rewritten, via
        dynamic partition overwrite — already-compacted partitions are
        not read, not rewritten, and a table with no crowded partition
        is a metadata-only NO-OP. That turns periodic maintenance from
        O(table) per pass into O(small-file buildup since the last
        pass), which is the difference between OPTIMIZE being free and
        being a nightly full rewrite at 100 TB (Delta/Iceberg OPTIMIZE
        has the same file-count gating). Flat (unpartitioned) tables
        keep the full coalesce rewrite, skipped when the table already
        holds fewer than ``min_files`` files.

        ``committed_ledger``: for a stream-owned ``(__batch, __writer)``
        table, compact only the partitions COMMITTED in that ledger —
        an in-flight writer's not-yet-committed partition is never read
        or replaced (ADVICE r6: the old static full overwrite raced a
        live writer's pre-commit window and could drop its partition).
        Uncommitted orphans are also left in place
        (``vacuum_uncommitted`` owns reclaiming them)."""
        from .zonemap import list_parquet_files, read_pruned

        part_cols = self.partition_columns(table)
        n = partitions or self.spark.sparkContext.defaultParallelism
        min_files = max(2, int(min_files))
        if part_cols:
            files = list_parquet_files(self.path(table))
            if committed_ledger is not None and part_cols[:2] == [
                    "__batch", "__writer"]:
                from .skipping import committed_files

                files = committed_files(self, table, committed_ledger)
            by_part: dict[str, list[str]] = {}
            for f in files:
                by_part.setdefault(os.path.dirname(f), []).append(f)
            crowded = [f for fs in by_part.values()
                       if len(fs) >= min_files for f in fs]
            if not crowded:
                return  # nothing to heal — zero jobs
            df = read_pruned(self.spark, self.path(table), crowded)
            df = df.localCheckpoint(eager=True)
            # PIN dynamic mode around the write rather than trusting
            # the session conf: under 'static' this overwrite would
            # delete EVERY partition and rewrite only the crowded ones
            # (r7 review). Only the crowded partitions present in the
            # frame are replaced; everything else untouched.
            prev = self.spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode")
            self.spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                (df.repartition(n, *part_cols).write.mode("overwrite")
                 .partitionBy(*part_cols).parquet(self.path(table)))
            finally:
                self.spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev)
            self.refresh_skipping(table)
            return
        if len(list_parquet_files(self.path(table))) < min_files:
            return
        df = self.read(table)
        df = df.localCheckpoint(eager=True)
        prev = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        # static: the whole (flat) table is being rewritten
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                            "static")
        try:
            (df.coalesce(max(1, n // 8)).write.mode("overwrite")
             .parquet(self.path(table)))
        finally:
            self.spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev)
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
        - compaction touches only COMMITTED partitions (dynamic
          overwrite — see :meth:`compact` ``committed_ledger``), never
          an in-flight writer's pre-commit partition.
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
        from .zonemap import list_parquet_files

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

    def save_bucketed(self, df: DataFrame, table: str, *, bucket_by: Sequence[str],
                      num_buckets: int = 32, sort_by: Sequence[str] = ()) -> None:
        """Write as a bucketed (+optionally sorted) session-catalog table.

        Two tables bucketed on their join key with the same bucket count
        join with NO shuffle on either side — the co-location strategy
        for repeated fact-fact joins at 100 TB (bucket metadata lives in
        the catalog; on a deployment that's Hive/Glue/Unity instead of
        the session catalog)."""
        w = (df.write.mode("overwrite").format("parquet")
             .option("path", self.path(table))
             .bucketBy(num_buckets, *bucket_by))
        if sort_by:
            w = w.sortBy(*sort_by)
        w.saveAsTable(table)

    def read_table(self, table: str) -> DataFrame:
        """Read a session-catalog (possibly bucketed) table by name."""
        return self.spark.table(table)

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
        return self.spark.createDataFrame(
            rows, "__batch long, __writer string")

    def read_committed(self, table: str,
                       index_table: str = "minhash_index",
                       as_of_batch: int | None = None) -> DataFrame:
        """The read-committed view of a stream-owned table: uncommitted
        and orphan ``(__batch, __writer)`` partitions are invisible;
        ``as_of_batch=N`` is the snapshot read. Sugar over
        ``streaming.corpus_stream.committed_corpus`` so non-stream
        callers need no streaming import; for predicate reads that
        should ALSO skip files, use
        ``sources.skipping.read_committed_between/_equals``."""
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
        import shutil
        import time

        committed = set(self.committed_batches(ledger))
        root = self.path(table)
        dropped: list[str] = []
        if not os.path.isdir(root):
            return dropped
        now = time.time()

        def _young(p: str) -> bool:
            if grace_seconds <= 0:
                return False
            try:
                newest = os.path.getmtime(p)
            except OSError:
                return True  # vanished underneath us — skip this pass
            for d, _, names in os.walk(p):
                for nm in names:
                    try:
                        newest = max(newest,
                                     os.path.getmtime(os.path.join(d, nm)))
                    except OSError:
                        pass
            return (now - newest) < grace_seconds

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
                        and not _young(wpath)
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
