"""Streaming obs ingest — the reference's cron micro-batch loop as a
Structured Streaming file source + ``foreachBatch`` merge (SURVEY
section 2.9 / build plan step 5).

Mapping of reference semantics onto streaming primitives:

- new-file discovery (glob minus ledger, J4) → file-source checkpoint:
  exactly-once per file, no ledger anti-join needed on the hot path
- ``ingested`` flag flip (M2) → implicit in checkpoint commit; an audit
  ledger row is still appended per file inside the same foreachBatch for
  API parity with the batch pipeline, from the batch's one collected
  per-file aggregate, as driver rows (``Catalog.append_rows``)
- enrichment and keep-latest dedup over overlapping windows (J7) → the
  batch path's own row normalization (``sources/harvest_csv``), source
  lookup, measure fan-out and merge (``plans/obs_ingest``), so semantics
  are identical by construction; only the file-prefix → source-config
  join is stream-specific. Both lookups are broadcast driver-side frames
  built from the catalog's cached dimension and ``source_obs_meta`` rows
  (``Catalog.rows``), so a micro-batch reads those tables only when their
  files changed
- ordering (ORDER BY data_date_time) → ``latestFirst=false`` +
  ``maxFilesPerTrigger`` for bounded micro-batches; the merge orders by
  (timemark, file key) on both paths, so a newer timemark wins in any
  landing order; two files with the same timemark in different
  micro-batches resolve last-loaded-wins (stored rows keep no file key)

Note: Hadoop file listing cannot address paths containing ':' — harvest
producers targeting streaming mode write ``...T00_00_00.csv`` names (the
timemark parser accepts both separators; the batch path additionally
supports colon names via symlink staging).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.obs_ingest import join_source_id, measure_columns, merge_obs, utc_now
from ..schemas import SOURCE_OBS_META, STREAM_OBS_LEDGER
from ..session import local_frame
from ..sources.catalog import Catalog
from ..sources.harvest_csv import normalize_harvest_rows, obs_data_schema


class StreamingObsIngest:
    """One streaming query per measure variable (each variable has its own
    CSV schema). ``run_available()`` processes all currently-available
    files exactly once and returns; call repeatedly (or use a continuous
    trigger in production)."""

    def __init__(self, spark: SparkSession, catalog: Catalog, harvest_dir: str,
                 checkpoint_dir: str, *, source_variable: str,
                 max_files_per_trigger: int | None = None,
                 clean_source: str | None = None,
                 source_archive_dir: str | None = None):
        """``clean_source``: M5 post-ingest cleanup parity
        (``run/ingestObsTasks.py:153,197,286,414`` deletes each harvest
        file after load) — 'delete' removes a source file once its batch
        commits, 'archive' moves it under ``source_archive_dir``. The
        file source only cleans files of COMMITTED batches, so
        exactly-once is intact: a crashed batch's files survive for
        replay."""
        self.spark = spark
        self.catalog = catalog
        self.harvest_dir = harvest_dir
        self.checkpoint_dir = checkpoint_dir
        self.source_variable = source_variable
        self.max_files = max_files_per_trigger
        self.clean_source = clean_source
        self.source_archive_dir = source_archive_dir

    def _enrich(self, batch: DataFrame) -> DataFrame:
        """The stream-specific enrichment: file-name prefix → source
        config (the batch path takes it from its ledger), from the
        catalog's cached ``source_obs_meta`` rows."""
        cols = ["data_source", "source_name", "source_archive", "filename_prefix"]
        meta = local_frame(
            self.spark,
            [[m[c] for c in cols] for m in self.catalog.rows("source_obs_meta", SOURCE_OBS_META)
             if m.source_variable == self.source_variable],
            ", ".join(f"{c} string" for c in cols))
        return batch.join(F.broadcast(meta),
                          F.col("file_name").startswith(F.col("filename_prefix")))

    def _merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        # one run of the enrichment lineage feeds the per-file aggregate
        # and the merge; the collected aggregate is the emptiness guard
        batch = (join_source_id(self._enrich(batch), self.catalog)
                 .filter(F.col("time").isNotNull())
                 .select("source_id", "timemark", "time",
                         *measure_columns(self.source_variable), "file_name")
                 .localCheckpoint(eager=True))
        files = batch.groupBy("file_name").agg(
            F.min("time").alias("lo"), F.max("time").alias("hi"),
            F.first("timemark").alias("timemark")).collect()
        if not files:
            return
        merge_obs(self.catalog, batch)
        # audit ledger parity. foreachBatch is at-least-once on
        # failure/replay (the checkpoint commits AFTER this function
        # returns), so the append must be idempotent like the gauge_data
        # merge: files the cached ledger rows already name for this
        # variable are dropped, so a replayed batch re-appends nothing.
        seen = {(r.file_name, r.source_variable) for r in
                self.catalog.rows("stream_obs_ledger", STREAM_OBS_LEDGER)}
        now = utc_now()
        self.catalog.append_rows(
            [(r.file_name, self.source_variable, r.lo, r.hi, r.timemark, now, True)
             for r in files if (r.file_name, self.source_variable) not in seen],
            "stream_obs_ledger", STREAM_OBS_LEDGER)

    def _stream(self) -> DataFrame:
        reader = (
            self.spark.readStream.schema(obs_data_schema(self.source_variable))
            .option("header", True)
            .option("latestFirst", False)
        )
        if self.max_files:
            reader = reader.option("maxFilesPerTrigger", self.max_files)
        if self.clean_source:
            reader = reader.option("cleanSource", self.clean_source)
            if self.source_archive_dir:
                reader = reader.option("sourceArchiveDir", self.source_archive_dir)
        return normalize_harvest_rows(reader.csv(self.harvest_dir))

    def run_available(self) -> None:
        """Process every currently-available new file exactly once."""
        q = (
            self._stream().writeStream
            .foreachBatch(self._merge_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
