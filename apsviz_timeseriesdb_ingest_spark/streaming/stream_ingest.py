"""Streaming obs ingest — the reference's cron micro-batch loop as a
Structured Streaming file source + ``foreachBatch`` merge (SURVEY
section 2.9 / build plan step 5).

Mapping of reference semantics onto streaming primitives:

- new-file discovery (glob minus ledger, J4) → file-source checkpoint:
  exactly-once per file, no ledger anti-join needed on the hot path
- ``ingested`` flag flip (M2) → implicit in checkpoint commit; an audit
  ledger row is still appended per file inside the same foreachBatch for
  API parity with the batch pipeline
- keep-latest dedup over overlapping windows (J7) → the same
  ``Catalog.merge_keep_latest`` writer the batch path uses, so semantics
  are identical by construction
- ordering (ORDER BY data_date_time) → ``latestFirst=false`` +
  ``maxFilesPerTrigger`` for bounded micro-batches; the deterministic
  merge ordering makes results order-independent anyway

Note: Hadoop file listing cannot address paths containing ':' — harvest
producers targeting streaming mode write ``...T00_00_00.csv`` names (the
timemark parser accepts both separators; the batch path additionally
supports colon names via symlink staging).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import (GAUGE_SOURCE, GAUGE_STATION, OBS_MEASURES, SOURCE_OBS_META,
                       STREAM_OBS_LEDGER)
from ..sources.catalog import Catalog
from ..sources.harvest_csv import obs_data_schema
from ..functions.timeparse import timemark_from_filename


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
        """Same enrichment as the batch path: file identity → timemark,
        prefix → source config, station → source_id (broadcast dims)."""
        meta = (self.catalog.read("source_obs_meta", SOURCE_OBS_META)
                .filter(F.col("source_variable") == self.source_variable)
                .select("data_source", "source_name", "source_archive",
                        "filename_prefix"))
        stations = (self.catalog.read("gauge_station", GAUGE_STATION)
                    .select("station_id", "station_name"))
        src_lookup = (self.catalog.read("gauge_source", GAUGE_SOURCE)
                      .join(stations, "station_id")
                      .select("station_name", "data_source", "source_name",
                              "source_archive", "source_id"))
        enriched = (
            batch
            .join(F.broadcast(meta),
                  F.col("file_name").startswith(F.col("filename_prefix")))
            .join(F.broadcast(src_lookup),
                  ["station_name", "data_source", "source_name", "source_archive"])
        )
        return enriched.select(
            "source_id", "timemark", "time",
            *[(F.col(self.source_variable) if m == self.source_variable
               else F.lit(None).cast("double")).alias(m) for m in OBS_MEASURES],
            F.col("file_name").alias("__file_key"),
        )

    def _merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        # one run of the enrichment lineage feeds the emptiness guard,
        # the merge and the ledger rows
        batch = (self._enrich(batch).filter(F.col("time").isNotNull())
                 .localCheckpoint(eager=True))
        if batch.isEmpty():
            return
        self.catalog.merge_keep_latest(
            "gauge_data", batch,
            keys=["source_id", "time"],
            order_by=["timemark", "__file_key"],
            time_col="time",
            drop_before_write=["__file_key"],
        )
        # audit ledger parity. foreachBatch is at-least-once on
        # failure/replay (the checkpoint commits AFTER this function
        # returns), so the append must be idempotent like the gauge_data
        # merge: anti-join the existing ledger on the file identity so a
        # replayed batch re-appends nothing.
        ledger_rows = (
            batch.groupBy("__file_key")
            .agg(F.min("time").alias("data_begin_time"),
                 F.max("time").alias("data_end_time"),
                 F.first("timemark").alias("timemark"))
            .select(F.col("__file_key").alias("file_name"),
                    F.lit(self.source_variable).alias("source_variable"),
                    "data_begin_time", "data_end_time", "timemark",
                    F.current_timestamp().cast("timestamp_ntz").alias("processing_datetime"),
                    F.lit(True).alias("ingested"))
        )
        if self.catalog.exists("stream_obs_ledger"):
            seen = (self.catalog.read("stream_obs_ledger", STREAM_OBS_LEDGER)
                    .select("file_name", "source_variable"))
            ledger_rows = ledger_rows.join(
                F.broadcast(seen), ["file_name", "source_variable"], "left_anti")
        self.catalog.append(ledger_rows, "stream_obs_ledger")

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
        raw = reader.csv(self.harvest_dir)
        return (
            raw.withColumn("file_name",
                           F.element_at(F.split(F.input_file_name(), "/"), -1))
            .withColumnRenamed("station", "station_name")
            .withColumnRenamed("TIME", "time_raw")
            # try_cast: one malformed TIME cell must not kill the stream
            # under ANSI mode (see sources/harvest_csv)
            .withColumn("time", F.col("time_raw").try_cast("timestamp_ntz"))
            .drop("time_raw")
            .withColumn("timemark", timemark_from_filename("file_name").cast("timestamp_ntz"))
        )

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
