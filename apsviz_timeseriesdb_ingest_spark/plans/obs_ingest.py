"""Observation ingest pipeline — ``runObsIngest --inputTask SequenceIngest``
as one Spark lineage (SURVEY section 3.1).

Reference stages (per-source subprocesses + intermediate CSVs) collapse to:

    discover()    -- glob harvest dir, per-file timemark (F1), anti-join
                     the ledger (J4), append rows ingested=False; no CSV read
    ingest_new()  -- read all pending files ONCE (one scan per measure
                     variable), widen to the sparse 6-measure layout (S6),
                     enrich with source_id from the station-source pairs of
                     the cached dimension rows, broadcast (J1/J2)
                     and materialize; per-file min/max TIME (A1) from that
                     copy, keep-latest merge into gauge_data bounded to the
                     batch's time window (J7/M3), one ledger update fills
                     the windows and flips ingested (M2)

The source lookup, the measure fan-out and the keep-latest merge are
module functions that the streaming path (``streaming/stream_ingest``)
calls too, so batch and stream enrich and merge with the same code. The
dimension and source-config tables are read through ``Catalog.rows``
(a driver-side copy kept until the table's files change), and the source
lookup is ``bootstrap.station_sources``, the pairing the model ingest
and the dashboard reads use too.

Keep-latest ordering: the reference keeps the highest serial ``obs_id``
per (source_id, time) — i.e. last-loaded wins, and files are loaded in
``data_date_time`` order (``run/ingestObsTasks.py:45-56,233-237``). The
Spark equivalent orders by (timemark DESC, file key DESC): ``discover``
stamps ``data_date_time`` and ``timemark`` from the same file-name
timemark, so a newer harvest wins regardless of load order. Stored rows
keep no file key, so the key breaks ties only within one pass: when two
files with the same timemark land in different passes (or micro-batches),
the later-loaded file wins, as in the reference.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from glob import glob

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timeparse import TIMEMARK_RE
from ..operators.ledger import new_files_anti_join
from ..schemas import (
    GAUGE_DATA,
    GAUGE_STATION,
    HARVEST_OBS_FILE_META,
    OBS_MEASURES,
    RETAIN_OBS_STATION,
    RETAIN_OBS_STATION_FILE_META,
    SOURCE_OBS_META,
)
from ..session import local_frame
from ..sources.catalog import Catalog
from ..sources.harvest_csv import read_harvest_csv
from .bootstrap import station_sources

LEDGER = "harvest_obs_file_meta"
FACT = "gauge_data"


def _timemark_of(name: str) -> dt.datetime | None:
    """The timemark a harvest file name embeds (F1, driver side), or
    None when it has none."""
    match = re.search(TIMEMARK_RE, name)
    return dt.datetime.fromisoformat(match.group(1).replace("_", ":")) if match else None


def _staged_name(file_name: str) -> str:
    """Colon-free identity of a harvest file: Hadoop paths cannot contain
    ':', so colon-named files are staged and joined under this name."""
    return file_name.replace(":", "_")


def join_source_id(rows: DataFrame, catalog: Catalog, how: str = "inner") -> DataFrame:
    """Attach ``source_id`` to rows keyed by station and source config
    (J1+J2): the station ↔ source pairs of ``bootstrap.station_sources``,
    built from the catalog's cached dimension rows, broadcast as one
    driver-side frame; the join's SQL ``=`` matches no NULL key."""
    keys = ["station_name", "data_source", "source_name", "source_archive"]
    lookup = local_frame(
        catalog.spark,
        [(name, *(r[k] for k in keys[1:]), r.source_id)
         for name, r in station_sources(catalog, "gauge_source")],
        "station_name string, data_source string, source_name string, "
        "source_archive string, source_id long")
    return rows.join(F.broadcast(lookup), keys, how)


def measure_columns(variable: str) -> list[Column]:
    """The sparse 6-measure layout (S6): ``variable``'s values, NULL
    doubles for every other measure."""
    return [(F.col(variable) if m == variable else F.lit(None).cast("double")).alias(m)
            for m in OBS_MEASURES]


def merge_obs(catalog: Catalog, rows: DataFrame) -> None:
    """Keep-latest merge of enriched rows (``source_id``, ``timemark``,
    ``time``, the measures, ``file_name``) into gauge_data: per
    (source_id, time) the newest (timemark, file key) wins, the file key
    being the colon-free :func:`_staged_name`."""
    catalog.merge_keep_latest(
        FACT,
        rows.select("source_id", "timemark", "time", *OBS_MEASURES,
                    F.translate("file_name", ":", "_").alias("__file_key")),
        keys=["source_id", "time"],
        order_by=["timemark", "__file_key"],
        time_col="time",
        drop_before_write=["__file_key"],
    )


class ObsIngest:
    def __init__(self, spark: SparkSession, catalog: Catalog, harvest_dir: str):
        self.spark = spark
        self.catalog = catalog
        self.harvest_dir = harvest_dir

    def _readable_path(self, dir_path: str, file_name: str) -> str:
        """Hadoop paths cannot contain ':' (the reference's harvest names
        embed ISO times with colons). Stage such files as sanitized
        symlinks under ``.staged/``; the ledger keeps the original name,
        joins use the sanitized ``file_key``."""
        if ":" not in file_name:
            return os.path.join(dir_path, file_name)
        staged = os.path.join(dir_path, ".staged")
        os.makedirs(staged, exist_ok=True)
        link = os.path.join(staged, _staged_name(file_name))
        if not os.path.lexists(link):
            os.symlink(os.path.abspath(os.path.join(dir_path, file_name)), link)
        return link

    # -- stage 1: discovery ------------------------------------------------

    def discover(self) -> int:
        """Find new harvest files for every configured source; append them
        to the ledger with ingested=False and null TIME windows (filled by
        :meth:`ingest_new`). Returns number discovered."""
        ledger = self.catalog.read(LEDGER, HARVEST_OBS_FILE_META)

        candidates = []
        for m in self.catalog.rows("source_obs_meta", SOURCE_OBS_META):
            for path in sorted(glob(os.path.join(self.harvest_dir, m.filename_prefix + "*.csv"))):
                name = os.path.basename(path)
                stamp = _timemark_of(name)
                if stamp is None:  # null-guard path (run/createHarvestObsFileMeta.py:159-164)
                    continue
                candidates.append({
                    "dir_path": os.path.dirname(path), "file_name": name,
                    "data_date_time": stamp, "timemark": stamp,
                    "data_source": m.data_source, "source_name": m.source_name,
                    "source_archive": m.source_archive,
                    "source_variable": m.source_variable,
                    "location_type": m.location_type,
                })
        if not candidates:
            return 0
        cand = local_frame(
            self.spark, candidates,
            "dir_path string, file_name string, data_date_time timestamp_ntz, "
            "timemark timestamp_ntz, data_source string, source_name string, "
            "source_archive string, source_variable string, location_type string",
        )
        new = new_files_anti_join(cand, ledger)
        new_rows = new.collect()
        if not new_rows:
            return 0
        no_time = F.lit(None).cast("timestamp_ntz")
        entries = (
            local_frame(self.spark, new_rows, new.schema)
            .withColumn("processing_datetime", F.current_timestamp().cast("timestamp_ntz"))
            .withColumn("data_begin_time", no_time)
            .withColumn("data_end_time", no_time)
            .withColumn("ingested", F.lit(False))
            .withColumn("overlap_past_file_date_time", F.lit(False))
            .select(*[f.name for f in HARVEST_OBS_FILE_META.fields])
        )
        self.catalog.append(entries, LEDGER)
        return len(new_rows)

    # -- stages 2+3: enrich + merge ---------------------------------------

    def ingest_new(self) -> int:
        """Ingest every pending ledger file into the fact table. Returns
        number of files ingested."""
        ledger = self.catalog.read(LEDGER, HARVEST_OBS_FILE_META)
        pending = sorted(ledger.filter(~F.col("ingested")).collect(),
                         key=lambda r: r.data_date_time)
        if not pending:
            return 0

        # ledger meta keyed by file_key rides along the CSV rows so one
        # read per measure variable covers every pending source config.
        pending_meta = local_frame(self.spark, [
            [r.file_name, _staged_name(r.file_name), r.data_source, r.source_name,
             r.source_archive] for r in pending],
            "file_name string, file_key string, data_source string, source_name string, "
            "source_archive string")

        rows = None
        for variable in sorted({r.source_variable for r in pending}):
            paths = [self._readable_path(r.dir_path, r.file_name) for r in pending
                     if r.source_variable == variable]
            df = (
                read_harvest_csv(self.spark, paths, variable)
                .drop("file_name")  # the staged name; the ledger's comes from meta
                .join(F.broadcast(pending_meta), "file_key")
                .filter(F.col("time").isNotNull())
                .select("file_name", "station_name", "data_source", "source_name",
                        "source_archive", "timemark", "time", *measure_columns(variable))
            )
            rows = df if rows is None else rows.unionByName(df)
        # the pass's one CSV read, materialized once; the left join keeps
        # unknown stations' rows for the windows (they are not merged)
        rows = join_source_id(rows, self.catalog, "left").localCheckpoint(eager=True)
        windows = rows.groupBy("file_name").agg(
            F.min("time").alias("__begin"), F.max("time").alias("__end"))
        merge_obs(self.catalog, rows.filter(F.col("source_id").isNotNull()))

        updated = (
            ledger.join(F.broadcast(windows), "file_name", "left")
            .withColumn("data_begin_time", F.coalesce("data_begin_time", "__begin"))
            .withColumn("data_end_time", F.coalesce("data_end_time", "__end"))
            .withColumn("ingested",
                        F.col("ingested") | F.col("file_name").isin([r.file_name for r in pending]))
            .select(*[f.name for f in HARVEST_OBS_FILE_META.fields])
        )
        self.catalog.update(LEDGER, updated)
        return len(pending)

    # -- stage 4: retain-obs station snapshots ----------------------------

    def ingest_station_meta(self) -> int:
        """Discover station-meta harvest files (``stationdata`` →
        ``stationdata_meta`` naming, ``run/runObsIngest.py:125``), snapshot
        their station lists into retain_obs_station with the paired data
        file's [min, max] TIME window
        (``run/createRetainObsStationFileMeta.py:110-135``), and ledger
        them. Returns number of meta files processed.

        Batched: the paired data files' windows are the parsed
        ``data_begin_time``/``data_end_time`` that :meth:`ingest_new`
        wrote to the obs ledger (one ledger probe, no CSV re-read, so a
        malformed ``TIME`` cell cannot abort the pass), and ONE read
        collects every meta file's station list, followed by a single
        snapshot append — no per-file driver loop. Meta files whose
        paired data file is not ingested or has no parseable ``TIME``
        are skipped this pass (retried next pass)."""
        ledger = self.catalog.read("retain_obs_station_file_meta",
                                   RETAIN_OBS_STATION_FILE_META)

        candidates = []  # (meta file name, paired data file name, timemark, source cfg)
        for m in self.catalog.rows("source_obs_meta", SOURCE_OBS_META):
            meta_prefix = m.filename_prefix.replace("stationdata", "stationdata_meta")
            if meta_prefix == m.filename_prefix:
                continue
            for path in sorted(glob(os.path.join(self.harvest_dir, meta_prefix + "*.csv"))):
                candidates.append((os.path.basename(path), m))
        # ledger probe bounded to THIS pass's candidate names via a
        # broadcast semi-join (NOT an isin literal list: thousands of
        # pending files would bloat the plan — the zonemap stats-build
        # lesson), so the driver set is O(harvest dir), never O(ledger
        # history) — the model-side r6 verdict task 4 applied to the
        # retain-obs ledger
        if candidates:
            names = local_frame(self.spark, [(n,) for n, _ in candidates], "file_name string")
            seen = {r.file_name for r in
                    ledger.join(F.broadcast(names), "file_name",
                                "left_semi")
                    .select("file_name").collect()}
        else:
            seen = set()

        pending = []
        for name, m in candidates:
            if name in seen:
                continue
            stamp = _timemark_of(name)
            if stamp is None:
                continue
            pending.append((name, "_".join(name.split("_meta_")), stamp, m))
        if not pending:
            return 0

        data_names = local_frame(self.spark, [(d,) for _, d, _, _ in pending], "file_name string")
        windows = {r.file_name: (r.data_begin_time, r.data_end_time) for r in
                   self.catalog.read(LEDGER, HARVEST_OBS_FILE_META)
                   .join(F.broadcast(data_names), "file_name", "left_semi")
                   .select("file_name", "data_begin_time", "data_end_time")
                   .collect()}

        const_rows, entries = [], []
        for name, data_name, stamp, m in pending:
            begin, end = windows.get(data_name, (None, None))
            if begin is None or end is None:
                continue  # paired data file missing, empty or not ingested yet
            const_rows.append([_staged_name(name), stamp, begin, end, m.data_source,
                               m.source_name, m.source_archive, m.location_type])
            entries.append([self.harvest_dir, name, m.data_source,
                            m.source_name, m.source_archive, m.location_type,
                            stamp, begin, end, True])
        if not const_rows:
            return 0

        consts = local_frame(
            self.spark, const_rows,
            "file_key string, timemark timestamp_ntz, begin_date timestamp_ntz, "
            "end_date timestamp_ntz, data_source string, source_name string, "
            "source_archive string, location_type string")
        meta_stations = (
            self.spark.read.schema("station string").option("header", True)
            .csv([self._readable_path(self.harvest_dir, e[1]) for e in entries])
            .withColumn("file_key", F.element_at(F.split(F.input_file_name(), "/"), -1))
            .select(F.col("station").alias("station_name"), "file_key"))
        info = local_frame(self.spark, self.catalog.rows("gauge_station", GAUGE_STATION),
                           GAUGE_STATION).select(
            "station_name", "lat", "lon", "location_name", "tz", "gauge_owner",
            "country", "state", "county", "geom")
        snapshot = (meta_stations
                    .join(F.broadcast(consts), "file_key")
                    .join(F.broadcast(info), "station_name")
                    .select(*[f.name for f in RETAIN_OBS_STATION.fields]))
        self.catalog.append(snapshot, "retain_obs_station")
        self.catalog.append(
            local_frame(self.spark, entries, RETAIN_OBS_STATION_FILE_META),
            "retain_obs_station_file_meta")
        return len(entries)

    # -- stage 5: post-ingest cleanup (M5) ---------------------------------

    def cleanup_ingested(self, *, archive_dir: str | None = None) -> int:
        """M5 parity: the reference deletes each harvest file after load
        (``run/ingestObsTasks.py:153,197,286,414``). Removes — or, with
        ``archive_dir``, moves — every harvest file whose ledger row is
        flipped ``ingested=True`` (data files and station-meta files),
        plus its colon-free staged symlink. Only flipped files are
        touched, so a crash between ingest and cleanup leaves files for
        the next pass and a rerun is a no-op: exactly-once stays intact
        (the ledger, not the filesystem, is the source of truth;
        streaming mode gets the same behavior from the file source's
        ``cleanSource`` option instead)."""
        import shutil

        done: list[tuple[str, str]] = []
        ledger = self.catalog.read(LEDGER, HARVEST_OBS_FILE_META)
        done += [(r.dir_path, r.file_name) for r in
                 ledger.filter(F.col("ingested"))
                 .select("dir_path", "file_name").collect()]
        meta_ledger = self.catalog.read("retain_obs_station_file_meta",
                                        RETAIN_OBS_STATION_FILE_META)
        done += [(r.dir_path, r.file_name) for r in
                 meta_ledger.filter(F.col("ingested"))
                 .select("dir_path", "file_name").collect()]
        n = 0
        for dir_path, file_name in done:
            src = os.path.join(dir_path, file_name)
            if not os.path.exists(src):
                continue
            if archive_dir:
                os.makedirs(archive_dir, exist_ok=True)
                shutil.move(src, os.path.join(archive_dir, file_name))
            else:
                os.remove(src)
            staged = os.path.join(dir_path, ".staged", _staged_name(file_name))
            if os.path.lexists(staged):
                os.remove(staged)
            n += 1
        return n

    def run_sequence_ingest(self) -> dict:
        found = self.discover()
        ingested = self.ingest_new()
        station_meta = self.ingest_station_meta()
        return {"discovered": found, "ingested": ingested,
                "station_meta": station_meta}

    def gauge_data(self) -> DataFrame:
        return self.catalog.read(FACT, GAUGE_DATA)
