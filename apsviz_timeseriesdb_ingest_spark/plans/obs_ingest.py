"""Observation ingest pipeline — ``runObsIngest --inputTask SequenceIngest``
as one Spark lineage (SURVEY section 3.1).

Reference stages (per-source subprocesses + intermediate CSVs) collapse to:

    discover()    -- glob harvest dir, per-file timemark (F1), anti-join
                     the ledger (J4), append rows ingested=False; no CSV read
    ingest_new()  -- read all pending files ONCE (one scan per measure
                     variable), widen to the sparse 6-measure layout (S6),
                     enrich with source_id via broadcast dim join (J1/J2)
                     and materialize; per-file min/max TIME (A1) from that
                     copy, keep-latest merge into gauge_data bounded to the
                     batch's time window (J7/M3), one ledger update fills
                     the windows and flips ingested (M2)

Keep-latest ordering: the reference keeps the highest serial ``obs_id``
per (source_id, time) — i.e. last-loaded wins, and files are loaded in
``data_date_time`` order (``run/ingestObsTasks.py:45-56,233-237``). The
deterministic Spark equivalent orders by (timemark DESC, file data
datetime DESC, file_name DESC): newest harvest wins regardless of load
order, making ingest permutation-invariant where the reference is
order-dependent.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from glob import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ledger import new_files_anti_join
from ..schemas import (
    GAUGE_DATA,
    GAUGE_SOURCE,
    GAUGE_STATION,
    HARVEST_OBS_FILE_META,
    OBS_MEASURES,
    RETAIN_OBS_STATION,
    RETAIN_OBS_STATION_FILE_META,
    SOURCE_OBS_META,
)
from ..sources.catalog import Catalog
from ..sources.harvest_csv import read_harvest_csv

LEDGER = "harvest_obs_file_meta"
FACT = "gauge_data"

#: accepts ':' or '_' separators (colon-free names are the streaming-safe
#: producer convention; see functions/timeparse.TIMEMARK_RE)
_TIMEMARK_RE = re.compile(r"(\d+-\d+-\d+T\d+[:_]\d+[:_]\d+)")


def _parse_timemark(match: re.Match) -> dt.datetime:
    return dt.datetime.fromisoformat(match.group(1).replace("_", ":"))


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
        link = os.path.join(staged, file_name.replace(":", "_"))
        if not os.path.lexists(link):
            os.symlink(os.path.abspath(os.path.join(dir_path, file_name)), link)
        return link

    # -- stage 1: discovery ------------------------------------------------

    def discover(self) -> int:
        """Find new harvest files for every configured source; append them
        to the ledger with ingested=False and null TIME windows (filled by
        :meth:`ingest_new`). Returns number discovered."""
        source_meta = self.catalog.read("source_obs_meta", SOURCE_OBS_META).collect()
        ledger = self.catalog.read(LEDGER, HARVEST_OBS_FILE_META)

        candidates = []
        for m in source_meta:
            for path in sorted(glob(os.path.join(self.harvest_dir, m.filename_prefix + "*.csv"))):
                name = os.path.basename(path)
                match = _TIMEMARK_RE.search(name)
                if not match:  # null-guard path (run/createHarvestObsFileMeta.py:159-164)
                    continue
                stamp = _parse_timemark(match)
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
        cand = self.spark.createDataFrame(
            candidates,
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
            self.spark.createDataFrame(new_rows, new.schema)
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

        # source_id lookup: gauge_source ⋈ gauge_station → natural keys
        # (J1+J2). Tiny; broadcast into the fact stream.
        stations = (self.catalog.read("gauge_station", GAUGE_STATION)
                    .select("station_id", "station_name"))
        src_lookup = (
            self.catalog.read("gauge_source", GAUGE_SOURCE)
            .join(stations, "station_id")
            .select("station_name", "data_source", "source_name", "source_archive",
                    "source_id")
        )

        # ledger meta keyed by file_key rides along the CSV rows so one
        # read per measure variable covers every pending source config.
        pending_meta = self.spark.createDataFrame(
            [[r.file_name, r.file_name.replace(":", "_"), r.data_source, r.source_name,
              r.source_archive, r.data_date_time] for r in pending],
            "file_name string, file_key string, data_source string, source_name string, "
            "source_archive string, data_date_time timestamp_ntz")

        rows = None
        for variable in sorted({r.source_variable for r in pending}):
            paths = [self._readable_path(r.dir_path, r.file_name) for r in pending
                     if r.source_variable == variable]
            df = (
                read_harvest_csv(self.spark, paths, variable)
                .drop("file_name")  # the staged name; the ledger's comes from meta
                .join(F.broadcast(pending_meta), "file_key")
                .filter(F.col("time").isNotNull())
                .select(
                    "file_name", "station_name", "data_source", "source_name",
                    "source_archive", "timemark", "time",
                    *[(F.col(variable) if m == variable else F.lit(None).cast("double"))
                      .alias(m) for m in OBS_MEASURES],
                    F.col("data_date_time").alias("__file_dt"),
                    F.col("file_key").alias("__file_key"),
                )
            )
            rows = df if rows is None else rows.unionByName(df)
        # the pass's one CSV read, materialized once; the left join keeps
        # unknown stations' rows for the windows (they are not merged)
        rows = (rows.join(F.broadcast(src_lookup),
                          ["station_name", "data_source", "source_name", "source_archive"],
                          "left")
                .localCheckpoint(eager=True))
        windows = rows.groupBy("file_name").agg(
            F.min("time").alias("__begin"), F.max("time").alias("__end"))

        batch = (rows.filter(F.col("source_id").isNotNull())
                 .select("source_id", "timemark", "time", *OBS_MEASURES,
                         "__file_dt", "__file_key"))
        self.catalog.merge_keep_latest(
            FACT, batch,
            keys=["source_id", "time"],
            order_by=["timemark", "__file_dt", "__file_key"],
            time_col="time",
            drop_before_write=["__file_dt", "__file_key"],
        )

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
        source_meta = self.catalog.read("source_obs_meta", SOURCE_OBS_META).collect()
        ledger = self.catalog.read("retain_obs_station_file_meta",
                                   RETAIN_OBS_STATION_FILE_META)

        candidates = []  # (meta file name, paired data file name, timemark, source cfg)
        for m in source_meta:
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
            names = self.spark.createDataFrame(
                [(n,) for n, _ in candidates], "file_name string")
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
            match = _TIMEMARK_RE.search(name)
            if not match:
                continue
            pending.append((name, "_".join(name.split("_meta_")),
                            _parse_timemark(match), m))
        if not pending:
            return 0

        def _key(name: str) -> str:
            return name.replace(":", "_")  # staged-symlink identity

        data_names = self.spark.createDataFrame(
            [(d,) for _, d, _, _ in pending], "file_name string")
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
            const_rows.append([_key(name), stamp, begin, end, m.data_source,
                               m.source_name, m.source_archive, m.location_type])
            entries.append([self.harvest_dir, name, m.data_source,
                            m.source_name, m.source_archive, m.location_type,
                            stamp, begin, end, True])
        if not const_rows:
            return 0

        consts = self.spark.createDataFrame(
            const_rows,
            "file_key string, timemark timestamp_ntz, begin_date timestamp_ntz, "
            "end_date timestamp_ntz, data_source string, source_name string, "
            "source_archive string, location_type string")
        meta_stations = (
            self.spark.read.schema("station string").option("header", True)
            .csv([self._readable_path(self.harvest_dir, e[1]) for e in entries])
            .withColumn("file_key", F.element_at(F.split(F.input_file_name(), "/"), -1))
            .select(F.col("station").alias("station_name"), "file_key"))
        info = self.catalog.read("gauge_station", GAUGE_STATION).select(
            "station_name", "lat", "lon", "location_name", "tz", "gauge_owner",
            "country", "state", "county", "geom")
        snapshot = (meta_stations
                    .join(F.broadcast(consts), "file_key")
                    .join(info, "station_name")
                    .select(*[f.name for f in RETAIN_OBS_STATION.fields]))
        self.catalog.append(snapshot, "retain_obs_station")
        self.catalog.append(
            self.spark.createDataFrame(entries, RETAIN_OBS_STATION_FILE_META),
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
            staged = os.path.join(dir_path, ".staged", file_name.replace(":", "_"))
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
