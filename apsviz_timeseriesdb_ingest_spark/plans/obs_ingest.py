"""Observation ingest pipeline — ``runObsIngest --inputTask SequenceIngest``
as one Spark lineage (SURVEY section 3.1).

Reference stages (per-source subprocesses + intermediate CSVs) collapse to:

    discover()    -- glob harvest dir, per-file timemark (F1), drop files
                     the ledger names (J4) and append the rest
                     ingested=False, on the driver; no CSV read, no job
    ingest_new()  -- read all pending files ONCE (one scan per measure
                     variable), widen to the sparse 6-measure layout (S6),
                     enrich with source_id from the station-source pairs of
                     the cached dimension rows, broadcast (J1/J2)
                     and materialize; per-file min/max TIME (A1) from that
                     copy, keep-latest merge into gauge_data bounded to the
                     batch's time window (J7/M3), one ledger rewrite from
                     driver rows fills the windows and flips ingested (M2)
    ingest_station_meta()
                  -- station-meta files' station lists joined to the cached
                     station rows and appended with their ledger entries,
                     on the driver

The ledgers are read through ``Catalog.arrow`` (a driver-side Arrow copy
kept until the table's files change, probed with ``pyarrow.compute``, so
a pass's Python work grows with its new files, not with the ledger) and
written with ``Catalog.append_rows``/``overwrite_rows`` (one parquet file
written on the driver, which keeps that copy current), so only the CSV
read, the window aggregate and the fact merge run Spark jobs.

The source lookup, the measure fan-out and the keep-latest merge are
module functions that the streaming path (``streaming/stream_ingest``)
calls too, so batch and stream enrich and merge with the same code. The
dimension and source-config tables are read through ``Catalog.rows`` as
well, and the source lookup is ``bootstrap.station_sources``, the
pairing the model ingest and the dashboard reads use too.

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
import logging
import os
import re
from glob import glob

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timeparse import TIMEMARK_RE
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
from ..sources.harvest_csv import read_harvest_csv, read_station_list
from .bootstrap import station_sources

LEDGER = "harvest_obs_file_meta"
FACT = "gauge_data"

log = logging.getLogger(__name__)


def _timemark_of(name: str) -> dt.datetime | None:
    """The timemark a harvest file name embeds (F1, driver side), or
    None when it has none."""
    match = re.search(TIMEMARK_RE, name)
    return dt.datetime.fromisoformat(match.group(1).replace("_", ":")) if match else None


def utc_now() -> dt.datetime:
    """Naive UTC wall clock: ``current_timestamp()`` as TIMESTAMP_NTZ
    under the engine's UTC session timezone."""
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _known(ledger: pa.Table, names: list[str]) -> set[str]:
    """The ``names`` that ``ledger``'s ``file_name`` column holds."""
    hit = pc.is_in(pa.array(names, pa.string()), value_set=ledger["file_name"])
    return {n for n, h in zip(names, hit.to_pylist()) if h}


def _flag(ledger: pa.Table, value: bool) -> pa.ChunkedArray:
    """Rows whose ``ingested`` is ``value`` (a NULL flag is neither)."""
    return pc.fill_null(pc.equal(ledger["ingested"], value), False)


def _one_row_per_file(ledger: pa.Table) -> pa.Table:
    """``ledger`` with one row per file: where a crash in
    ``Catalog.overwrite_rows`` left two generations, a file's ingested
    row wins over its pending one, and of equal rows the first stays."""
    done = ledger.filter(_flag(ledger, True))["file_name"]
    ledger = ledger.filter(pc.invert(pc.and_(
        _flag(ledger, False), pc.is_in(ledger["file_name"], value_set=done))))
    names = ledger["file_name"]
    if pc.count_distinct(names, mode="all").as_py() == ledger.num_rows:
        return ledger
    first = {}
    for i, n in enumerate(names.to_pylist()):
        first.setdefault(n, i)
    return ledger.take(sorted(first.values()))


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
        :meth:`ingest_new`). Returns number discovered.

        The anti-join against the ledger (J4) probes the ledger's
        cached Arrow copy (``Catalog.arrow``) for the globbed names, and
        the entries are appended as driver rows
        (``Catalog.append_rows``): discovery runs no Spark job."""
        found = []
        for m in self.catalog.rows("source_obs_meta", SOURCE_OBS_META):
            for path in sorted(glob(os.path.join(self.harvest_dir, m.filename_prefix + "*.csv"))):
                name = os.path.basename(path)
                stamp = _timemark_of(name)
                # null-guard path (run/createHarvestObsFileMeta.py:159-164)
                if stamp is not None:
                    found.append((path, name, stamp, m))
        seen = _known(self.catalog.arrow(LEDGER, HARVEST_OBS_FILE_META),
                      [name for _, name, _, _ in found])
        now = utc_now()
        entries = []
        for path, name, stamp, m in found:
            if name not in seen:
                entries.append({
                    "dir_path": os.path.dirname(path), "file_name": name,
                    "processing_datetime": now, "data_date_time": stamp,
                    "data_begin_time": None, "data_end_time": None,
                    "data_source": m.data_source, "source_name": m.source_name,
                    "source_archive": m.source_archive,
                    "source_variable": m.source_variable,
                    "location_type": m.location_type, "timemark": stamp,
                    "ingested": False, "overlap_past_file_date_time": False,
                })
        self.catalog.append_rows(entries, LEDGER, HARVEST_OBS_FILE_META)
        return len(entries)

    # -- stages 2+3: enrich + merge ---------------------------------------

    def ingest_new(self) -> int:
        """Ingest every pending ledger file into the fact table. Returns
        number of files ingested.

        Pending files are the cached ledger's rows with ``ingested``
        false (a NULL flag is not pending, as in SQL). The per-file
        ``[min, max]`` TIME windows come from one aggregate over the
        materialized rows, and the ledger is rewritten
        (``Catalog.overwrite_rows``) with the windows filled and the
        flags flipped, column-wise in Arrow: the pass's Python work is
        its pending rows, whatever the ledger's length.

        A crash inside ``overwrite_rows`` can leave a file's pending row
        next to its ingested one. The ingested row wins: the file is not
        pending (``cleanup_ingested`` may have removed it already), and
        the rewrite keeps one row per file."""
        stored = self.catalog.arrow(LEDGER, HARVEST_OBS_FILE_META)
        ledger = _one_row_per_file(stored)
        pending = sorted(ledger.filter(_flag(ledger, False)).to_pylist(),
                         key=lambda r: r["data_date_time"])
        if not pending:
            if ledger.num_rows < stored.num_rows:
                self.catalog.overwrite_rows(ledger, LEDGER, HARVEST_OBS_FILE_META)
            return 0

        # ledger meta keyed by file_key rides along the CSV rows so one
        # read per measure variable covers every pending source config.
        pending_meta = local_frame(self.spark, [
            [r["file_name"], _staged_name(r["file_name"]), r["data_source"],
             r["source_name"], r["source_archive"]] for r in pending],
            "file_name string, file_key string, data_source string, source_name string, "
            "source_archive string")

        rows = None
        for variable in sorted({r["source_variable"] for r in pending}):
            paths = [self._readable_path(r["dir_path"], r["file_name"]) for r in pending
                     if r["source_variable"] == variable]
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
        windows = {r.file_name: (r.lo, r.hi) for r in rows.groupBy("file_name").agg(
            F.min("time").alias("lo"), F.max("time").alias("hi")).collect()}
        merge_obs(self.catalog, rows.filter(F.col("source_id").isNotNull()))

        names = [r["file_name"] for r in pending]
        # per ledger row: its index in ``names``, NULL for files not pending
        at = pc.index_in(ledger["file_name"], value_set=pa.array(names, pa.string()))
        ts = pa.timestamp("us")
        for col, end in (("data_begin_time", 0), ("data_end_time", 1)):
            window = pa.array([windows.get(n, (None, None))[end] for n in names], ts)
            ledger = ledger.set_column(
                ledger.schema.get_field_index(col), col,
                pc.coalesce(ledger[col], pc.take(window, at)))
        # SQL OR: a NULL flag stays NULL unless the file was ingested
        ledger = ledger.set_column(
            ledger.schema.get_field_index("ingested"), "ingested",
            pc.if_else(pc.is_valid(at), True, ledger["ingested"]))
        self.catalog.overwrite_rows(ledger, LEDGER, HARVEST_OBS_FILE_META)
        return len(pending)

    # -- stage 4: retain-obs station snapshots ----------------------------

    def ingest_station_meta(self) -> int:
        """Discover station-meta harvest files (``stationdata`` →
        ``stationdata_meta`` naming, ``run/runObsIngest.py:125``), snapshot
        their station lists into retain_obs_station with the paired data
        file's [min, max] TIME window
        (``run/createRetainObsStationFileMeta.py:110-135``), and ledger
        them. Returns number of meta files processed.

        All on the driver, with no Spark job. The seen meta files and
        the paired data files' windows (the parsed
        ``data_begin_time``/``data_end_time`` that :meth:`ingest_new`
        wrote, so a malformed ``TIME`` cell cannot abort the pass) are
        probed in the two ledgers' ``Catalog.arrow`` copies. Each meta
        file's station column is read with ``read_station_list`` and
        inner-joined to the cached ``gauge_station`` rows by name with
        SQL bag semantics (a NULL name matches nothing, a duplicated
        station name multiplies); the snapshot and the ledger entries
        are appended as driver rows. The trade-off: the driver holds
        both ledgers whole, as Arrow tables (about 190 B per file row),
        where the old broadcast semi-join probes held O(harvest dir).
        Meta files whose paired data file is not ingested or has no
        parseable ``TIME``, and meta files with no ``station`` column,
        are skipped this pass (retried next pass)."""
        pending = []  # (meta file name, paired data file name, timemark, source cfg)
        for m in self.catalog.rows("source_obs_meta", SOURCE_OBS_META):
            meta_prefix = m.filename_prefix.replace("stationdata", "stationdata_meta")
            if meta_prefix == m.filename_prefix:
                continue
            for path in sorted(glob(os.path.join(self.harvest_dir, meta_prefix + "*.csv"))):
                name = os.path.basename(path)
                stamp = _timemark_of(name)
                if stamp is not None:
                    pending.append((name, "_".join(name.split("_meta_")), stamp, m))
        seen = _known(self.catalog.arrow("retain_obs_station_file_meta",
                                         RETAIN_OBS_STATION_FILE_META),
                      [name for name, _, _, _ in pending])
        pending = [p for p in pending if p[0] not in seen]
        if not pending:
            return 0

        ledger = self.catalog.arrow(LEDGER, HARVEST_OBS_FILE_META)
        paired = ledger.filter(pc.is_in(
            ledger["file_name"], value_set=pa.array([p[1] for p in pending], pa.string())))
        # a pending row left next to the ingested one (see ingest_new) has
        # no window; the ingested row's window counts
        windows = {r["file_name"]: (r["data_begin_time"], r["data_end_time"])
                   for r in paired.select(["file_name", "data_begin_time",
                                           "data_end_time"]).to_pylist()
                   if r["data_begin_time"] is not None and r["data_end_time"] is not None}
        stations: dict[str, list] = {}
        for st in self.catalog.rows("gauge_station", GAUGE_STATION):
            if st.station_name is not None:
                stations.setdefault(st.station_name, []).append(st)
        snapshot, entries = [], []
        for name, data_name, stamp, m in pending:
            if data_name not in windows:
                continue  # paired data file missing, empty or not ingested yet
            try:
                names = read_station_list(os.path.join(self.harvest_dir, name))
            except ValueError as e:
                log.warning("station-meta file skipped: %s", e)
                continue
            begin, end = windows[data_name]
            consts = (stamp, begin, end, m.data_source, m.source_name,
                      m.source_archive, m.location_type)
            for station in names:
                snapshot += [(st.station_name, st.lat, st.lon, st.location_name, st.tz,
                              st.gauge_owner, st.country, st.state, st.county, st.geom,
                              *consts) for st in stations.get(station, ())]
            entries.append([self.harvest_dir, name, m.data_source,
                            m.source_name, m.source_archive, m.location_type,
                            stamp, begin, end, True])
        self.catalog.append_rows(snapshot, "retain_obs_station", RETAIN_OBS_STATION)
        self.catalog.append_rows(entries, "retain_obs_station_file_meta",
                                 RETAIN_OBS_STATION_FILE_META)
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

        done = [(r["dir_path"], r["file_name"])
                for table, schema in ((LEDGER, HARVEST_OBS_FILE_META),
                                      ("retain_obs_station_file_meta",
                                       RETAIN_OBS_STATION_FILE_META))
                for t in (self.catalog.arrow(table, schema),)
                for r in t.filter(_flag(t, True)).select(["dir_path", "file_name"])
                .to_pylist()]
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
