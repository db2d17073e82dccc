"""ADCIRC model-run ingest — ``runModelIngest --inputTask SequenceIngest``
(SURVEY section 3.2) as one parameterized batch job.

Per run directory ``<harvest_dir>/<model_run_id>/`` containing
``FORECAST_<STATIONTYPE>.csv`` / ``NOWCAST_<STATIONTYPE>.csv``:

1. run properties fetched via the X5 pivot (plans.dashboard_meta)
2. timemark derived from ``'20'+time.currentdate`` + cycle hour (F3,
   ``run/runModelIngest.py:186-187``)
3. per file: data_source / filename_prefix derived from storm-vs-synoptic
   naming (F6, ``run/runModelIngest.py:201-212``), station-type suffix
   mapped to variable/location/units (``run/runModelIngest.py:215-238``)
4. unseen (filename_prefix, source_instance) sources auto-registered into
   source_model_meta + model_source (J8 + M1,
   ``run/runModelIngest.py:243-261``) — an idempotent dimension upsert
5. data merged into model_data keyed (source_id, timemark, time): multiple
   runs coexist per timemark; reruns of the same run keep the latest load
   (``run/ingestModelTasks.py:102-114,375-383``)
6. harvest ledger rows appended + flipped (M2)
"""

from __future__ import annotations

import datetime as dt
import os
from glob import glob

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import (APSVIZ_STATION_FILE_META, GAUGE_STATION, HARVEST_MODEL_FILE_META,
                       MODEL_DATA, SOURCE_MODEL_META)
from ..session import local_frame
from ..sources.catalog import Catalog
from ..sources.harvest_csv import read_harvest_csv, read_station_list
from .bootstrap import source_key, station_sources
from .dashboard_meta import get_adcirc_run_property_variables

LEDGER = "harvest_model_file_meta"
FACT = "model_data"

#: station-type suffix → (source_variable, location_type, units)
#: (run/runModelIngest.py:215-238)
STATION_TYPES = {
    "NOAASTATIONS": ("water_level", "tidal", "m"),
    "CONTRAILSCOASTAL": ("water_level", "coastal", "m"),
    "CONTRAILSRIVERS": ("water_level", "river", "m"),
    "NDBCBUOYS": ("wave_height", "ocean", "m"),
}


def derive_timemark(time_currentdate: str, time_currentcycle: str) -> dt.datetime:
    """F3: '20'+yymmdd + cycle hour → run start timestamp
    (run/runModelIngest.py:186-187)."""
    return dt.datetime(int("20" + time_currentdate[0:2]), int(time_currentdate[2:4]),
                       int(time_currentdate[4:6]), int(time_currentcycle))


def derive_source(run_props: dict, kind: str, station_type: str) -> dict:
    """F6: data_source / filename_prefix naming for FORECAST/NOWCAST files,
    synoptic vs tropical (run/runModelIngest.py:201-212,294-299)."""
    grid = run_props["ADCIRCgrid"].upper()
    ens = run_props["forcing.ensemblename"]
    storm = run_props["storm"]
    synoptic = run_props["forcing.metclass"] == "synoptic"
    if kind == "FORECAST":
        data_source = (f"{ens.upper()}_{grid}" if synoptic
                       else f"{storm}_{ens.upper()}_{grid}")
        mid = ens.upper() if synoptic else ens
        prefix = (f"{run_props['suite.model']}_{storm}_"
                  f"{run_props['physical_location'].upper()}_{mid}_{grid}_FORECAST_{station_type}")
    else:
        data_source = (f"NOWCAST_{grid}" if synoptic else f"{storm}_NOWCAST_{grid}")
        prefix = (f"{run_props['suite.model']}_{storm}_"
                  f"{run_props['physical_location'].upper()}_NOWCAST_{grid}_NOWCAST_{station_type}")
    variable, location_type, units = STATION_TYPES[station_type]
    return {
        "data_source": data_source, "filename_prefix": prefix,
        "source_variable": variable, "location_type": location_type, "units": units,
        "source_name": run_props["suite.model"],
        "source_archive": run_props["physical_location"],
        "source_instance": run_props["instancename"],
        "forcing_metclass": run_props["forcing.metclass"],
    }


class ModelIngest:
    def __init__(self, spark: SparkSession, catalog: Catalog, harvest_dir: str,
                 *, ui_data_url: str = "https://apsviz/ui-data"):
        """``ui_data_url``: base URL of the station-data CSV service,
        recorded per run in the apsviz_station_file_meta ledger and used
        for per-station csvurl construction (the reference's
        ``UI_DATA_URL`` env var, ``run/runModelIngest.py:220,405``)."""
        self.spark = spark
        self.catalog = catalog
        self.harvest_dir = harvest_dir
        self.ui_data_url = ui_data_url

    def _register_source(self, src: dict) -> None:
        """Idempotent source auto-registration (J8+M1): add source meta and
        one model_source row per station of the matching location_type."""
        # J8 existence check (run/getDashboardMeta.py:100-138) on the
        # catalog's cached rows; SQL =, so a NULL matches nothing
        key = (src["filename_prefix"], src["source_instance"])
        if None not in key and key in {
                (r.filename_prefix, r.source_instance)
                for r in self.catalog.rows("source_model_meta", SOURCE_MODEL_META)}:
            return
        self.catalog.append_rows([src], "source_model_meta", SOURCE_MODEL_META)

        stations = local_frame(
            self.spark, [r for r in self.catalog.rows("gauge_station", GAUGE_STATION)
                         if r.location_type == src["location_type"]], GAUGE_STATION)
        model_source = stations.select(
            source_key(F.col("station_name"), F.lit(src["data_source"]),
                       F.lit(src["source_name"]), F.lit(src["source_archive"]))
            .alias("source_id"),
            "station_id",
            F.lit(src["data_source"]).alias("data_source"),
            F.lit(src["source_name"]).alias("source_name"),
            F.lit(src["source_archive"]).alias("source_archive"),
            F.lit(src["source_instance"]).alias("source_instance"),
            F.lit(src["forcing_metclass"]).alias("forcing_metclass"),
            F.lit(src["units"]).alias("units"),
        )
        self.catalog.append(model_source, "model_source")

    def ingest_run(self, model_run_id: str, config_items: DataFrame) -> dict:
        """Ingest one model run directory end-to-end."""
        props = get_adcirc_run_property_variables(config_items, model_run_id)
        timemark = derive_timemark(props["time.currentdate"], props["time.currentcycle"])
        run_dir = os.path.join(self.harvest_dir, model_run_id)

        files = []
        for kind in ("FORECAST", "NOWCAST"):
            for path in sorted(glob(os.path.join(run_dir, f"{kind}_*.csv"))):
                station_type = os.path.basename(path).split("_")[-1].split(".")[0]
                if station_type not in STATION_TYPES:
                    continue
                src = derive_source(props, kind, station_type)
                files.append((path, kind, src))
        if not files:
            return {"files": 0, "rows": 0, "station_files": 0}

        for _, _, src in files:
            self._register_source(src)

        processing = dt.datetime.now().replace(microsecond=0)
        # (file_name, station_name, source_id) of every registered source
        # of each file, from the station-source pairs of the catalog's
        # cached dimension rows, with SQL = on the source keys
        keys = ["data_source", "source_name", "source_archive", "source_instance",
                "forcing_metclass"]
        pairs = station_sources(self.catalog, "model_source")
        lookup = local_frame(self.spark, [
            (os.path.basename(path), name, r.source_id)
            for path, _, src in files for name, r in pairs
            if all(r[k] is not None and r[k] == src[k] for k in keys)],
            "file_name string, station_name string, source_id long")
        rows = (read_harvest_csv(self.spark, [path for path, _, _ in files], "water_level")
                .join(F.broadcast(lookup), ["file_name", "station_name"], "left"))
        loaded = F.col("source_id").isNotNull() & F.col("time").isNotNull()
        # one grouped aggregate: per-file windows over the raw rows, and
        # the rows that will merge (a matched source and a parsed time)
        stats = {r["file_name"]: r for r in rows.groupBy("file_name").agg(
            F.min("time").alias("lo"), F.max("time").alias("hi"),
            F.count(F.when(loaded, 1)).alias("n")).collect()}
        n_rows = sum(r["n"] for r in stats.values())
        batch = rows.filter(loaded).select(
            "source_id", F.lit(timemark).cast("timestamp_ntz").alias("timemark"), "time",
            "water_level", F.lit(None).cast("double").alias("wave_height"),
            F.lit(processing).cast("timestamp_ntz").alias("__proc_dt"))
        ledger_rows = []
        for path, _, src in files:
            name = os.path.basename(path)
            window = stats.get(name) or {"lo": None, "hi": None}
            ledger_rows.append({
                "dir_path": run_dir, "file_name": name, "model_run_id": model_run_id,
                "processing_datetime": processing, "data_date_time": timemark,
                "data_begin_time": window["lo"], "data_end_time": window["hi"],
                "data_source": src["data_source"], "source_name": src["source_name"],
                "source_archive": src["source_archive"],
                "source_instance": src["source_instance"],
                "forcing_metclass": src["forcing_metclass"],
                "advisory": props["advisory"], "timemark": timemark,
                "ingested": True, "overlap_past_file_date_time": False,
            })

        # rerun dedup (run/ingestModelTasks.py:102-114): key includes
        # timemark so runs coexist; latest processing wins on rerun
        self.catalog.merge_keep_latest(
            FACT, batch, keys=["source_id", "timemark", "time"],
            order_by=["__proc_dt"],
            time_col="time", drop_before_write=["__proc_dt"],
        )

        self.catalog.append_rows(ledger_rows, LEDGER, HARVEST_MODEL_FILE_META)

        published = self.publish_stations(model_run_id, props, timemark)
        return {"files": len(files), "rows": n_rows, "station_files": published}

    def publish_stations(self, model_run_id: str, props: dict,
                         timemark: dt.datetime) -> int:
        """ApsViz station publish from ``meta_FORECAST_*.csv`` station
        lists (``run/runModelIngest.py:375-396`` →
        ``createIngestApsVizStationData``), with the
        drf_apsviz_station_file_meta ledger. Returns files processed."""
        from .apsviz_stations import publish_apsviz_stations

        run_dir = os.path.join(self.harvest_dir, model_run_id)
        meta_files = sorted(glob(os.path.join(run_dir, "meta_FORECAST_*.csv")))
        if not meta_files:
            return 0
        seen = self._published(model_run_id)

        by_type = {}
        for path in meta_files:
            station_type = os.path.basename(path).split("_")[-1].split(".")[0]
            if station_type in STATION_TYPES:
                by_type[station_type] = path
        all_location_types = [STATION_TYPES[t][1] for t in by_type]

        entries = []
        for station_type, path in by_type.items():
            name = os.path.basename(path)
            if name in seen:
                continue
            src = derive_source(props, "FORECAST", station_type)
            publish_apsviz_stations(
                self.spark, self.catalog, model_run_id=model_run_id,
                adcirc_station_names=read_station_list(path),
                data_source=src["data_source"], source_name=src["source_name"],
                source_archive=src["source_archive"],
                source_instance=src["source_instance"],
                forcing_metclass=src["forcing_metclass"],
                location_type=src["location_type"],
                grid_name=props["ADCIRCgrid"].upper(), timemark=timemark,
                all_location_types=all_location_types,
                ui_data_url=self.ui_data_url)
            # per-run csvurl ledger row (run/runModelIngest.py:405 passes
            # UI_DATA_URL per meta file; independently queryable here)
            entries.append([run_dir, name, timemark, src["data_source"],
                            src["source_name"], src["source_archive"],
                            src["source_instance"], src["forcing_metclass"],
                            props["ADCIRCgrid"].upper(), model_run_id, timemark,
                            src["location_type"], self.ui_data_url, True])
        self.catalog.append_rows(entries, "apsviz_station_file_meta",
                                 APSVIZ_STATION_FILE_META)
        return len(entries)

    def _published(self, model_run_id: str) -> set[str]:
        """The meta files of ``model_run_id`` already in the
        apsviz_station_file_meta ledger — a probe scoped to the run, as
        the reference queries the meta table by run identifiers
        (``run/runModelIngest.py:90-94``). The ledger is written from
        driver rows only (``Catalog.append_rows``), so its Arrow copy
        answers with no Spark job; the driver holds it whole (about
        four rows a model run)."""
        ledger = self.catalog.arrow("apsviz_station_file_meta", APSVIZ_STATION_FILE_META)
        run = ledger.filter(pc.fill_null(pc.equal(ledger["model_run_id"], model_run_id), False))
        return set(run["file_name"].to_pylist())

    def cleanup_run_dir(self, model_run_id: str) -> bool:
        """M5 model-path parity: the reference removes the per-run ingest
        directory after a successful run (``run/runModelIngest.py:575-580``,
        ``shutil.rmtree(ingestPath)``). Removes
        ``<harvest_dir>/<model_run_id>/`` only when every file the run
        ledgered is flipped ``ingested=True`` — a crashed run keeps its
        staging dir for replay, and a rerun after cleanup is a no-op.
        Returns whether the directory was removed."""
        import shutil

        run_dir = os.path.join(self.harvest_dir, model_run_id)
        if not os.path.isdir(run_dir):
            return False
        # the ledger is written from driver rows only: probe its Arrow copy
        ledger = self.catalog.arrow(LEDGER, HARVEST_MODEL_FILE_META)
        if pc.any(pc.and_(pc.equal(ledger["dir_path"], run_dir),
                          pc.invert(ledger["ingested"]))).as_py():
            return False
        shutil.rmtree(run_dir)
        return True

    def model_data(self) -> DataFrame:
        return self.catalog.read(FACT, MODEL_DATA)
