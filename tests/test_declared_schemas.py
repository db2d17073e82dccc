"""Declared-schema guard: every table that ingest or the read API reads
with its ``schemas.py`` StructType (or, for a ``{table}__zm`` zone-map
sidecar, ``ZONEMAP_SCHEMA``) must hold exactly those fields on disk.
``Catalog.read(table, schema)`` skips footer inference and reads by
name, so a written column missing from the declaration would be
dropped silently, and a declared column missing on disk would read as
nulls."""

from __future__ import annotations

import os

from apsviz_timeseriesdb_ingest_spark import schemas
from apsviz_timeseriesdb_ingest_spark.plans.bootstrap import bootstrap
from apsviz_timeseriesdb_ingest_spark.plans.model_ingest import ModelIngest
from apsviz_timeseriesdb_ingest_spark.plans.obs_ingest import ObsIngest
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.sources.skipping import build_skipping, zm_table
from apsviz_timeseriesdb_ingest_spark.sources.zonemap import ZONEMAP_SCHEMA
from apsviz_timeseriesdb_ingest_spark.streaming import StreamingObsIngest

from .test_model_pipeline import PROPS, RUN_ID
from .test_obs_pipeline import SOURCE_META_HEADER, SOURCE_META_ROWS, STATIONS, _write

#: every (table, declaration) pair a call site passes to Catalog.read
DECLARED = {
    "source_obs_meta": schemas.SOURCE_OBS_META,
    "gauge_station": schemas.GAUGE_STATION,
    "gauge_source": schemas.GAUGE_SOURCE,
    "gauge_data": schemas.GAUGE_DATA,
    "harvest_obs_file_meta": schemas.HARVEST_OBS_FILE_META,
    "retain_obs_station": schemas.RETAIN_OBS_STATION,
    "retain_obs_station_file_meta": schemas.RETAIN_OBS_STATION_FILE_META,
    "source_model_meta": schemas.SOURCE_MODEL_META,
    "model_source": schemas.MODEL_SOURCE,
    "model_data": schemas.MODEL_DATA,
    "harvest_model_file_meta": schemas.HARVEST_MODEL_FILE_META,
    "apsviz_station_file_meta": schemas.APSVIZ_STATION_FILE_META,
    "stream_obs_ledger": schemas.STREAM_OBS_LEDGER,
}


def test_declared_schemas_match_disk(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("declared")
    harvest = root / "harvest"
    (harvest / RUN_ID).mkdir(parents=True)
    _write(str(root / "stations.csv"), [",".join(map(str, r)) for r in STATIONS])
    _write(str(root / "meta.csv"), [SOURCE_META_HEADER, *SOURCE_META_ROWS])
    catalog = Catalog(spark, str(root / "warehouse"))
    bootstrap(spark, catalog, station_csvs=[str(root / "stations.csv")],
              source_meta_csv=str(root / "meta.csv"))

    _write(os.path.join(harvest, "noaa_stationdata_water_level_2024-01-01T12:00:00.csv"),
           ["STATION,TIME,WATER_LEVEL", "ST_A,2024-01-01 10:00:00,1.0"])
    _write(os.path.join(harvest, "noaa_stationdata_meta_water_level_2024-01-01T12:00:00.csv"),
           ["STATION,LAT,LON", "ST_A,34.1,-77.1"])
    out = ObsIngest(spark, catalog, str(harvest)).run_sequence_ingest()
    assert out == {"discovered": 1, "ingested": 1, "station_meta": 1}

    _write(harvest / RUN_ID / "FORECAST_NOAASTATIONS.csv",
           ["STATION,TIME,WATER_LEVEL", "ST_A,2024-01-01 12:00:00,0.5"])
    _write(harvest / RUN_ID / "meta_FORECAST_NOAASTATIONS.csv", ["STATION", "ST_A"])
    config = spark.createDataFrame(
        [(4420, "21ab3d_gfs", k, v) for k, v in PROPS.items()],
        "instance_id long, uid string, key string, value string")
    assert ModelIngest(spark, catalog, str(harvest)).ingest_run(RUN_ID, config)["rows"] == 1

    stream = root / "stream"
    stream.mkdir()
    _write(stream / "noaa_stationdata_water_level_2024-01-01T13_00_00.csv",
           ["STATION,TIME,WATER_LEVEL", "ST_A,2024-01-01 11:00:00,1.5"])
    StreamingObsIngest(spark, catalog, str(stream), str(root / "checkpoint"),
                       source_variable="water_level").run_available()
    build_skipping(catalog, "gauge_data", range_cols=["time"])
    tables = dict(DECLARED)
    tables[zm_table("gauge_data")] = spark.createDataFrame([], ZONEMAP_SCHEMA).schema

    for table, declared in tables.items():
        assert catalog.exists(table), table
        parts = set(catalog.partition_columns(table))
        on_disk = {f.name: f.dataType for f in spark.read.parquet(catalog.path(table)).schema
                   if f.name not in parts}
        assert on_disk == {f.name: f.dataType for f in declared.fields}, table
