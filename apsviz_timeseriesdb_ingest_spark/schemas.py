"""Explicit StructTypes for every table (SURVEY.md section 1.3).

Column lists mirror the reference's COPY statements (cites inline). All
event-time columns are TIMESTAMP_NTZ: harvest timestamps are naive wall
clock (``YYYY-MM-DD HH:MM:SS`` strings), and NTZ keeps semantics identical
on any cluster timezone.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


S = StringType()
D = DoubleType()
L = LongType()
T = TimestampNTZType()
B = BooleanType()

#: drf_gauge_station — run/ingestObsTasks.py:147
GAUGE_STATION = StructType([
    _f("station_id", L), _f("station_name", S), _f("lat", D), _f("lon", D),
    _f("tz", S), _f("gauge_owner", S), _f("location_name", S),
    _f("location_type", S), _f("country", S), _f("state", S), _f("county", S),
    _f("geom", S),
])

#: station geometry CSV (headerless) — stations/geom_*_meta.csv, FIXTURES.md section 1
STATION_CSV = StructType([
    _f("station_name", S), _f("lat", D), _f("lon", D), _f("tz", S),
    _f("gauge_owner", S), _f("location_name", S), _f("location_type", S),
    _f("country", S), _f("state", S), _f("county", S), _f("geom", S),
])

#: drf_gauge_source — run/ingestObsTasks.py:191
GAUGE_SOURCE = StructType([
    _f("source_id", L), _f("station_id", L), _f("data_source", S),
    _f("source_name", S), _f("source_archive", S), _f("units", S),
])

#: measure columns of drf_gauge_data (wide, sparse) — run/ingestObsTasks.py:494-521
OBS_MEASURES = ("water_level", "wave_height", "wind_speed", "air_pressure",
                "stream_elevation", "flow_volume")

#: drf_gauge_data — run/ingestObsTasks.py:385-386 (dynamic measure column)
GAUGE_DATA = StructType(
    [_f("source_id", L), _f("timemark", T), _f("time", T)]
    + [_f(m, D) for m in OBS_MEASURES]
)

#: drf_source_obs_meta — run/ingestObsTasks.py:102-107; seed run/source_obs_meta.csv
SOURCE_OBS_META = StructType([
    _f("data_source", S), _f("source_name", S), _f("source_archive", S),
    _f("source_variable", S), _f("filename_prefix", S), _f("location_type", S),
    _f("units", S),
])

#: drf_harvest_obs_file_meta (ingest ledger) — run/ingestObsTasks.py:280
HARVEST_OBS_FILE_META = StructType([
    _f("dir_path", S), _f("file_name", S), _f("processing_datetime", T),
    _f("data_date_time", T), _f("data_begin_time", T), _f("data_end_time", T),
    _f("data_source", S), _f("source_name", S), _f("source_archive", S),
    _f("source_variable", S), _f("location_type", S), _f("timemark", T),
    _f("ingested", B), _f("overlap_past_file_date_time", B),
])

#: streaming obs ingest's audit ledger, one row per file (streaming/stream_ingest.py)
STREAM_OBS_LEDGER = StructType([
    _f("file_name", S), _f("source_variable", S), _f("data_begin_time", T),
    _f("data_end_time", T), _f("timemark", T), _f("processing_datetime", T),
    _f("ingested", B),
])

#: drf_source_model_meta — run/ingestModelTasks.py:165-166
SOURCE_MODEL_META = StructType([
    _f("data_source", S), _f("source_name", S), _f("source_archive", S),
    _f("source_variable", S), _f("source_instance", S), _f("forcing_metclass", S),
    _f("filename_prefix", S), _f("location_type", S), _f("units", S),
])

#: drf_model_source — run/ingestModelTasks.py:208
MODEL_SOURCE = StructType([
    _f("source_id", L), _f("station_id", L), _f("data_source", S),
    _f("source_name", S), _f("source_archive", S), _f("source_instance", S),
    _f("forcing_metclass", S), _f("units", S),
])

#: drf_model_data — run/ingestModelTasks.py:363 (+ wave_height in view :476-483)
MODEL_DATA = StructType([
    _f("source_id", L), _f("timemark", T), _f("time", T),
    _f("water_level", D), _f("wave_height", D),
])

#: drf_harvest_model_file_meta — run/ingestModelTasks.py:251
HARVEST_MODEL_FILE_META = StructType([
    _f("dir_path", S), _f("file_name", S), _f("model_run_id", S),
    _f("processing_datetime", T), _f("data_date_time", T),
    _f("data_begin_time", T), _f("data_end_time", T), _f("data_source", S),
    _f("source_name", S), _f("source_archive", S), _f("source_instance", S),
    _f("forcing_metclass", S), _f("advisory", S), _f("timemark", T),
    _f("ingested", B), _f("overlap_past_file_date_time", B),
])

#: drf_retain_obs_station_file_meta — run/ingestObsTasks.py:322
RETAIN_OBS_STATION_FILE_META = StructType([
    _f("dir_path", S), _f("file_name", S), _f("data_source", S),
    _f("source_name", S), _f("source_archive", S), _f("location_type", S),
    _f("timemark", T), _f("begin_date", T), _f("end_date", T), _f("ingested", B),
])

#: drf_apsviz_station_file_meta — run/ingestModelTasks.py:295
APSVIZ_STATION_FILE_META = StructType([
    _f("dir_path", S), _f("file_name", S), _f("data_date_time", T),
    _f("data_source", S), _f("source_name", S), _f("source_archive", S),
    _f("source_instance", S), _f("forcing_metclass", S), _f("grid_name", S),
    _f("model_run_id", S), _f("timemark", T), _f("location_type", S),
    _f("csvurl", S), _f("ingested", B),
])

#: drf_apsviz_station — run/ingestModelTasks.py:433
APSVIZ_STATION = StructType([
    _f("station_name", S), _f("lat", D), _f("lon", D), _f("tz", S),
    _f("gauge_owner", S), _f("location_name", S), _f("country", S),
    _f("state", S), _f("county", S), _f("geom", S), _f("timemark", T),
    _f("model_run_id", S), _f("data_source", S), _f("source_name", S),
    _f("source_archive", S), _f("source_instance", S), _f("forcing_metclass", S),
    _f("location_type", S), _f("grid_name", S), _f("csvurl", S),
])

#: drf_retain_obs_station — run/ingestObsTasks.py:452
RETAIN_OBS_STATION = StructType([
    _f("station_name", S), _f("lat", D), _f("lon", D), _f("location_name", S),
    _f("tz", S), _f("gauge_owner", S), _f("country", S), _f("state", S),
    _f("county", S), _f("geom", S), _f("timemark", T), _f("begin_date", T),
    _f("end_date", T), _f("data_source", S), _f("source_name", S),
    _f("source_archive", S), _f("location_type", S),
])

#: external config_item (asgs_dashboard) — scripts/get_adcirc_run_property_variables.sql:11-19
CONFIG_ITEM = StructType([
    _f("instance_id", L), _f("uid", S), _f("key", S), _f("value", S),
])

#: the 13 run-property keys pivoted by X5 — scripts/get_adcirc_run_property_variables.sql:18
RUN_PROPERTY_KEYS = (
    "suite.model", "ADCIRCgrid", "advisory", "forcing.ensemblename",
    "forcing.metclass", "instancename", "storm", "stormname", "stormnumber",
    "physical_location", "time.currentdate", "time.currentcycle", "workflow_type",
)
