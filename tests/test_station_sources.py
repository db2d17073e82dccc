"""One station ↔ source pairing (``plans/bootstrap.station_sources``):
batch and stream obs ingest, model ingest and the dashboard reads all
resolve ``source_id`` through it, from the catalog's cached dimension
rows.

One fixture carries the awkward dimension rows: a station name on two
rows (one of them an exact duplicate), a station with a NULL name, a
source whose ``station_id`` has no station row, and harvest rows for an
unknown station and with no station. On it, every path must give what
the Spark join formulation (``source ⋈ gauge_station``) gives."""

from __future__ import annotations

import json
import shutil
from functools import reduce
from operator import and_

import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.plans import obs_ingest
from apsviz_timeseriesdb_ingest_spark.plans.model_ingest import ModelIngest, derive_source
from apsviz_timeseriesdb_ingest_spark.plans.obs_ingest import ObsIngest
from apsviz_timeseriesdb_ingest_spark.plans.read_api import (
    get_forecast_timeseries_station_data,
    get_obs_timeseries_station_data,
    to_json_array,
)
from apsviz_timeseriesdb_ingest_spark.schemas import (
    GAUGE_SOURCE,
    GAUGE_STATION,
    SOURCE_OBS_META,
)
from apsviz_timeseriesdb_ingest_spark.session import local_frame
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.sources.harvest_csv import read_harvest_csv
from apsviz_timeseriesdb_ingest_spark.streaming import StreamingObsIngest

from .test_model_pipeline import PROPS, RUN_ID
from .test_read_plan import _join_model, _join_x1

WL = "noaa_stationdata_water_level"
WINDOW = ("2024-01-01 00:00:00", "2024-01-01 23:00:00")
TIMEMARK = "2024-01-01 12:00:00"


def _station(i, name):
    return (i, name, 34.0 + i, -77.0, "gmt", "NOAA", f"loc{i}", "tidal",
            "us", "nc", "NH", f"g{i}")


#: ST_A twice with id 1 (an exact duplicate) and once with id 5; id 3
#: has no name; source 90's station 9 has no station row
STATIONS = [_station(1, "ST_A"), _station(1, "ST_A"), _station(5, "ST_A"),
            _station(2, "ST_B"), _station(3, None)]
SOURCES = [(sid, st, "tidal_gauge", "noaa", "noaa", "m")
           for sid, st in ((10, 1), (50, 5), (20, 2), (30, 3), (90, 9))]


def _write(path, lines):
    path.write_text("\n".join(lines) + "\n")


def _join_source_id(rows, catalog, how="inner"):
    """The Spark join formulation of ``obs_ingest.join_source_id``."""
    stations = catalog.read("gauge_station", GAUGE_STATION).select("station_id",
                                                                    "station_name")
    lookup = (catalog.read("gauge_source", GAUGE_SOURCE).join(stations, "station_id")
              .select("station_name", "data_source", "source_name", "source_archive",
                      "source_id"))
    return rows.join(F.broadcast(lookup),
                     ["station_name", "data_source", "source_name", "source_archive"], how)


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stationsources")
    catalog = Catalog(spark, str(root / "wh"))
    catalog.overwrite(local_frame(spark, STATIONS, GAUGE_STATION), "gauge_station")
    catalog.overwrite(local_frame(spark, SOURCES, GAUGE_SOURCE), "gauge_source")
    catalog.overwrite(local_frame(spark, [("tidal_gauge", "noaa", "noaa", "water_level",
                                           WL, "tidal", "m")], SOURCE_OBS_META),
                      "source_obs_meta")
    harvest = root / "harvest"
    harvest.mkdir()
    _write(harvest / f"{WL}_2024-01-01T04_00_00.csv", [
        "STATION,TIME,WATER_LEVEL",
        "ST_A,2024-01-01 01:00:00,1.1", "ST_A,2024-01-01 02:00:00,1.2",
        "ST_B,2024-01-01 01:00:00,2.1",
        "ST_X,2024-01-01 00:30:00,9.9",      # unknown station
        ",2024-01-01 03:00:00,8.8"])         # no station
    _write(harvest / f"{WL}_2024-01-01T06_00_00.csv", [
        "STATION,TIME,WATER_LEVEL",
        "ST_A,2024-01-01 02:00:00,3.2", "ST_X,2024-01-01 05:00:00,9.5"])
    run_dir = root / "model" / RUN_ID
    run_dir.mkdir(parents=True)
    _write(run_dir / "FORECAST_NOAASTATIONS.csv", [
        "STATION,TIME,WATER_LEVEL",
        "ST_A,2024-01-01 12:00:00,0.5", "ST_A,2024-01-01 13:00:00,0.6",
        "ST_B,2024-01-01 12:00:00,0.7", "ST_X,2024-01-01 12:00:00,0.8",
        ",2024-01-01 13:00:00,0.9"])
    for name in ("join", "stream"):
        shutil.copytree(root / "wh", root / f"wh_{name}")
    config = spark.createDataFrame([(4420, "21ab3d_gfs", k, v) for k, v in PROPS.items()],
                                   "instance_id long, uid string, key string, value string")
    return {"root": root, "catalog": catalog, "harvest": str(harvest),
            "model": str(root / "model"), "config": config}


def test_station_sources_equals_the_join(spark, env):
    from apsviz_timeseriesdb_ingest_spark.plans.bootstrap import station_sources

    catalog = env["catalog"]
    ModelIngest(spark, catalog, env["model"])._register_source(
        derive_source(PROPS, "FORECAST", "NOAASTATIONS"))
    station = catalog.read("gauge_station").select("station_id", "station_name")
    for dim in ("gauge_source", "model_source"):
        joined = sorted((r.station_name or "", r.source_id) for r in
                        catalog.read(dim).join(station, "station_id").collect())
        pairs = sorted((name or "", r.source_id) for name, r in station_sources(catalog, dim))
        assert pairs == joined, dim
    # the duplicate station row doubles its sources' pairs; source 90 has none
    assert [p for p in pairs if p[0] == ""] and 90 not in {s for _, s in pairs}


def _rows(catalog, table, *cols):
    return sorted(map(tuple, catalog.read(table).select(*cols).collect()), key=repr)


def test_every_path_equals_the_join_formulation(spark, env, monkeypatch, parallelize_calls):
    root, catalog = env["root"], env["catalog"]
    ObsIngest(spark, catalog, env["harvest"]).run_sequence_ingest()
    with monkeypatch.context() as m:
        m.setattr(obs_ingest, "join_source_id", _join_source_id)
        ObsIngest(spark, Catalog(spark, str(root / "wh_join")),
                  env["harvest"]).run_sequence_ingest()
    joined = Catalog(spark, str(root / "wh_join"))
    data = _rows(catalog, "gauge_data", "source_id", "timemark", "time", "water_level")
    assert data == _rows(joined, "gauge_data", "source_id", "timemark", "time",
                         "water_level")
    # ST_A's two station ids each get the newer file's 02:00 value
    assert {(r[0], r[3]) for r in data if r[2].hour == 2} == {(10, 3.2), (50, 3.2)}
    # the unknown station's and the nameless rows count in the windows
    windows = ("file_name", "data_begin_time", "data_end_time", "ingested")
    assert _rows(catalog, "harvest_obs_file_meta", *windows) == \
        _rows(joined, "harvest_obs_file_meta", *windows)
    assert {r[1].hour for r in _rows(catalog, "harvest_obs_file_meta", *windows)} == {0, 2}

    # the stream resolves sources through the same function, with no
    # Python-RDD frame
    stream_cat = Catalog(spark, str(root / "wh_stream"))
    parallelize_calls.clear()
    StreamingObsIngest(spark, stream_cat, env["harvest"], str(root / "ckpt"),
                       source_variable="water_level").run_available()
    assert len(parallelize_calls) == 0, parallelize_calls
    assert _rows(stream_cat, "gauge_data", "source_id", "timemark", "time",
                 "water_level") == data

    # model ingest: the model_source ⋈ gauge_station join on the file's
    # source keys
    ModelIngest(spark, catalog, env["model"]).ingest_run(RUN_ID, env["config"])
    src = derive_source(PROPS, "FORECAST", "NOAASTATIONS")
    keys = ["data_source", "source_name", "source_archive", "source_instance",
            "forcing_metclass"]
    lookup = (catalog.read("model_source")
              .filter(reduce(and_, [F.col(k) == src[k] for k in keys]))
              .join(catalog.read("gauge_station").select("station_id", "station_name"),
                    "station_id"))
    path = str(env["root"] / "model" / RUN_ID / "FORECAST_NOAASTATIONS.csv")
    want = (read_harvest_csv(spark, [path], "water_level").filter(F.col("time").isNotNull())
            .join(lookup, "station_name").select("source_id", "time", "water_level")
            .distinct())
    got = _rows(catalog, "model_data", "source_id", "time", "water_level")
    assert got == sorted(map(tuple, want.collect()), key=repr) and got

    # X1 and X3 payloads, the NULL and unknown names included
    for station in ("ST_A", "ST_B", None, "ST_X"):
        x1 = json.loads(to_json_array(get_obs_timeseries_station_data(
            catalog, station, *WINDOW)))
        assert x1 == json.loads(to_json_array(_join_x1(catalog, station, *WINDOW))), station
        args = (station, TIMEMARK, WINDOW[1], src["data_source"], src["source_instance"])
        x3 = json.loads(to_json_array(get_forecast_timeseries_station_data(catalog, *args)))
        assert x3 == json.loads(to_json_array(_join_model(catalog, *args, TIMEMARK))), station
        assert bool(x1) == bool(x3) == (station in ("ST_A", "ST_B")), station
