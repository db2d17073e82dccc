"""Dashboard reads planned on the driver (``plans/read_api.py``): X1-X4
and the as-of read resolve their station's sources from the catalog's
cached dimension rows instead of joining the dimension tables.

Contracts: the same rows as the join formulation (``obs_view`` /
``model_view`` plus the same filters), with and without a ``time`` zone
map; the cached rows follow every writer, another ``Catalog`` included;
and warm reads stay within their Spark-job budgets."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.plans import read_api
from apsviz_timeseriesdb_ingest_spark.plans.read_api import (
    get_forecast_timeseries_station_data,
    get_model_vs_obs_asof,
    get_nowcast_timeseries_station_data,
    get_obs_timeseries_station_data,
    get_obs_timeseries_station_data_allparms,
    to_json_array,
)
from apsviz_timeseriesdb_ingest_spark.schemas import (
    GAUGE_DATA,
    GAUGE_SOURCE,
    GAUGE_STATION,
    MODEL_DATA,
    MODEL_SOURCE,
)
from apsviz_timeseriesdb_ingest_spark.session import local_frame
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog, time_bucket
from apsviz_timeseriesdb_ingest_spark.sources.skipping import build_skipping, zm_table
from apsviz_timeseriesdb_ingest_spark.sources.zonemap import ZONEMAP_SCHEMA

NOWCAST_SOURCE = "nowcast.src"
FORECAST, NOWCAST = "GFSFORECAST_G", "NOWCAST_G"
T0 = dt.datetime(2024, 1, 30)
TM1, TM2 = dt.datetime(2024, 1, 31, 18), dt.datetime(2024, 2, 1, 6)
WINDOW = ("2024-01-31 00:00:00", "2024-02-01 12:00:00")

#: (source_id, station_id, data_source, measure, cadence in minutes);
#: the station with a NULL name owns source 30, and ``mystery``, in no
#: category list, alone reports off the hour
OBS_SOURCES = [
    (10, 1, "tidal_gauge", "water_level", 60),
    (11, 1, "tidal_predictions", "water_level", 120),
    (12, 1, "ocean_buoy", "wave_height", 180),
    (13, 1, NOWCAST_SOURCE, "water_level", 120),
    (14, 1, "mystery", "water_level", 90),
    (15, 1, "air_barometer", "air_pressure", 240),
    (20, 2, "tidal_gauge", "water_level", 60),
    (30, 3, "tidal_gauge", "water_level", 60),
]


def _station(i, name):
    return (i, name, 34.0 + i, -77.0, "gmt", "NOAA", f"loc{i}", "tidal",
            "us", "nc", "NH", f"g{i}")


def _obs_rows(source_id, measure, cadence, hours, shift=0.0):
    m = list(GAUGE_DATA.fieldNames())[3:]
    return [(source_id, T0, T0 + dt.timedelta(minutes=k),
             *[source_id + k / 6000 + shift if c == measure else None for c in m])
            for k in range(0, 60 * hours, cadence)]


def _model_rows(source_id, timemark):
    return [(source_id, timemark, timemark + dt.timedelta(hours=h),
             source_id + h / 100 + timemark.hour, None) for h in range(12)]


def _merge_obs(catalog, rows):
    catalog.merge_keep_latest("gauge_data", local_frame(catalog.spark, rows, GAUGE_DATA),
                              keys=["source_id", "time"], order_by=["timemark"])


def _append_facts(catalog, table, rows, schema):
    catalog.append(local_frame(catalog.spark, rows, schema).withColumn(
        "time_bucket", time_bucket()), table, partition_by=["time_bucket"])


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """Three stations (one with a NULL name), obs sources in five
    categories plus the parameterized nowcast source and an
    uncategorized one, and model data for 2 data_sources x 2 instances
    x 2 timemarks, spanning a month boundary."""
    wh = str(tmp_path_factory.mktemp("readplan") / "wh")
    catalog = Catalog(spark, wh)
    catalog.overwrite(local_frame(spark, [_station(1, "ST_A"), _station(2, "ST_B"),
                                          _station(3, None)], GAUGE_STATION),
                      "gauge_station")
    catalog.overwrite(local_frame(spark, [(s, st, ds, "src", "arch", "m")
                                          for s, st, ds, _, _ in OBS_SOURCES],
                                  GAUGE_SOURCE), "gauge_source")
    _append_facts(catalog, "gauge_data", [r for s, _, _, m, c in OBS_SOURCES
                                          for r in _obs_rows(s, m, c, 72)], GAUGE_DATA)
    model_sources, model_rows = [], []
    for i, (ds, inst) in enumerate([(d, n) for d in (FORECAST, NOWCAST)
                                    for n in ("i1", "i2")]):
        for station in (1, 2):
            sid = 100 + 10 * station + i
            model_sources.append((sid, station, ds, "adcirc", "renci", inst,
                                  "synoptic", "m"))
            model_rows += _model_rows(sid, TM1) + _model_rows(sid, TM2)
    catalog.overwrite(local_frame(spark, model_sources, MODEL_SOURCE), "model_source")
    _append_facts(catalog, "model_data", model_rows, MODEL_DATA)
    return wh


# -- the join formulation the reads replace ---------------------------------

def _joined(view, station, start, end):
    return (read_api._time_range(view, start, end)
            .filter(F.col("station_name") == station))


def _join_x1(catalog, station, start, end):
    return read_api._pivot_timeseries(
        _joined(read_api.obs_view(catalog, time_range=(start, end)), station, start, end),
        F.coalesce("water_level", "wave_height"), read_api.OBS_CATEGORIES)


def _join_x2(catalog, station, start, end, nowcast):
    cats = dict(read_api.ALLPARMS_PRE)
    cats[nowcast] = nowcast.replace(".", "")
    cats.update(read_api.ALLPARMS_POST)
    value = F.coalesce("water_level", "stream_elevation", "wave_height",
                       "wind_speed", "air_pressure", "flow_volume")
    return read_api._pivot_timeseries(
        _joined(read_api.obs_view(catalog, time_range=(start, end)), station, start, end),
        value, cats)


def _join_model(catalog, station, start, end, ds, inst, timemark=None):
    joined = _joined(read_api.model_view(catalog, time_range=(start, end)),
                     station, start, end).filter(
        (F.col("data_source") == ds) & (F.col("source_instance") == inst))
    if timemark is not None:
        joined = joined.filter(F.col("timemark") == F.lit(timemark).cast("timestamp_ntz"))
    return read_api._pivot_timeseries(joined, F.coalesce("water_level"),
                                      {ds: ds.replace(".", "")})


def _join_asof(catalog, station, start, end):
    from apsviz_timeseriesdb_ingest_spark.operators.asof import asof_join

    model = (_joined(read_api.model_view(catalog, time_range=(start, end)),
                     station, start, end)
             .select("station_name", "data_source", "time",
                     F.col("water_level").alias("model_water_level")))
    obs = (_joined(read_api.obs_view(catalog, time_range=(start, end)),
                   station, start, end)
           .select("station_name", "time", "water_level"))
    return asof_join(model, obs, on=["station_name"], left_ts="time",
                     right_ts="time", value_cols=["water_level"],
                     tolerance="'1' HOUR")


def _cases():
    """(read, its join formulation, args) per read: a window across the
    month boundary, X3 pinned to one of two timemarks, and the as-of read
    as the last case."""
    x3 = lambda c, s, tm, e, ds, i: _join_model(c, s, tm, e, ds, i, tm)  # noqa: E731
    return [
        (get_obs_timeseries_station_data, _join_x1, ("ST_A", *WINDOW)),
        (get_obs_timeseries_station_data_allparms, _join_x2,
         ("ST_A", *WINDOW, NOWCAST_SOURCE)),
        (get_forecast_timeseries_station_data, x3,
         ("ST_B", "2024-01-31 18:00:00", "2024-02-01 23:00:00", FORECAST, "i2")),
        (get_nowcast_timeseries_station_data, _join_model,
         ("ST_A", *WINDOW, NOWCAST, "i2")),
        (get_model_vs_obs_asof, _join_asof, ("ST_A", *WINDOW)),
    ]


def _payload(read, catalog, args):
    if read is get_model_vs_obs_asof or read is _join_asof:
        return sorted(map(tuple, read(catalog, *args).collect()))
    return json.loads(to_json_array(read(catalog, *args)))


@pytest.mark.parametrize("zonemap", [False, True])
def test_reads_match_join_formulation(spark, warehouse, zonemap):
    catalog = Catalog(spark, warehouse)
    for table in ("gauge_data", "model_data"):
        if zonemap:
            build_skipping(catalog, table, range_cols=["time"])
        else:
            catalog.drop(zm_table(table))
    payloads = []
    for read, join, args in _cases():
        payloads.append(_payload(read, catalog, args))
        assert payloads[-1] and payloads[-1] == _payload(join, catalog, args), \
            read.__name__
    # the uncategorized source still gives X1 its time rows, as the
    # crosstab's GROUP BY does
    assert any(r["time_stamp"].endswith(":30:00") for r in payloads[0])
    if zonemap:
        return
    # an unknown station and a NULL name match no station, as SQL = does,
    # though one station's name is NULL
    assert _payload(_join_x1, catalog, (None, *WINDOW)) == []
    for station in ("NOPE", None):
        for read, _, args in _cases()[::2]:
            assert _payload(read, catalog, (station, *args[1:])) == [], read.__name__


# -- the cached rows follow every writer --------------------------------------

def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cached_rows_follow_another_catalog(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    catalog.overwrite(local_frame(spark, [_station(1, "ST_A")], GAUGE_STATION),
                      "gauge_station")
    catalog.overwrite(local_frame(spark, [(10, 1, "tidal_gauge", "s", "a", "m")],
                                  GAUGE_SOURCE), "gauge_source")
    _merge_obs(catalog, _obs_rows(10, "water_level", 60, 48))
    build_skipping(catalog, "gauge_data", range_cols=["time"])

    def x1():
        return json.loads(to_json_array(get_obs_timeseries_station_data(
            catalog, "ST_A", *WINDOW)))

    before = x1()
    assert before and all(r["coastal_gauge_water_level"] is None for r in before)

    other = Catalog(spark, str(tmp_path / "wh"))
    other.append(local_frame(spark, [(11, 1, "coastal_gauge", "s", "a", "m")],
                             GAUGE_SOURCE), "gauge_source")
    _merge_obs(other, _obs_rows(11, "water_level", 60, 48, shift=7.0))
    after = x1()
    assert [r["time_stamp"] for r in after] == [r["time_stamp"] for r in before]
    assert all(r["coastal_gauge_water_level"] is not None for r in after)

    # after the merge's refresh and an append, the cached sidecar rows
    # are the table's rows
    zm = zm_table("gauge_data")
    for cat in (other, catalog):
        assert set(cat.rows(zm, ZONEMAP_SCHEMA)) == set(cat.read(zm).collect())
    # a second file in the month, outside the read's window
    _append_facts(other, "gauge_data", _obs_rows(11, "water_level", 60, 1, shift=9.0),
                  GAUGE_DATA)
    for cat in (other, catalog):
        assert set(cat.rows(zm, ZONEMAP_SCHEMA)) == set(cat.read(zm).collect())
    assert x1() == after


# -- job budgets ----------------------------------------------------------------

#: a warm pivot read: the scan, pivot, sort and collect in one partition
PIVOT_READ_JOB_BUDGET = 1
#: a warm as-of read: the union's map stage for the window exchange,
#: and the window with the collect
ASOF_READ_JOB_BUDGET = 2
#: a zone-map refresh against the cached sidecar: footers and the
#: sidecar rewrite are read and written on the driver
CACHED_REFRESH_JOB_BUDGET = 0


def test_warm_read_job_budgets(spark, warehouse):
    catalog = Catalog(spark, warehouse)
    for table in ("gauge_data", "model_data"):
        build_skipping(catalog, table, range_cols=["time"])
    for read, _, args in _cases():
        _payload(read, catalog, args)  # warms the dimension rows
        _, jobs = _jobs(spark, f"warm-{read.__name__}",
                        lambda: _payload(read, catalog, args))
        budget = (ASOF_READ_JOB_BUDGET if read is get_model_vs_obs_asof
                  else PIVOT_READ_JOB_BUDGET)
        assert jobs <= budget, (read.__name__, jobs)


def test_cached_refresh_job_budget(spark, tmp_path):
    """A refresh after a write that bypassed the hook reads the sidecar
    from the catalog's copy and only writes it."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    _merge_obs(catalog, _obs_rows(10, "water_level", 60, 48))
    build_skipping(catalog, "gauge_data", range_cols=["time"])
    late = local_frame(spark, _obs_rows(10, "water_level", 60, 3, shift=1.0), GAUGE_DATA)
    catalog.append(late.withColumn("time_bucket", time_bucket()), "gauge_data",
                   partition_by=["time_bucket"], refresh_skipping=False)
    out, jobs = _jobs(spark, "cached-zm-refresh",
                      lambda: catalog.refresh_skipping("gauge_data"))
    assert jobs <= CACHED_REFRESH_JOB_BUDGET, jobs
    zm = zm_table("gauge_data")
    assert out[zm] == len({r.file for r in catalog.read(zm).collect()})
    assert set(catalog.rows(zm, ZONEMAP_SCHEMA)) == set(catalog.read(zm).collect())
