"""Golden end-to-end tests for the obs ingest pipeline (SURVEY section 5.2-5.4).

Synthetic harvest CSVs per FIXTURES.md: two consecutive files per source
with overlapping TIME windows and conflicting values exercise keep-latest
dedup; reruns exercise ledger idempotence; the pivot golden checks X1
category layout + JSON shape. Dedup expectation is recomputed
independently in DuckDB.
"""

from __future__ import annotations

import json
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.plans.bootstrap import bootstrap
from apsviz_timeseriesdb_ingest_spark.plans.obs_ingest import ObsIngest
from apsviz_timeseriesdb_ingest_spark.plans.read_api import (
    get_obs_timeseries_station_data,
    to_json_array,
)
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

STATIONS = [
    # station_name,lat,lon,tz,owner,location_name,location_type,country,state,county,geom
    ("ST_A", 34.1, -77.1, "gmt", "NOAA/NOS", "Alpha", "tidal", "us", "nc", "New Hanover", "0101A"),
    ("ST_B", 34.2, -77.2, "gmt", "NOAA/NOS", "Beta", "tidal", "us", "nc", "Brunswick", "0101B"),
    ("ST_C", 34.3, -77.3, "gmt", "NCEM", "Gamma", "coastal", "us", "nc", "Carteret", "0101C"),
]

SOURCE_META_HEADER = ("data_source,source_name,source_archive,source_variable,"
                     "filename_prefix,location_type,units")
SOURCE_META_ROWS = [
    "tidal_gauge,noaa,noaa,water_level,noaa_stationdata_water_level,tidal,m",
    "coastal_gauge,ncem,contrails,water_level,contrails_stationdata_water_level,coastal,m",
]


def _write(path: str, lines: list[str]) -> str:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("obsenv")
    harvest = root / "harvest"
    harvest.mkdir()
    stations_csv = _write(str(root / "stations.csv"),
                          [",".join(map(str, r)) for r in STATIONS])
    meta_csv = _write(str(root / "source_obs_meta.csv"),
                      [SOURCE_META_HEADER, *SOURCE_META_ROWS])
    catalog = Catalog(spark, str(root / "warehouse"))
    bootstrap(spark, catalog, station_csvs=[stations_csv], source_meta_csv=meta_csv)
    return {"root": root, "harvest": str(harvest), "catalog": catalog}


def _harvest_file(harvest_dir: str, prefix: str, stamp: str, rows: list[tuple]) -> str:
    name = f"{prefix}_{stamp}.csv"
    return _write(os.path.join(harvest_dir, name),
                  ["STATION,TIME,WATER_LEVEL",
                   *[f"{s},{t},{v}" if v is not None else f"{s},{t}," for s, t, v in rows]])


FILE1 = [  # 00:00-02:00
    ("ST_A", "2024-01-01 00:00:00", 1.0),
    ("ST_A", "2024-01-01 01:00:00", 1.1),
    ("ST_A", "2024-01-01 02:00:00", 1.2),
    ("ST_B", "2024-01-01 00:00:00", 2.0),
    ("ST_B", "2024-01-01 01:00:00", None),
]
FILE2 = [  # 01:00-04:00, overlaps 01:00/02:00 with NEW values
    ("ST_A", "2024-01-01 01:00:00", 9.1),
    ("ST_A", "2024-01-01 02:00:00", 9.2),
    ("ST_A", "2024-01-01 03:00:00", 9.3),
    ("ST_A", "2024-01-01 04:00:00", 9.4),
    ("ST_B", "2024-01-01 01:00:00", 8.1),
]


def test_bootstrap_dims(env):
    cat = env["catalog"]
    stations = cat.read("gauge_station")
    assert stations.count() == 3
    assert stations.filter(F.col("station_id").isNull()).count() == 0
    src = cat.read("gauge_source")
    # 2 tidal stations x 1 tidal source + 1 coastal x 1 coastal source
    assert src.count() == 3
    assert src.select("source_id").distinct().count() == 3


def test_first_ingest(env, spark):
    _harvest_file(env["harvest"], "noaa_stationdata_water_level",
                  "2024-01-01T02:00:00", FILE1)
    pipe = ObsIngest(spark, env["catalog"], env["harvest"])
    out = pipe.run_sequence_ingest()
    assert out == {"discovered": 1, "ingested": 1, "station_meta": 0}
    data = pipe.gauge_data()
    assert data.count() == 5
    # ledger flipped
    ledger = env["catalog"].read("harvest_obs_file_meta")
    assert ledger.filter(~F.col("ingested")).count() == 0
    row = ledger.first()
    assert str(row.data_begin_time) == "2024-01-01 00:00:00"
    assert str(row.data_end_time) == "2024-01-01 01:00:00" or str(row.data_end_time) == "2024-01-01 02:00:00"


def test_overlap_keep_latest(env, spark):
    _harvest_file(env["harvest"], "noaa_stationdata_water_level",
                  "2024-01-01T04:00:00", FILE2)
    pipe = ObsIngest(spark, env["catalog"], env["harvest"])
    out = pipe.run_sequence_ingest()
    assert out == {"discovered": 1, "ingested": 1, "station_meta": 0}

    got = {(r.src, str(r.time)): r.water_level
           for r in (pipe.gauge_data()
                     .join(env["catalog"].read("gauge_source").select("source_id", "station_id"),
                           "source_id")
                     .join(env["catalog"].read("gauge_station").select("station_id", "station_name"),
                           "station_id")
                     .select(F.col("station_name").alias("src"), "time", "water_level")
                     .collect())}

    # independent recomputation in DuckDB: newest timemark wins per (station, time)
    con = duckdb.connect()
    expected = con.sql(f"""
        WITH all_rows AS (
            SELECT station AS s, "TIME" AS t, water_level AS v, TIMESTAMP '2024-01-01 02:00:00' AS tm
            FROM read_csv('{env["harvest"]}/noaa_stationdata_water_level_2024-01-01T02:00:00.csv', header=true)
            UNION ALL
            SELECT station, "TIME", water_level, TIMESTAMP '2024-01-01 04:00:00'
            FROM read_csv('{env["harvest"]}/noaa_stationdata_water_level_2024-01-01T04:00:00.csv', header=true)
        )
        SELECT s, CAST(t AS VARCHAR) AS t, v FROM all_rows
        QUALIFY row_number() OVER (PARTITION BY s, t ORDER BY tm DESC) = 1
    """).fetchall()
    exp = {(s, t): v for s, t, v in expected}
    assert got == exp
    # spot-check the overlap semantics explicitly
    assert got[("ST_A", "2024-01-01 01:00:00")] == 9.1
    assert got[("ST_A", "2024-01-01 02:00:00")] == 9.2
    assert got[("ST_A", "2024-01-01 00:00:00")] == 1.0


def test_idempotent_rerun(env, spark):
    pipe = ObsIngest(spark, env["catalog"], env["harvest"])
    before = sorted(map(tuple, pipe.gauge_data().collect()))
    out = pipe.run_sequence_ingest()
    assert out == {"discovered": 0, "ingested": 0, "station_meta": 0}
    after = sorted(map(tuple, pipe.gauge_data().collect()))
    assert before == after


def test_pivot_golden_x1(env):
    df = get_obs_timeseries_station_data(env["catalog"], "ST_A",
                                         "2024-01-01 00:00:00", "2024-01-01 04:00:00")
    assert df.columns == ["time_stamp", "ocean_buoy_wave_height",
                          "tidal_gauge_water_level", "tidal_predictions",
                          "coastal_gauge_water_level", "river_gauge_water_level"]
    payload = json.loads(to_json_array(df))
    assert [r["time_stamp"] for r in payload] == [
        "2024-01-01 00:00:00", "2024-01-01 01:00:00", "2024-01-01 02:00:00",
        "2024-01-01 03:00:00", "2024-01-01 04:00:00"]
    assert [r["tidal_gauge_water_level"] for r in payload] == [1.0, 9.1, 9.2, 9.3, 9.4]
    # non-participating categories present as nulls (crosstab parity)
    assert all(r["ocean_buoy_wave_height"] is None for r in payload)


def test_pivot_golden_x2_allparms(env):
    # X2: 9-category crosstab, COALESCE over all measures, parameterized
    # nowcast source whose label is dot-stripped (X6)
    from apsviz_timeseriesdb_ingest_spark.plans.read_api import (
        get_obs_timeseries_station_data_allparms,
    )

    df = get_obs_timeseries_station_data_allparms(
        env["catalog"], "ST_A", "2024-01-01 00:00:00", "2024-01-01 04:00:00",
        nowcast_source="noaa.nowcast")
    assert df.columns == [
        "time_stamp", "air_barometer", "noaanowcast",
        "ocean_buoy_wave_height", "tidal_gauge_water_level",
        "tidal_predictions", "coastal_gauge_water_level",
        "river_gauge_water_level", "stream_gauge_stream_elevation",
        "wind_anemometer"]
    payload = json.loads(to_json_array(df))
    assert [r["tidal_gauge_water_level"] for r in payload] == [1.0, 9.1, 9.2, 9.3, 9.4]
    assert all(r["noaanowcast"] is None for r in payload)


def test_x2_nowcast_category_collision(env):
    # the NOTES_r1 edge: a parameterized nowcast source that equals a
    # fixed category must not duplicate output columns (the fixed
    # category's label mapping wins)
    from apsviz_timeseriesdb_ingest_spark.plans.read_api import (
        get_obs_timeseries_station_data_allparms,
    )

    df = get_obs_timeseries_station_data_allparms(
        env["catalog"], "ST_A", "2024-01-01 00:00:00", "2024-01-01 04:00:00",
        nowcast_source="tidal_gauge")
    assert len(df.columns) == len(set(df.columns))
    assert df.columns.count("tidal_gauge_water_level") == 1
    payload = json.loads(to_json_array(df))
    assert [r["tidal_gauge_water_level"] for r in payload] == [1.0, 9.1, 9.2, 9.3, 9.4]


def test_time_range_accepts_non_padded_dates(env):
    # '2024-1-1' is valid input in the reference's Postgres date cast; the
    # derived partition-bucket bounds must prune to the same yyyy-MM
    # buckets instead of silently matching none
    df = get_obs_timeseries_station_data(env["catalog"], "ST_A",
                                         "2024-1-1 00:00:00", "2024-1-1 04:00:00")
    payload = json.loads(to_json_array(df))
    assert [r["tidal_gauge_water_level"] for r in payload] == [1.0, 9.1, 9.2, 9.3, 9.4]


def test_station_meta_snapshot(env, spark):
    # paired meta file (stationdata -> stationdata_meta naming) snapshots
    # the station list with the paired data file's TIME window (FILE2)
    _write(os.path.join(env["harvest"],
                        "noaa_stationdata_meta_water_level_2024-01-01T04:00:00.csv"),
           ["STATION,LAT,LON", "ST_A,34.1,-77.1", "ST_B,34.2,-77.2"])
    pipe = ObsIngest(spark, env["catalog"], env["harvest"])
    out = pipe.run_sequence_ingest()
    assert out["station_meta"] == 1
    retain = env["catalog"].read("retain_obs_station")
    assert retain.count() == 2
    assert {r.station_name for r in retain.collect()} == {"ST_A", "ST_B"}
    # idempotent
    assert pipe.run_sequence_ingest()["station_meta"] == 0


def test_station_meta_with_matching_prefix(env, spark, tmp_path_factory):
    # isolated env where the meta file matches the derived prefix exactly
    root = tmp_path_factory.mktemp("obsmeta")
    (root / "harvest").mkdir()
    _write(str(root / "stations.csv"),
           ["ST_A,34.1,-77.1,gmt,NOAA/NOS,Alpha,tidal,us,nc,NH,01A"])
    _write(str(root / "meta.csv"), [SOURCE_META_HEADER, SOURCE_META_ROWS[0]])
    catalog = Catalog(spark, str(root / "warehouse"))
    bootstrap(spark, catalog, station_csvs=[str(root / "stations.csv")],
              source_meta_csv=str(root / "meta.csv"))
    _write(str(root / "harvest" / "noaa_stationdata_water_level_2024-01-02T00:00:00.csv"),
           ["STATION,TIME,WATER_LEVEL", "ST_A,2024-01-01 20:00:00,1.0",
            "ST_A,2024-01-02 00:00:00,1.5"])
    _write(str(root / "harvest" / "noaa_stationdata_meta_water_level_2024-01-02T00:00:00.csv"),
           ["STATION,LAT,LON", "ST_A,34.1,-77.1"])
    pipe = ObsIngest(spark, catalog, str(root / "harvest"))
    out = pipe.run_sequence_ingest()
    assert out == {"discovered": 1, "ingested": 1, "station_meta": 1}
    retain = catalog.read("retain_obs_station")
    row = retain.first()
    assert row.station_name == "ST_A"
    assert str(row.begin_date) == "2024-01-01 20:00:00"
    assert str(row.end_date) == "2024-01-02 00:00:00"
    assert str(row.timemark) == "2024-01-02 00:00:00"
    # idempotent: ledger prevents re-snapshot
    assert pipe.run_sequence_ingest()["station_meta"] == 0


def test_station_meta_missing_or_empty_data_file(spark, tmp_path_factory):
    # a meta file whose paired data CSV is missing or empty is skipped
    # for the pass (and retried once the data arrives) instead of
    # aborting the whole sequence ingest
    root = tmp_path_factory.mktemp("obsmeta_guard")
    (root / "harvest").mkdir()
    _write(str(root / "stations.csv"),
           ["ST_A,34.1,-77.1,gmt,NOAA/NOS,Alpha,tidal,us,nc,NH,01A"])
    _write(str(root / "meta.csv"), [SOURCE_META_HEADER, SOURCE_META_ROWS[0]])
    catalog = Catalog(spark, str(root / "warehouse"))
    bootstrap(spark, catalog, station_csvs=[str(root / "stations.csv")],
              source_meta_csv=str(root / "meta.csv"))
    harvest = str(root / "harvest")
    # meta with NO paired data file at all
    _write(os.path.join(harvest,
                        "noaa_stationdata_meta_water_level_2024-01-02T00:00:00.csv"),
           ["STATION,LAT,LON", "ST_A,34.1,-77.1"])
    # meta whose paired data file is header-only (empty window)
    _write(os.path.join(harvest,
                        "noaa_stationdata_meta_water_level_2024-01-03T00:00:00.csv"),
           ["STATION,LAT,LON", "ST_A,34.1,-77.1"])
    _write(os.path.join(harvest,
                        "noaa_stationdata_water_level_2024-01-03T00:00:00.csv"),
           ["STATION,TIME,WATER_LEVEL"])
    pipe = ObsIngest(spark, catalog, harvest)
    out = pipe.run_sequence_ingest()  # must not raise
    assert out["station_meta"] == 0
    # the missing data file arrives -> the skipped meta file is picked up
    _write(os.path.join(harvest,
                        "noaa_stationdata_water_level_2024-01-02T00:00:00.csv"),
           ["STATION,TIME,WATER_LEVEL", "ST_A,2024-01-01 20:00:00,1.0"])
    out2 = pipe.run_sequence_ingest()
    assert out2["station_meta"] == 1
    retain = catalog.read("retain_obs_station")
    assert retain.count() == 1
    assert str(retain.first().begin_date) == "2024-01-01 20:00:00"


def test_cleanup_ingested(spark, tmp_path_factory):
    # M5: post-ingest cleanup removes exactly the ledger-flipped harvest
    # files (and staged symlinks); rerun is a no-op and exactly-once holds
    root = tmp_path_factory.mktemp("obscleanup")
    (root / "harvest").mkdir()
    _write(str(root / "stations.csv"),
           ["ST_A,34.1,-77.1,gmt,NOAA/NOS,Alpha,tidal,us,nc,NH,01A"])
    _write(str(root / "meta.csv"), [SOURCE_META_HEADER, SOURCE_META_ROWS[0]])
    catalog = Catalog(spark, str(root / "warehouse"))
    bootstrap(spark, catalog, station_csvs=[str(root / "stations.csv")],
              source_meta_csv=str(root / "meta.csv"))
    harvest = str(root / "harvest")
    data_path = _harvest_file(harvest, "noaa_stationdata_water_level",
                              "2024-01-01T02:00:00",
                              [("ST_A", "2024-01-01 00:00:00", 1.0)])
    meta_path = _write(os.path.join(
        harvest, "noaa_stationdata_meta_water_level_2024-01-01T02:00:00.csv"),
        ["STATION,LAT,LON", "ST_A,34.1,-77.1"])
    # header-only file: ledgered + flipped like the reference, but its
    # empty batch must not poison the fact table (merge guard)
    _write(os.path.join(
        harvest, "noaa_stationdata_water_level_2099-01-01T00:00:00.csv"),
        ["STATION,TIME,WATER_LEVEL"])

    pipe = ObsIngest(spark, catalog, harvest)
    out = pipe.run_sequence_ingest()
    assert out["ingested"] == 2 and out["station_meta"] == 1
    before = pipe.gauge_data().count()

    removed = pipe.cleanup_ingested()
    assert removed == 3  # both data files (2099 one ledgered too) + meta
    assert not os.path.exists(data_path) and not os.path.exists(meta_path)
    staged = os.path.join(harvest, ".staged")
    if os.path.isdir(staged):
        assert os.listdir(staged) == []
    # idempotent: second cleanup finds nothing, data intact
    assert pipe.cleanup_ingested() == 0
    assert pipe.gauge_data().count() == before
    assert pipe.run_sequence_ingest() == {"discovered": 0, "ingested": 0,
                                          "station_meta": 0}


def test_pivot_empty_range(env):
    df = get_obs_timeseries_station_data(env["catalog"], "ST_A",
                                         "2030-01-01 00:00:00", "2030-01-02 00:00:00")
    assert json.loads(to_json_array(df)) == []


def test_malformed_harvest_rows_degrade_gracefully(spark, tmp_path_factory):
    # The reference's pandas read aborts the subprocess on a malformed
    # CSV; the declared-schema Spark read (PERMISSIVE) nulls unparseable
    # cells instead, the time.isNotNull filter drops them, and parseable
    # rows in the same file still ingest. Extra columns are ignored by
    # the positional schema.
    root = tmp_path_factory.mktemp("obsbadrows")
    (root / "harvest").mkdir()
    _write(str(root / "stations.csv"),
           ["ST_A,34.1,-77.1,gmt,NOAA/NOS,Alpha,tidal,us,nc,NH,01A"])
    _write(str(root / "meta.csv"), [SOURCE_META_HEADER, SOURCE_META_ROWS[0]])
    catalog = Catalog(spark, str(root / "warehouse"))
    bootstrap(spark, catalog, station_csvs=[str(root / "stations.csv")],
              source_meta_csv=str(root / "meta.csv"))
    harvest = str(root / "harvest")
    _write(os.path.join(harvest,
                        "noaa_stationdata_water_level_2024-01-01T02:00:00.csv"),
           ["STATION,TIME,WATER_LEVEL",
            "ST_A,2024-01-01 00:00:00,1.0",
            "ST_A,not-a-timestamp,2.0",          # unparseable time -> dropped
            "ST_A,2024-01-01 01:00:00,oops",      # unparseable value -> null measure
            "ST_A,2024-01-01 02:00:00,3.0,extra,columns",  # extra cols ignored
            "ST_A,2024-01-01 03:00:00,4.0"])
    pipe = ObsIngest(spark, catalog, harvest)
    out = pipe.run_sequence_ingest()
    assert out["ingested"] == 1
    rows = {str(r.time): r.water_level for r in pipe.gauge_data().collect()}
    assert rows == {"2024-01-01 00:00:00": 1.0,
                    "2024-01-01 01:00:00": None,
                    "2024-01-01 02:00:00": 3.0,
                    "2024-01-01 03:00:00": 4.0}


def _fresh_env(spark, tmp_path_factory, tag: str):
    """Isolated catalog with one tidal (ST_A) and one coastal (ST_C)
    station and both source configs; returns (catalog, harvest dir)."""
    root = tmp_path_factory.mktemp(tag)
    (root / "harvest").mkdir()
    _write(str(root / "stations.csv"), [",".join(map(str, STATIONS[0])),
                                        ",".join(map(str, STATIONS[2]))])
    _write(str(root / "meta.csv"), [SOURCE_META_HEADER, *SOURCE_META_ROWS])
    catalog = Catalog(spark, str(root / "warehouse"))
    bootstrap(spark, catalog, station_csvs=[str(root / "stations.csv")],
              source_meta_csv=str(root / "meta.csv"))
    return catalog, str(root / "harvest")


def _ledger_state(catalog) -> dict:
    return {r.file_name: (str(r.data_begin_time), str(r.data_end_time), r.ingested)
            for r in catalog.read("harvest_obs_file_meta").collect()}


def test_ledger_windows_filled_by_ingest(spark, tmp_path_factory):
    # discover() reads no CSV: pending rows carry null windows. The pass's
    # single read fills each file's [min, max] parsed TIME, counting rows
    # of stations unknown to gauge_source (they are not merged) and
    # leaving a header-only file's window null.
    catalog, harvest = _fresh_env(spark, tmp_path_factory, "obswindows")
    noaa = "noaa_stationdata_water_level_2024-01-01T04:00:00.csv"
    _write(os.path.join(harvest, noaa), [
        "STATION,TIME,WATER_LEVEL",
        "ST_A,2024-01-01 01:00:00,1.0",
        "ST_Z,2024-01-01 00:30:00,7.0",   # unknown station, earliest TIME
        "ST_A,not-a-time,2.0",
        "ST_A,2024-01-01 03:00:00,3.0",
        "ST_Z,2024-01-01 05:00:00,8.0"])  # unknown station, latest TIME
    empty = "noaa_stationdata_water_level_2024-01-02T00:00:00.csv"
    _write(os.path.join(harvest, empty), ["STATION,TIME,WATER_LEVEL"])
    coastal = "contrails_stationdata_water_level_2024-01-01T04:00:00.csv"
    _write(os.path.join(harvest, coastal),
           ["STATION,TIME,WATER_LEVEL", "ST_C,2024-01-01 02:00:00,4.0"])

    pipe = ObsIngest(spark, catalog, harvest)
    assert pipe.discover() == 3
    assert _ledger_state(catalog) == {n: ("None", "None", False)
                                      for n in (noaa, empty, coastal)}

    assert pipe.ingest_new() == 3
    assert pipe.ingest_station_meta() == 0
    assert _ledger_state(catalog) == {
        noaa: ("2024-01-01 00:30:00", "2024-01-01 05:00:00", True),
        empty: ("None", "None", True),
        coastal: ("2024-01-01 02:00:00", "2024-01-01 02:00:00", True),
    }
    got = sorted((str(r.time), r.water_level) for r in pipe.gauge_data().collect())
    assert got == [("2024-01-01 01:00:00", 1.0), ("2024-01-01 02:00:00", 4.0),
                   ("2024-01-01 03:00:00", 3.0)]


def test_station_meta_malformed_boundary_time(spark, tmp_path_factory):
    # malformed TIME cells that sort first and last in the paired data
    # file: the snapshot window is the parsed [min, max] from the ledger,
    # and the pass does not abort
    catalog, harvest = _fresh_env(spark, tmp_path_factory, "obsmeta_badtime")
    _write(os.path.join(harvest, "noaa_stationdata_water_level_2024-01-02T00:00:00.csv"),
           ["STATION,TIME,WATER_LEVEL",
            "ST_A,0000-bad,9.0",
            "ST_A,2024-01-01 20:00:00,1.0",
            "ST_A,2024-01-02 00:00:00,1.5",
            "ST_A,~bad,9.0"])
    _write(os.path.join(harvest, "noaa_stationdata_meta_water_level_2024-01-02T00:00:00.csv"),
           ["STATION,LAT,LON", "ST_A,34.1,-77.1"])
    out = ObsIngest(spark, catalog, harvest).run_sequence_ingest()
    assert out == {"discovered": 1, "ingested": 1, "station_meta": 1}
    row = catalog.read("retain_obs_station").first()
    assert (str(row.begin_date), str(row.end_date)) == ("2024-01-01 20:00:00",
                                                        "2024-01-02 00:00:00")
    meta = catalog.read("retain_obs_station_file_meta").first()
    assert (str(meta.begin_date), str(meta.end_date)) == ("2024-01-01 20:00:00",
                                                          "2024-01-02 00:00:00")


#: Spark jobs of one warm run_sequence_ingest() pass below: all 8 in
#: ingest_new (the CSV read and its checkpoint, the per-file window
#: aggregate, 3 in the merge: the staged batch's write, and the
#: keep-latest write of the touched months with its shuffle). Discovery, the ledger rewrite and the
#: station-meta snapshot run on the driver over the catalog's cached
#: rows, and so do the dimension and source-config lookups. A CSV
#: re-scan, a re-planned batch, a parquet schema-inference read or a
#: ledger write through Spark adds jobs and fails the pin; a change that
#: needs more must raise it and say why.
OBS_PASS_JOB_BUDGET = 8


def test_obs_pass_job_budget(spark, tmp_path_factory, parallelize_calls):
    catalog, harvest = _fresh_env(spark, tmp_path_factory, "obsjobs")
    pipe = ObsIngest(spark, catalog, harvest)
    _harvest_file(harvest, "noaa_stationdata_water_level", "2024-01-01T02:00:00", FILE1)
    pipe.run_sequence_ingest()  # gauge_data exists: the measured pass merges
    _harvest_file(harvest, "noaa_stationdata_water_level", "2024-01-01T04:00:00",
                  FILE2 + [("ST_Z", "2024-01-01 00:30:00", 5.0)])
    _harvest_file(harvest, "contrails_stationdata_water_level", "2024-01-01T04:00:00",
                  [("ST_C", "2024-01-01 01:00:00", 3.1)])
    _write(os.path.join(harvest, "noaa_stationdata_meta_water_level_2024-01-01T04:00:00.csv"),
           ["STATION,LAT,LON", "ST_A,34.1,-77.1"])
    parallelize_calls.clear()
    sc = spark.sparkContext
    sc.setJobGroup("obs-pass-job-budget", "one obs ingest pass")
    try:
        out = pipe.run_sequence_ingest()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out == {"discovered": 2, "ingested": 2, "station_meta": 1}
    jobs = len(sc.statusTracker().getJobIdsForGroup("obs-pass-job-budget"))
    assert jobs <= OBS_PASS_JOB_BUDGET, jobs
    # driver rows reach Spark through Arrow, never as a Python RDD
    assert len(parallelize_calls) == 0, parallelize_calls
