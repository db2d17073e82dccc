"""Batch/stream parity: ``ObsIngest`` and ``StreamingObsIngest`` write the
same ``gauge_data`` from the same harvest files (they share one
enrichment and one keep-latest merge)."""

from __future__ import annotations

import shutil

from apsviz_timeseriesdb_ingest_spark.plans.bootstrap import bootstrap
from apsviz_timeseriesdb_ingest_spark.plans.obs_ingest import ObsIngest
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.streaming import StreamingObsIngest

WL = "noaa_stationdata_water_level"
WS = "noaa_stationdata_wind_speed"

# (variable, file name, rows); rows are "station,TIME,value" lines. Each
# file's (station, TIME) keys are unique: neither path orders repeats
# inside one file.
FIRST = [
    ("water_level", f"{WL}_2024-01-01T02_00_00.csv", [
        "ST_A,2024-01-01 00:00:00,1.0", "ST_A,2024-01-01 01:00:00,1.1",
        "ST_A,2024-01-01 02:00:00,1.2", "ST_B,2024-01-01 00:00:00,2.0",
        "ST_A,not-a-time,7.7",                  # malformed TIME
        "ST_X,2024-01-01 01:00:00,5.0"]),       # unknown station
]
# lands in a later micro-batch: an overlapping newer file, an older file
# arriving late, a same-timemark pair (the file-key tie-break), a
# header-only file and both wind files, whose overlap one micro-batch
# resolves. The tie pair lands together: stored rows keep no file key,
# so on either path a tie split across two passes or micro-batches goes
# to the later one.
SECOND = [
    ("water_level", f"{WL}_2024-01-01T04_00_00.csv", [
        "ST_A,2024-01-01 01:00:00,9.1", "ST_A,2024-01-01 02:00:00,9.2",
        "ST_A,2024-01-01 03:00:00,9.3", "ST_B,2024-01-01 01:00:00,8.1"]),
    ("water_level", f"{WL}_2024-01-01T04_00_00_b.csv", [
        "ST_A,2024-01-01 03:00:00,4.3", "ST_B,2024-01-01 02:00:00,4.2"]),
    ("water_level", f"{WL}_2024-01-01T01_00_00.csv", [
        "ST_A,2024-01-01 00:00:00,0.5", "ST_B,2024-01-01 03:00:00,0.6"]),
    ("water_level", f"{WL}_2024-01-01T05_00_00.csv", []),
    ("wind_speed", f"{WS}_2024-01-01T01_00_00.csv", [
        "ST_A,2024-01-01 00:30:00,7.0", "ST_A,2024-01-01 01:00:00,7.1",
        "ST_B,2024-01-01 00:30:00,6.0"]),
    ("wind_speed", f"{WS}_2024-01-01T03_00_00.csv", [
        "ST_A,2024-01-01 01:00:00,3.1", "ST_A,2024-01-01 02:00:00,3.2",
        "ST_A,bad,3.3"]),
]
HEADER = {"water_level": "STATION,TIME,WATER_LEVEL", "wind_speed": "STATION,TIME,WIND_SPEED"}


def _write(path, lines):
    path.write_text("\n".join(lines) + "\n")


def _land(files, dir_of):
    for variable, name, rows in files:
        _write(dir_of(variable) / name, [HEADER[variable], *rows])


def test_batch_and_stream_write_identical_gauge_data(spark, tmp_path):
    _write(tmp_path / "stations.csv",
           ["ST_A,34.1,-77.1,gmt,NOAA/NOS,Alpha,tidal,us,nc,NH,0101A",
            "ST_B,34.2,-77.2,gmt,NOAA/NOS,Beta,tidal,us,nc,NH,0101B"])
    _write(tmp_path / "meta.csv", [
        "data_source,source_name,source_archive,source_variable,filename_prefix,location_type,units",
        f"tidal_gauge,noaa,noaa,water_level,{WL},tidal,m",
        f"wind_anemometer,noaa,noaa,wind_speed,{WS},tidal,mps",
    ])
    batch_cat = Catalog(spark, str(tmp_path / "wh_batch"))
    bootstrap(spark, batch_cat, station_csvs=[str(tmp_path / "stations.csv")],
              source_meta_csv=str(tmp_path / "meta.csv"))
    shutil.copytree(tmp_path / "wh_batch", tmp_path / "wh_stream")
    stream_cat = Catalog(spark, str(tmp_path / "wh_stream"))

    batch_dir = tmp_path / "harvest"
    batch_dir.mkdir()
    _land(FIRST + SECOND, lambda variable: batch_dir)
    assert ObsIngest(spark, batch_cat, str(batch_dir)).run_sequence_ingest()["ingested"] == 7

    # one directory and one checkpoint per variable, as in production
    def stream(variable):
        return StreamingObsIngest(spark, stream_cat, str(tmp_path / variable),
                                  str(tmp_path / f"ckpt_{variable}"),
                                  source_variable=variable)

    for variable in HEADER:
        (tmp_path / variable).mkdir()
    _land(FIRST, lambda variable: tmp_path / variable)
    stream("water_level").run_available()
    _land(SECOND, lambda variable: tmp_path / variable)
    for variable in HEADER:
        stream(variable).run_available()

    def rows(catalog):
        return sorted(catalog.read("gauge_data").collect(), key=repr)

    got = rows(stream_cat)
    assert got == rows(batch_cat)
    # water_level at 00:00-03:00 for ST_A and ST_B, wind at 3 + 1 times
    assert len(got) == 12
    water = {r.water_level for r in got}
    assert 4.3 in water and 9.3 not in water  # the larger file key wins the tie
