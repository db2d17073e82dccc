"""Small parity behaviors: M4 views, discovery null-guard, model ledger
time windows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.plans.bootstrap import bootstrap
from apsviz_timeseriesdb_ingest_spark.plans.obs_ingest import ObsIngest
from apsviz_timeseriesdb_ingest_spark.plans.read_api import create_views
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("miscenv")
    (root / "harvest").mkdir()
    (root / "stations.csv").write_text(
        "ST_A,34.1,-77.1,gmt,NOAA/NOS,Alpha,tidal,us,nc,NH,01A\n")
    (root / "meta.csv").write_text(
        "data_source,source_name,source_archive,source_variable,filename_prefix,location_type,units\n"
        "tidal_gauge,noaa,noaa,water_level,noaa_stationdata_water_level,tidal,m\n")
    catalog = Catalog(spark, str(root / "warehouse"))
    bootstrap(spark, catalog, station_csvs=[str(root / "stations.csv")],
              source_meta_csv=str(root / "meta.csv"))
    (root / "harvest" / "noaa_stationdata_water_level_2024-03-01T00_00_00.csv").write_text(
        "STATION,TIME,WATER_LEVEL\nST_A,2024-03-01 00:00:00,1.0\n")
    # null-guard path: a file with no parsable timemark must be skipped
    (root / "harvest" / "noaa_stationdata_water_level_badname.csv").write_text(
        "STATION,TIME,WATER_LEVEL\nST_A,2024-03-01 00:00:00,9.9\n")
    return {"root": root, "harvest": str(root / "harvest"), "catalog": catalog}


def test_discovery_null_guard(env, spark):
    pipe = ObsIngest(spark, env["catalog"], env["harvest"])
    out = pipe.run_sequence_ingest()
    # only the well-named file is discovered (run/createHarvestObsFileMeta.py:159-164)
    assert out["discovered"] == 1 and out["ingested"] == 1
    assert env["catalog"].read("gauge_data").count() == 1


def test_station_csv_quoted_commas(spark, tmp_path):
    # FIXTURES section 1: location_name may contain quoted commas; geom is
    # opaque WKB hex carried through untouched
    from apsviz_timeseriesdb_ingest_spark.sources.harvest_csv import read_station_csv
    p = tmp_path / "st.csv"
    p.write_text('8410140,44.9,-66.98,gmt,NOAA/NOS,"Eastport, ME",tidal,us,me,'
                 'Washington,0101000020E610\n')
    row = read_station_csv(spark, [str(p)]).first()
    assert row.location_name == "Eastport, ME"
    assert row.geom == "0101000020E610"
    assert row.lat == 44.9


def test_m4_views(env, spark):
    create_views(env["catalog"])
    got = spark.sql("""
        SELECT station_name, water_level
        FROM drf_gauge_station_source_data
        WHERE data_source = 'tidal_gauge'
    """).collect()
    assert [(r.station_name, r.water_level) for r in got] == [("ST_A", 1.0)]


def test_package_imports_without_spark_session():
    """Library hygiene: importing the package (and the full llm surface)
    must not start a SparkSession or JVM — consumers compose lazily."""
    import os
    import subprocess
    import sys

    code = (
        "import apsviz_timeseriesdb_ingest_spark as p\n"
        "import apsviz_timeseriesdb_ingest_spark.llm as llm\n"
        "from pyspark.sql import SparkSession\n"
        "assert SparkSession.getActiveSession() is None\n"
        "print('clean')\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert "clean" in out.stdout
