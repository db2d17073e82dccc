"""``harvest_csv.read_station_list``: a ``meta_FORECAST_*.csv``
station list read on the driver gives the names Spark's header CSV
reader gives."""

from __future__ import annotations

from apsviz_timeseriesdb_ingest_spark.sources.harvest_csv import read_station_list


def test_station_list_matches_spark_csv(spark, tmp_path):
    path = tmp_path / "meta_FORECAST_NOAASTATIONS.csv"
    path.write_text('LAT,STATION,LON\n'
                    '34.1,ST_A,-77.1\n'
                    '34.2,"ST, B",-77.2\n'
                    '34.3,,-77.3\n'
                    '34.4,ST_D,-77.4\n')
    names = read_station_list(str(path))
    assert names == ["ST_A", "ST, B", None, "ST_D"]
    df = spark.read.option("header", True).csv(str(path))
    assert names == [r.STATION for r in df.select("STATION").collect()]
