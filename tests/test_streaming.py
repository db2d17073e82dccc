"""Streaming obs ingest: exactly-once file processing via checkpoint,
keep-latest merge parity with the batch path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.plans.bootstrap import bootstrap
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.streaming import StreamingObsIngest


def _write(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("streamenv")
    (root / "harvest").mkdir()
    _write(root / "stations.csv",
           ["ST_A,34.1,-77.1,gmt,NOAA/NOS,Alpha,tidal,us,nc,NH,0101A"])
    _write(root / "meta.csv", [
        "data_source,source_name,source_archive,source_variable,filename_prefix,location_type,units",
        "tidal_gauge,noaa,noaa,water_level,noaa_stationdata_water_level,tidal,m",
    ])
    catalog = Catalog(spark, str(root / "warehouse"))
    bootstrap(spark, catalog, station_csvs=[str(root / "stations.csv")],
              source_meta_csv=str(root / "meta.csv"))
    return {"root": root, "harvest": str(root / "harvest"), "catalog": catalog}


def _pipe(spark, env):
    return StreamingObsIngest(
        spark, env["catalog"], env["harvest"],
        str(env["root"] / "checkpoint"), source_variable="water_level")


def test_stream_first_batch(env, spark):
    _write(env["root"] / "harvest" / "noaa_stationdata_water_level_2024-01-01T00_00_00.csv",
           ["STATION,TIME,WATER_LEVEL",
            "ST_A,2024-01-01 00:00:00,1.0",
            "ST_A,2024-01-01 01:00:00,1.1"])
    _pipe(spark, env).run_available()
    data = env["catalog"].read("gauge_data")
    assert data.count() == 2
    assert env["catalog"].read("stream_obs_ledger").count() == 1


def test_two_variable_streams_coexist(env, spark, tmp_path):
    # a second measure variable gets its own stream + checkpoint; both
    # merge into the same wide fact table without clobbering each other
    _write(env["root"] / "meta.csv", [
        "data_source,source_name,source_archive,source_variable,filename_prefix,location_type,units",
        "tidal_gauge,noaa,noaa,water_level,noaa_stationdata_water_level,tidal,m",
        "wind_anemometer,noaa,noaa,wind_speed,noaa_stationdata_wind_speed,tidal,mps",
    ])
    from apsviz_timeseriesdb_ingest_spark.plans.bootstrap import (
        derive_gauge_source,
        load_source_obs_meta,
    )
    cat = env["catalog"]
    meta = load_source_obs_meta(spark, str(env["root"] / "meta.csv"))
    cat.overwrite(meta, "source_obs_meta")
    cat.overwrite(derive_gauge_source(cat.read("gauge_station"), meta), "gauge_source")

    wind_dir = env["root"] / "wind_harvest"
    wind_dir.mkdir()
    _write(wind_dir / "noaa_stationdata_wind_speed_2024-01-01T01_00_00.csv",
           ["STATION,TIME,WIND_SPEED", "ST_A,2024-01-01 00:30:00,7.7"])
    wind = StreamingObsIngest(spark, cat, str(wind_dir),
                              str(tmp_path / "ckpt_wind"),
                              source_variable="wind_speed")
    wind.run_available()
    data = cat.read("gauge_data")
    wl = data.filter(F.col("water_level").isNotNull()).count()
    ws = data.filter(F.col("wind_speed").isNotNull()).count()
    assert wl >= 2 and ws == 1


def test_stream_overlap_and_exactly_once(env, spark):
    # overlapping second file: 01:00 gets a new value from the newer timemark
    _write(env["root"] / "harvest" / "noaa_stationdata_water_level_2024-01-01T02_00_00.csv",
           ["STATION,TIME,WATER_LEVEL",
            "ST_A,2024-01-01 01:00:00,9.1",
            "ST_A,2024-01-01 02:00:00,9.2"])
    _pipe(spark, env).run_available()
    data = env["catalog"].read("gauge_data")
    wl = data.filter(F.col("water_level").isNotNull())
    assert wl.count() == 3
    vals = {str(r.time): r.water_level for r in wl.collect()}
    assert vals["2024-01-01 01:00:00"] == 9.1  # keep-latest
    assert vals["2024-01-01 00:00:00"] == 1.0

    # re-running with no new files is a no-op (checkpoint exactly-once)
    _pipe(spark, env).run_available()
    assert env["catalog"].read("gauge_data").filter(
        F.col("water_level").isNotNull()).count() == 3


def test_replayed_batch_is_idempotent(env, spark):
    # foreachBatch is at-least-once on failure: a replayed micro-batch
    # must not duplicate ledger rows (anti-join guard) or fact rows
    # (keep-latest merge). Simulate replay by invoking _merge_batch twice
    # with the same batch frame.
    pipe = _pipe(spark, env)
    batch = spark.createDataFrame(
        [("ST_A", "2024-01-01 03:00:00", 5.5,
          "noaa_stationdata_water_level_2024-01-01T03_00_00.csv")],
        "station_name string, time_raw string, water_level double, file_name string",
    ).select(
        "station_name", "water_level", "file_name",
        F.to_timestamp_ntz("time_raw", F.lit("yyyy-MM-dd HH:mm:ss")).alias("time"),
        F.lit("2024-01-01 03:00:00").cast("timestamp_ntz").alias("timemark"))
    pipe._merge_batch(batch, 97)
    ledger_n = env["catalog"].read("stream_obs_ledger").count()
    fact_n = env["catalog"].read("gauge_data").count()
    pipe._merge_batch(batch, 97)  # replay
    assert env["catalog"].read("stream_obs_ledger").count() == ledger_n
    assert env["catalog"].read("gauge_data").count() == fact_n


def test_clean_source_delete(spark, tmp_path_factory):
    # M5 parity in streaming mode: cleanSource=delete removes source
    # files once their batch is committed (the reference deletes each
    # harvest file post-load), without breaking exactly-once.
    import os

    root = tmp_path_factory.mktemp("streamclean")
    (root / "harvest").mkdir()
    _write(root / "stations.csv",
           ["ST_A,34.1,-77.1,gmt,NOAA/NOS,Alpha,tidal,us,nc,NH,0101A"])
    _write(root / "meta.csv", [
        "data_source,source_name,source_archive,source_variable,filename_prefix,location_type,units",
        "tidal_gauge,noaa,noaa,water_level,noaa_stationdata_water_level,tidal,m",
    ])
    catalog = Catalog(spark, str(root / "warehouse"))
    bootstrap(spark, catalog, station_csvs=[str(root / "stations.csv")],
              source_meta_csv=str(root / "meta.csv"))

    def pipe():
        return StreamingObsIngest(
            spark, catalog, str(root / "harvest"), str(root / "checkpoint"),
            source_variable="water_level", clean_source="delete")

    f1 = root / "harvest" / "noaa_stationdata_water_level_2024-01-01T00_00_00.csv"
    _write(f1, ["STATION,TIME,WATER_LEVEL", "ST_A,2024-01-01 00:00:00,1.0"])
    pipe().run_available()
    f2 = root / "harvest" / "noaa_stationdata_water_level_2024-01-01T01_00_00.csv"
    _write(f2, ["STATION,TIME,WATER_LEVEL", "ST_A,2024-01-01 01:00:00,2.0"])
    pipe().run_available()
    # both batches ingested exactly once; the committed first file is
    # cleaned by the time the second run fetches (cleanup is async per
    # the file source contract, so only assert on the older file)
    assert catalog.read("gauge_data").count() == 2
    assert not os.path.exists(f1)


def test_micro_batch_reads_each_landed_row_once(spark, tmp_path):
    """The micro-batch's enrichment lineage runs once: the stream's own
    progress reports exactly the landed rows, not one read per use of
    the batch (emptiness guard, merge, ledger)."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.rows = []
            self.done = False

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done = True

    (tmp_path / "harvest").mkdir()
    _write(tmp_path / "stations.csv",
           ["ST_A,34.1,-77.1,gmt,NOAA/NOS,Alpha,tidal,us,nc,NH,0101A"])
    _write(tmp_path / "meta.csv", [
        "data_source,source_name,source_archive,source_variable,filename_prefix,location_type,units",
        "tidal_gauge,noaa,noaa,water_level,noaa_stationdata_water_level,tidal,m",
    ])
    catalog = Catalog(spark, str(tmp_path / "warehouse"))
    bootstrap(spark, catalog, station_csvs=[str(tmp_path / "stations.csv")],
              source_meta_csv=str(tmp_path / "meta.csv"))
    _write(tmp_path / "harvest" / "noaa_stationdata_water_level_2024-01-01T00_00_00.csv",
           ["STATION,TIME,WATER_LEVEL", "ST_A,2024-01-01 00:00:00,1.0",
            "ST_A,2024-01-01 01:00:00,1.1", "ST_A,2024-01-01 02:00:00,1.2"])
    _write(tmp_path / "harvest" / "noaa_stationdata_water_level_2024-01-01T03_00_00.csv",
           ["STATION,TIME,WATER_LEVEL", "ST_A,2024-01-01 03:00:00,1.3",
            "ST_A,2024-01-01 04:00:00,1.4"])

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        StreamingObsIngest(spark, catalog, str(tmp_path / "harvest"),
                           str(tmp_path / "checkpoint"),
                           source_variable="water_level").run_available()
        # listener events arrive asynchronously, after termination
        deadline = time.monotonic() + 30
        while not listener.done and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert listener.done
    assert catalog.read("gauge_data").count() == 5
    assert sum(listener.rows) == 5
