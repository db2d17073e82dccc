"""``session.local_frame`` builds the same frame as
``spark.createDataFrame(rows, schema)`` for every schema the ingest path
hands it: the declared tables, the zone-map sidecar and the DDL strings
of the driver-rows call sites."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructType,
    TimestampNTZType,
)

from apsviz_timeseriesdb_ingest_spark import schemas
from apsviz_timeseriesdb_ingest_spark.session import local_frame
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.sources.zonemap import ZONEMAP_SCHEMA

from .test_small_table_writer import _marker_jobs

TS = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)

#: the DDL strings passed by the plans/ and sources/ call sites
CALL_SITE_DDL = {
    "obs_candidates": "dir_path string, file_name string, data_date_time timestamp_ntz, "
                      "timemark timestamp_ntz, data_source string, source_name string, "
                      "source_archive string, source_variable string, location_type string",
    "obs_pending_meta": "file_name string, file_key string, data_source string, "
                        "source_name string, source_archive string, "
                        "data_date_time timestamp_ntz",
    "obs_station_meta_consts": "file_key string, timemark timestamp_ntz, "
                               "begin_date timestamp_ntz, end_date timestamp_ntz, "
                               "data_source string, source_name string, "
                               "source_archive string, location_type string",
    "model_file_srcs": "file_name string, data_source string, source_name string, "
                       "source_archive string, source_instance string, "
                       "forcing_metclass string",
    "file_name": "file_name string",
    "station_name": "station_name string",
    "file": "file string",
    "committed": "__batch long, __writer string",
    "zonemap": ZONEMAP_SCHEMA,
}

SCHEMAS = {**{name: s for name, s in vars(schemas).items() if isinstance(s, StructType)},
           **CALL_SITE_DDL}

_SAMPLE = {
    StringType: "s:1", LongType: 2 ** 62, IntegerType: -7, DoubleType: 1.5,
    BooleanType: True, TimestampNTZType: TS,
}


def _struct(schema) -> StructType:
    return StructType.fromDDL(schema) if isinstance(schema, str) else schema


def test_every_declared_schema_is_covered():
    assert {"GAUGE_DATA", "HARVEST_OBS_FILE_META", "APSVIZ_STATION_FILE_META",
            "RETAIN_OBS_STATION", "STREAM_OBS_LEDGER", "CONFIG_ITEM"} <= set(SCHEMAS)


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_same_frame_as_create_dataframe(spark, name):
    schema = SCHEMAS[name]
    names = _struct(schema).fieldNames()
    values = [_SAMPLE[type(f.dataType)] for f in _struct(schema).fields]
    rows = [tuple(values), Row(**dict(zip(names, values))), dict(zip(names, values)),
            [None] * len(names), {}]
    got, want = local_frame(spark, rows, schema), spark.createDataFrame(rows, schema)
    assert got.dtypes == want.dtypes
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert got.collect()[0] == tuple(values)  # timestamps stay wall-clock
    empty = local_frame(spark, [], schema)
    assert empty.dtypes == want.dtypes and empty.collect() == []


@pytest.mark.parametrize("row", [
    ("x", "2024-01-02 03:04:05", 1),  # string in a timestamp_ntz field
    ("x", TS, "1"),                   # string in a long field
    ("x", TS),                        # too few values
    ("x", TS, 1, 2),                  # too many values
])
def test_value_that_does_not_fit_raises(spark, row):
    ddl = "name string, at timestamp_ntz, n long"
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame([row], ddl)
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [row], ddl)


def test_one_partition(spark):
    """Driver rows stay in one partition: a 5-row lookup broadcasts
    through a 1-task stage and writes one file."""
    frame = local_frame(spark, [(i, "s") for i in range(5)], "id long, name string")
    assert frame.rdd.getNumPartitions() == 1
    assert sorted(frame.collect()) == [(i, "s") for i in range(5)]


def test_missing_table_collects_with_no_job(spark, tmp_path):
    """``Catalog.read`` of a missing table is an empty driver frame: with
    no rows to slice it is not coalesced, so collecting it, or a filter
    and projection of it, runs no Spark job."""
    frame = Catalog(spark, str(tmp_path / "wh")).read("absent", schemas.GAUGE_DATA)
    before = _marker_jobs(spark, "missing-read-before")[-1]
    assert frame.collect() == []
    assert frame.filter("source_id = 1").select("time").collect() == []
    jobs = _marker_jobs(spark, "missing-read-after")[0] - before - 1
    assert jobs == 0, jobs
