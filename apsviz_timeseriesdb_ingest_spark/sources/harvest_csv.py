"""Harvest CSV readers (SURVEY section 2.1 S1-S4).

The reference reads one CSV at a time with pandas
(``run/createIngestObsData.py:168``); here one ``spark.read.csv`` over the
whole file list reads every new file in a single distributed job, with
``input_file_name()`` carrying file identity so per-file metadata (timemark
F1, min/max TIME A1) falls out of one groupBy instead of a Python loop.
"""

from __future__ import annotations

import csv
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..functions.timeparse import timemark_from_filename
from ..schemas import STATION_CSV


def obs_data_schema(source_variable: str) -> StructType:
    """Schema of one obs harvest CSV: station, TIME, <variable>
    (FIXTURES.md section 3; ``run/ingestObsTasks.py:385-386``)."""
    return StructType([
        StructField("station", StringType()),
        StructField("TIME", StringType()),
        StructField(source_variable, DoubleType()),
    ])


def normalize_harvest_rows(raw: DataFrame) -> DataFrame:
    """Normalize a raw harvest frame (batch or streaming) the way the
    reference does (lower-case, station→station_name, parse TIME;
    ``run/createIngestObsData.py:168-174``) and attach file identity +
    timemark (F1)."""
    return (
        raw.withColumn("file_name", F.element_at(F.split(F.input_file_name(), "/"), -1))
        .withColumnRenamed("station", "station_name")
        .withColumnRenamed("TIME", "time_raw")  # rename first: drop("TIME") would
        # also remove the new "time" column under case-insensitive resolution
        # try_cast, not to_timestamp_ntz: under ANSI mode (Spark 4 default)
        # one malformed TIME cell would abort the whole distributed read —
        # the reference's per-file pandas crash, amplified. NULL rows are
        # dropped by the pipelines' time-notnull filter instead.
        .withColumn("time", F.col("time_raw").try_cast("timestamp_ntz"))
        .drop("time_raw")
        .withColumn("timemark", timemark_from_filename("file_name").cast("timestamp_ntz"))
    )


def read_harvest_csv(spark: SparkSession, paths: Sequence[str], source_variable: str,
                     ) -> DataFrame:
    """Read harvest data CSVs with declared schema into normalized rows
    (:func:`normalize_harvest_rows`) plus a colon-free ``file_key``."""
    reader = spark.read.schema(obs_data_schema(source_variable)).option("header", True)
    return (
        normalize_harvest_rows(reader.csv(list(paths)))
        # join key robust to colon-sanitized staging (Hadoop paths can't
        # contain ':'; see plans/obs_ingest staging)
        .withColumn("file_key", F.translate(F.col("file_name"), ":", "_"))
    )


def read_station_csv(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """Read headerless station geometry CSVs (S3,
    ``run/ingestObsTasks.py:129,144-153``)."""
    return spark.read.schema(STATION_CSV).option("header", False).csv(list(paths))


def read_station_list(path: str) -> list[str | None]:
    """The ``station`` column (header matched case-insensitively) of a
    station-list CSV — an obs ``stationdata_meta`` file or a model
    ``meta_FORECAST_*.csv`` (FIXTURES.md sections 4-5) — read on the
    driver: a few hundred names never need a Spark job. An empty cell
    is None, as in Spark's CSV reader; an empty or header-only file has
    no names, and a header without a station column raises."""
    with open(path, newline="") as f:
        rows = [r for r in csv.reader(f) if r]
    if not rows:
        return []
    col = next((i for i, c in enumerate(rows[0]) if c.lower() == "station"), None)
    if col is None:
        raise ValueError(f"{path}: no station column in header {rows[0]}")
    return [(r[col] if col < len(r) else "") or None for r in rows[1:]]
