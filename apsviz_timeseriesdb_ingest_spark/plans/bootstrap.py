"""Catalog bootstrap — the ``prepare4Ingest`` equivalent (SURVEY section 3.4).

Creates the dimension tables from the station geometry CSVs and the
source-meta seed CSV, and derives ``gauge_source`` (one row per station ×
matching source config, ``run/createIngestObsSourceMeta.py:47-84``).
Besides the keys, it owns the one station ↔ source pairing that every
ingest and read path resolves ``source_id`` through
(:func:`station_sources`, from the catalog's cached dimension rows).

Surrogate keys: the reference uses Postgres serials. Serials are a
single-writer artifact; this engine derives *stable deterministic* 64-bit
keys by hashing the natural key (xxhash64). That keeps key assignment
embarrassingly parallel (no sequence bottleneck at 100 TB), idempotent
across reruns, and stable across clusters. Documented deviation: ids are
hashes, not small serials — all joins/queries are unaffected since only
equality on ids is ever used.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..schemas import GAUGE_SOURCE, GAUGE_STATION, MODEL_SOURCE, SOURCE_OBS_META
from ..sources.catalog import Catalog
from ..sources.harvest_csv import read_station_csv


def station_key(station_name: Column) -> Column:
    return F.xxhash64(F.lit("station"), station_name)


def source_key(station_name: Column, data_source: Column, source_name: Column,
               source_archive: Column) -> Column:
    return F.xxhash64(F.lit("source"), station_name, data_source, source_name,
                      source_archive)


def station_sources(catalog: Catalog, dim: str) -> list[tuple[str | None, Row]]:
    """``(station_name, source row)`` for every row of the source
    dimension ``dim`` (``gauge_source`` or ``model_source``) and every
    ``gauge_station`` row with its ``station_id``: the inner join on
    ``station_id`` (a NULL id matches nothing), multiplicity kept, built
    on the driver from :meth:`Catalog.rows`. Matching on the name and
    the source columns is the caller's: SQL ``=`` where the pairs feed a
    Spark join, an explicit NULL-is-no-match test on the driver."""
    names: dict = {}
    for r in catalog.rows("gauge_station", GAUGE_STATION):
        if r.station_id is not None:
            names.setdefault(r.station_id, []).append(r.station_name)
    schema = {"gauge_source": GAUGE_SOURCE, "model_source": MODEL_SOURCE}[dim]
    return [(name, r) for r in catalog.rows(dim, schema)
            for name in names.get(r.station_id, ())]


def load_source_obs_meta(spark: SparkSession, seed_csv: str) -> DataFrame:
    """Read the source-config seed CSV (S4, ``run/source_obs_meta.csv``)."""
    return (spark.read.schema(SOURCE_OBS_META).option("header", True)
            .csv(seed_csv))


def derive_gauge_source(stations: DataFrame, source_meta: DataFrame) -> DataFrame:
    """gauge_source = stations x source configs of the same location_type
    (``run/createIngestObsSourceMeta.py:28-31,47-84``). Broadcast the 11-row
    config side; no shuffle."""
    sm = source_meta.select("data_source", "source_name", "source_archive",
                            "location_type", "units")
    joined = stations.join(F.broadcast(sm), "location_type")
    return joined.select(
        source_key(F.col("station_name"), F.col("data_source"),
                   F.col("source_name"), F.col("source_archive")).alias("source_id"),
        "station_id", "data_source", "source_name", "source_archive", "units",
    )


def bootstrap(spark: SparkSession, catalog: Catalog, *, station_csvs: Sequence[str],
              source_meta_csv: str) -> None:
    """Create gauge_station, source_obs_meta, and gauge_source tables."""
    stations = (read_station_csv(spark, station_csvs)
                .withColumn("station_id", station_key(F.col("station_name"))))
    catalog.overwrite(stations, "gauge_station")
    source_meta = load_source_obs_meta(spark, source_meta_csv)
    catalog.overwrite(source_meta, "source_obs_meta")
    catalog.overwrite(derive_gauge_source(catalog.read("gauge_station"), source_meta),
                      "gauge_source")
