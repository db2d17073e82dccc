"""Dashboard read API — the 4 plpgsql crosstab functions (SURVEY section 2.5
X1-X4) re-expressed as DataFrame pivots returning JSON.

Semantics mirrored from the reference SQL exactly:

- X1 ``get_obs_timeseries_station_data(station, start, end)``
  (``scripts/get_obs_timeseries_station_data.sql:6-46``): 3-way join,
  yaxis = COALESCE(water_level, wave_height), 5 fixed categories with a
  fixed *output-label mapping* (e.g. category ``tidal_gauge`` → column
  ``tidal_gauge_water_level``), time rendered as Postgres TEXT
  (``YYYY-MM-DD HH:MM:SS``).
- X2 allparms variant (``..._allparms.sql:6-58``): COALESCE over all 6
  measures, 9 categories incl. a parameterized nowcast source whose label
  is dot-stripped (X6).
- X3 forecast (``get_forecast_timeseries_station_data.sql:1-41``): model
  data pinned to one run (``timemark = ?``), window
  [timemark, max_forecast_endtime].
- X4 nowcast (``get_nowcast_timeseries_station_data.sql:1-39``): window
  [start, end] + data_source + source_instance.

Plan shape: each read is planned on the driver from the catalog's
cached dimension and zone-map rows (``Catalog.rows``; no Spark job once
warm). The station's sources come from ``bootstrap.station_sources``,
the station-source pairing the ingest paths resolve ``source_id``
through too, and resolve to a ``source_id IN (...)`` filter
that pushes into the zone-map-pruned parquet scan and a literal
``source_id → data_source`` map; the filtered rows are coalesced into
one partition, so the pivot's groupBy and the sort need no exchange
(one Spark job a read). Explicit category lists keep the output schema
constant-folded (no distinct pre-scan). ``obs_view`` and ``model_view``
keep the join formulation for SQL users.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.strings import sanitize_pivot_label
from ..schemas import (GAUGE_DATA, GAUGE_SOURCE, GAUGE_STATION, MODEL_DATA,
                       MODEL_SOURCE)
from ..sources.catalog import TIME_BUCKET, Catalog
from ..sources.skipping import pruned_scan
from .bootstrap import station_sources

#: X1 fixed category → output column mapping
#: (scripts/get_obs_timeseries_station_data.sql:26-38)
OBS_CATEGORIES = {
    "ocean_buoy": "ocean_buoy_wave_height",
    "tidal_gauge": "tidal_gauge_water_level",
    "tidal_predictions": "tidal_predictions",
    "coastal_gauge": "coastal_gauge_water_level",
    "river_gauge": "river_gauge_water_level",
}

#: X2 adds these around the parameterized nowcast source
#: (scripts/get_obs_timeseries_station_data_allparms.sql:30-50)
ALLPARMS_PRE = {"air_barometer": "air_barometer"}
ALLPARMS_POST = dict(OBS_CATEGORIES) | {
    "stream_gauge": "stream_gauge_stream_elevation",
    "wind_anemometer": "wind_anemometer",
}


def _parse_ntz(s: str):
    """Tolerant driver-side parse of a query-bound timestamp string for
    ZONE-MAP comparisons only (the real predicate stays the Spark
    ``cast('timestamp_ntz')`` the pivots always apply). None on any
    form this can't parse — skipping then degrades to the plain read,
    never to a wrong prune."""
    import datetime as dt

    try:
        return dt.datetime.fromisoformat(str(s).strip())
    except ValueError:
        return None


def _fact_read(catalog: Catalog, table: str, schema,
               time_range: tuple[str, str] | None) -> DataFrame:
    """Fact-table scan, file-skipped through the table's ``time`` zone
    map when it has one (``sources/skipping.pruned_scan``; the ingest
    verbs keep the sidecar current): the query's [start, end] prunes the
    driver-side file list BEFORE any task is scheduled, composing with
    the time_bucket partition pruning for intra-month skipping. Results
    are identical with or without the sidecar — the callers' real
    predicates are always applied."""
    lo, hi = (None, None) if time_range is None else (_parse_ntz(b) for b in time_range)
    if lo is None or hi is None:
        return catalog.read(table, schema)
    return pruned_scan(catalog, table, "time", lo, hi, schema)


def obs_view(catalog: Catalog, *,
             time_range: tuple[str, str] | None = None) -> DataFrame:
    """drf_gauge_station_source_data (``run/ingestObsTasks.py:494-521``):
    gauge_data ⋈ gauge_source ⋈ gauge_station, dims broadcast.
    ``time_range=(start, end)`` lets the fact scan file-skip through
    the zone-map sidecar when one exists (see :func:`_fact_read`)."""
    data = _fact_read(catalog, "gauge_data", GAUGE_DATA, time_range)
    source = catalog.read("gauge_source", GAUGE_SOURCE)
    station = catalog.read("gauge_station", GAUGE_STATION)
    return (
        data.join(F.broadcast(source), "source_id")
        .join(F.broadcast(station), "station_id")
    )


def model_view(catalog: Catalog, *,
               time_range: tuple[str, str] | None = None) -> DataFrame:
    """drf_model_station_source_data (``run/ingestModelTasks.py:475-501``)."""
    data = _fact_read(catalog, "model_data", MODEL_DATA, time_range)
    source = catalog.read("model_source", MODEL_SOURCE)
    station = catalog.read("gauge_station", GAUGE_STATION)
    return (
        data.join(F.broadcast(source), "source_id")
        .join(F.broadcast(station), "station_id")
    )


def create_views(catalog: Catalog) -> None:
    """M4 parity: register the two denormalized views under the
    reference's names (``run/ingestObsTasks.py:494-521``,
    ``run/ingestModelTasks.py:475-501``) so ``spark.sql`` users can query
    them directly."""
    obs_view(catalog).createOrReplaceTempView("drf_gauge_station_source_data")
    model_view(catalog).createOrReplaceTempView("drf_model_station_source_data")


def _time_range(df: DataFrame, start: str, end: str) -> DataFrame:
    """Event-time range filter PLUS the matching time_bucket partition
    predicate: the fact tables are partitioned by yyyy-MM(time), and the
    bucket bound is what turns a 100 TB scan into a few partitions
    (lexicographic compare works for the yyyy-MM format).

    Bucket bounds are derived by casting the raw bound through
    timestamp_ntz and re-formatting — not by slicing the input string —
    so non-zero-padded dates ('2024-7-5', valid in the reference's
    Postgres cast) prune to the right partition instead of silently
    matching none. Both date_format calls constant-fold, so the pruning
    predicate is still a literal comparison at plan time."""
    lo = F.lit(start).cast("timestamp_ntz")
    hi = F.lit(end).cast("timestamp_ntz")
    cond = (F.col("time") >= lo) & (F.col("time") <= hi)
    if TIME_BUCKET in df.columns:
        cond = cond & F.col(TIME_BUCKET).between(
            F.date_format(lo, "yyyy-MM"), F.date_format(hi, "yyyy-MM"))
    return df.filter(cond)


#: fact table → (its schema, its source dimension)
_FACTS = {"gauge_data": (GAUGE_DATA, "gauge_source"),
          "model_data": (MODEL_DATA, "model_source")}


def _station_facts(catalog: Catalog, fact: str, station_name: str,
                   start: str, end: str, **match) -> DataFrame:
    """The pruned scan of ``fact`` over [start, end], restricted to
    ``station_name``'s sources whose ``match`` columns equal the given
    values, with each row's ``data_source``: the dimension joins of
    ``obs_view``/``model_view`` planned on the driver from the
    station-source pairs of the catalog's cached dimension rows
    (``bootstrap.station_sources``). Equality is SQL ``=``: a NULL on
    either side matches nothing. ``source_id IN (...)`` pushes down into
    parquet, whose merged files are sorted by ``source_id``."""
    schema, dim = _FACTS[fact]

    def eq(a, b):
        return a is not None and a == b

    sources = {r.source_id: r.data_source for name, r in station_sources(catalog, dim)
               if eq(name, station_name) and all(eq(r[k], v) for k, v in match.items())}
    ids = sorted(sources)
    label = (F.create_map(*[c for i in ids for c in (F.lit(i).cast("long"),
                                                     F.lit(sources[i]))])
             [F.col("source_id")] if ids else F.lit(None).cast("string"))
    return (_time_range(_fact_read(catalog, fact, schema, (start, end)), start, end)
            .filter(F.col("source_id").isin(ids))
            .withColumn("data_source", label))


def _pivot_timeseries(facts: DataFrame, value: F.Column,
                      categories: dict[str, str]) -> DataFrame:
    """Shared crosstab core: time → one column per category label, cell =
    first(value) (crosstab takes the single underlying row per cell).
    One station's filtered rows are coalesced into one partition, so
    the scan, the groupBy and the sort run as one task of one Spark job
    with no exchange. (``repartition(1)`` keeps the scan parallel for a
    long window over many files, at one more job a read; at dashboard
    windows the two measure the same.)"""
    piv = (
        facts.select(
            F.date_format("time", "yyyy-MM-dd HH:mm:ss").alias("time_stamp"),
            F.col("data_source").alias("category"),
            value.alias("yaxis"),
        )
        .coalesce(1)
        .groupBy("time_stamp")
        .pivot("category", list(categories))
        .agg(F.first("yaxis", ignorenulls=False))
    )
    for cat, label in categories.items():
        if cat != label:
            piv = piv.withColumnRenamed(cat, label)
    return piv.orderBy("time_stamp")


def get_obs_timeseries_station_data(catalog: Catalog, station_name: str,
                                    start_date: str, end_date: str) -> DataFrame:
    """X1 — obs crosstab for one station and date range."""
    return _pivot_timeseries(
        _station_facts(catalog, "gauge_data", station_name, start_date, end_date),
        F.coalesce("water_level", "wave_height"), OBS_CATEGORIES)


def get_obs_timeseries_station_data_allparms(catalog: Catalog, station_name: str,
                                             start_date: str, end_date: str,
                                             nowcast_source: str) -> DataFrame:
    """X2 — all-parameter obs crosstab with parameterized nowcast column."""
    cats = dict(ALLPARMS_PRE)
    cats[nowcast_source] = sanitize_pivot_label(nowcast_source)
    cats.update(ALLPARMS_POST)
    value = F.coalesce("water_level", "stream_elevation", "wave_height",
                       "wind_speed", "air_pressure", "flow_volume")
    return _pivot_timeseries(
        _station_facts(catalog, "gauge_data", station_name, start_date, end_date),
        value, cats)


def get_forecast_timeseries_station_data(catalog: Catalog, station_name: str,
                                         timemark: str, max_forecast_endtime: str,
                                         data_source: str, source_instance: str,
                                         ) -> DataFrame:
    """X3 — one forecast run's crosstab, pinned by timemark."""
    facts = _station_facts(catalog, "model_data", station_name, timemark,
                           max_forecast_endtime, data_source=data_source,
                           source_instance=source_instance).filter(
        F.col("timemark") == F.lit(timemark).cast("timestamp_ntz"))
    return _pivot_timeseries(facts, F.coalesce("water_level"),
                             {data_source: sanitize_pivot_label(data_source)})


def get_nowcast_timeseries_station_data(catalog: Catalog, station_name: str,
                                        start_date: str, end_date: str,
                                        data_source: str, source_instance: str,
                                        ) -> DataFrame:
    """X4 — nowcast crosstab over [start, end]."""
    facts = _station_facts(catalog, "model_data", station_name, start_date, end_date,
                           data_source=data_source, source_instance=source_instance)
    return _pivot_timeseries(facts, F.coalesce("water_level"),
                             {data_source: sanitize_pivot_label(data_source)})


def get_model_vs_obs_asof(catalog: Catalog, station_name: str,
                          start_date: str, end_date: str,
                          tolerance: str | None = "'1' HOUR") -> DataFrame:
    """Model points aligned to the latest observation at-or-before each
    forecast time (as-of join) — the cross-cadence generalization of the
    reference's equal-timestamp pivots (its crosstabs only align rows
    whose times match exactly; `scripts/get_obs_timeseries_station_data.sql`).

    Returns one row per model point: (station_name, data_source, time,
    model water_level, time_asof, obs water_level_asof). ``tolerance``
    nulls observations older than the interval (default 1 hour — a gauge
    that stopped reporting should not be carried forward for days)."""
    from ..operators.asof import asof_join

    # both fact scans go through the zone-map skipping layer with the
    # query's own bounds
    name = F.lit(station_name).cast("string").alias("station_name")
    model = (_station_facts(catalog, "model_data", station_name, start_date, end_date)
             .select(name, "data_source", "time",
                     F.col("water_level").alias("model_water_level")))
    obs = (_station_facts(catalog, "gauge_data", station_name, start_date, end_date)
           .select(name, "time", "water_level"))
    return asof_join(model, obs, on=["station_name"], left_ts="time",
                     right_ts="time", value_cols=["water_level"],
                     tolerance=tolerance)


def to_json_array(pivoted: DataFrame) -> str:
    """JSON_AGG parity (A6): the pivoted frame as one JSON array string,
    rows ordered by time_stamp, nulls preserved — the reference's return
    payload (``scripts/get_obs_timeseries_station_data.sql:7``)."""
    rows = pivoted.orderBy("time_stamp").collect()
    return json.dumps([row.asDict() for row in rows])
