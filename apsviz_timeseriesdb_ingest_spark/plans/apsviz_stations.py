"""ApsViz station publish + retain-obs-station snapshots (SURVEY
section 3.2 step 6 — the gnarliest reference dataflow).

``ingest_retain_obs_station`` mirrors ``createIngestRetainObsStationData``
(``run/createIngestRetainObsStationData.py:60-125``): station-meta harvest
rows joined to gauge_station info, stamped with the harvest window, and
appended to ``retain_obs_station``.

``publish_apsviz_stations`` mirrors ``createIngestApsVizStationData``
(``run/createIngestApsVizStationData.py:180-330``):

  ADCIRC side: gauge_station info for the model stations + run constants.
  Obs side:    retain_obs_station rows whose (begin_date, end_date)
               OVERLAPS [timemark - 36h, timemark] (P5) for the input
               location type — plus, for tidal runs, every location type
               not already covered by the run (the reference's set-diff
               loop, F12) — minus excluded categories (P7), deduped by
               station (A5, deterministic), minus ADCIRC stations (J5),
               joined back to gauge_station info (J6).
  Output:      union (O3) + per-station csvurl (F9), appended to
               ``apsviz_station``.

All dimension joins broadcast driver-side frames of the catalog's
cached ``gauge_station`` rows (``Catalog.rows``); the only shuffle is the
final distinct.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.predicates import interval_overlaps
from ..operators.dedup import keep_latest
from ..schemas import APSVIZ_STATION, GAUGE_STATION, RETAIN_OBS_STATION
from ..session import local_frame
from ..sources.catalog import Catalog

#: categories never published as obs stations
#: (run/createIngestApsVizStationData.py:267-269)
EXCLUDED_OBS_SOURCES = ("tidal_predictions", "wind_anemometer", "air_barometer")

EVERY_LOCATION_TYPE = ("tidal", "ocean", "coastal", "river")

STATION_INFO_COLS = ("station_name", "lat", "lon", "tz", "gauge_owner",
                     "location_name", "country", "state", "county", "geom")


def ingest_retain_obs_station(catalog: Catalog, *, station_names: Sequence[str],
                              timemark: dt.datetime, begin_date: dt.datetime,
                              end_date: dt.datetime, data_source: str,
                              source_name: str, source_archive: str,
                              location_type: str) -> None:
    """Append one harvest window's station snapshot to retain_obs_station,
    as driver rows (``Catalog.append_rows``)."""
    names = set(station_names) - {None}  # SQL IN: a NULL matches nothing
    consts = (timemark, begin_date, end_date, data_source, source_name,
              source_archive, location_type)
    catalog.append_rows([
        (r.station_name, r.lat, r.lon, r.location_name, r.tz, r.gauge_owner,
         r.country, r.state, r.county, r.geom, *consts)
        for r in catalog.rows("gauge_station", GAUGE_STATION)
        if r.station_name in names], "retain_obs_station", RETAIN_OBS_STATION)


def _station_info(catalog: Catalog) -> DataFrame:
    return local_frame(catalog.spark, catalog.rows("gauge_station", GAUGE_STATION),
                       GAUGE_STATION).select(*STATION_INFO_COLS)


def publish_apsviz_stations(spark: SparkSession, catalog: Catalog, *,
                            model_run_id: str, adcirc_station_names: Sequence[str],
                            data_source: str, source_name: str, source_archive: str,
                            source_instance: str, forcing_metclass: str,
                            location_type: str, grid_name: str,
                            timemark: dt.datetime,
                            all_location_types: Sequence[str],
                            ui_data_url: str = "https://apsviz/ui-data") -> DataFrame:
    """Build and append the per-run apsviz_station display table; returns
    the appended frame."""
    tm_str = timemark.strftime("%Y-%m-%dT%H:%M:%S") + "Z"
    run_consts = {
        "timemark": F.lit(timemark).cast("timestamp_ntz"),
        "model_run_id": F.lit(model_run_id),
        "source_instance": F.lit(source_instance),
        "forcing_metclass": F.lit(forcing_metclass),
        "grid_name": F.lit(grid_name),
    }

    info = F.broadcast(_station_info(catalog))
    adcirc_names = local_frame(spark, [(s,) for s in adcirc_station_names],
                               "station_name string")

    # --- ADCIRC side ------------------------------------------------------
    adcirc = (
        adcirc_names.join(info, "station_name")
        .withColumns(run_consts)
        .withColumn("data_source", F.lit(data_source))
        .withColumn("source_name", F.lit(source_name))
        .withColumn("source_archive", F.lit(source_archive))
        .withColumn("location_type", F.lit(location_type))
    )

    # --- obs side ---------------------------------------------------------
    begin = timemark - dt.timedelta(days=1.5)
    wanted_types = {location_type}
    if location_type == "tidal":
        wanted_types |= set(EVERY_LOCATION_TYPE) - set(all_location_types)

    retain = catalog.read("retain_obs_station", RETAIN_OBS_STATION)
    obs = (
        retain.filter(F.col("location_type").isin(list(wanted_types)))
        .filter(interval_overlaps(
            F.col("begin_date"), F.col("end_date"),
            F.lit(begin).cast("timestamp_ntz"), F.lit(timemark).cast("timestamp_ntz")))
        .select("station_name", "data_source", "source_name", "source_archive",
                "gauge_owner", "location_type")
        .distinct()
        .filter(~F.col("data_source").isin(*EXCLUDED_OBS_SOURCES))
    )
    # deterministic per-station dedup (reference: drop_duplicates keeps
    # arbitrary first row; we keep the lexicographically first source)
    obs = keep_latest(obs, ["station_name"],
                      [F.col("data_source").asc(), F.col("source_name").asc()])
    # anti-join: obs stations already covered by ADCIRC drop out (J5)
    obs = obs.join(adcirc_names, "station_name", "left_anti")
    obs_out = (
        obs.drop("gauge_owner")
        .join(info, "station_name")
        .withColumns(run_consts)
    )

    cols = [f.name for f in APSVIZ_STATION.fields if f.name != "csvurl"]
    out = adcirc.select(*cols).unionByName(obs_out.select(*cols))
    out = out.withColumn(
        "csvurl",
        F.concat(F.lit(f"{ui_data_url}/get_station_data?station_name="),
                 F.col("station_name"),
                 F.lit(f"&time_mark={tm_str}&data_source={data_source}"
                       f"&instance_name={source_instance}"
                       f"&forcing_metclass={forcing_metclass}")),
    ).select(*[f.name for f in APSVIZ_STATION.fields])

    catalog.append(out, "apsviz_station")
    return out
