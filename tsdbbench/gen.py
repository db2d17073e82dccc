"""Seeded generator of harvest inputs: stations, source configs, obs
harvest CSVs and ADCIRC model-run directories (FIXTURES.md sections 1-6).

Pure Python, no Spark: the program under test only ever sees the files
written here. Every file is described by a record that the oracle
consumes, so the expected state is computed from the same draws that
produced the bytes.

Invariants the oracle relies on:

- timemarks are unique per source config (one file per source per
  timemark), so every keep-latest ordering the package uses agrees;
- every source config reports on its own minute offset, so within one
  station no two obs rows share a timestamp (as-of ties are impossible);
- values carry two (obs) or three (model) decimals, so the parsed double
  equals Python's ``float`` of the same text;
- malformed ``TIME`` cells never fall on a file's first or last calendar
  day, so they are never the lexical min/max of the raw column.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

LOCATION_TYPES = ("tidal", "coastal", "river", "ocean")
_TYPE_TAG = {"tidal": "T", "coastal": "C", "river": "R", "ocean": "O"}

#: (data_source, source_name, source_archive, source_variable,
#:  filename_prefix, location_type, units) — the reference's 11 configs in
#: shape (``run/source_obs_meta.csv``); no prefix is a prefix of another
SOURCE_CONFIGS = (
    ("tidal_gauge", "noaa", "noaa", "water_level",
     "noaaweb_stationdata_water_level", "tidal", "m"),
    ("tidal_predictions", "noaa", "noaa", "water_level",
     "noaaweb_stationdata_predictions", "tidal", "m"),
    ("air_barometer", "noaa", "noaa", "air_pressure",
     "noaaweb_stationdata_air_pressure", "tidal", "mb"),
    ("wind_anemometer", "noaa", "noaa", "wind_speed",
     "noaaweb_stationdata_wind_speed", "tidal", "mps"),
    ("coastal_gauge", "ncem", "contrails", "water_level",
     "contrailsweb_stationdata_coastal_level", "coastal", "m"),
    ("air_barometer", "ncem", "contrails", "air_pressure",
     "contrailsweb_stationdata_coastal_pressure", "coastal", "mb"),
    ("river_gauge", "ncem", "contrails", "water_level",
     "contrailsweb_stationdata_river_level", "river", "m"),
    ("stream_gauge", "ncem", "contrails", "stream_elevation",
     "contrailsweb_stationdata_stream_elevation", "river", "m"),
    ("ocean_buoy", "ndbc", "ndbc", "wave_height",
     "ndbcweb_stationdata_wave_height", "ocean", "m"),
    ("air_barometer", "ndbc", "ndbc", "air_pressure",
     "ndbcweb_stationdata_air_pressure", "ocean", "mb"),
    ("wind_anemometer", "ndbc", "ndbc", "wind_speed",
     "ndbcweb_stationdata_wind_speed", "ocean", "mps"),
)

#: ADCIRC station type -> location type (``plans/model_ingest.STATION_TYPES``)
MODEL_STATION_TYPES = {
    "NOAASTATIONS": "tidal", "CONTRAILSCOASTAL": "coastal",
    "CONTRAILSRIVERS": "river", "NDBCBUOYS": "ocean",
}

TIME_FMT = "%Y-%m-%d %H:%M:%S"
EPOCH = dt.datetime(2024, 1, 1)


@dataclass(frozen=True)
class Source:
    data_source: str
    source_name: str
    source_archive: str
    variable: str
    prefix: str
    location_type: str
    units: str
    minute: int  # minute-of-hour this source reports on

    @property
    def key(self) -> tuple[str, str, str]:
        return (self.data_source, self.source_name, self.source_archive)


@dataclass
class Universe:
    stations: dict[str, list[str]]  # location_type -> station names
    sources: list[Source]

    def stations_of(self, location_type: str) -> list[str]:
        return self.stations[location_type]


@dataclass
class ObsFile:
    """One obs harvest data file, as written."""
    source: Source
    name: str
    timemark: dt.datetime
    rows: list[tuple[str, dt.datetime, float]]  # valid rows only
    n_malformed: int

    @property
    def file_key(self) -> str:
        return self.name.replace(":", "_")


@dataclass
class ModelFile:
    kind: str  # FORECAST or NOWCAST
    station_type: str
    rows: list[tuple[str, dt.datetime, float]]


@dataclass
class ModelRun:
    run_id: str
    instance_id: int
    uid: str
    props: dict[str, str]
    timemark: dt.datetime
    files: list[ModelFile] = field(default_factory=list)


def make_universe(seed: int, per_type: int,
                  configs=SOURCE_CONFIGS) -> Universe:
    rng = random.Random(seed * 7919 + 1)
    stations = {}
    for t in LOCATION_TYPES:
        ids = rng.sample(range(1000, 9999), per_type)
        stations[t] = [f"{_TYPE_TAG[t]}{i}" for i in sorted(ids)]
    minutes = rng.sample(range(0, 60, 3), len(configs))
    sources = [Source(*c, minute=m) for c, m in zip(configs, minutes)]
    return Universe(stations, sources)


def write_station_csv(path: str, universe: Universe, seed: int) -> None:
    """Headerless 11-column station geometry CSV (FIXTURES.md section 1);
    location names carry quoted commas."""
    rng = random.Random(seed * 31 + 5)
    with open(path, "w") as f:
        for t in LOCATION_TYPES:
            for s in universe.stations_of(t):
                lat = round(rng.uniform(25, 45), 6)
                lon = round(rng.uniform(-98, -66), 6)
                f.write(f'{s},{lat},{lon},gmt,OWNER,"Site {s}, Bay",{t},us,nc,'
                        f'County{s[-1]},0101000020E610{s}\n')


def write_source_meta(path: str, universe: Universe) -> None:
    with open(path, "w") as f:
        f.write("data_source,source_name,source_archive,source_variable,"
                "filename_prefix,location_type,units\n")
        for s in universe.sources:
            f.write(f"{s.data_source},{s.source_name},{s.source_archive},"
                    f"{s.variable},{s.prefix},{s.location_type},{s.units}\n")


def stamp(t: dt.datetime, colon: bool) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S" if colon else "%Y-%m-%dT%H_%M_%S")


def write_obs_file(harvest_dir: str, universe: Universe, source: Source,
                   start: dt.datetime, hours: int, timemark: dt.datetime,
                   rng: random.Random, *, malformed_rate: float = 0.0,
                   colon: bool = False) -> ObsFile:
    """One harvest file of ``hours`` hourly rows per station of the
    source's location type, covering ``[start, start + hours)``."""
    name = f"{source.prefix}_{stamp(timemark, colon)}.csv"
    stations = universe.stations_of(source.location_type)
    first_day, last_day = start.date(), (start + dt.timedelta(hours=hours - 1)).date()
    rows, lines, bad = [], [f"STATION,TIME,{source.variable.upper()}"], 0
    for h in range(hours):
        t = start + dt.timedelta(hours=h, minutes=source.minute)
        ts = t.strftime(TIME_FMT)
        inner = first_day < t.date() < last_day
        for s in stations:
            v = round(rng.uniform(-2.0, 12.0), 2)
            if inner and malformed_rate and rng.random() < malformed_rate:
                # hour 24-29: lexically inside the file's range, never a
                # valid timestamp
                lines.append(f"{s},{ts[:11]}{24 + rng.randrange(6)}{ts[13:]},{v}")
                bad += 1
                continue
            rows.append((s, t, v))
            lines.append(f"{s},{ts},{v}")
    with open(os.path.join(harvest_dir, name), "w") as f:
        f.write("\n".join(lines) + "\n")
    return ObsFile(source, name, timemark, rows, bad)


def write_station_meta_file(harvest_dir: str, data_file: ObsFile,
                            stations: list[str]) -> None:
    """``stationdata_meta`` companion of a data file (FIXTURES.md section 4):
    same suffix, so the pipeline pairs the two by name."""
    name = data_file.name.replace("stationdata", "stationdata_meta", 1)
    with open(os.path.join(harvest_dir, name), "w") as f:
        f.write("STATION,LAT,LON\n")
        for s in stations:
            f.write(f"{s},0.0,0.0\n")


# -- model runs ---------------------------------------------------------

GRID = "NCSC_SAB_v1.23"
INSTANCE = "ncsc123_gfs_sb55.01"


def model_props(timemark: dt.datetime, tropical: bool, storm: str = "ian") -> dict:
    """The 13 run properties (``RUN_PROPERTY_KEYS``) of one run."""
    return {
        "suite.model": "adcirc", "ADCIRCgrid": GRID,
        "advisory": timemark.strftime("%Y%m%d%H"),
        "forcing.ensemblename": "nhc" if tropical else "gfsforecast",
        "forcing.metclass": "tropical" if tropical else "synoptic",
        "instancename": INSTANCE, "storm": storm if tropical else "none",
        "stormname": storm if tropical else "none",
        "stormnumber": "09" if tropical else "none",
        "physical_location": "renci",
        "time.currentdate": timemark.strftime("%y%m%d"),
        "time.currentcycle": timemark.strftime("%H"),
        "workflow_type": "ecflow",
    }


def write_model_run(harvest_dir: str, universe: Universe, timemark: dt.datetime,
                    *, tropical: bool, rng: random.Random,
                    forecast_hours: int, nowcast_hours: int,
                    station_types=tuple(MODEL_STATION_TYPES)) -> ModelRun:
    """One ADCIRC run directory: FORECAST/NOWCAST data and meta_FORECAST
    station lists per station type. Nowcasts cover
    ``(timemark - nowcast_hours, timemark]`` so consecutive 6-hourly runs
    never share a nowcast timestamp; forecasts cover
    ``[timemark, timemark + forecast_hours)``."""
    instance_id = 4000 + (timemark - EPOCH) // dt.timedelta(hours=1)
    uid = timemark.strftime("%Y%m%d%H") + ("-nhc" if tropical else "-gfs")
    run = ModelRun(f"{instance_id}-{uid}", instance_id, uid,
                   model_props(timemark, tropical), timemark)
    run_dir = os.path.join(harvest_dir, run.run_id)
    os.makedirs(run_dir)
    for st in station_types:
        stations = universe.stations_of(MODEL_STATION_TYPES[st])
        for kind, t0, hours in (
                ("FORECAST", timemark, forecast_hours),
                ("NOWCAST", timemark - dt.timedelta(hours=nowcast_hours - 1),
                 nowcast_hours)):
            mf = ModelFile(kind, st, [])
            lines = ["STATION,TIME,WATER_LEVEL"]
            for h in range(hours):
                t = t0 + dt.timedelta(hours=h)
                ts = t.strftime(TIME_FMT)
                for s in stations:
                    v = round(rng.uniform(-1.5, 3.5), 3)
                    mf.rows.append((s, t, v))
                    lines.append(f"{s},{ts},{v}")
            with open(os.path.join(run_dir, f"{kind}_{st}.csv"), "w") as f:
                f.write("\n".join(lines) + "\n")
            run.files.append(mf)
        with open(os.path.join(run_dir, f"meta_FORECAST_{st}.csv"), "w") as f:
            f.write("STATION\n" + "\n".join(stations) + "\n")
    return run


def config_items(runs: list[ModelRun]) -> list[tuple[int, str, str, str]]:
    """``asgs_dashboard.config_item`` rows for the runs (FIXTURES.md
    section 6)."""
    return [(r.instance_id, r.uid, k, v) for r in runs for k, v in r.props.items()]
