"""The benchmark workloads. Each drives the unmodified package through its
public API, closed-loop from one driver thread, and checks every
operation against the oracle outside the timed region.

An operation is one ingest pass (``obs_backfill``) or one 6-hour cycle
(``nowcast_cycle``).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.plans import read_api
from apsviz_timeseriesdb_ingest_spark.plans.bootstrap import bootstrap
from apsviz_timeseriesdb_ingest_spark.plans.model_ingest import ModelIngest
from apsviz_timeseriesdb_ingest_spark.plans.obs_ingest import ObsIngest
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.sources.skipping import build_skipping
from apsviz_timeseriesdb_ingest_spark.streaming import StreamingObsIngest

from . import gen
from .oracle import ModelOracle, ObsOracle, asof, sort_rows

H = dt.timedelta(hours=1)
NOWCAST_SOURCE = "noaa.nowcast"  # X2's parameterized category (no data)
#: a run times at least one operation: set-up (session, bootstrap and a
#: warm-up) costs 30-45 s on a 4-core machine, and the runs of a whole
#: benchmark set must fit in under an hour
MIN_OPS = 1


class Run:
    """Per-run state: session, scratch dirs, the operations timed so far,
    and the hooks a traced run attaches."""

    def __init__(self, spark, workdir: str, seed: int, seconds: float,
                 t_process: float):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.t_process = t_process
        self.catalog: Catalog | None = None
        self.setup_s = None
        self.t_measure = None
        self.ops: list[dict] = []  # {"s", "rows", "ok", "idx", ...}
        self.notes: list[str] = []  # oracle mismatches and errors
        # set by the traced run only
        self.tracer = None
        self.catalog_class = Catalog
        self.on_setup, self.before_op, self.after_op = [], [], []

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.workdir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def make_catalog(self) -> Catalog:
        self.catalog = self.catalog_class(self.spark, self.dir("warehouse"))
        return self.catalog

    def setup_done(self) -> None:
        self.t_measure = time.perf_counter()
        self.setup_s = self.t_measure - self.t_process
        for hook in self.on_setup:
            hook()

    def measuring(self) -> bool:
        """Closed loop: keep going until ``seconds`` have passed and at
        least ``MIN_OPS`` operations are done."""
        return (len(self.ops) < MIN_OPS
                or time.perf_counter() - self.t_measure < self.seconds)

    def timed(self, kind: str, idx: int, fn):
        """Run one operation under the clock: ``(result, seconds)``. An
        operation that raises counts as failed, with result None."""
        for hook in self.before_op:
            hook()
        with self.tracer.op(kind, idx) if self.tracer else nullcontext():
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # noqa: BLE001 - the run reports it
                self.fail(f"{kind} {idx} raised {type(e).__name__}: {e}")
                out = None
            return out, time.perf_counter() - t0

    def record(self, seconds: float, rows: int, ok: bool, idx: int, **extra) -> None:
        op = {"s": seconds, "rows": rows, "ok": bool(ok), "idx": idx, **extra}
        self.ops.append(op)
        for hook in self.after_op:
            hook(op)

    def fail(self, why: str) -> None:
        self.notes.append(why)


def _setup_catalog(run: Run, universe: gen.Universe):
    stations_csv = os.path.join(run.dir("seed"), "stations.csv")
    meta_csv = os.path.join(run.dir("seed"), "source_obs_meta.csv")
    gen.write_station_csv(stations_csv, universe, run.seed)
    gen.write_source_meta(meta_csv, universe)
    catalog = run.make_catalog()
    bootstrap(run.spark, catalog, station_csvs=[stations_csv], source_meta_csv=meta_csv)
    return catalog


def obs_state_matches(run: Run, catalog: Catalog, oracle: ObsOracle) -> bool:
    """Compare gauge_data with the oracle by per-(source, timemark)
    checksums: row count, sum of values, time range."""
    value = F.coalesce(*[F.col(m) for m in
                         ("water_level", "wave_height", "wind_speed",
                          "air_pressure", "stream_elevation", "flow_volume")])
    got = _checksum(
        catalog.read("gauge_data")
        .join(catalog.read("gauge_source"), "source_id")
        .join(catalog.read("gauge_station").select("station_id", "station_name"),
              "station_id"),
        ["station_name", "data_source", "source_name", "source_archive", "timemark"],
        value, 100)
    want = oracle.checksum()
    if got != want:
        bad = sorted(set(got.items()) ^ set(want.items()))[:3]
        run.fail(f"gauge_data differs from oracle: {len(got)} vs {len(want)} "
                 f"groups, e.g. {bad}")
        return False
    return True


def model_state_matches(run: Run, catalog: Catalog, oracle: ModelOracle) -> bool:
    got = _checksum(
        catalog.read("model_data")
        .join(catalog.read("model_source").select("source_id", "station_id",
                                                  "data_source"), "source_id")
        .join(catalog.read("gauge_station").select("station_id", "station_name"),
              "station_id"),
        ["station_name", "data_source", "timemark"], F.col("water_level"), 1000)
    want = oracle.checksum()
    if got != want:
        bad = sorted(set(got.items()) ^ set(want.items()))[:3]
        run.fail(f"model_data differs from oracle: {len(got)} vs {len(want)} "
                 f"groups, e.g. {bad}")
        return False
    return True


def _checksum(df, keys, value, scale) -> dict:
    rows = (df.groupBy(*keys)
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(value * scale).cast("long")).alias("v"),
                 F.min("time").alias("lo"), F.max("time").alias("hi"))
            .collect())
    return {tuple(r[k] for k in keys): (r["n"], r["v"], r["lo"], r["hi"])
            for r in rows}


def fact_bytes(catalog: Catalog) -> int:
    """Parquet bytes of gauge_data + model_data."""
    return sum(os.path.getsize(os.path.join(root, f))
               for table in ("gauge_data", "model_data")
               for root, _, files in os.walk(catalog.path(table))
               for f in files if f.endswith(".parquet"))


def fact_rows(catalog: Catalog) -> int:
    return sum(catalog.read(t).count() for t in ("gauge_data", "model_data")
               if catalog.exists(t))


# -- obs_backfill ----------------------------------------------------------

BACKFILL_PER_TYPE = 40      # stations per location type
BACKFILL_FILE_HOURS = 72    # rows per station per file
BACKFILL_STEP_HOURS = 48    # 24 h overlap with the source's previous file
MALFORMED_RATE = 0.001
COLON_RATE = 0.2


def _land_obs_batch(harvest: str, universe, k: int, rng):
    """Pass ``k``: one data file and one station-meta file per source."""
    files = []
    start = gen.EPOCH + k * BACKFILL_STEP_HOURS * H
    for i, src in enumerate(universe.sources):
        timemark = start + (BACKFILL_FILE_HOURS + i) * H  # unique per source
        f = gen.write_obs_file(harvest, universe, src, start, BACKFILL_FILE_HOURS,
                               timemark, rng, malformed_rate=MALFORMED_RATE,
                               colon=rng.random() < COLON_RATE)
        gen.write_station_meta_file(harvest, f, universe.stations_of(src.location_type))
        files.append(f)
    return files


def obs_backfill(run: Run) -> None:
    universe = gen.make_universe(run.seed, BACKFILL_PER_TYPE)
    catalog = _setup_catalog(run, universe)
    harvest = run.dir("harvest")
    rng = random.Random(run.seed)
    oracle = ObsOracle()
    ingest = ObsIngest(run.spark, catalog, harvest)

    files = _land_obs_batch(harvest, universe, 0, rng)
    oracle.apply(files)
    ingest.run_sequence_ingest()  # warm-up pass
    run.setup_done()

    k = 0
    while run.measuring():
        k += 1
        files = _land_obs_batch(harvest, universe, k, rng)
        superseded = oracle.apply(files)
        n = len(files)
        out, secs = run.timed("pass", k, ingest.run_sequence_ingest)
        ok = out == {"discovered": n, "ingested": n, "station_meta": n}
        if not ok:
            run.fail(f"pass {k}: {out}, expected {n} files each")
        rows = sum(len(f.rows) + f.n_malformed for f in files)
        run.record(secs, rows, ok, k,
                   malformed=sum(f.n_malformed for f in files),
                   superseded=superseded, harvest=harvest,
                   prefixes=[s.prefix for s in universe.sources])

    if not obs_state_matches(run, catalog, oracle):
        for op in run.ops:
            op["ok"] = False


# -- nowcast_cycle ---------------------------------------------------------

def _model_data_sources(run_: gen.ModelRun) -> dict:
    """data_source per (kind, station_type), by the reference's naming
    (``run/runModelIngest.py:201-212``)."""
    p = run_.props
    grid = p["ADCIRCgrid"].upper()
    ens = p["forcing.ensemblename"].upper()
    storm = p["storm"]
    synoptic = p["forcing.metclass"] == "synoptic"
    fc = f"{ens}_{grid}" if synoptic else f"{storm}_{ens}_{grid}"
    nc = f"NOWCAST_{grid}" if synoptic else f"{storm}_NOWCAST_{grid}"
    return {(kind, st): (fc if kind == "FORECAST" else nc)
            for kind in ("FORECAST", "NOWCAST") for st in gen.MODEL_STATION_TYPES}


def _config_frame(spark, runs):
    return spark.createDataFrame(gen.config_items(runs),
                                 "instance_id long, uid string, key string, value string")


def _fmt(t: dt.datetime) -> str:
    return t.strftime(gen.TIME_FMT)


def read_payload(catalog, kind: str, args: dict):
    """One read: the read-API call plus ``to_json_array``. The as-of read
    has no ``time_stamp`` column to order a JSON array by, so it ends in
    ``collect`` instead."""
    if kind == "asof":
        return sort_rows(read_api.get_model_vs_obs_asof(
            catalog, args["station"], _fmt(args["start"]), _fmt(args["end"])).collect())
    return json.loads(read_api.to_json_array(_READERS[kind](catalog, args)))


_READERS = {
    "x1": lambda c, a: read_api.get_obs_timeseries_station_data(
        c, a["station"], _fmt(a["start"]), _fmt(a["end"])),
    "x2": lambda c, a: read_api.get_obs_timeseries_station_data_allparms(
        c, a["station"], _fmt(a["start"]), _fmt(a["end"]), NOWCAST_SOURCE),
    "x3": lambda c, a: read_api.get_forecast_timeseries_station_data(
        c, a["station"], _fmt(a["timemark"]), _fmt(a["end"]), a["data_source"],
        gen.INSTANCE),
    "x4": lambda c, a: read_api.get_nowcast_timeseries_station_data(
        c, a["station"], _fmt(a["start"]), _fmt(a["end"]), a["data_source"],
        gen.INSTANCE),
}


def expected_read(kind, args, obs: ObsOracle, model: ModelOracle):
    if kind == "x1":
        return obs.x1(args["station"], args["start"], args["end"])
    if kind == "x2":
        return obs.x2(args["station"], args["start"], args["end"], NOWCAST_SOURCE)
    if kind == "x3":
        return model.x3(args["station"], args["timemark"], args["end"],
                        args["data_source"])
    if kind == "x4":
        return model.x4(args["station"], args["start"], args["end"],
                        args["data_source"])
    return asof(obs, model, args["station"], args["start"], args["end"])


CYCLE_PER_TYPE = 6
CYCLE_OBS_HOURS = 12          # each obs file; overlaps the previous by 6 h
CYCLE_FORECAST_HOURS = 48
CYCLE_NOWCAST_HOURS = 6
#: one station type end to end: NOAA tidal gauges and predictions, and
#: the ADCIRC runs' NOAASTATIONS files
CYCLE_CONFIGS = tuple(c for c in gen.SOURCE_CONFIGS
                      if c[5] == "tidal" and c[3] == "water_level")
CYCLE_STATION_TYPES = ("NOAASTATIONS",)


def nowcast_cycle(run: Run) -> None:
    universe = gen.make_universe(run.seed, CYCLE_PER_TYPE, CYCLE_CONFIGS)
    catalog = _setup_catalog(run, universe)
    rng = random.Random(run.seed)
    obs, model = ObsOracle(), ModelOracle()
    model_harvest = run.dir("model_harvest")
    variables = sorted({s.variable for s in universe.sources})
    streams = {v: StreamingObsIngest(run.spark, catalog, run.dir("stream", v),
                                     run.dir("checkpoint", v), source_variable=v)
               for v in variables}
    ingest = ModelIngest(run.spark, catalog, model_harvest)
    s0, s1 = universe.stations_of("tidal")[:2]  # the watch list

    def land(c: int) -> dict:
        """Cycle ``c``'s inputs: the run directory and the next colon-free
        obs files, plus the reads that follow and their expected payloads."""
        timemark = gen.EPOCH + 6 * c * H
        mrun = gen.write_model_run(model_harvest, universe, timemark,
                                   tropical=c % 2 == 1, rng=rng,
                                   forecast_hours=CYCLE_FORECAST_HOURS,
                                   nowcast_hours=CYCLE_NOWCAST_HOURS,
                                   station_types=CYCLE_STATION_TYPES)
        ds = _model_data_sources(mrun)
        model.apply(mrun, ds)
        start = timemark - CYCLE_OBS_HOURS * H
        files = [gen.write_obs_file(run.dir("stream", src.variable), universe, src,
                                    start, CYCLE_OBS_HOURS,
                                    timemark + i * dt.timedelta(minutes=1), rng)
                 for i, src in enumerate(universe.sources)]
        obs.apply(files)
        recent = {"start": timemark - 48 * H, "end": timemark}
        reads = [
            ("x3", {"station": s0, "timemark": timemark,
                    "end": timemark + CYCLE_FORECAST_HOURS * H,
                    "data_source": ds[("FORECAST", "NOAASTATIONS")]}),
            ("x1", {"station": s0, **recent}),
            ("x4", {"station": s1, **recent,
                    "data_source": ds[("NOWCAST", "NOAASTATIONS")]}),
            ("x2", {"station": s1, **recent}),
            ("asof", {"station": s1, "start": timemark - 24 * H,
                      "end": timemark + 24 * H}),
        ]
        return {"c": c, "run": mrun, "config": _config_frame(run.spark, [mrun]),
                "rows": sum(len(f.rows) for f in mrun.files + files),
                "reads": reads,
                "expected": [expected_read(k, a, obs, model) for k, a in reads]}

    def ingest_cycle(w: dict) -> dict:
        out = ingest.ingest_run(w["run"].run_id, w["config"])
        for v in variables:
            streams[v].run_available()
        return out

    def serve(w: dict) -> list:
        return [read_payload(catalog, kind, args) for kind, args in w["reads"]]

    def check(w: dict, out: dict, got: list | None = None) -> bool:
        n_model = sum(len(f.rows) for f in w["run"].files)
        bad = [] if got is None else [
            r for r, g, e in zip(w["reads"], got, w["expected"]) if g != e]
        if out["rows"] != n_model or bad:
            run.fail(f"cycle {w['c']}: model rows {out['rows']} vs {n_model}; "
                     f"{len(bad)} reads differ, e.g. {bad[:1]}")
            return False
        return True

    def cycle(w: dict) -> tuple[dict, list]:
        return ingest_cycle(w), serve(w)

    # warm-up: one synoptic cycle's ingest starts the streams and
    # registers the synoptic model sources; the zone-map sidecars every
    # later merge refreshes are built and refreshed once. The first timed
    # cycle is tropical, so it registers the tropical sources.
    w = land(0)
    check(w, ingest_cycle(w))
    for table in ("gauge_data", "model_data"):
        build_skipping(catalog, table, range_cols=["time"])
        catalog.refresh_skipping(table)
    run.setup_done()

    c = 0
    while run.measuring():
        c += 1
        w = land(c)
        result, secs = run.timed("cycle", c, lambda: cycle(w))
        run.record(secs, w["rows"], result is not None and check(w, *result), c)

    if not (obs_state_matches(run, catalog, obs)
            & model_state_matches(run, catalog, model)):
        for op in run.ops:
            op["ok"] = False


WORKLOADS = {
    "obs_backfill": obs_backfill,
    "nowcast_cycle": nowcast_cycle,
}

