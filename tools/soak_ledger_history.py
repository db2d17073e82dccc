#!/usr/bin/env python
"""Time the obs pass's stages against a long ledger history.

Both obs ledgers (``harvest_obs_file_meta``, ``retain_obs_station_file_meta``)
are preloaded with ``--rows`` ingested history rows (hourly files of the
``obs_backfill`` universe, dated before its epoch), then ``--passes``
``obs_backfill`` batches (11 data files and 11 station-meta files each)
are ingested, timing ``discover``, ``ingest_new`` and
``ingest_station_meta`` separately. The first pass is the process's
cold one. Prints one JSON line.

    python tools/soak_ledger_history.py --rows 100000
    python tools/soak_ledger_history.py --rows 100000 --checkout ../other

``--checkout`` runs another source checkout's package and ``tsdbbench``
(e.g. a parent commit's, to compare); the default is this one.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import resource
import shutil
import sys
import tempfile
import time


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--rows", type=int, required=True)
    p.add_argument("--passes", type=int, default=6)
    p.add_argument("--checkout",
                   default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    args = p.parse_args()
    sys.path.insert(0, os.path.abspath(args.checkout))

    from apsviz_timeseriesdb_ingest_spark.plans.obs_ingest import ObsIngest
    from apsviz_timeseriesdb_ingest_spark.schemas import (
        HARVEST_OBS_FILE_META,
        RETAIN_OBS_STATION_FILE_META,
    )
    from apsviz_timeseriesdb_ingest_spark.session import local_frame
    from tsdbbench import gen
    from tsdbbench import workloads as W
    from tsdbbench.run import configure_env, session

    workdir = tempfile.mkdtemp(prefix="ledger-history-")
    configure_env(workdir, 4)
    spark = session(workdir, False)
    run = W.Run(spark, workdir, 4242, 1.0, time.perf_counter())
    universe = gen.make_universe(run.seed, W.BACKFILL_PER_TYPE)
    catalog = W._setup_catalog(run, universe)
    harvest = run.dir("harvest")

    led, meta = [], []
    for i in range(args.rows):
        src = universe.sources[i % len(universe.sources)]
        tm = gen.EPOCH - dt.timedelta(hours=i // len(universe.sources) + 1)
        name = f"{src.prefix}_{gen.stamp(tm, False)}.csv"
        begin = tm - dt.timedelta(hours=72)
        led.append((harvest, name, gen.EPOCH, tm, begin, tm, src.data_source,
                    src.source_name, src.source_archive, src.variable,
                    src.location_type, tm, True, False))
        meta.append((harvest, name.replace("stationdata", "stationdata_meta", 1),
                     src.data_source, src.source_name, src.source_archive,
                     src.location_type, tm, begin, tm, True))
    if args.rows:
        for table, rows, schema in (
                ("harvest_obs_file_meta", led, HARVEST_OBS_FILE_META),
                ("retain_obs_station_file_meta", meta, RETAIN_OBS_STATION_FILE_META)):
            (local_frame(spark, rows, schema).coalesce(1).write.mode("overwrite")
             .parquet(catalog.path(table)))
    del led, meta

    ingest = ObsIngest(spark, catalog, harvest)
    rng = random.Random(run.seed)
    passes = []
    for k in range(args.passes):
        W._land_obs_batch(harvest, universe, k, rng)
        t = {}
        for stage, fn in (("discover", ingest.discover),
                          ("ingest_new", ingest.ingest_new),
                          ("station_meta", ingest.ingest_station_meta)):
            t0 = time.perf_counter()
            t[stage + "_files"] = fn()
            t[stage + "_s"] = round(time.perf_counter() - t0, 3)
        passes.append(t)
    print(json.dumps({
        "checkout": os.path.abspath(args.checkout), "history_rows": args.rows,
        "passes": passes,
        "driver_python_maxrss_mb": round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)}))
    spark.stop()
    shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
