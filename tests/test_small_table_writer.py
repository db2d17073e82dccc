"""``Catalog.append_rows``/``overwrite_rows``: small tables written from
driver rows with pyarrow read back as Spark-written tables do, run no
Spark job, keep the ``Catalog.rows``/``Catalog.arrow`` copy current and
never expose a partial file, and an append-only table is compacted
past a file bound; the obs ledger survives a crash inside
``overwrite_rows``, and the fact merge one inside its publish or before
it; the obs station-meta snapshot built on the driver equals its Spark
join formulation; the stream's fixed cost per call is pinned."""

from __future__ import annotations

import datetime as dt
import os
import shutil
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark import schemas
from apsviz_timeseriesdb_ingest_spark.plans.obs_ingest import ObsIngest
from apsviz_timeseriesdb_ingest_spark.session import as_struct, local_frame
from apsviz_timeseriesdb_ingest_spark.sources import catalog as catalog_module
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.sources.zonemap import (
    ZONEMAP_SCHEMA,
    list_parquet_files,
)
from apsviz_timeseriesdb_ingest_spark.streaming import StreamingObsIngest

from .test_obs_pipeline import SOURCE_META_HEADER, SOURCE_META_ROWS, _write
from .test_read_plan import _jobs

#: every table the ingest paths write from driver rows
DRIVER_ROW_SCHEMAS = {
    "harvest_obs_file_meta": schemas.HARVEST_OBS_FILE_META,
    "retain_obs_station_file_meta": schemas.RETAIN_OBS_STATION_FILE_META,
    "retain_obs_station": schemas.RETAIN_OBS_STATION,
    "harvest_model_file_meta": schemas.HARVEST_MODEL_FILE_META,
    "apsviz_station_file_meta": schemas.APSVIZ_STATION_FILE_META,
    "source_model_meta": schemas.SOURCE_MODEL_META,
    "stream_obs_ledger": schemas.STREAM_OBS_LEDGER,
    "gauge_data__zm": ZONEMAP_SCHEMA,
}

TS = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)


def _rows(schema, k: int) -> list[tuple]:
    """A full row (microsecond timestamps, True), an all-NULL row and a
    row of other values (False, a second timestamp)."""
    def value(dtype, alt):
        name = dtype.typeName()
        return {"string": f"v{k}{'b' if alt else ''}:1", "long": -(2 ** 62) if alt else k,
                "double": -0.5 if alt else 1.25, "boolean": not alt,
                "timestamp_ntz": TS + dt.timedelta(microseconds=k) if alt else TS}[name]
    return [tuple(value(f.dataType, False) for f in schema.fields),
            (None,) * len(schema.fields),
            tuple(value(f.dataType, True) for f in schema.fields)]


def _marker_jobs(spark, group) -> list[int]:
    """Run a marker action in ``group``; its job ids, sorted."""
    _jobs(spark, group, lambda: spark.range(2).collect())
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("table", sorted(DRIVER_ROW_SCHEMAS))
def test_reads_back_as_spark_written(spark, tmp_path, table):
    schema = as_struct(DRIVER_ROW_SCHEMAS[table])
    catalog = Catalog(spark, str(tmp_path / "wh"))
    first, second = _rows(schema, 1), _rows(schema, 2)
    catalog.append_rows(first, table, schema)
    catalog.append_rows(second, table, schema)
    catalog.overwrite_rows(first + second, "over", schema)
    catalog.append(spark.createDataFrame(first + second, schema), "spark_written")

    want_declared = Counter(catalog.read("spark_written", schema).collect())
    inferred = spark.read.parquet(catalog.path("spark_written"))
    for name in (table, "over"):
        assert Counter(catalog.read(name, schema).collect()) == want_declared, name
        got = spark.read.parquet(catalog.path(name))
        assert got.schema == inferred.schema, name
        assert Counter(got.collect()) == Counter(inferred.collect()), name
    assert len(list_parquet_files(catalog.path("over"))) == 1
    # the Arrow copy of a Spark-written table, read by pyarrow, agrees too
    fresh = Catalog(spark, catalog.warehouse)
    assert Counter(tuple(r.values()) for r in
                   fresh.arrow("spark_written", schema).to_pylist()) == want_declared
    # and so does the Row copy a fresh catalog reads, with no Spark job
    cold = Catalog(spark, catalog.warehouse)
    before = _marker_jobs(spark, f"cold-rows-before-{table}")[-1]
    got = cold.rows("spark_written", schema)
    assert _marker_jobs(spark, f"cold-rows-after-{table}")[0] - before - 1 == 0
    assert Counter(got) == want_declared


def test_no_job_and_cached_copy_follows_writers(spark, tmp_path):
    schema = schemas.HARVEST_OBS_FILE_META
    catalog = Catalog(spark, str(tmp_path / "wh"))
    table = "harvest_obs_file_meta"
    first, second = _rows(schema, 1), _rows(schema, 2)
    for verb, rows in ((catalog.append_rows, first), (catalog.append_rows, second),
                       (catalog.overwrite_rows, second), (catalog.append_rows, first)):
        _, jobs = _jobs(spark, f"write-{verb.__name__}", lambda: verb(rows, table, schema))
        assert jobs == 0, verb.__name__
        cached, jobs = _jobs(spark, "cached-rows", lambda: catalog.rows(table, schema))
        assert jobs == 0
        assert Counter(cached) == Counter(catalog.read(table, schema).collect())
        data, jobs = _jobs(spark, "cached-arrow", lambda: catalog.arrow(table, schema))
        assert jobs == 0
        assert Counter(tuple(r.values()) for r in data.to_pylist()) == Counter(cached)
    assert Counter(catalog.rows(table, schema)) == Counter(second + first)

    # a second catalog's write invalidates the first one's copy, and an
    # append against that stale copy still leaves the rows right
    other = Catalog(spark, catalog.warehouse)
    other.append_rows(second, table, schema)
    assert Counter(catalog.rows(table, schema)) == Counter(second + first + second)
    other.overwrite_rows(first, table, schema)
    catalog.append_rows(second, table, schema)
    assert Counter(catalog.rows(table, schema)) == Counter(first + second)
    assert Counter(other.rows(table, schema)) == Counter(first + second)


def test_temp_files_stay_invisible(spark, tmp_path, monkeypatch):
    schema = schemas.STREAM_OBS_LEDGER
    catalog = Catalog(spark, str(tmp_path / "wh"))
    table = "stream_obs_ledger"
    path = catalog.path(table)
    rows = _rows(schema, 1)
    catalog.append(spark.createDataFrame(rows, schema), table)  # Spark-written first
    seen = []
    write_table = pq.write_table

    def checked(data, where, **kw):
        write_table(data, where, **kw)
        # the written-but-unpublished file: no reader sees it
        assert os.path.exists(where)
        assert where not in list_parquet_files(path)
        seen.append(spark.read.schema(schema).parquet(path).count())

    monkeypatch.setattr(pq, "write_table", checked)
    catalog.append_rows(rows, table, schema)
    catalog.overwrite_rows(rows, table, schema)
    assert seen == [3, 6]
    assert catalog.read(table, schema).count() == 3
    # overwrite leaves the new file alone: no temp, checksum or _SUCCESS
    assert os.listdir(path) == [os.path.basename(f) for f in list_parquet_files(path)]
    assert len(os.listdir(path)) == 1


# -- the obs ledger across a crash in overwrite_rows ---------------------------

def _obs_fixture(spark, tmp_path, stations):
    from apsviz_timeseriesdb_ingest_spark.plans.bootstrap import bootstrap

    harvest = tmp_path / "harvest"
    harvest.mkdir()
    _write(str(tmp_path / "stations.csv"), [",".join(map(str, r)) for r in stations])
    _write(str(tmp_path / "meta.csv"), [SOURCE_META_HEADER, SOURCE_META_ROWS[0]])
    catalog = Catalog(spark, str(tmp_path / "wh"))
    bootstrap(spark, catalog, station_csvs=[str(tmp_path / "stations.csv")],
              source_meta_csv=str(tmp_path / "meta.csv"))
    return harvest, catalog


def _land_obs(harvest, hour: int) -> str:
    name = f"noaa_stationdata_water_level_2024-01-01T{hour:02d}_00_00.csv"
    _write(str(harvest / name), ["STATION,TIME,WATER_LEVEL",
                                 f"ST_B,2024-01-01 {hour:02d}:00:00,1.0"])
    return name


def test_ledger_survives_crash_inside_rewrite(spark, tmp_path):
    """A crash after ``overwrite_rows`` published the rewritten ledger
    but before it unlinked the old file leaves a file both pending and
    ingested. Cleanup then removes the file; the next pass must neither
    read it again nor keep the ledger doubled."""
    harvest, catalog = _obs_fixture(spark, tmp_path, META_STATIONS[2:])
    table = catalog.path("harvest_obs_file_meta")
    pipe = ObsIngest(spark, catalog, str(harvest))
    first = _land_obs(harvest, 1)
    assert pipe.discover() == 1
    old = list_parquet_files(table)
    saved = [shutil.copy2(f, tmp_path) for f in old]

    def crash() -> None:  # the old generation back next to the new one
        for f, copy in zip(old, saved):
            shutil.copy2(copy, f)

    assert pipe.ingest_new() == 1
    crash()
    assert len(catalog.read("harvest_obs_file_meta").collect()) == 2
    assert pipe.cleanup_ingested() == 1
    assert not (harvest / first).exists()

    second = _land_obs(harvest, 2)
    assert pipe.run_sequence_ingest() == {"discovered": 1, "ingested": 1, "station_meta": 0}
    ledger = catalog.read("harvest_obs_file_meta").collect()
    assert sorted((r.file_name, r.ingested) for r in ledger) == [(first, True), (second, True)]
    assert catalog.read("gauge_data").count() == 2

    # with nothing pending, the pass still drops the stale generation
    crash()
    assert pipe.ingest_new() == 0
    ledger = catalog.read("harvest_obs_file_meta").collect()
    assert sorted((r.file_name, r.ingested, r.data_begin_time) for r in ledger) == [
        (first, True, dt.datetime(2024, 1, 1, 1)), (second, True, dt.datetime(2024, 1, 1, 2))]


# -- the fact merge across a crash in its publish ------------------------------

#: the second pass supersedes 01:00 and touches a second month
FIRST = ["ST_B,2024-01-01 00:00:00,1.0", "ST_B,2024-01-01 01:00:00,1.0"]
SECOND = ["ST_B,2024-01-01 01:00:00,2.0", "ST_B,2024-02-01 00:00:00,2.0"]


def _second_file_pending(spark, root):
    """A catalog after one pass over FIRST, with SECOND discovered."""
    harvest, catalog = _obs_fixture(spark, root, META_STATIONS[2:])
    pipe = ObsIngest(spark, catalog, str(harvest))
    for hour, rows in ((1, FIRST), (2, SECOND)):
        _write(str(harvest / f"noaa_stationdata_water_level_2024-01-01T0{hour}_00_00.csv"),
               ["STATION,TIME,WATER_LEVEL", *rows])
        assert pipe.discover() == 1
        if hour == 1:
            assert pipe.ingest_new() == 1
    return catalog, pipe


def _clean_gauge_data(spark, tmp_path) -> Counter:
    """``gauge_data`` after both files, uncrashed."""
    (tmp_path / "clean").mkdir()
    catalog, pipe = _second_file_pending(spark, tmp_path / "clean")
    assert pipe.ingest_new() == 1
    return Counter(catalog.read("gauge_data").collect())


def _crashing_publish(real):
    """``catalog._publish`` that dies after moving a month's new files
    into place, before it unlinks the old ones."""
    def publish(dest, staged, *, replace):
        real(dest, staged, replace=False)
        if replace:
            raise RuntimeError("crash between publish and unlink")
    return publish


def test_merge_survives_crash_inside_publish(spark, tmp_path, monkeypatch):
    """A crash after the merge published a month's new files but before
    it unlinked the old ones leaves both generations there and the
    ledger unflipped. The rerun of the pass re-merges both and leaves
    the rows a clean run leaves, one generation a month."""
    want = _clean_gauge_data(spark, tmp_path)
    catalog, pipe = _second_file_pending(spark, tmp_path)
    january = os.path.join(catalog.path("gauge_data"), "time_bucket=2024-01")
    old = set(os.listdir(january))
    with monkeypatch.context() as m:
        m.setattr(catalog_module, "_publish", _crashing_publish(catalog_module._publish))
        with pytest.raises(RuntimeError, match="crash"):
            pipe.ingest_new()
    assert old < set(os.listdir(january))  # both generations
    assert catalog.read("gauge_data").count() == 4  # 00:00 and 01:00 in each
    assert not os.path.isdir(os.path.join(catalog.path("gauge_data"), "time_bucket=2024-02"))

    assert pipe.ingest_new() == 1  # still pending: the rerun re-merges
    assert Counter(catalog.read("gauge_data").collect()) == want
    assert not old & set(os.listdir(january))
    assert len(list_parquet_files(january)) == 1


def test_crashed_merge_stage_stays_invisible(spark, tmp_path, monkeypatch):
    """A merge killed before it published leaves its stages (the staged
    batch and the staged result) under the warehouse. No reader lists
    them; the next write removes each once it is older than the vacuum
    grace window, and keeps a younger stage, which may be a live
    write's."""
    import time

    want = _clean_gauge_data(spark, tmp_path)
    catalog, pipe = _second_file_pending(spark, tmp_path)
    before = Counter(catalog.read("gauge_data").collect())

    def killed(dest, staged, *, replace):
        raise RuntimeError("killed before publishing")

    with monkeypatch.context() as m:
        m.setattr(catalog_module, "_publish", killed)
        # a killed process runs no cleanup: the stages stay
        m.setattr(catalog_module.shutil, "rmtree", lambda *a, **k: None)
        with pytest.raises(RuntimeError, match="killed"):
            pipe.ingest_new()
    stages = [e for e in os.listdir(catalog.warehouse) if e.startswith(".stage-")]
    assert len(stages) == 2
    for e in stages:
        assert list_parquet_files(os.path.join(catalog.warehouse, e))
    assert not [f for f in list_parquet_files(catalog.warehouse) if ".stage-" in f]
    assert Counter(catalog.read("gauge_data").collect()) == before

    past = time.time() - catalog_module.VACUUM_GRACE_SECONDS - 60
    for e in stages:
        crashed = os.path.join(catalog.warehouse, e)
        for d, dirs, names in os.walk(crashed, topdown=False):
            for nm in dirs + names:
                os.utime(os.path.join(d, nm), (past, past))
        os.utime(crashed, (past, past))
    os.makedirs(os.path.join(catalog.warehouse, ".stage-live", "in"))
    assert pipe.ingest_new() == 1
    assert Counter(catalog.read("gauge_data").collect()) == want
    assert [e for e in os.listdir(catalog.warehouse) if e.startswith(".stage-")] == \
        [".stage-live"]


# -- compaction of append-only small tables -----------------------------------

def test_append_rows_compacts_past_the_file_bound(spark, tmp_path):
    schema = schemas.RETAIN_OBS_STATION_FILE_META
    catalog = Catalog(spark, str(tmp_path / "wh"))
    table = "retain_obs_station_file_meta"
    bound = catalog_module.SMALL_TABLE_MAX_FILES
    appended = []
    for k in range(3 * bound):
        rows = _rows(schema, k)
        catalog.append_rows(rows, table, schema)
        appended += rows
        assert len(list_parquet_files(catalog.path(table))) <= bound
    assert Counter(catalog.read(table, schema).collect()) == Counter(appended)
    assert Counter(Catalog(spark, catalog.warehouse).rows(table, schema)) == Counter(appended)
    assert Counter(catalog.rows(table, schema)) == Counter(appended)


# -- the obs station-meta snapshot --------------------------------------------

#: ST_A twice under one name: an inner join by name multiplies
META_STATIONS = [
    ("ST_A", 34.1, -77.1, "gmt", "NOAA/NOS", "Alpha", "tidal", "us", "nc", "NH", "01A"),
    ("ST_A", 34.9, -77.9, "gmt", "NOAA/NOS", "Alpha2", "tidal", "us", "nc", "NH", "01Z"),
    ("ST_B", 34.2, -77.2, "gmt", "NOAA/NOS", "Beta", "tidal", "us", "nc", "BR", "01B"),
]


def _spark_snapshot(spark, catalog, pipe, meta_files):
    """The Spark formulation the driver snapshot replaced: the meta
    files' first column, read with a declared schema, joined to the
    pass's constants by file key and to ``gauge_station`` by name."""
    windows = {r.file_name: (r.data_begin_time, r.data_end_time)
               for r in catalog.read("harvest_obs_file_meta").collect()}
    meta = catalog.rows("source_obs_meta", schemas.SOURCE_OBS_META)[0]
    consts = local_frame(spark, [
        (name.replace(":", "_"), stamp, *windows["_".join(name.split("_meta_"))],
         meta.data_source, meta.source_name, meta.source_archive, meta.location_type)
        for name, stamp in meta_files],
        "file_key string, timemark timestamp_ntz, begin_date timestamp_ntz, "
        "end_date timestamp_ntz, data_source string, source_name string, "
        "source_archive string, location_type string")
    stations = (spark.read.schema("station string").option("header", True)
                .csv([pipe._readable_path(pipe.harvest_dir, n) for n, _ in meta_files])
                .withColumn("file_key", F.element_at(F.split(F.input_file_name(), "/"), -1))
                .select(F.col("station").alias("station_name"), "file_key"))
    info = catalog.read("gauge_station", schemas.GAUGE_STATION).select(
        "station_name", "lat", "lon", "location_name", "tz", "gauge_owner",
        "country", "state", "county", "geom")
    return (stations.join(F.broadcast(consts), "file_key")
            .join(F.broadcast(info), "station_name")
            .select(*[f.name for f in schemas.RETAIN_OBS_STATION.fields]).collect())


def test_station_meta_snapshot_matches_spark_join(spark, tmp_path):
    harvest, catalog = _obs_fixture(spark, tmp_path, META_STATIONS)
    prefix = "noaa_stationdata_water_level"
    stamps = {"2024-01-01T02:00:00": dt.datetime(2024, 1, 1, 2),   # colon name, staged
              "2024-01-01T04_00_00": dt.datetime(2024, 1, 1, 4),   # header-only meta
              "2024-01-01T06_00_00": dt.datetime(2024, 1, 1, 6)}   # no station column
    for i, stamp in enumerate(stamps):
        _write(str(harvest / f"{prefix}_{stamp}.csv"),
               ["STATION,TIME,WATER_LEVEL", f"ST_B,2024-01-01 0{i}:00:00,1.0",
                f"ST_B,2024-01-01 0{i}:30:00,1.5"])
    meta_files = [(f"noaa_stationdata_meta_water_level_{s}.csv", t) for s, t in stamps.items()]
    _write(str(harvest / meta_files[0][0]),
           ["STATION,LAT,LON", "ST_A,1,1", ",2,2", "NOPE,3,3", "ST_B,4,4", "ST_A,5,5"])
    _write(str(harvest / meta_files[1][0]), ["STATION,LAT,LON"])
    _write(str(harvest / meta_files[2][0]), ["NAME,LAT,LON", "ST_B,4,4"])

    pipe = ObsIngest(spark, catalog, str(harvest))
    # the bad header skips its own file only, unledgered
    assert pipe.run_sequence_ingest() == {"discovered": 3, "ingested": 3, "station_meta": 2}
    got = catalog.read("retain_obs_station", schemas.RETAIN_OBS_STATION).collect()
    want = _spark_snapshot(spark, catalog, pipe, meta_files[:2])
    # ST_A listed twice x two ST_A stations, ST_B once; the empty cell
    # and the unknown station match nothing
    assert len(want) == 5
    assert Counter(got) == Counter(want)
    ledger = catalog.read("retain_obs_station_file_meta").collect()
    assert sorted(r.file_name for r in ledger) == sorted(n for n, _ in meta_files[:2])
    assert pipe.ingest_station_meta() == 0
    # mended, the file is taken by the next pass
    _write(str(harvest / meta_files[2][0]), ["STATION,LAT,LON", "ST_B,4,4"])
    assert pipe.ingest_station_meta() == 1
    assert catalog.read("retain_obs_station").count() == 6


# -- the stream's fixed cost --------------------------------------------------

#: Spark jobs of one warm ``run_available()`` over one new 2-row file
#: (14 before the audit ledger moved to the driver, 11 before the merge
#: staged its months instead of checkpointing them): 3 to start the query
#: from its checkpoint; the rest materialize the enriched batch, run the
#: per-file aggregate that is also the emptiness guard, and merge. The
#: audit ledger and the sidecars are written on the driver. A change
#: that needs more must raise it and say why.
STREAM_CALL_JOB_BUDGET = 8


def test_stream_call_job_budget(spark, tmp_path):
    from apsviz_timeseriesdb_ingest_spark.plans.bootstrap import bootstrap

    stream = tmp_path / "stream"
    stream.mkdir()
    _write(str(tmp_path / "stations.csv"), [",".join(map(str, META_STATIONS[2]))])
    _write(str(tmp_path / "meta.csv"), [SOURCE_META_HEADER, SOURCE_META_ROWS[0]])
    catalog = Catalog(spark, str(tmp_path / "wh"))
    bootstrap(spark, catalog, station_csvs=[str(tmp_path / "stations.csv")],
              source_meta_csv=str(tmp_path / "meta.csv"))
    ingest = StreamingObsIngest(spark, catalog, str(stream), str(tmp_path / "ckpt"),
                                source_variable="water_level")

    def land(hour: int) -> None:
        _write(str(stream / f"noaa_stationdata_water_level_2024-01-01T{hour:02d}_00_00.csv"),
               ["STATION,TIME,WATER_LEVEL", f"ST_B,2024-01-01 {hour - 1:02d}:00:00,1.0",
                f"ST_B,2024-01-01 {hour:02d}:00:00,2.0"])

    land(1)
    ingest.run_available()  # gauge_data and the ledger exist: the measured call merges
    land(2)
    # the query runs its jobs in its own job group, so the call is
    # bracketed by two marker jobs: job ids are sequential
    before = _marker_jobs(spark, "stream-call-before")[-1]
    ingest.run_available()
    jobs = _marker_jobs(spark, "stream-call-after")[0] - before - 1
    assert jobs <= STREAM_CALL_JOB_BUDGET, jobs
    ledger = catalog.read("stream_obs_ledger", schemas.STREAM_OBS_LEDGER).collect()
    assert len(ledger) == 2
    assert catalog.read("gauge_data").count() == 3  # 01:00 is in both files
