"""Outside-in tracing harness, imported only by the traced run.

Nothing in the package is modified: spans are recorded around calls into
each module's public functions by wrapping them from here (instance
methods, module functions the package resolves at call time, a
``Catalog`` subclass and a ``MergeStrategy`` that delegates to
``DynamicOverwriteMerge``). Each span carries a Spark job group named
after it, so the jobs a span launched are read back from the status
tracker when it closes. Streaming micro-batch phases come from a Python
``StreamingQueryListener``.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from glob import glob

import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

from apsviz_timeseriesdb_ingest_spark.plans import model_ingest, obs_ingest, read_api
from apsviz_timeseriesdb_ingest_spark.sources import zonemap
from apsviz_timeseriesdb_ingest_spark.sources.catalog import (
    Catalog,
    DynamicOverwriteMerge,
    MergeStrategy,
)
from apsviz_timeseriesdb_ingest_spark.streaming import stream_ingest

READS = {
    "get_obs_timeseries_station_data": "x1",
    "get_obs_timeseries_station_data_allparms": "x2",
    "get_forecast_timeseries_station_data": "x3",
    "get_nowcast_timeseries_station_data": "x4",
    "get_model_vs_obs_asof": "asof",
}


class Tracer:
    """Span recorder, ``active`` inside timed operations only (set-up is
    not traced). The harness's own work inside an operation is timed into
    ``trace.overhead_s``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: str | None = None
        self.values: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._seq = 0
        self.stream = _StreamListener()
        spark.streams.addListener(self.stream)

    # -- spans ---------------------------------------------------------
    @contextmanager
    def op(self, kind: str, idx: int):
        self.active = True
        self.op_id = f"{kind}-{idx}"
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self.active = False
            self.op_id = None

    @contextmanager
    def own_time(self):
        """Time the harness's own work inside an operation (span
        bookkeeping, file scans): the tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add("trace.overhead_s", time.perf_counter() - t0)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        with self.own_time():
            self._seq += 1
            group = f"{name}#{self._seq}"
            parent = self._stack[-1] if self._stack else None
            rec = {"id": self._seq, "name": name, "parent": parent and parent["id"],
                   "op": self.op_id, "group": group}
            self._stack.append(rec)
            self.sc.setJobGroup(group, name)
            rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            with self.own_time():
                self._stack.pop()
                rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.spans.append(rec)

    def current(self) -> str | None:
        return self._stack[-1]["name"] if self._stack else None

    def add(self, name: str, value: float) -> None:
        """Count ``value`` towards ``name`` for the current operation."""
        if self.active:
            self.values[name][self.op_id] += value

    # -- summaries -----------------------------------------------------
    def jobs_inclusive(self, span: dict) -> int:
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return span["jobs"] + sum(self.jobs_inclusive(k) for k in kids)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union([(k["start"], k["end"]) for k in kids[s["id"]]])
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       "stream_progress": self.stream.events, **extra}, f,
                      default=str)


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class _StreamListener(StreamingQueryListener):
    def __init__(self):
        self.events: list[dict] = []
        self.lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.events.append({"batch": p.batchId, "rows": p.numInputRows,
                                "ms": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _wrap_method(tracer: Tracer, cls, attr: str, name: str):
    fn = getattr(cls, attr)

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(name) as rec:
            out = fn(*a, **kw)
            if rec is not None:
                rec["result"] = out if isinstance(out, (int, dict)) else None
            return out
    setattr(cls, attr, wrapper)


def parquet_files(path: str) -> dict[str, tuple[int, float]]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def parquet_rows(files) -> int:
    return sum(pq.read_metadata(f).num_rows for f in files)


class TracedMerge(MergeStrategy):
    """Delegates to :class:`DynamicOverwriteMerge`, measuring what the
    merge rewrote on disk."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.inner = DynamicOverwriteMerge()
        self.incoming: list = []  # frames counted after the op

    def merge(self, catalog, table, incoming, keys, order_by, *, time_col,
              drop_before_write):
        if not self.tracer.active:
            return self.inner.merge(catalog, table, incoming, keys, order_by,
                                    time_col=time_col,
                                    drop_before_write=drop_before_write)
        t = self.tracer
        with t.own_time():
            before = parquet_files(catalog.path(table))
        with t.span("sources.catalog.merge"):
            self.inner.merge(catalog, table, incoming, keys, order_by,
                             time_col=time_col, drop_before_write=drop_before_write)
        with t.own_time():
            after = parquet_files(catalog.path(table))
            new = [p for p, v in after.items() if before.get(p) != v]
            parts = {os.path.dirname(p) for p in new}
            t.add("sources.catalog.merge_partitions_rewritten", len(parts))
            t.add("sources.catalog.merge_bytes_written", sum(after[p][0] for p in new))
            t.add("merge.rows_rewritten", parquet_rows(
                [p for p in after if os.path.dirname(p) in parts]))
        if threading.current_thread() is threading.main_thread():
            # stream micro-batch frames are not re-readable after their
            # batch; the listener counts their rows instead
            self.incoming.append(incoming)


def traced_catalog_class(tracer: Tracer, merge: MergeStrategy):
    class TracedCatalog(Catalog):
        def __init__(self, spark, warehouse):
            super().__init__(spark, warehouse, merge_strategy=merge)

        def append(self, df, table, **kw):
            with tracer.span("sources.catalog.append"):
                return super().append(df, table, **kw)

        def update(self, table, df):
            with tracer.span("sources.catalog.update"):
                return super().update(table, df)

        def refresh_skipping(self, table):
            with tracer.span("sources.catalog.refresh_skipping"):
                return super().refresh_skipping(table)

    return TracedCatalog


def install(tracer: Tracer):
    """Wrap the package's public entry points. Returns the traced run's
    ``Catalog`` class, its merge strategy and the list the harvest-read
    wrapper fills."""
    for attr, name in (("discover", "discover"), ("ingest_new", "ingest_new"),
                       ("ingest_station_meta", "station_meta")):
        _wrap_method(tracer, obs_ingest.ObsIngest, attr, f"plans.obs_ingest.{name}")
    _wrap_method(tracer, model_ingest.ModelIngest, "ingest_run",
                 "plans.model_ingest.ingest_run")
    _wrap_method(tracer, model_ingest.ModelIngest, "publish_stations",
                 "plans.model_ingest.publish_stations")
    _wrap_method(tracer, stream_ingest.StreamingObsIngest, "run_available",
                 "streaming.stream_ingest.run_available")

    for fn_name, short in READS.items():
        fn = getattr(read_api, fn_name)
        setattr(read_api, fn_name, _span_fn(tracer, fn, f"plans.read_api.{short}"))
    read_api.to_json_array = _span_fn(tracer, read_api.to_json_array,
                                      "plans.read_api.json")

    prune = zonemap.prune_files

    @functools.wraps(prune)
    def prune_files(zm, column, lo=None, hi=None, *, path=None):
        with tracer.span("sources.zonemap.prune"):
            keep = prune(zm, column, lo, hi, path=path)
        if tracer.active and path is not None:
            with tracer.own_time():
                listed = len(zonemap.list_parquet_files(path))
            tracer.add("sources.zonemap.files_listed", listed)
            tracer.add("sources.zonemap.files_kept", len(keep))
        return keep
    zonemap.prune_files = prune_files

    harvest_reads: list = []
    read_csv = obs_ingest.read_harvest_csv

    @functools.wraps(read_csv)
    def read_harvest_csv(spark, paths, variable):
        if tracer.active and tracer.current() == "plans.obs_ingest.ingest_new":
            harvest_reads.append((list(paths), variable))
        return read_csv(spark, paths, variable)
    obs_ingest.read_harvest_csv = read_harvest_csv

    merge = TracedMerge(tracer)
    return traced_catalog_class(tracer, merge), merge, harvest_reads


def _span_fn(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)
    return wrapper


def harvest_counts(spark, reads) -> tuple[int, int, int]:
    """(rows_read, bytes_read, rows_rejected) of the recorded harvest
    reads, counted after the operation so the traced phases run the
    package's own jobs only."""
    from pyspark.sql import functions as F

    rows = rejected = nbytes = 0
    for paths, variable in reads:
        nbytes += sum(os.path.getsize(p) for p in paths)
        r = (obs_ingest.read_harvest_csv.__wrapped__(spark, paths, variable)
             .agg(F.count("*").alias("n"),
                  F.sum(F.col("time").isNull().cast("long")).alias("bad"))
             .first())
        rows += r["n"]
        rejected += r["bad"] or 0
    reads.clear()
    return rows, nbytes, rejected


def spark_snapshot(spark) -> dict:
    """Cumulative job/stage/task/shuffle/spill/GC totals from the local UI
    status API."""
    import urllib.request

    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    stages = get("/stages?status=complete")
    execs = get("/executors")
    jobs = get("/jobs")
    return {
        "jobs": {j["jobId"] for j in jobs},
        "stages": {(s["stageId"], s["attemptId"]): s for s in stages},
        "gc_ms": sum(e.get("totalGCTime", 0) for e in execs),
        "tasks": sum(e.get("totalTasks", 0) for e in execs),
        "shuffle_write": sum(e.get("totalShuffleWrite", 0) for e in execs),
    }


def spark_delta(a: dict, b: dict) -> dict:
    stages = [s for k, s in b["stages"].items() if k not in a["stages"]]
    return {
        "spark.jobs": len(b["jobs"] - a["jobs"]),
        "spark.stages": len(stages),
        "spark.tasks": b["tasks"] - a["tasks"],
        "spark.shuffle_write_bytes": b["shuffle_write"] - a["shuffle_write"],
        "spark.spill_bytes": sum(s.get("memoryBytesSpilled", 0)
                                 + s.get("diskBytesSpilled", 0) for s in stages),
        "spark.gc_s": (b["gc_ms"] - a["gc_ms"]) / 1000.0,
    }


def files_listed(harvest_dir: str, prefixes) -> int:
    return sum(len(glob(os.path.join(harvest_dir, p + "*.csv"))) for p in prefixes)


PER_LAYER = {
    "plans.obs_ingest.discover_s": "s", "plans.obs_ingest.discover_jobs": "count",
    "plans.obs_ingest.ingest_new_s": "s", "plans.obs_ingest.ingest_new_jobs": "count",
    "plans.obs_ingest.station_meta_s": "s", "plans.obs_ingest.station_meta_jobs": "count",
    "operators.ledger.files_listed": "count", "operators.ledger.files_new": "count",
    "operators.ledger.new_ratio": "ratio",
    "sources.harvest_csv.rows_read": "rows", "sources.harvest_csv.bytes_read": "B",
    "sources.harvest_csv.rows_rejected": "rows",
    "sources.catalog.merge_s": "s", "sources.catalog.merge_jobs": "count",
    "sources.catalog.merge_partitions_rewritten": "count",
    "sources.catalog.merge_bytes_written": "B",
    "sources.catalog.merge_rewrite_ratio": "ratio",
    "sources.catalog.append_s": "s", "sources.catalog.update_s": "s",
    "sources.catalog.refresh_skipping_s": "s",
    "operators.dedup.rows_superseded": "rows",
    "sources.zonemap.prune_s": "s", "sources.zonemap.files_listed": "count",
    "sources.zonemap.files_kept": "count", "sources.zonemap.keep_ratio": "ratio",
    "plans.read_api.x1_s_p50": "s", "plans.read_api.x2_s_p50": "s",
    "plans.read_api.x3_s_p50": "s", "plans.read_api.x4_s_p50": "s",
    "plans.read_api.asof_s_p50": "s", "plans.read_api.construct_s_p50": "s",
    "plans.read_api.json_s_p50": "s", "plans.read_api.jobs_per_read": "count",
    "plans.model_ingest.ingest_run_s": "s", "plans.model_ingest.ingest_run_jobs": "count",
    "plans.model_ingest.publish_stations_s": "s",
    "streaming.stream_ingest.run_available_s": "s",
    "streaming.stream_ingest.batches": "count",
    "streaming.stream_ingest.input_rows": "rows",
    "streaming.stream_ingest.add_batch_ms": "ms",
    "streaming.stream_ingest.get_batch_ms": "ms",
    "streaming.stream_ingest.latest_offset_ms": "ms",
    "streaming.stream_ingest.query_planning_ms": "ms",
    "streaming.stream_ingest.commit_ms": "ms",
    "streaming.stream_ingest.trigger_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B", "spark.gc_s": "s",
    "storage.fact_files": "count",
    "trace.op_s_p50": "s", "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
    "scaling.obs_backfill.rows_per_s_1core": "rows/s",
}

_PHASES = {"add_batch_ms": "addBatch", "get_batch_ms": "getBatch",
           "latest_offset_ms": "latestOffset", "query_planning_ms": "queryPlanning",
           "commit_ms": "commitOffsets", "trigger_ms": "triggerExecution"}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Harness:
    """Installs the wrappers for one traced run and turns the spans into
    the per-layer metrics. Every timed operation is traced."""

    def __init__(self, spark, run):
        self.spark = spark
        self.run = run
        self.tracer = Tracer(spark)
        run.tracer = self.tracer
        run.catalog_class, self.merge, self.harvest_reads = install(self.tracer)
        run.on_setup.append(self._setup_done)
        run.before_op.append(self._before)
        run.after_op.append(self._after)
        self.per_op: dict[str, dict[int, float]] = defaultdict(dict)
        self._snap = None
        self._fact_rows0 = 0

    def _setup_done(self) -> None:
        with self.tracer.stream.lock:
            self.tracer.stream.events.clear()

    def _gauge_rows(self) -> int:
        return parquet_rows(parquet_files(self.run.catalog.path("gauge_data")))

    def _before(self) -> None:
        self._fact_rows0 = self._gauge_rows()
        self.merge.incoming.clear()
        self._snap = spark_snapshot(self.spark)

    def _after(self, op) -> None:
        """Counts for the traced operation ``op`` that need jobs of their
        own; they run after the operation, outside its spans and its
        ``spark.*`` totals."""
        run, i = self.run, op["idx"]
        for k, v in spark_delta(self._snap, spark_snapshot(self.spark)).items():
            self.per_op[k][i] = v
        rows_in = sum(df.count() for df in self.merge.incoming)
        self.merge.incoming.clear()
        self.per_op["merge.rows_in"][i] = rows_in
        if "malformed" in op:  # an obs_backfill pass
            read, nbytes, rejected = harvest_counts(self.spark, self.harvest_reads)
            superseded = (read - rejected) - (self._gauge_rows() - self._fact_rows0)
            listed = files_listed(op["harvest"], op["prefixes"])
            new = sum(s.get("result") or 0 for s in self.tracer.spans
                      if s["name"] == "plans.obs_ingest.discover"
                      and s["op"] == f"pass-{i}")
            for k, v in (("sources.harvest_csv.rows_read", read),
                         ("sources.harvest_csv.bytes_read", nbytes),
                         ("sources.harvest_csv.rows_rejected", rejected),
                         ("operators.dedup.rows_superseded", superseded),
                         ("operators.ledger.files_listed", listed),
                         ("operators.ledger.files_new", new)):
                self.per_op[k][i] = v
            for what, got, want in (("rows_rejected", rejected, op["malformed"]),
                                    ("rows_superseded", superseded, op["superseded"])):
                if got != want:
                    op["ok"] = False
                    run.fail(f"pass {i}: {what} {got}, generator says {want}")

    # -- aggregation ---------------------------------------------------
    def _span_per_op(self, name: str, jobs: bool = False) -> list[float]:
        acc: dict[str, float] = defaultdict(float)
        for s in self.tracer.spans:
            if s["name"] == name:
                acc[s["op"]] += (self.tracer.jobs_inclusive(s) if jobs
                                 else s["end"] - s["start"])
        traced = {s["op"] for s in self.tracer.spans if s["name"].startswith("op.")}
        return [acc.get(o, 0.0) for o in traced]

    def _values_per_op(self, name: str) -> list[float]:
        return list(self.tracer.values.get(name, {}).values())

    def finish(self, rows_per_s_1core: float) -> dict:
        t, run = self.tracer, self.run
        m: dict[str, float] = {}
        for key in ("plans.obs_ingest.discover", "plans.obs_ingest.ingest_new",
                    "plans.obs_ingest.station_meta", "sources.catalog.merge",
                    "plans.model_ingest.ingest_run", "sources.catalog.append",
                    "sources.catalog.update", "sources.catalog.refresh_skipping",
                    "sources.zonemap.prune", "plans.model_ingest.publish_stations",
                    "streaming.stream_ingest.run_available"):
            m[f"{key}_s"] = _median(self._span_per_op(key))
            if f"{key}_jobs" in PER_LAYER:
                m[f"{key}_jobs"] = _median(self._span_per_op(key, jobs=True))
        for name, values in self.per_op.items():
            if name in PER_LAYER:
                m[name] = _median(values.values())
        listed = sum(self.per_op["operators.ledger.files_listed"].values())
        m["operators.ledger.new_ratio"] = (
            sum(self.per_op["operators.ledger.files_new"].values()) / listed
            if listed else 0.0)
        for name in ("sources.catalog.merge_partitions_rewritten",
                     "sources.catalog.merge_bytes_written",
                     "sources.zonemap.files_listed", "sources.zonemap.files_kept"):
            m[name] = _median(self._values_per_op(name))
        rows_in = sum(self.per_op["merge.rows_in"].values())
        m["sources.catalog.merge_rewrite_ratio"] = (
            sum(self._values_per_op("merge.rows_rewritten")) / rows_in
            if rows_in else 0.0)
        kept = sum(self._values_per_op("sources.zonemap.files_kept"))
        seen = sum(self._values_per_op("sources.zonemap.files_listed"))
        m["sources.zonemap.keep_ratio"] = kept / seen if seen else 0.0

        reads = [s for s in t.spans if s["name"].startswith("plans.read_api.")
                 and s["name"] != "plans.read_api.json"]
        for short in READS.values():
            m[f"plans.read_api.{short}_s_p50"] = _median(
                s["end"] - s["start"] for s in reads
                if s["name"] == f"plans.read_api.{short}")
        m["plans.read_api.construct_s_p50"] = _median(s["end"] - s["start"] for s in reads)
        json_spans = [s for s in t.spans if s["name"] == "plans.read_api.json"]
        m["plans.read_api.json_s_p50"] = _median(s["end"] - s["start"] for s in json_spans)
        m["plans.read_api.jobs_per_read"] = (
            (sum(t.jobs_inclusive(s) for s in reads)
             + sum(t.jobs_inclusive(s) for s in json_spans)) / len(reads)
            if reads else 0.0)

        events = list(t.stream.events)
        n_ops = max(1, len(run.ops))
        m["streaming.stream_ingest.batches"] = len(events) / n_ops
        m["streaming.stream_ingest.input_rows"] = sum(e["rows"] for e in events) / n_ops
        for key, phase in _PHASES.items():
            m[f"streaming.stream_ingest.{key}"] = _median(
                e["ms"].get(phase, 0) for e in events)

        durations = [o["s"] for o in run.ops]
        m["storage.fact_files"] = sum(
            len(parquet_files(run.catalog.path(tb)))
            for tb in ("gauge_data", "model_data"))
        m["trace.op_s_p50"] = _median(durations)
        m["trace.overhead_s"] = _median(self._values_per_op("trace.overhead_s"))
        m["trace.overhead_frac"] = m["trace.overhead_s"] / m["trace.op_s_p50"]
        m["scaling.obs_backfill.rows_per_s_1core"] = rows_per_s_1core
        return {k: {"value": float(m.get(k, 0.0)), "unit": u}
                for k, u in PER_LAYER.items()}
