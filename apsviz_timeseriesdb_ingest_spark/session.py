"""SparkSession factory tuned for this engine.

Defaults target the test harness (local[N]) but every knob is chosen for
cluster scale: AQE handles skew/coalescing at runtime, shuffle partitions
default to cores locally (thousands on a real cluster via config), Arrow
keeps the few pandas-interop paths vectorized, and the session timezone is
pinned UTC so event-time semantics are reproducible anywhere.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DEFAULT_CONF = {
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas interop path (LLM ops use mapInPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic event-time semantics regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast threshold: dimensions here are tiny; be generous (64 MB).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scans: 128 MB splits, good default for 100 TB fact tables.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # AQE coalescing floor (r11): the default 1 MB floor under-
    # parallelizes CPU-heavy-per-byte stages — postings→pair-generation
    # and verify joins shuffle a few MB of ids but do quadratic work
    # per row, and byte-based coalescing squeezed them onto 3-10 of 32
    # cores (measured: llm_ngram_jaccard_pairs 2.36→1.47 s,
    # llm_cross_corpus_neardup −1.0 s with a 128 KB floor; scan-agg
    # queries unchanged). At cluster scale real shuffles dwarf both
    # floors, so the advisory target (64 MB) still governs — this knob
    # only stops tiny-but-hot intermediate stages from losing their
    # parallelism. Override via SPARK_GRAFT_AQE_MIN_PARTITION.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize":
        os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "128k"),
    # local[N] mode puts driver and executors in ONE JVM; the 1g default
    # heap is far below the harness machines and starves wide-plan
    # codegen + shuffle buffers (PQ training OOM'd there). Must be set
    # before JVM start, so it only takes effect for sessions this
    # factory creates. Override via SPARK_GRAFT_DRIVER_MEM.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Let HotSpot JIT-compile Spark's big generated methods (r11).
    # By default C2 refuses methods over 8000 bytecodes
    # (DontCompileHugeMethods), and this engine's hot expressions —
    # expanded 64-dim dot products, 96-plane LSH buckets, 60-bit
    # simhash aggregates — generate exactly such methods, which then
    # run in the bytecode INTERPRETER at ~100 µs/row. Measured r11:
    # a WSCG 64-term dot projection over 1M rows 3.28 s -> 0.21 s
    # (15x); llm_semantic_dedup end-to-end 3.6 s -> 1.6-1.9 s (2x,
    # interleaved A/B across fresh JVMs). JVM-start-only flags, so
    # they apply to sessions this factory launches; executor side set
    # for cluster deployments (local mode shares the driver JVM).
    "spark.driver.extraJavaOptions": "-XX:-DontCompileHugeMethods",
    "spark.executor.extraJavaOptions": "-XX:-DontCompileHugeMethods",
    # PySpark 4 wraps every DataFrame/Column API call to capture the
    # Python call site for error messages (errors/utils._with_origin);
    # with the default spark.python.sql.dataFrameDebugging.enabled=true
    # each wrapped call costs a getActiveSession + a conf RPC + two
    # PySparkCurrentOrigin py4j calls + an inspect stack walk — pure
    # driver-side query-CONSTRUCTION overhead (measured r12: ~0.2-0.5 s
    # per suite query, ~900 py4j round-trips building one LSH query).
    # Disabling it only drops the call-site line from error messages;
    # plans and results are untouched. Runtime-settable, but the
    # pyspark-side flag is CACHED at the first wrapped call, so it must
    # be set at session build (this factory) to take effect.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Codegen class cache (static conf, default 100 entries): a
    # multi-query session — the bench suite alone has ~36 queries with
    # several WholeStageCodegen units each — overflows the default LRU
    # and re-runs janino + C2 JIT on plans that were already compiled,
    # turning warm passes cold (r11; each big generated method costs
    # 100-500 ms to recompile). Entries are compiled classes (KBs), so
    # 5000 is noise against the 8g driver heap.
    "spark.sql.codegen.cache.maxEntries": "5000",
}


def get_spark(app_name: str = "apsviz-tsdb-spark", *, shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.master(
        os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    ).appName(app_name)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally-created session.

    The driver harness hands us its own SparkSession; session timezone and
    AQE are runtime-settable, so pin them for deterministic results.
    """
    for k in ("spark.sql.session.timeZone", "spark.sql.adaptive.enabled",
              "spark.sql.execution.arrow.pyspark.enabled",
              # construction-cost flag (see DEFAULT_CONF): pyspark
              # caches it at the FIRST wrapped DataFrame call, and
              # tables() runs this before any query op, so the
              # harness's plain session latches it off too
              "spark.python.sql.dataFrameDebugging.enabled"):
        try:
            spark.conf.set(k, DEFAULT_CONF.get(k, "true"))
        except Exception:  # pragma: no cover - conf may be fixed; best effort
            pass
    return spark


def as_struct(schema: StructType | str) -> StructType:
    """A StructType, or a DDL string parsed into one."""
    return StructType.fromDDL(schema) if isinstance(schema, str) else schema


def arrow_schema(schema: StructType | str) -> pa.Schema:
    """The Arrow form of ``schema`` (``to_arrow_schema``: TIMESTAMP_NTZ
    is a tz-less microsecond timestamp)."""
    return to_arrow_schema(as_struct(schema))


def arrow_rows(rows: list, schema: StructType | str) -> pa.Table:
    """Driver-side ``rows`` as one ``pyarrow.Table`` of
    :func:`arrow_schema`. ``schema``: a StructType or DDL string.
    ``rows``: tuples, lists or ``Row``s by position, or dicts by field
    name. A value that does not fit its field raises, as
    ``createDataFrame``'s verifier does."""
    names = as_struct(schema).fieldNames()
    return pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(names, r, strict=True)) for r in rows],
        schema=arrow_schema(schema))


def local_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """Driver-side ``rows`` (see :func:`arrow_rows`) as a one-partition
    frame built from one ``pyarrow.Table``.

    ``createDataFrame(list, schema)`` pickles rows into a Python RDD, so
    each task of each job reading it runs a Python worker (~0.2 s a task
    on 4 cores). The JVM reads Arrow batches with no Python worker, and
    regardless of ``spark.sql.execution.arrow.pyspark.enabled``. It
    slices the rows into up to ``defaultParallelism`` partitions, so a
    5-row lookup would broadcast through a 4-task stage and write 4
    files; driver rows are small by definition, so they stay in one. No
    rows have nothing to slice: that frame is returned as built, so
    collecting it (``Catalog.read`` of a missing table) runs no job."""
    schema = as_struct(schema)
    frame = spark.createDataFrame(arrow_rows(rows, schema), schema)
    return frame.coalesce(1) if rows else frame
