"""Streaming corpus preparation: the training-data pipeline as a
continuously-running ingest (SURVEY section 2.9 extension).

The batch pipeline's per-row signal pass (``llm.pipeline.corpus_signals``)
is pure map-side, so it runs UNCHANGED on a streaming frame — the same
lineage serves batch backfill and live ingest, which is the whole point
of building on the DataFrame API. The stages that need cross-row state
get streaming-native equivalents:

- **exact dedup** → ``dropDuplicatesWithinWatermark`` on md5(text): state
  for a hash is held only until the ingest-time watermark passes, the
  bounded-state twin of the batch hash-groupBy (an identical doc arriving
  after the watermark re-enters — acceptable for continuous pipelines,
  where the batch compaction pass sweeps stragglers).
- **decontamination** → a map-side ``arrays_overlap`` against the
  benchmark shingle set passed in as a *literal/broadcast* array. A
  benchmark set is small by construction (it is an eval set), so this is
  the right scale shape: no shuffle, no state, no stream-static join
  explosion. For very large contamination lists, swap the literal for a
  Bloom-filter column (same plan shape).

Near-dedup (MinHash clustering) is intentionally NOT in-stream: connected
components is iterative and unbounded-state; production pipelines run it
as the periodic batch compaction over the streamed-in corpus — exactly
what ``llm.pipeline.prepare_training_corpus`` does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..llm.dedup import shingles_from_tokens
from ..llm.pipeline import corpus_signals
from ..llm.text import tokens


def benchmark_shingles(benchmark: DataFrame, *, text_col: str = "text",
                       k: int = 3) -> list[str]:
    """Collect the benchmark's distinct shingles driver-side (the eval
    set is small; this is the broadcast build side). Applies the same
    clean+scrub normalization as the stream so shingles actually match."""
    sig = corpus_signals(benchmark, text_col=text_col)
    rows = (sig.select(F.explode(shingles_from_tokens(tokens("text"), k))
                       .alias("s"))
            .distinct().collect())
    return sorted(r.s for r in rows)


def benchmark_bloom(benchmark: DataFrame, *, text_col: str = "text",
                    k: int = 3, **bloom_kw):
    """Bloom-filter form of :func:`benchmark_shingles` for LARGE
    contamination lists (corpus-vs-corpus decontamination): a
    fixed-size bitmap built distributed, applied map-side after a
    one-row broadcast — the plan holds NO per-shingle literals and does
    not recompile as the benchmark grows. Applies the same
    clean+scrub normalization as the stream."""
    from ..llm.text import build_shingle_bloom

    sig = corpus_signals(benchmark, text_col=text_col)
    return build_shingle_bloom(sig, text_col="text", k=k, **bloom_kw)


def contamination_flag(text: Column, bench_shingles: list[str],
                       *, k: int = 3) -> Column:
    """Map-side contamination test: does the doc share any k-shingle with
    the benchmark set? ``arrays_overlap`` against a literal array — the
    streaming-safe (stateless) form of ``llm.text.decontaminate``."""
    if not bench_shingles:
        return F.lit(False)
    bench = F.array(*[F.lit(s) for s in bench_shingles])
    return F.arrays_overlap(shingles_from_tokens(tokens(text), k), bench)


def stream_prepare_corpus(
    docs: DataFrame,
    bench_shingles: list[str] | None = None,
    *,
    bench_bloom=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    max_repetition_ratio: float = 0.9,
    languages: tuple[str, ...] = ("en",),
    shingle_k: int = 3,
    dedup_watermark: str = "1 hour",
) -> DataFrame:
    """The streaming corpus-prep transformation: signals -> quality and
    language gates -> contamination gate -> in-stream exact dedup.

    Works on a streaming OR batch frame: the gates are identical
    expressions; the exact-dedup stage switches on ``df.isStreaming``
    because Spark refuses ``dropDuplicatesWithinWatermark`` on batch
    frames — the batch twin is the deterministic keep-lowest-id
    hash-groupBy (what the batch pipeline does). Output columns match
    the batch ``prepare_training_corpus`` corpus frame minus the split
    (split is a pure id hash — apply ``train_split_cols`` at sink time
    or downstream).

    Contamination gating takes either form: ``bench_shingles`` (a
    literal array — right for eval-set-sized lists) or ``bench_bloom``
    (a :class:`llm.text.ShingleBloom` from :func:`benchmark_bloom` —
    right for corpus-sized lists; one-row stream-static broadcast join,
    constant plan size). Both may be passed; each gates independently.
    """
    sig = corpus_signals(docs, text_col=text_col, id_col=id_col)
    kept = (
        sig.filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("n_tokens") <= max_tokens)
            & (F.col("repetition_ratio") <= max_repetition_ratio)
            & F.col("predicted_lang").isin(*languages))
    )
    if bench_shingles:
        kept = kept.filter(
            ~contamination_flag(F.col("text"), bench_shingles, k=shingle_k))
    if bench_bloom is not None:
        kept = (kept.crossJoin(F.broadcast(bench_bloom.frame))
                .filter(~bench_bloom.hit_flag(
                    shingles_from_tokens(tokens("text"), bench_bloom.k),
                    F.col("bitmap")))
                .drop("bitmap"))
    hashed = kept.withColumn("text_md5", F.md5("text"))
    if docs.isStreaming:
        deduped = (
            hashed.withColumn("ingest_ts", F.current_timestamp())
            .withWatermark("ingest_ts", dedup_watermark)
            .dropDuplicatesWithinWatermark(["text_md5"])
            .drop("ingest_ts")
        )
    else:
        row = F.struct(id_col, "text", "n_tokens", "predicted_lang")
        deduped = (
            hashed.groupBy("text_md5")
            .agg(F.min_by(row, F.col(id_col)).alias("r"))
            .select("r.*", "text_md5")
        )
    return deduped.select(id_col, "text", "text_md5", "n_tokens",
                          "predicted_lang")


def run_corpus_stream(spark, input_dir: str, output_dir: str,
                      checkpoint_dir: str, *,
                      bench_shingles: list[str] | None = None,
                      schema: str = "doc_id long, text string",
                      **prep_kwargs):
    """Wire the stream end to end: file source -> prep -> parquet sink
    with checkpointed exactly-once append. Returns the StreamingQuery
    (caller drives with processAllAvailable/awaitTermination)."""
    docs = spark.readStream.schema(schema).parquet(input_dir)
    out = stream_prepare_corpus(docs, bench_shingles, **prep_kwargs)
    return (
        out.writeStream
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_incremental_dedup_stream(spark, input_dir: str, catalog, *,
                                 checkpoint_dir: str,
                                 corpus_table: str = "stream_corpus",
                                 index_table: str = "minhash_index",
                                 schema: str = "doc_id long, text string",
                                 id_col: str = "doc_id",
                                 fence_writer: bool = True,
                                 stats_table: str | None = None,
                                 stats_group_by: tuple = (),
                                 alerts_table: str | None = None,
                                 drift_baseline_batches: int = 5,
                                 drift_rules: dict | None = None,
                                 refresh_skipping_every: int = 1,
                                 **lsh_kw):
    """Continuous near-dedup ingest: each micro-batch probes the
    PERSISTED MinHash-LSH index (``llm.incremental``), so cross-batch
    near-duplicate state lives in a table, not in stream state — the
    unbounded-state objection to in-stream near-dedup (module docstring)
    doesn't apply: the stream holds zero dedup state and the index grows
    with the corpus, not with time.

    Replay safety (foreachBatch is at-least-once; ``batch_id`` is the
    epoch id and is STABLE across replays): each batch is applied by
    :func:`apply_dedup_increment_txn` under the commit-ledger protocol,
    which closes the r2/r3 partial-index-append recall-loss window —
    index rows are invisible to probes until the batch's ledger row
    lands, and a replay's partitioned overwrite replaces any
    partial rows instead of colliding with them. See that function's
    docstring for the full crash matrix. The stream owns the index
    layout (``__batch``-partitioned); a pre-built index must be created
    with ``build_dedup_index(stream_index=True)``.

    ``stats_table=`` appends ONE mergeable sketch row (HLL distincts +
    KLL length quantiles + Misra-Gries top tokens,
    ``llm.sketches.corpus_stats_row``) per committed batch, under the
    SAME ledger commit as the batch's data — corpus monitoring
    (vocabulary growth, dup-rate, length and top-token drift) over any
    batch window by merging kilobyte rows, zero corpus rescans. Read it
    through ``committed_corpus(catalog, stats_table, index_table)``.
    ``stats_group_by=("source",)`` writes one row per group per batch
    instead — per-source composition monitoring, consumed by
    ``llm.sketches.drift_report(group_by=…)``. ``alerts_table=``
    closes the monitoring loop IN the stream: each batch's stats are
    diffed against the trailing ``drift_baseline_batches`` committed
    batches (sketch rows only) and evaluated with
    ``flag_drift(drift_rules)``; the flagged row lands in the batch's
    partition under the same ledger commit — alerts are exactly-once
    with the data they describe.

    ``fence_writer=True`` (default) acquires a
    :class:`~..sources.catalog.WriterLease` on the index at stream
    start and checks it before every batch: a second stream acquiring
    the same index fences THIS one — its next batch raises
    ``ConcurrentWriterError`` and the stream stops loudly, instead of
    two streams silently interleaving ``__batch`` partitions (the
    previously docstring-only single-writer contract, r4 verdict
    task 5).

    Returns the StreamingQuery (caller drives it).
    """
    from ..sources.catalog import WriterLease

    lease = (WriterLease(catalog, index_table).acquire(spark)
             if fence_writer else None)

    every = int(refresh_skipping_every)

    def _apply(batch_df, batch_id):
        apply_dedup_increment_txn(
            catalog, batch_df, batch_id, corpus_table=corpus_table,
            index_table=index_table, id_col=id_col, lease=lease,
            stats_table=stats_table, stats_group_by=stats_group_by,
            alerts_table=alerts_table,
            drift_baseline_batches=drift_baseline_batches,
            drift_rules=drift_rules,
            refresh_skipping=(every == 1), **lsh_kw)
        if every > 1 and batch_id % every == 0:
            catalog.refresh_skipping(corpus_table)

    docs = spark.readStream.schema(schema).parquet(input_dir)
    return (docs.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def apply_dedup_increment_txn(catalog, batch_df, batch_id: int, *,
                              corpus_table: str = "stream_corpus",
                              index_table: str = "minhash_index",
                              id_col: str = "doc_id",
                              lease=None,
                              stats_table: str | None = None,
                              stats_group_by: tuple = (),
                              alerts_table: str | None = None,
                              drift_baseline_batches: int = 5,
                              drift_rules: dict | None = None,
                              refresh_skipping: bool = True,
                              **lsh_kw) -> None:
    """Apply one dedup-ingest micro-batch under the EXCLUSIVE
    COMMIT-LEDGER protocol — the plain-parquet closure of BOTH the
    partial-index-append window (r3 verdict task 8) and the two-writer
    interleave window (r6; a transactional table format achieves the
    same with one atomic commit + commit-conflict detection, this does
    it with put-if-absent ledger files and writer-scoped partitions):

    1. ``batch_id`` already committed in the ``{index}_commits`` ledger
       (a driver-side file check) → the batch is fully applied; return
       (replay no-op).
    2. Probe the index with ``committed_only=True``: rows from any
       crashed or racing uncommitted write are INVISIBLE, so the
       accepted set recomputes identically on replay instead of
       colliding with its own partial rows (the old recall-loss mode).
    3. Write accepted docs to the corpus as partition
       ``(__batch, __writer)`` by a partitioned overwrite
       (anti-join against committed stored ids keeps re-sent doc ids
       out; materialized before the write so the plan never reads the
       path it is writing).
    4. Write the accepted index rows as partition
       ``(__batch=batch_id, __writer)`` the same way — a replay
       REPLACES a crashed attempt's partial partition rather than
       appending next to it.
    5. ``Catalog.commit_batch`` — the atomic, EXCLUSIVE commit point
       (hard-link put-if-absent): only now do this batch's corpus and
       index partitions participate in committed reads, and at most
       ONE writer can ever commit a given batch id.

    Crash matrix: before (4) → nothing visible, replay recomputes;
    mid-(4) → partial partition invisible to probes, replaced by the
    replay's overwrite; between (4) and (5) → same (uncommitted), the
    replay re-overwrites identically and commits; after (5) → step (1)
    returns. Every path converges to the fully-indexed state: ZERO
    recall loss (crash-replay pytest ``test_incremental_dedup``).

    Two-writer matrix: ``lease=`` (a
    :class:`~..sources.catalog.WriterLease`) is the FAST-FAIL layer —
    checked after the replay short-circuit, so a fenced writer raises
    before burning compute. A writer that slips past the fence (the
    check-to-write race) still cannot corrupt: its data lands in its
    OWN ``__writer`` partition, and step (5) admits exactly one
    (batch, writer) pair — the loser raises ``ConcurrentWriterError``
    at commit and its orphan partition stays invisible
    (``Catalog.vacuum_uncommitted`` reclaims the bytes). Without a
    lease the writer id is ``"-"`` — single-writer deployments keep
    deterministic partitions and zero orphans.

    Raw ``catalog.read(corpus_table)`` may see uncommitted/orphan rows;
    read through :func:`committed_corpus` (or filter on the ledger)
    when exactness matters.
    """
    from pyspark.sql import functions as F

    from ..llm.incremental import commits_table, plan_increment

    if alerts_table is not None and stats_table is None:
        raise ValueError("alerts_table requires stats_table — the "
                         "drift comparison reads the committed stats "
                         "rows as its baseline")
    if int(drift_baseline_batches) < 1:
        raise ValueError("drift_baseline_batches must be >= 1")
    if batch_df.isEmpty():
        return
    commits = commits_table(index_table)
    if catalog.batch_committed(commits, int(batch_id)):
        return
    if lease is not None:
        lease.check()
    writer = lease.writer_id if lease is not None else "-"
    accepted, accepted_buckets = plan_increment(
        catalog, batch_df, table=index_table, id_col=id_col,
        committed_only=True, **lsh_kw)
    if catalog.exists(corpus_table):
        stored_ids = committed_corpus(
            catalog, corpus_table, index_table).select(id_col)
        accepted = accepted.join(stored_ids, id_col, "left_anti"
                                 ).localCheckpoint(eager=True)
    bid = F.lit(int(batch_id)).cast("long")
    # an empty partitioned frame publishes nothing; the guards skip
    # its write job
    if not accepted.isEmpty():
        catalog.overwrite(
            accepted.withColumn("__batch", bid)
            .withColumn("__writer", F.lit(writer)),
            corpus_table, partition_by=["__batch", "__writer"],
            refresh_skipping=refresh_skipping)
    stamped = (accepted_buckets.withColumn("__batch", bid)
               .withColumn("__writer", F.lit(writer)))
    if not stamped.isEmpty():
        catalog.overwrite(stamped, index_table,
                          partition_by=["__batch", "__writer"],
                          refresh_skipping=refresh_skipping)
    if stats_table is not None and not accepted.isEmpty():
        # one mergeable sketch row per batch (per stats_group_by group
        # — e.g. per source, for the grouped drift_report), committed
        # ATOMICALLY with the batch's corpus/index partitions (same
        # ledger row below) — read through
        # committed_corpus(catalog, stats_table, index) and merge any
        # window with the llm.sketches merge_* family: corpus
        # monitoring with no rescans, and a crashed write's stats row
        # is invisible exactly like its data
        from ..llm.sketches import corpus_stats_row

        stats = corpus_stats_row(accepted, id_col=id_col,
                                 group_by=list(stats_group_by))
        catalog.overwrite(
            stats.withColumn("__batch", bid)
            .withColumn("__writer", F.lit(writer)),
            stats_table, partition_by=["__batch", "__writer"])
        if alerts_table is not None:
            # drift of THIS batch vs the trailing committed window (the
            # last drift_baseline_batches committed batches' stats
            # rows), evaluated with flag_drift and landed in the
            # batch's own (__batch, __writer) partition — the alert row
            # commits ATOMICALLY with the data it describes (same
            # ledger row below) and the whole computation touches
            # sketch rows only, never the corpus. The first batch has
            # no committed baseline and writes no alert row.
            from ..llm.sketches import drift_report, flag_drift

            base_ids = sorted(b for b, _w in
                              catalog.committed_batches(commits)
                              )[-int(drift_baseline_batches):]
            baseline = (committed_corpus(catalog, stats_table,
                                         index_table)
                        .filter(F.col("__batch").isin(base_ids))
                        .drop("__batch", "__writer"))
            if base_ids and not baseline.isEmpty():
                flagged = flag_drift(
                    drift_report(baseline, stats,
                                 group_by=list(stats_group_by)),
                    drift_rules)
                catalog.overwrite(
                    flagged.withColumn("__batch", bid)
                    .withColumn("__writer", F.lit(writer)),
                    alerts_table, partition_by=["__batch", "__writer"])
    # the commit point itself re-checks the lease on BOTH sides of the
    # put-if-absent link (and rolls the commit back if fenced during
    # it): a writer fenced MID-BATCH by Catalog.optimize's maintenance
    # lease (ADVICE r6/r7) cannot commit a batch whose partition
    # maintenance may have vacuumed — the batch stays uncommitted and
    # the post-maintenance restart replays it cleanly
    catalog.commit_batch(commits, int(batch_id), writer, lease=lease)


def committed_corpus(catalog, corpus_table: str,
                     index_table: str = "minhash_index",
                     as_of_batch: int | None = None):
    """The corpus with uncommitted/orphan ``(__batch, __writer)``
    partitions filtered out via the index's commit ledger — the
    read-committed view callers should consume (raw reads may see
    partitions from crashed or fenced writers until
    ``Catalog.vacuum_uncommitted`` runs).

    ``as_of_batch=N`` is a SNAPSHOT read: exactly the committed state a
    reader observed right after batch N landed (commit files are
    immutable and batch ids monotone — plain-parquet time travel; the
    semi-join's partition pruning drops later batches at the scan).
    Reproducibility use: pin the corpus snapshot a training run
    consumed, re-read it bit-identically after more batches commit."""
    from pyspark.sql import functions as F

    from ..llm.incremental import commits_table

    df = catalog.read(corpus_table)
    if {"__batch", "__writer"}.issubset(df.columns):
        df = df.join(
            F.broadcast(catalog.committed_frame(commits_table(index_table),
                                                as_of=as_of_batch)),
            ["__batch", "__writer"], "left_semi")
    elif as_of_batch is not None:
        raise ValueError(
            f"corpus '{corpus_table}' has no (__batch, __writer) layout — "
            "snapshot reads need the stream-owned partitioning")
    return df


def committed_alerts(catalog, alerts_table: str = "alerts",
                     index_table: str = "minhash_index", *,
                     since_batch: int | None = None,
                     only_alerting: bool = True,
                     stats_group_by: tuple = (),
                     drift_rules: dict | None = None):
    """The committed drift-alert rows a monitoring consumer polls —
    the read side of ``apply_dedup_increment_txn(alerts_table=)``:
    exactly-once with the batches they describe (uncommitted rows
    invisible), ``since_batch=N`` restricts to batches after the last
    one already consumed (the poll cursor), ``only_alerting`` keeps
    rows where any rule fired. An absent alerts table (no batch has
    alerted behind a baseline yet) is the empty answer, not an error —
    callers poll unconditionally, with the FULL alert schema either
    way (ADVICE r6: a poller selecting ``flag_dup_rate_win`` must work
    on a fresh deployment too). The empty-path schema is built by
    construction — ``flag_drift(drift_report(stats, stats))`` over
    zero-row stats frames — so pass the same ``stats_group_by`` /
    ``drift_rules`` the stream writes with when they differ from the
    defaults (group keys are typed string on the empty path)."""
    from pyspark.sql import functions as F

    if not catalog.exists(alerts_table):
        from ..llm.sketches import corpus_stats_row, drift_report, flag_drift

        keys = list(stats_group_by)
        docs_schema = "doc_id long, text string" + "".join(
            f", {k} string" for k in keys)
        stats = corpus_stats_row(
            catalog.spark.createDataFrame([], docs_schema), group_by=keys)
        flagged = flag_drift(drift_report(stats, stats, group_by=keys),
                             drift_rules)
        full = (flagged.withColumn("__batch", F.lit(0).cast("long"))
                .withColumn("__writer", F.lit("-")))
        # schema only — zero rows, zero jobs
        return catalog.spark.createDataFrame([], full.schema)
    df = committed_corpus(catalog, alerts_table, index_table)
    if since_batch is not None:
        df = df.filter(F.col("__batch") > int(since_batch))
    if only_alerting:
        df = df.filter(F.col("any_alert"))
    return df


def run_incremental_embedding_stream(
        spark, input_dir: str, catalog,
        centroids: "list[list[float]] | None" = None, *,
        checkpoint_dir: str, corpus_table: str = "ann_corpus",
        threshold: float = 0.9, nprobe: int = 2, dim: int | None = None,
        planes: int = 8, bands: int = 4,
        schema: str = "vec_id long, embedding array<float>",
        id_col: str = "vec_id", vec_col: str = "embedding",
        index=None, max_files_per_trigger: int | None = None,
        partition_groups: int | None = None,
        probe_literal_max: int = 1000):
    """Continuous embedding-level near-dedup: each micro-batch probes the
    PARTITIONED ANN corpus (``Catalog`` table partitioned by IVF cell,
    the layout :func:`llm.similarity.kmeans_assign` writes) — the
    embedding twin of :func:`run_incremental_dedup_stream`. The stream
    holds ZERO state: duplicate knowledge lives in the corpus table, and
    the probe reads only the batch's nprobe cells per vector via a
    literal partition filter (at 100 TB: nprobe/k of the corpus files).

    Batch semantics (deterministic): a new vector whose cosine against
    any stored vector in its probed cells reaches ``threshold`` is a
    duplicate — rejected; survivors dedup among themselves (banded-LSH
    pairs → connected components → smallest id kept, exactly the batch
    operators); accepted rows append to the corpus partitioned by cell.

    Replay safety is SIMPLER than the MinHash stream: there is one
    table, and an accepted vector replayed later matches ITSELF in the
    corpus — at cosine 1.0 >= threshold for nonzero vectors, and via
    the explicit same-id check for zero-norm vectors (whose guarded
    cosine is 0) — so every replay is rejected: per-vector idempotent
    through any crash window, including partial appends (present
    vectors are rejected, absent ones re-accepted).

    Hostile inputs: NULL embeddings are dropped at the batch gate (a
    vector-less row can't be compared or stored in a cell) and
    all-zero vectors take the guarded path — cosine 0 against
    everything, deterministic smallest-centroid cell from the argmin
    floor — instead of ANSI DIVIDE_BY_ZERO killing the stream.

    ``centroids`` come from :func:`llm.similarity.train_kmeans` (train
    once on a sample, reuse across batches — retraining would reshuffle
    the layout). ``index=`` (a :class:`llm.similarity.CentroidIndex`
    over the same centroids) switches the per-row cell assignment AND
    probe-list expressions to the two-level table-backed form for the
    large-k regime — plan constant-size in k, the r6 literal-centroid
    ceiling closed on the streaming path too. A
    :class:`llm.similarity.CentroidTable` is also accepted (r8 — the
    ladder's shuffled rung, for k·dim past the broadcast bound —
    including a table built by :meth:`CentroidTable.from_frame` from a
    stored centroid table, the r9 table-resident top rung):
    cell + probe list then come from ONE aggregation over the
    candidate join (:meth:`CentroidTable.probe_and_assign`), and the
    persisted stream-lifetime frame is the multi-row centroid table
    instead of the one-row map. Returns the StreamingQuery.
    ``centroids=None`` is allowed when ``index`` is given (r10, r9
    ADVICE): k and dim then come from ``index.k``/``index.dim``, so a
    table-resident ``CentroidTable.from_frame`` caller never
    materializes the k x dim list — the rung's point.

    ``max_files_per_trigger`` bounds each micro-batch to that many
    source files (``availableNow`` still drains everything pending —
    in several batches instead of one): the backfill knob when a burst
    of files lands between runs, and what lets a soak measure
    PER-BATCH cost (tools/soak_embedding_stream_k.py). Default None =
    one batch per run, the prior behavior.

    ``partition_groups`` bounds the corpus table's partition-directory
    count at large k (r8, measured in the soak: partitioning by the
    raw cell id means every micro-batch writes up to |batch| tiny
    files into as many directories, and per-batch cost grew ~sqrt(k) —
    the small-files regime). When set, the partition column becomes
    ``cell_group = centroid_id div ceil(k/G)`` — CONTIGUOUS cell
    ranges, so directory count is ≤ G whatever k is, each parquet
    file spans few distinct cells, and the probe keeps two pruning
    levels: a literal ``cell_group`` partition filter (directory
    pruning) plus the ``centroid_id`` predicate pushed to parquet
    row-group stats (tight min/max because ranges are contiguous).
    Batch semantics are IDENTICAL — grouping only changes the on-disk
    layout. Default None keeps per-cell partitioning (right while k is
    modest; switch when k approaches the batch size). The layout
    geometry (k, partition_groups) is pinned in a ``{corpus_table}_layout``
    sidecar at setup and validated on every restart — a redeployed
    stream with a different G would otherwise prune the WRONG
    directories silently (r8 ADVICE).

    ``probe_literal_max`` (r8 verdict task 5) bounds the per-batch
    probed-cells driver round-trip: below it, the distinct probed
    cells become a literal ``isin`` (guaranteed static pruning, the
    prior behavior — plan-build cost grows with |batch|·nprobe); above
    it, the cell predicate switches to a broadcast LEFT SEMI join
    against the (tiny) probed-cells frame — flat plan-build cost at
    any batch size. Directory-level pruning is unaffected: the
    ``cell_group`` filter stays literal (≤ G values by construction),
    so the scan is still bounded on a grouped layout. Semantics are
    identical on both sides of the bound (pytest-pinned).
    """
    from ..llm.dedup import dedup_keep_representative
    from ..llm.similarity import (CentroidTable,
                                  _centroid_argmin_expr,
                                  _indexed_argmin_expr, _dot, _norm,
                                  cell_group_col, cell_groups_for,
                                  check_or_record_ann_layout,
                                  embedding_neardup_pairs,
                                  probe_cells_expr,
                                  probe_cells_expr_indexed)

    # centroids may be None when index= carries the centroid state
    # (r9 ADVICE: a from_frame CentroidTable caller must not have to
    # materialize the k x dim list just to report k/dim — mirror
    # semantic_dedup's centroids=None contract); the literal path
    # still requires the list
    if index is not None:
        n_cells = int(index.k)
        vec_dim = dim or int(index.dim)
    elif centroids is not None:
        n_cells = len(centroids)
        vec_dim = dim or len(centroids[0])
    else:
        raise ValueError("run_incremental_embedding_stream needs "
                         "centroids= (literal path) or index= (a "
                         "CentroidIndex/CentroidTable)")
    grouped = partition_groups is not None
    # pin/validate the layout geometry before any read or write —
    # a G/k mismatch must fail loudly at setup, not prune silently
    check_or_record_ann_layout(catalog, spark, corpus_table,
                               k=n_cells,
                               partition_groups=partition_groups)
    # the index frames are driver serializations (k x dim table, plus
    # the sqrt(k) x dim coarse index when the coarse level is indexed
    # — r8 ADVICE: the coarse frame was rebuilt per micro-batch) —
    # build them ONCE at stream setup. persist, NOT localCheckpoint:
    # a checkpointed block is non-replicated executor storage with
    # truncated lineage, so one lost executor would break every later
    # micro-batch; a persisted frame recomputes from its lineage
    # (r7 review)
    idx_frames = []
    idx_frame = None
    if index is not None:
        idx_frames = [f.persist() for f in index.stream_frames(spark)]
        for f in idx_frames:
            f.count()
        idx_frame = idx_frames[0]

    def _apply(batch_df, _batch_id):
        batch_df = batch_df.filter(F.col(vec_col).isNotNull())
        if batch_df.isEmpty():
            return
        v = (batch_df
             .withColumn("__vec", F.col(vec_col).cast("array<double>"))
             .withColumn("__nrm", _norm(F.col("__vec"))))
        if isinstance(index, CentroidTable):
            v = index.probe_and_assign(
                v, id_col=id_col, vec_col="__vec", nrm_col="__nrm",
                nprobe=nprobe, cell_col="centroid_id",
                probes_col="__probes")
        elif index is not None:
            v = (v.crossJoin(F.broadcast(idx_frame))
                 .withColumn("centroid_id",
                             _indexed_argmin_expr(index, F.col("__vec"),
                                                  F.col("__nrm")))
                 .withColumn("__probes",
                             probe_cells_expr_indexed(
                                 index, F.col("__vec"), F.col("__nrm"),
                                 nprobe=nprobe))
                 .drop("__cmap", "__cvecs"))
        else:
            v = (v.withColumn("centroid_id",
                              _centroid_argmin_expr(centroids,
                                                    F.col("__vec"),
                                                    F.col("__nrm")))
                 .withColumn("__probes",
                             probe_cells_expr(centroids, F.col("__vec"),
                                              F.col("__nrm"),
                                              nprobe=nprobe)))
        v = v.localCheckpoint(eager=True)
        fresh = v
        if catalog.exists(corpus_table):
            cells_df = (v.select(F.explode("__probes").alias("centroid_id"))
                        .distinct())
            # bounded driver round-trip (r8 verdict task 5): fetch at
            # most probe_literal_max+1 distinct cells — enough to know
            # which side of the bound this batch is on, never an
            # unbounded |batch|·nprobe collect
            probed = cells_df.limit(int(probe_literal_max) + 1).collect()
            literal = len(probed) <= int(probe_literal_max)
            cells = sorted(r.centroid_id for r in probed)
            stored = catalog.read(corpus_table)
            if grouped:
                # directory pruning on the bounded group column stays a
                # LITERAL filter on both sides of the bound (≤ G
                # distinct groups by construction); below it the group
                # list derives from the already-collected cells, above
                # it from one tiny distinct over the group expression
                if literal:
                    groups_hit = cell_groups_for(cells, n_cells,
                                                 partition_groups)
                else:
                    groups_hit = sorted(
                        r.g for r in cells_df.select(cell_group_col(
                            F.col("centroid_id"), n_cells,
                            partition_groups).alias("g"))
                        .distinct().collect())
                stored = stored.filter(
                    F.col("cell_group").isin(groups_hit))
            if literal:
                # literal cell filter -> static partition/row-group
                # pruning on the corpus scan (the prior behavior)
                stored = stored.filter(F.col("centroid_id").isin(cells))
            else:
                # broadcast semi-join against the tiny probed-cells
                # frame: flat plan-build cost at any batch size; the
                # literal group filter above still bounds the scan on
                # a grouped layout
                stored = stored.join(F.broadcast(cells_df),
                                     "centroid_id", "left_semi")
            stored = (stored
                      .select(F.col(id_col).alias("__sid"),
                              F.col(vec_col).cast("array<double>").alias("__svec"),
                              F.col("centroid_id").alias("__scell")))
            stored = stored.withColumn("__snrm", _norm(F.col("__svec")))
            probed = v.select(id_col, "__vec", "__nrm",
                              F.explode("__probes").alias("__scell"))
            # Zero-norm guard (repo ANSI convention: cosine 0) — one
            # zero vector in a batch OR the stored corpus would otherwise
            # throw DIVIDE_BY_ZERO under Spark 4 ANSI and kill the stream.
            # The same-id check keeps replay idempotent for zero-norm
            # vectors, whose guarded self-cosine is 0, not 1.
            cos = F.when(
                (F.col("__nrm") != 0) & (F.col("__snrm") != 0),
                _dot(F.col("__vec"), F.col("__svec"))
                / (F.col("__nrm") * F.col("__snrm"))).otherwise(F.lit(0.0))
            dup_ids = (probed.join(stored, "__scell")
                       .filter((cos >= threshold)
                               | (F.col(id_col) == F.col("__sid")))
                       .select(id_col).distinct())
            fresh = v.join(dup_ids, id_col, "left_anti")
        pairs = embedding_neardup_pairs(
            fresh.select(id_col, vec_col), id_col=id_col, vec_col=vec_col,
            threshold=threshold, dim=vec_dim, planes=planes, bands=bands)
        accepted = dedup_keep_representative(
            fresh, pairs.withColumnRenamed("vec_id_a", "doc_a")
                        .withColumnRenamed("vec_id_b", "doc_b"),
            id_col=id_col)
        accepted = accepted.select(id_col, vec_col, "centroid_id")
        if grouped:
            accepted = accepted.withColumn(
                "cell_group",
                cell_group_col(F.col("centroid_id"), n_cells,
                               partition_groups))
        accepted = accepted.localCheckpoint(eager=True)
        catalog.append(accepted, corpus_table,
                       partition_by=["cell_group" if grouped
                                     else "centroid_id"])

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    vecs = reader.parquet(input_dir)
    query = (vecs.writeStream
             .foreachBatch(_apply)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
    if idx_frames:
        _unpersist_on_terminate(spark, query, idx_frames)
        query._graft_index_frame = idx_frame  # release-inspection hook
        query._graft_index_frames = idx_frames
    return query


def _unpersist_on_terminate(spark, query, frames) -> None:
    """Release stream-lifetime cached frames when their StreamingQuery
    terminates (ADVICE r7: ``run_incremental_embedding_stream``
    persisted the CentroidIndex frame at setup and never unpersisted
    it, leaking executor storage across stream restarts in a
    long-lived session; r8 ADVICE extended the same to the
    CentroidTable's coarse index frame). A
    :class:`StreamingQueryListener` keyed on the query id unpersists
    exactly once and removes itself — callers that restart the stream
    get a fresh persist from the new setup."""
    from pyspark.sql.streaming import StreamingQueryListener

    qid = str(query.id)

    class _Release(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if str(event.id) != qid:
                return
            try:
                for frame in frames:
                    frame.unpersist()
            finally:
                spark.streams.removeListener(self)

    spark.streams.addListener(_Release())
