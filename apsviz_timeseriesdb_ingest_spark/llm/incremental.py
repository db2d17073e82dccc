"""Incremental dedup: new batches against a PERSISTED MinHash-LSH index.

Full-corpus dedup re-shingles everything on every run; a production
pipeline receives increments (a crawl day, a new dump) and must answer
"which of these are new?" in O(|increment|), not O(|corpus|). The index
is the ``(doc, band, bucket)`` frame from
:func:`llm.dedup.minhash_band_buckets` persisted through the Catalog
(parquet here; the same rows land in Delta/Iceberg or a key-value store
unchanged — the seam is ``Catalog``, as for the ingest ledger).

Increment semantics (deterministic):

1. Bucket ONLY the new docs (one shingling pass over the increment; the
   bucket frame is persisted and reused for steps 2-4).
2. A new doc colliding with the stored index on any (band, bucket) is a
   duplicate of the corpus — rejected.
3. Survivors are resolved among themselves (in-batch LSH pairs →
   connected components → keep the smallest id).
4. Accepted docs' bucket rows are APPENDED to the index.

Rerunning an already-applied increment rejects everything (its docs are
now in the index) — idempotent at the corpus level; batch-level
exactly-once belongs to the caller's ledger, same as the harvest
ingest's ``*_file_meta`` (reference: run/ingestObsTasks.py ledger flow).

At 100 TB the join in step 2 is an equi-join of |increment|·bands rows
against the index on tiny keys: partition the index table by a bucket
prefix and the probe prunes to matching partitions; the corpus text is
never re-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import Catalog
from .dedup import (dedup_keep_representative, lsh_pairs_from_buckets,
                    minhash_band_buckets)

INDEX_SCHEMA = "doc long, band int, bucket string"

#: the LSH parameters that define the index geometry — probing with ANY
#: different value silently matches nothing (different shingle size or
#: band layout → disjoint buckets) and would accept every duplicate
LSH_DEFAULTS = {"k": 3, "num_hashes": 16, "bands": 4, "fast": False}
_META_SCHEMA = "k int, num_hashes int, bands int, fast boolean"


def _meta_table(table: str) -> str:
    return f"{table}_meta"


def check_or_record_params(catalog: Catalog, spark, table: str,
                           lsh_kw: dict) -> None:
    """Pin the index's LSH geometry in a one-row sidecar table at first
    use; on every later probe assert the caller's params match. Config
    drift between a long-lived index and its (possibly redeployed)
    streaming caller otherwise fails SILENTLY — wrong-k probes collide
    with nothing and accept everything (ADVICE r2)."""
    unknown = set(lsh_kw) - set(LSH_DEFAULTS)
    if unknown:
        raise TypeError(f"unknown LSH params: {sorted(unknown)}")
    params = {**LSH_DEFAULTS, **lsh_kw}
    meta = _meta_table(table)
    if catalog.exists(meta):
        row = catalog.read(meta).collect()[0]
        stored = {key: row[key] for key in LSH_DEFAULTS}
        if stored != params:
            raise ValueError(
                f"LSH params {params} do not match index '{table}' built "
                f"with {stored}; probing with different geometry matches "
                "nothing — rebuild the index or fix the caller's config")
    else:
        catalog.overwrite(
            spark.createDataFrame(
                [(params["k"], params["num_hashes"], params["bands"],
                  params["fast"])], _META_SCHEMA), meta)


def commits_table(table: str) -> str:
    """Commit-ledger sidecar of a stream-owned index: a DIRECTORY of
    one put-if-absent file per committed ``(batch, writer)`` — the
    atomic commit point (``Catalog.commit_batch``; see
    ``streaming.corpus_stream.apply_dedup_increment_txn``)."""
    return f"{table}_commits"


def build_dedup_index(catalog: Catalog, docs: DataFrame, *,
                      table: str = "minhash_index", text_col: str = "text",
                      id_col: str = "doc_id", stream_index: bool = False,
                      **lsh_kw) -> int:
    """(Re)build the persistent index from a full corpus. Returns the
    number of indexed documents. The LSH geometry is pinned in the
    ``{table}_meta`` sidecar (see :func:`check_or_record_params`).

    ``stream_index=True`` writes the STREAM-OWNED layout instead of the
    flat one: rows carry ``__batch = -1`` / ``__writer = "-"`` (the
    table is partitioned by both) and the ``{table}_commits`` ledger
    records batch -1 as committed — the layout
    ``run_incremental_dedup_stream`` requires so its per-batch
    partitioned overwrites and put-if-absent ledger commits make index
    appends atomic-with-replay AND writer-exclusive (the r3
    partial-commit closure + the r6 two-writer closure)."""
    buckets = minhash_band_buckets(docs, text_col=text_col, id_col=id_col,
                                   **lsh_kw)
    spark = docs.sparkSession
    # A rebuild must fully REPLACE the index (a partitioned overwrite
    # replaces only the frame's partitions, so it would leave stale __batch
    # partitions and phantom rows — ADVICE r4), but dropping the old
    # generation BEFORE the rebuild job runs left a window where any
    # rebuild failure destroyed the index entirely (ADVICE r5). Staged
    # rebuild closes both: the new generation lands in __staging names
    # and the old one survives, readable, until the post-job directory
    # swap. A FLAT rebuild stages no commits ledger, so publish retires
    # a previous stream-owned generation's ledger. Meta publishes LAST:
    # a crash mid-swap leaves a params-check failure, not a silent
    # wrong-geometry probe.
    with catalog.staged_rebuild(table, commits_table(table),
                                _meta_table(table),
                                f"{table}_writer") as stage:
        if stream_index:
            catalog.overwrite(
                buckets.withColumn("__batch", F.lit(-1).cast("long"))
                .withColumn("__writer", F.lit("-")),
                stage(table), partition_by=["__batch", "__writer"])
            catalog.commit_batch(stage(commits_table(table)), -1, "-")
        else:
            catalog.overwrite(buckets, stage(table))
        # overwrite (not check): a rebuild REDEFINES the geometry
        params = {**LSH_DEFAULTS, **lsh_kw}
        catalog.overwrite(
            spark.createDataFrame(
                [(params["k"], params["num_hashes"], params["bands"],
                  params["fast"])], _META_SCHEMA), stage(_meta_table(table)))
        n = catalog.read(stage(table)).select("doc").distinct().count()
    return n


def plan_increment(catalog: Catalog, new_docs: DataFrame, *,
                   table: str = "minhash_index", text_col: str = "text",
                   id_col: str = "doc_id", max_bucket_size: int | None = None,
                   committed_only: bool = False,
                   **lsh_kw) -> tuple[DataFrame, DataFrame]:
    """Resolve an increment WITHOUT mutating the index (the one-row
    ``{table}_meta`` params sidecar is recorded on first use and
    asserted after — see :func:`check_or_record_params`). Returns
    ``(accepted, accepted_buckets)`` — the accepted subset of
    ``new_docs`` (all columns) and its index rows — both with lineage
    cut, so the caller may write them in whatever order its consistency
    story needs (see :func:`dedup_increment` for batch,
    ``streaming.corpus_stream.run_incremental_dedup_stream`` for the
    replay-safe streaming order).

    Cost is O(|increment|): only new docs are shingled (once — the bucket
    frame is persisted and reused for the corpus probe, the in-batch
    pair join, and the index rows); the corpus is touched only via the
    (band, bucket) equi-join against the index table.

    ``committed_only=True`` (the stream-owned layout): probe only index
    rows whose ``(__batch, __writer)`` pair appears in the
    ``{table}_commits`` ledger — rows from a crashed, uncommitted index
    write (or from a fenced writer that lost the commit race) are
    invisible, so a replay recomputes the SAME accepted set instead of
    rejecting docs against partial/orphan rows (the r3 partial-commit
    recall-loss mode; the r6 two-writer closure). Requires the index to
    carry ``__batch``/``__writer``
    (``build_dedup_index(stream_index=True)`` or stream-created).
    """
    spark = new_docs.sparkSession
    check_or_record_params(catalog, spark, table, lsh_kw)
    buckets = minhash_band_buckets(new_docs, text_col=text_col,
                                   id_col=id_col, **lsh_kw).persist()
    stored = (catalog.read(table) if catalog.exists(table)
              else spark.createDataFrame([], INDEX_SCHEMA))
    if committed_only:
        if catalog.exists(table) and not {
                "__batch", "__writer"}.issubset(stored.columns):
            raise ValueError(
                f"index '{table}' lacks the __batch/__writer layout — "
                "rebuild it with build_dedup_index(stream_index=True) "
                "before probing with committed_only (a flat index cannot "
                "distinguish committed from partial or orphan rows)")
        if "__batch" in stored.columns:
            stored = stored.join(
                F.broadcast(catalog.committed_frame(commits_table(table))),
                ["__batch", "__writer"], "left_semi")
    vs_corpus = (buckets.join(stored, ["band", "bucket"], "left_semi")
                 .select("doc").distinct())
    fresh_buckets = buckets.join(vs_corpus, "doc", "left_anti")
    fresh = new_docs.join(
        vs_corpus.withColumnRenamed("doc", id_col), id_col, "left_anti")

    in_batch_pairs = lsh_pairs_from_buckets(fresh_buckets,
                                            max_bucket_size=max_bucket_size)
    accepted = dedup_keep_representative(fresh, in_batch_pairs,
                                         id_col=id_col)
    # Cut lineage BEFORE the caller mutates the index: the accepted plan
    # reads the stored index (via the corpus probe); evaluating it after
    # an append could see the increment's own freshly-appended rows and
    # reject everything.
    accepted = accepted.localCheckpoint(eager=True)
    accepted_buckets = (buckets.join(
        accepted.select(F.col(id_col).alias("doc")), "doc", "left_semi")
        .localCheckpoint(eager=True))
    buckets.unpersist()
    return accepted, accepted_buckets


def dedup_increment(catalog: Catalog, new_docs: DataFrame, *,
                    table: str = "minhash_index", text_col: str = "text",
                    id_col: str = "doc_id", **lsh_kw) -> DataFrame:
    """Dedup an increment against the stored index and extend the index
    with the accepted docs. Returns the ACCEPTED subset of ``new_docs``
    (all columns, lineage cut — safe to evaluate after the index grows).

    Single-shot convenience: the index append here is ONE plain parquet
    append, so a caller that replays a crashed batch against a PARTIAL
    append inherits the recall-loss mode the streaming path closed —
    for replayed/batch-id'd ingestion use
    ``streaming.corpus_stream.apply_dedup_increment_txn`` (it is not
    streaming-specific: it takes (batch_df, batch_id) and carries the
    commit-ledger protocol + crash matrix).
    """
    accepted, accepted_buckets = plan_increment(
        catalog, new_docs, table=table, text_col=text_col, id_col=id_col,
        **lsh_kw)
    catalog.append(accepted_buckets, table)
    return accepted
