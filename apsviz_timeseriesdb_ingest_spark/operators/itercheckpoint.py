"""Reliable lineage cuts for iterative operators.

Iterative frame algorithms (PageRank, star connected components, the
LSH candidate loop) must cut lineage every round or the plan doubles
per pass. ``localCheckpoint`` is the cheap cut — but it stores the
checkpointed blocks on EXECUTORS ONLY, so on a real cluster losing one
executor mid-run makes those partitions irrecoverable and kills the
whole job (r3 verdict "what's wrong" #1). This module is the durable
alternative: route the cut through ``sources.catalog.Catalog`` tables,
so the lineage root is a parquet table on shared storage — executor
loss costs a partition re-READ, not the job.

Contract (``LineageCutter``):

- ``catalog=None`` (the single-process/test default): every cut is a
  plain ``localCheckpoint`` — fastest, non-durable.
- ``catalog=`` a :class:`~..sources.catalog.Catalog`: every
  ``every``-th cut per state name writes ``{prefix}_{name}_{slot}``
  and returns a read of it; the rounds in between still localCheckpoint.
  With ``every > 1`` those in-between rounds remain EXECUTOR-LOSS-FATAL
  (their lineage roots on executor-local blocks, which Spark cannot
  transparently recompute once the executor is gone) — what the durable
  cadence buys is that the job is re-RUNNABLE from the last durable
  slot (e.g. via ``pagerank(resume=True)``), losing at most ``every``
  rounds of work, not the whole run. Only ``every == 1`` makes every
  round's root durable so an executor loss costs a partition re-read
  with no restart. ``slot`` alternates 0/1 so a new write never
  overwrites the table the CURRENT frame still reads — which requires
  the caller to reference at most the most recent cut frame per name
  (true of every loop in this repo: each round derives only from the
  previous round's state).
- Checkpoint tables are left in place after the run as an audit
  trail; the final returned frame reads from the last slot, so drop
  the tables only after consuming the result.

Failure-recovery contract: with a catalog and ``every == 1``, an
executor loss at any point is recoverable by Spark's normal lineage
recomputation (every round's root is durable storage). With
``every > 1``, an executor loss during a non-durable round — like a
driver loss at any cadence — requires re-RUNNING the operator from the
last written slot, costing at most ``every`` rounds of repeated work
IF the caller restarts from the persisted state; the tables are named
deterministically precisely so a resume wrapper can.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class LineageCutter:
    """Callable ``cut(df, name) -> DataFrame`` per the module contract."""

    def __init__(self, catalog=None, prefix: str = "iter",
                 every: int = 1) -> None:
        if every < 1:
            raise ValueError(f"every must be >= 1, got {every}")
        self.catalog = catalog
        self.prefix = prefix
        self.every = every
        self._counts: dict[str, int] = {}
        #: table name written by the most recent call (None when that
        #: call localCheckpointed instead) — resume wrappers use this
        #: to record which slot holds the latest durable state
        self.last_written: str | None = None

    def seed(self, name: str, count: int) -> None:
        """Pre-set a state's cut count (resume support): after reloading
        state persisted at cut ``count``, seeding keeps the slot
        alternation exactly where a fresh run would be."""
        self._counts[name] = count

    def count(self, name: str = "state") -> int:
        """Cuts performed so far for ``name`` — resume wrappers persist
        this next to the slot-table pointer so a resumed run can
        :meth:`seed` the alternation exactly where the lost run was."""
        return self._counts.get(name, 0)

    def __call__(self, df: DataFrame, name: str = "state") -> DataFrame:
        if self.catalog is None:
            self.last_written = None
            return df.localCheckpoint(eager=True)
        i = self._counts.get(name, 0)
        self._counts[name] = i + 1
        if i % self.every:
            self.last_written = None
            return df.localCheckpoint(eager=True)
        slot = (i // self.every) % 2
        table = f"{self.prefix}_{name}_{slot}"
        self.catalog.overwrite(df, table)
        self.last_written = table
        return self.catalog.read(table)
