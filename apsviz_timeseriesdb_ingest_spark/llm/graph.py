"""Distributed PageRank over an edge frame (Brin & Page 1998, public).

Training-data use: rank HOSTS by the crawl's link graph — the
centrality-flavored quality prior in the Common Crawl curation lineage
(alongside :func:`llm.text.domain_stats` / blocklists); join the rank
back on ``url_host`` to weight or gate documents by source reputation.
The operator itself is graph-generic: any ``(src, dst)`` edge frame.

Execution shape — the same driver-holds-nothing iteration as
large-star/small-star connected components and the k-means trainer:

- state per iteration is ONE (node, rank) frame, re-derived by one
  edges⋈ranks join + one ``dst`` aggregate (map-side partial);
- dangling mass (nodes without out-edges) and the teleport term are two
  DRIVER-SIZED scalars per pass (one tiny aggregate), redistributed
  uniformly — the standard stochastic-matrix completion, so ranks sum
  to 1 at every iteration;
- lineage is cut per pass with ``localCheckpoint`` (iterative-plan
  rule, as in ``dedup._star_components``).

Duplicate edges are counted once (weights belong in a weighted variant);
self-loops are legitimate. Every per-iteration aggregate sums 12-dp
ROUNDED contributions as ``decimal(38,12)`` (the repo's
distributed-vs-serial parity pattern) — decimal addition is
associative, so the result is independent of partitioning and
bit-stable across reruns; the serial reference (`_pagerank_py`)
accumulates the same grid values, and tests pin the distributed result
to it.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pagerank_py(edges: list[tuple], *, damping: float = 0.85,
                 iters: int = 20) -> dict:
    """Serial reference: identical update order and arithmetic shape.
    Edges are (src, dst) pairs (each counted once) or (src, dst, w)
    weighted triples (duplicate pairs SUM their weights). The two modes
    have different duplicate semantics, so a MIXED list is ambiguous
    (an unweighted duplicate would silently reset an accumulated
    weight) — uniform tuple arity is required."""
    arities = {len(e) for e in edges}
    if not arities <= {2} and not arities <= {3}:
        raise ValueError(
            f"mixed edge tuple arities {sorted(arities)}: pass all "
            "(src, dst) or all (src, dst, w), not a mixture")
    agg: dict = {}
    for e in edges:
        s, d = e[0], e[1]
        w = float(e[2]) if len(e) > 2 else 1.0
        agg[(s, d)] = (agg.get((s, d), 0.0) + w) if len(e) > 2 else 1.0
    es = sorted((s, d, w) for (s, d), w in agg.items())
    nodes = sorted({x for s, d, _ in es for x in (s, d)})
    n = len(nodes)
    if not n:
        return {}
    out: dict = {}
    for s, _, w in es:
        out[s] = out.get(s, 0.0) + w
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        # per-contribution 12-dp rounding + Decimal accumulation: the
        # repo's distributed-vs-serial parity pattern (CLAUDE.md) — the
        # distributed operator sums the same grid values as
        # decimal(38,12), so both sides are order-independent
        contrib: dict = {v: Decimal(0) for v in nodes}
        for s, d, w in es:
            contrib[d] += Decimal(repr(round(w * (rank[s] / out[s]), 12)))
        dangling = float(sum(
            (Decimal(repr(round(r, 12)))
             for v, r in rank.items() if v not in out), Decimal(0)))
        base = (1.0 - damping) / n + damping * dangling / n
        rank = {v: base + damping * float(contrib[v]) for v in nodes}
    return {v: round(r, 12) for v, r in rank.items()}


def pagerank(edges: DataFrame, *, src_col: str = "src",
             dst_col: str = "dst", weight_col: str | None = None,
             damping: float = 0.85, iters: int = 20,
             checkpoint_catalog=None,
             checkpoint_prefix: str = "pagerank",
             checkpoint_every: int = 1,
             resume: bool = False) -> DataFrame:
    """PageRank over ``edges`` → ``(node, rank)`` (see module
    docstring). ``iters`` fixed passes (20 ≈ 1e-4 residual on web-like
    graphs); each pass is one join + one aggregate + one scalar
    aggregate. ``weight_col`` switches to the weighted walk (a host
    graph's natural edge weight is its LINK COUNT): rank flows
    proportional to weight over the source's weight total, and
    duplicate (src, dst) rows SUM their weights — unweighted mode
    counts each distinct pair once.

    ``checkpoint_catalog`` routes the per-iteration lineage cut through
    durable ``{checkpoint_prefix}_*`` Catalog tables (every
    ``checkpoint_every``-th round; ``operators.itercheckpoint``
    contract) instead of executor-local ``localCheckpoint`` blocks — on
    a real cluster an executor loss mid-run is then a partition re-read
    from shared storage, not a dead job. Results are BIT-IDENTICAL
    either way (the decimal-summed update is partitioning-independent,
    tested). Tables are left in place; drop after consuming the result.

    ``resume=True`` (requires ``checkpoint_catalog``) makes a DRIVER
    loss recoverable too: each durable ranks write also records a
    ``{checkpoint_prefix}_progress`` row (completed iteration + slot
    table), and a resumed call reads that progress row, the edges slot
    and the recorded ``(node, rank, out)`` ranks slot, and continues from
    the recorded iteration — losing at most ``checkpoint_every - 1``
    rounds of work. The resumed result is bit-identical to an
    uninterrupted run (decimal-summed updates; tested). The caller owns
    passing the SAME edges/damping — the tables cannot validate that.
    """
    from ..operators.itercheckpoint import LineageCutter

    cut = LineageCutter(checkpoint_catalog, checkpoint_prefix,
                        checkpoint_every)
    progress_table = f"{checkpoint_prefix}_progress"
    if resume:
        if checkpoint_catalog is None:
            raise ValueError("resume=True requires checkpoint_catalog")
        if checkpoint_catalog.exists(progress_table):
            prog = checkpoint_catalog.read(progress_table).collect()[0]
            done, ranks_tbl = int(prog["iter"]), prog["table"]
            if done > iters:
                raise ValueError(
                    f"resume: stored progress is at iteration {done} but "
                    f"iters={iters} — the persisted state is further along "
                    "than the request; raise iters or drop the "
                    f"'{progress_table}' tables for a fresh run")
            es = checkpoint_catalog.read(f"{checkpoint_prefix}_edges_0")
            ranks = checkpoint_catalog.read(ranks_tbl)
            cut.seed("ranks", done)
            for i in range(done, iters):
                ranks = _pagerank_pass(es, ranks, damping, cut)
                if cut.last_written is not None:
                    checkpoint_catalog.overwrite(
                        es.sparkSession.createDataFrame(
                            [(i + 1, cut.last_written)],
                            "iter int, table string"), progress_table)
            return ranks.select("node", F.round("rank", 12).alias("rank"))
    if weight_col is None:
        es = cut(edges.select(F.col(src_col).alias("src"),
                              F.col(dst_col).alias("dst"))
                 .distinct().withColumn("w", F.lit(1.0)), "edges")
    else:
        es = cut(edges.select(F.col(src_col).alias("src"),
                              F.col(dst_col).alias("dst"),
                              F.col(weight_col).cast("double").alias("w"))
                 .groupBy("src", "dst").agg(F.sum("w").alias("w")),
                 "edges")
    nodes = (es.select(F.col("src").alias("node"))
             .unionByName(es.select(F.col("dst").alias("node")))
             .distinct())
    outdeg = (es.groupBy("src").agg(F.sum("w").alias("out"))
              .withColumnRenamed("src", "node"))
    # node count rides as a broadcast one-row aggregate (same fold as
    # the per-pass dangling scalar, r12): no driver count job, and the
    # initial 1/n is the identical IEEE double division. The old n == 0
    # early return is subsumed: an empty graph flows through as empty
    # frames (per-row expressions never evaluate) with the same
    # (node, rank) schema.
    nfr = (nodes.agg(F.count("*").cast("double").alias("__n")))
    ranks = (nodes.join(outdeg, "node", "left")
             .crossJoin(F.broadcast(nfr))
             .select("node", (F.lit(1.0) / F.col("__n")).alias("rank"),
                     "out"))
    for i in range(iters):
        ranks = _pagerank_pass(es, ranks, damping, cut)
        if checkpoint_catalog is not None and cut.last_written is not None:
            checkpoint_catalog.overwrite(
                es.sparkSession.createDataFrame(
                    [(i + 1, cut.last_written)], "iter int, table string"),
                progress_table)
    return ranks.select("node", F.round("rank", 12).alias("rank"))


def _pagerank_pass(es: DataFrame, ranks: DataFrame, damping: float,
                   cut) -> DataFrame:
    """One PageRank iteration (shared by the fresh and resumed loops).

    Decimal sums over 12-dp-rounded contributions: decimal addition is
    associative, so the aggregate is independent of partition
    count/order — reruns are bit-identical (ADVICE r3; the serial
    reference accumulates the same grid values).

    State is ONE ``(node, rank, out)`` frame (out-degree folded in,
    r12): each pass is a single node-keyed join (state ⋈ contributions)
    instead of the former two (state ⋈ outdeg, nodes ⋈ contributions) —
    one exchange less per iteration at any scale. ``out`` is NULL
    exactly for dangling nodes, so the dangling filter is unchanged
    (``rank / out`` is NULL iff ``out`` is — rank is never NULL).

    The dangling-mass/teleport base rides as a BROADCAST one-row frame
    (a scalar subquery), not a driver collect — and the node count
    folds into the SAME aggregate, so each iteration is one Spark job
    with ZERO driver round-trips. The arithmetic is the identical
    left-to-right double expression the collected-scalar form
    evaluated (same IEEE ops, same grid values — parity tests and the
    driver-gate oracle pin it)."""
    base_frame = (
        ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("out").isNull(),
                             F.round(F.col("rank"), 12)
                             .cast("decimal(38,12)"))),
                F.lit(0).cast("decimal(38,12)")).cast("double")
            .alias("dang"),
            F.count("*").cast("double").alias("n"))
        .select(F.when(F.col("n") > 0,
                       F.lit(1.0 - damping) / F.col("n")
                       + F.lit(damping) * F.col("dang") / F.col("n"))
                .otherwise(F.lit(0.0)).alias("base")))
    rate = (F.col("rank") / F.col("out")).alias("rate")
    contrib = (es.join(ranks.select(F.col("node").alias("src"), rate)
                       .filter(F.col("rate").isNotNull()),
                       "src")
               .groupBy("dst")
               .agg(F.sum(F.round(F.col("w") * F.col("rate"), 12)
                          .cast("decimal(38,12)")).alias("c"))
               .withColumnRenamed("dst", "node"))
    out = (ranks.select("node", "out").join(contrib, "node", "left")
           .crossJoin(F.broadcast(base_frame))
           .select("node",
                   (F.col("base") + F.lit(damping)
                    * F.coalesce(F.col("c").cast("double"), F.lit(0.0)))
                   .alias("rank"),
                   "out"))
    return cut(out, "ranks")
