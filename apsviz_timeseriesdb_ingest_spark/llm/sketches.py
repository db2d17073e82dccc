"""Mergeable corpus sketches (Apache DataSketches HLL via Spark's
``hll_sketch_agg`` family — public, built into Spark 3.5+/4).

Incremental corpus monitoring: corpus
statistics that need DISTINCT counts (vocabulary size, distinct-content
count → exact-dup rate) normally cost a corpus-wide shuffle per
measurement. A sketch row is computed ONCE per increment (one pass,
map-side partial aggregation, kilobytes of state), appended to a stats
table, and any window of increments merges in O(rows) with NO rescan —
union of HLL sketches at equal ``lg_k`` is lossless (register-wise
max), so the merged estimate equals the estimate of one sketch over
the concatenated data, exactly (tested).

Uses:

- vocabulary growth across dumps (the Heaps-law curve that decides
  tokenizer retraining) from the ``vocab_sketch`` column;
- exact-duplicate-rate trend without any dedup join:
  ``n_docs - estimate(content_sketch)`` estimates the duplicate count
  of the window (content = md5 of text, the ``exact_dedup`` key);
- per-source splits via ``group_by`` (composition monitoring at
  sketch, not corpus, cost).

Accuracy: standard HLL — relative standard error ≈ 1.04/sqrt(2^lg_k)
(~0.8% at the default lg_k=14). All distinct-count columns here are
ESTIMATES; exact paths stay `a2_count_distinct`/`exact_dedup`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

#: default HLL precision: 2^14 registers ≈ 0.8% RSE, ~16 KB dense
DEFAULT_LG_K = 14


def corpus_sketch(df: DataFrame, *, text_col: str = "text",
                  id_col: str = "doc_id", lg_k: int = DEFAULT_LG_K,
                  group_by: Sequence[str] = ()) -> DataFrame:
    """One mergeable stats row (per ``group_by`` group, else per corpus
    slice): ``(…group cols…, n_docs, n_tokens, vocab_sketch,
    content_sketch)``. One corpus pass; the token explode is the only
    expansion and it feeds a map-side partial HLL aggregate."""
    keys = list(group_by)
    base = df.select(*keys, F.col(id_col).alias("__id"),
                     tokens(text_col).alias("__tk"),
                     F.md5(F.coalesce(F.col(text_col), F.lit("")))
                     .alias("__content"))
    tok = base.select(*keys, "__id", "__content",
                      F.explode_outer("__tk").alias("__t"))
    agg = (tok.groupBy(*keys)
           .agg(F.count_distinct("__id").alias("n_docs"),
                F.count("__t").alias("n_tokens"),
                F.hll_sketch_agg("__t", F.lit(lg_k)).alias("vocab_sketch"),
                F.hll_sketch_agg("__content", F.lit(lg_k))
                .alias("content_sketch")))
    return agg


def merge_corpus_sketches(sketches: DataFrame, *,
                          group_by: Sequence[str] = ()) -> DataFrame:
    """Merge sketch rows (e.g. a window of per-increment rows from a
    stats table) into one row per ``group_by`` group — same schema as
    :func:`corpus_sketch`, counts summed, sketches HLL-unioned
    (lossless at equal lg_k). O(rows), no corpus access."""
    keys = list(group_by)
    return (sketches.groupBy(*keys)
            .agg(F.sum("n_docs").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.hll_union_agg("vocab_sketch").alias("vocab_sketch"),
                 F.hll_union_agg("content_sketch")
                 .alias("content_sketch")))


def sketch_estimates(sketches: DataFrame) -> DataFrame:
    """Readable estimates for sketch rows: adds ``vocab_estimate``,
    ``distinct_content_estimate``, and ``est_duplicate_docs``
    (``n_docs - distinct content`` — the exact-dup-rate proxy, floored
    at 0 since the estimator can overshoot n_docs)."""
    return (sketches
            .withColumn("vocab_estimate",
                        F.round(F.hll_sketch_estimate("vocab_sketch"))
                        .cast("long"))
            .withColumn("distinct_content_estimate",
                        F.round(F.hll_sketch_estimate("content_sketch"))
                        .cast("long"))
            .withColumn("est_duplicate_docs",
                        F.greatest(
                            F.col("n_docs")
                            - F.col("distinct_content_estimate"),
                            F.lit(0).cast("long"))))


# -- mergeable quantiles (KLL) ----------------------------------------

#: default KLL k: ~1.3% rank error at k=200 (DataSketches default),
#: a few KB of state
DEFAULT_KLL_K = 200


def length_sketch(df: DataFrame, *, text_col: str = "text",
                  k: int = DEFAULT_KLL_K,
                  group_by: Sequence[str] = ()) -> DataFrame:
    """One mergeable LENGTH-distribution row per group: ``(…group
    cols…, n_docs, len_sketch)`` where ``len_sketch`` is a DataSketches
    KLL sketch (Karnin/Lang/Liberty 2016, public; Spark 4.1's
    ``kll_sketch_agg_bigint``) over per-doc whitespace token counts.

    The quantile companion to :func:`corpus_sketch`'s HLL columns:
    length percentiles (doc-length drift, packing-budget planning, the
    data card's token percentiles) normally cost a corpus-wide
    ``percentile`` pass per measurement — a KLL row is computed once
    per increment, and any window of increments merges in O(rows) with
    bounded rank error (~1.3% at k=200), NO corpus rescan. NULL text
    counts as length 0 (the ``corpus_sketch`` coalesce convention)."""
    keys = list(group_by)
    per_doc = df.select(
        *keys,
        F.size(tokens(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("long").alias("__len"))
    return (per_doc.groupBy(*keys)
            .agg(F.count("*").alias("n_docs"),
                 F.kll_sketch_agg_bigint("__len", F.lit(k))
                 .alias("len_sketch")))


def merge_length_sketches(sketches: DataFrame, *,
                          group_by: Sequence[str] = ()) -> DataFrame:
    """Merge KLL rows (a window of per-increment rows from a stats
    table) into one per group — counts summed, sketches KLL-merged.
    ``kll_sketch_merge_bigint`` is a two-sketch scalar, so the column
    folds via collect_list + ``aggregate`` — O(#increments) rows per
    group, driver-free."""
    keys = list(group_by)
    g = (sketches.groupBy(*keys)
         .agg(F.sum("n_docs").alias("n_docs"),
              F.collect_list("len_sketch").alias("__s")))

    def _merge(acc, x):
        return F.kll_sketch_merge_bigint(acc, x)

    fold = F.aggregate(F.slice("__s", 2, F.greatest(F.size("__s") - 1,
                                                    F.lit(0))),
                       F.element_at("__s", 1), _merge)
    return g.select(*keys, "n_docs", fold.alias("len_sketch"))


def length_quantiles(sketches: DataFrame,
                     qs: Sequence[float] = (0.5, 0.9, 0.99)) -> DataFrame:
    """Readable length percentiles for KLL rows: one ``p<q>`` column
    per requested rank (plus the pass-through counts)."""
    out = sketches
    for q in qs:
        name = f"p{str(q * 100).rstrip('0').rstrip('.').replace('.', '_')}"
        out = out.withColumn(
            name, F.kll_sketch_get_quantile_bigint("len_sketch",
                                                   F.lit(float(q))))
    return out


# -- mergeable heavy hitters (Misra-Gries) ----------------------------

#: default counter budget: error <= n_items/65 per window, ~KBs of state
DEFAULT_MG_K = 64

def _empty_counters():
    """Typed empty counter list (for groups that report no items) —
    built lazily: Column construction needs a live session."""
    return F.array().cast("array<struct<count:bigint,item:string>>")


def _mg_compress(counts: DataFrame, keys: list[str], k: int,
                 n_salt: int = 32) -> DataFrame:
    """Reduce an exact ``(…keys…, __k, __c)`` count frame to one
    Misra-Gries row per group: ``(…keys…, counters, __delta)`` where
    ``counters`` is the top-k ``struct<count, item>`` list (count desc,
    item desc on ties — deterministic) with the (k+1)-th largest count
    subtracted from every kept counter, and ``__delta`` is that
    subtracted amount (0 when the group has <= k distinct items).

    Every dropped item's count is <= __delta, so for EVERY item
    ``count - __delta <= estimate <= count`` with estimate 0 for
    dropped items — the Misra-Gries invariant (Misra & Gries 1982;
    merge rule from Agarwal et al., "Mergeable Summaries", PODS 2012).

    Two-phase top-(k+1): each item has exactly ONE count row, so the
    global top-(k+1) equals the top-(k+1) of the union of per-salt-
    bucket top-(k+1) lists — collect_list buffers are bounded by
    bucket vocabulary, never whole-group vocabulary (the salted-agg
    shape of operators/salt.py, applied to an order statistic)."""
    entry = F.struct(F.col("__c").alias("count"),
                     F.col("__k").alias("item"))
    top = F.slice(F.reverse(F.sort_array(F.collect_list(entry))),
                  1, k + 1)
    p1 = (counts
          .withColumn("__salt", F.pmod(F.xxhash64("__k"), F.lit(n_salt)))
          .groupBy(*keys, "__salt")
          .agg(F.sum("__c").alias("__np"), top.alias("__t")))
    p2 = (p1.groupBy(*keys)
          .agg(F.coalesce(F.sum("__np"), F.lit(0)).cast("long")
               .alias("n_items"),  # global agg over 0 items → 0, not NULL
               F.slice(F.reverse(F.sort_array(
                   F.flatten(F.collect_list("__t")))), 1, k + 1)
               .alias("__l")))
    delta = (F.when(F.size("__l") > k,
                    F.element_at("__l", k + 1)["count"])
             .otherwise(F.lit(0)).cast("long"))
    g = p2.withColumn("__delta", delta)
    kept = F.filter(
        F.transform(
            F.slice("__l", 1, k),
            lambda x: F.struct(
                (x["count"] - F.col("__delta")).cast("long")
                .alias("count"),
                x["item"].alias("item"))),
        lambda x: x["count"] > 0)
    return g.select(*keys, "n_items", kept.alias("counters"), "__delta")


def heavy_hitters_sketch(df: DataFrame, *, text_col: str = "text",
                         key: str | None = None, k: int = DEFAULT_MG_K,
                         group_by: Sequence[str] = ()) -> DataFrame:
    """One mergeable FREQUENT-ITEMS row per group: ``(…group cols…,
    n_items, counters, deficit)`` — the heavy-hitters companion to
    :func:`corpus_sketch` (HLL distincts) and :func:`length_sketch`
    (KLL quantiles), hand-built on Misra-Gries because Spark ships no
    frequent-items aggregate.

    ``key`` names the item column (e.g. a domain column); when None,
    items are the whitespace tokens of ``text_col`` (top-token drift).
    Per increment: ONE exact count shuffle + the salted compression —
    no corpus rescan ever again; any window of increment rows merges
    via :func:`merge_heavy_hitters`.

    Guarantee (exact per increment, additive across merges): for every
    item, ``true - deficit <= estimate <= true`` (estimate 0 if the
    item is absent from ``counters``), and ``deficit <= n_items /
    (k+1)`` — so any item with frequency > n_items/(k+1) is PRESENT.
    Report estimates with :func:`heavy_hitters_estimates`."""
    keys = list(group_by)
    if key is None:
        items = df.select(*keys, F.explode(
            tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("__k"))
    else:
        items = (df.select(*keys, F.col(key).cast("string").alias("__k"))
                 .filter(F.col("__k").isNotNull()))
    counts = items.groupBy(*keys, "__k").agg(F.count("*").alias("__c"))
    return (_mg_compress(counts, keys, k)
            .withColumnRenamed("__delta", "deficit"))


def merge_heavy_hitters(sketches: DataFrame, *, k: int = DEFAULT_MG_K,
                        group_by: Sequence[str] = ()) -> DataFrame:
    """Merge heavy-hitter rows (a window of per-increment rows from a
    stats table) into one per group — counter lists summed item-wise,
    then re-compressed to k; deficits ADD (each input's error carries
    through the merge, plus the new compression's delta). O(window
    rows x k) items touched, no corpus access."""
    keys = list(group_by)
    summed = (sketches
              .select(*keys, F.explode("counters").alias("__e"))
              .select(*keys, F.col("__e")["item"].alias("__k"),
                      F.col("__e")["count"].alias("__c"))
              .groupBy(*keys, "__k").agg(F.sum("__c").alias("__c")))
    comp = _mg_compress(summed, keys, k).drop("n_items")
    meta = (sketches.groupBy(*keys)
            .agg(F.sum("n_items").alias("n_items"),
                 F.sum("deficit").alias("__d0")))
    # left: a group whose every input row reported zero counters has no
    # exploded items, hence no compression row — it must still merge
    # (to empty counters), not vanish
    joined = (meta.join(comp, on=keys, how="left") if keys
              else meta.crossJoin(comp))
    return (joined
            .select(*keys, "n_items",
                    F.coalesce("counters", _empty_counters())
                    .alias("counters"),
                    (F.col("__d0")
                     + F.coalesce(F.col("__delta"), F.lit(0)))
                    .alias("deficit")))


def heavy_hitters_estimates(sketches: DataFrame) -> DataFrame:
    """Readable per-item rows for heavy-hitter sketch rows: one row per
    reported item with ``est_count`` (lower bound), ``max_count``
    (``est + deficit``, upper bound), and the group's ``n_items``."""
    keys = [c for c in sketches.columns
            if c not in ("n_items", "counters", "deficit")]
    return (sketches
            .select(*keys, "n_items", "deficit",
                    F.explode("counters").alias("__e"))
            .select(*keys, "n_items",
                    F.col("__e")["item"].alias("item"),
                    F.col("__e")["count"].alias("est_count"),
                    (F.col("__e")["count"] + F.col("deficit"))
                    .alias("max_count")))


# -- one combined stats row (streaming increments) --------------------

def corpus_stats_row(df: DataFrame, *, text_col: str = "text",
                     id_col: str = "doc_id", lg_k: int = DEFAULT_LG_K,
                     kll_k: int = DEFAULT_KLL_K,
                     mg_k: int = DEFAULT_MG_K,
                     group_by: Sequence[str] = ()) -> DataFrame:
    """ALL THREE mergeable sketches as one row over ``df`` (one
    increment/micro-batch): HLL distincts (:func:`corpus_sketch`), KLL
    length quantiles (:func:`length_sketch`), and Misra-Gries top
    tokens (:func:`heavy_hitters_sketch`) — the schema a streaming
    stats table appends per committed batch, so ANY window of batches
    answers vocabulary growth, duplicate-rate trend, length drift, and
    top-token drift by merging kilobyte rows instead of rescanning the
    corpus. Each sketch family merges with its own ``merge_*`` function
    (extra columns pass through groupBy untouched).

    One row per call — callers guard empty inputs (a global aggregate
    over zero rows would yield a degenerate row, not zero rows).

    ``group_by`` gives one row per group instead (per-source stats —
    composition monitoring at sketch cost): the three families join on
    the group keys; a group whose docs have no tokens still gets a row
    (empty counter list)."""
    keys = list(group_by)
    c = corpus_sketch(df, text_col=text_col, id_col=id_col, lg_k=lg_k,
                      group_by=keys)
    ln = length_sketch(df, text_col=text_col, k=kll_k,
                       group_by=keys).drop("n_docs")
    # n_items == n_tokens by construction, but merge_heavy_hitters
    # keys on the name, so it stays
    hh = heavy_hitters_sketch(df, text_col=text_col, k=mg_k,
                              group_by=keys)
    if not keys:
        return c.crossJoin(ln).crossJoin(hh)
    # all-empty-token groups have no exploded items → no hh row; the
    # corpus/length groups are authoritative (built over every doc row)
    out = c.join(ln, on=keys).join(hh, on=keys, how="left")
    return out.select(
        *keys, "n_docs", "n_tokens", "vocab_sketch", "content_sketch",
        "len_sketch",
        F.coalesce("n_items", F.lit(0)).alias("n_items"),
        F.coalesce("counters", _empty_counters()).alias("counters"),
        F.coalesce("deficit", F.lit(0)).alias("deficit"))


# -- drift report (two-window comparison) ------------------------------

def drift_report(baseline: DataFrame, window: DataFrame,
                 qs: Sequence[float] = (0.5, 0.9),
                 group_by: Sequence[str] = ()) -> DataFrame:
    """ONE drift row comparing two windows of stats rows (e.g. the
    pinned window a training run consumed vs the latest batches) —
    computed ENTIRELY from the sketch rows, no corpus access: the
    monitoring consumer the per-batch stats table exists for.

    Columns per side (``_base`` / ``_win``): ``n_docs``, ``dup_rate``
    (HLL exact-dup proxy), ``vocab`` estimate, one ``p<q>_`` length
    quantile per requested rank; plus the cross-window signals
    ``vocab_ratio`` (win/base), ``p<q>_shift`` (relative length drift
    at each rank, 0.0 when base is 0), and ``top_token_jaccard``
    (heavy-hitter item-set overlap — composition churn; 1.0 when both
    sides report no items). Callers alert on thresholds; this reports
    measurements only.

    ``group_by`` gives one drift row per group over GROUPED stats rows
    (``corpus_stats_row(group_by=…)``) — per-source/per-domain drift,
    still sketch-rows-only. The group join is FULL OUTER: a source
    present in only one window reports against an empty other side
    (``n_docs`` 0, ``vocab`` 0, empty item set; quantiles NULL and
    their shifts 0.0 — absence is composition signal, not an error)."""
    keys = list(group_by)

    def side(df: DataFrame, tag: str) -> DataFrame:
        c = sketch_estimates(
            merge_corpus_sketches(df, group_by=keys)).select(
            *keys,
            F.col("n_docs").alias(f"n_docs_{tag}"),
            F.when(F.col("n_docs") > 0,
                   F.col("est_duplicate_docs") / F.col("n_docs"))
            .otherwise(F.lit(0.0)).alias(f"dup_rate_{tag}"),
            F.col("vocab_estimate").alias(f"vocab_{tag}"))
        ln = length_quantiles(
            merge_length_sketches(df, group_by=keys), qs=qs)
        pcols = [c2 for c2 in ln.columns if c2.startswith("p")]
        ln = ln.select(*keys,
                       *[F.col(p).alias(f"{p}_{tag}") for p in pcols])
        hh = merge_heavy_hitters(df, group_by=keys).select(
            *keys,
            F.transform("counters", lambda x: x["item"])
            .alias(f"items_{tag}"))
        if not keys:
            return c.crossJoin(ln).crossJoin(hh)
        return c.join(ln, on=keys).join(hh, on=keys)

    base_s, win_s = side(baseline, "base"), side(window, "win")
    if keys:
        both = base_s.join(win_s, on=keys, how="full_outer")
        for tag in ("base", "win"):
            both = (both
                    .withColumn(f"n_docs_{tag}",
                                F.coalesce(f"n_docs_{tag}", F.lit(0)))
                    .withColumn(f"dup_rate_{tag}",
                                F.coalesce(f"dup_rate_{tag}",
                                           F.lit(0.0)))
                    .withColumn(f"vocab_{tag}",
                                F.coalesce(f"vocab_{tag}", F.lit(0)))
                    .withColumn(f"items_{tag}",
                                F.coalesce(f"items_{tag}",
                                           F.array().cast(
                                               "array<string>"))))
    else:
        both = base_s.crossJoin(win_s)
    out = both.withColumn(
        "vocab_ratio",
        F.when(F.col("vocab_base") > 0,
               F.col("vocab_win") / F.col("vocab_base"))
        .otherwise(F.lit(None).cast("double")))
    for q in qs:
        p = f"p{str(q * 100).rstrip('0').rstrip('.').replace('.', '_')}"
        out = out.withColumn(
            f"{p}_shift",
            F.when(F.col(f"{p}_base") > 0,
                   (F.col(f"{p}_win") - F.col(f"{p}_base"))
                   / F.col(f"{p}_base")).otherwise(F.lit(0.0)))
    inter = F.size(F.array_intersect("items_base", "items_win"))
    union = F.size(F.array_union("items_base", "items_win"))
    out = out.withColumn(
        "top_token_jaccard",
        F.when(union > 0, inter / union).otherwise(F.lit(1.0)))
    return out.drop("items_base", "items_win")


#: default alert rules for :func:`flag_drift` — conservative starting
#: thresholds a deployment tunes per corpus
DEFAULT_DRIFT_RULES = {
    "dup_rate_win": (">", 0.2),        # window dup-flood
    "vocab_ratio": ("outside", (0.5, 2.0)),  # vocabulary collapse/blowup
    "p50_shift": ("abs>", 0.5),        # median length moved >50%
    "top_token_jaccard": ("<", 0.3),   # token mix mostly replaced
}


def flag_drift(report: DataFrame, rules: dict | None = None) -> DataFrame:
    """Evaluate alert rules over :func:`drift_report` rows (global or
    grouped): adds one boolean ``flag_<metric>`` column per rule plus
    ``any_alert``. ``drift_report`` stays measurement-only by design;
    this is the separate, threshold-owning consumer that closes the
    monitoring loop — alerting logic is a column expression, so it
    runs wherever the report does (batch, or per micro-batch on the
    streaming stats table).

    Rule forms (NULL metrics never alert — e.g. ``vocab_ratio`` with
    no baseline): ``(">", x)``, ``("<", x)``, ``("abs>", x)`` for
    symmetric relative shifts, ``("outside", (lo, hi))`` for a band.

    Rules whose metric column is ABSENT from the report are skipped
    (no ``flag_`` column emitted): :data:`DEFAULT_DRIFT_RULES` names
    ``p50_shift``, but a report built with ``qs`` omitting 0.5 simply
    has no such column — defaults must not crash narrower reports
    (ADVICE r6). Alert coverage follows the report you built.
    """
    rules = DEFAULT_DRIFT_RULES if rules is None else rules
    out = report
    flags = []
    for metric, (op, arg) in rules.items():
        if metric not in report.columns:
            continue
        c = F.col(metric)
        if op == ">":
            expr = c > F.lit(arg)
        elif op == "<":
            expr = c < F.lit(arg)
        elif op == "abs>":
            expr = F.abs(c) > F.lit(arg)
        elif op == "outside":
            lo, hi = arg
            expr = (c < F.lit(lo)) | (c > F.lit(hi))
        else:
            raise ValueError(f"unknown drift rule op {op!r} "
                             f"for {metric!r}")
        name = f"flag_{metric}"
        out = out.withColumn(name, F.coalesce(expr, F.lit(False)))
        flags.append(name)
    any_alert = F.lit(False)
    for name in flags:
        any_alert = any_alert | F.col(name)
    return out.withColumn("any_alert", any_alert)
