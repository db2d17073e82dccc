"""Mergeable corpus sketches — HLL distincts: lossless merge (split ==
whole, exactly), accuracy vs exact distincts, duplicate-rate proxy,
grouped form, and the incremental catalog-append monitoring flow; KLL
length quantiles: exact below compaction, split-merge == whole, rank
error within bound past compaction, NULL-as-zero convention, and the
single-increment merge edge."""

from __future__ import annotations

from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.llm.sketches import (
    corpus_sketch,
    length_quantiles,
    length_sketch,
    merge_corpus_sketches,
    merge_length_sketches,
    sketch_estimates,
)
from apsviz_timeseriesdb_ingest_spark.testdata import load_table


def test_merge_is_lossless_and_accurate(spark, sf_oracle):
    docs = load_table(spark, sf_oracle, "documents")
    whole = sketch_estimates(corpus_sketch(docs)).collect()[0]

    # split by parity, sketch each half, merge the rows
    halves = [corpus_sketch(docs.filter(F.col("doc_id") % 2 == i))
              for i in (0, 1)]
    merged = sketch_estimates(merge_corpus_sketches(
        halves[0].unionByName(halves[1]))).collect()[0]
    # HLL union at equal lg_k is register-wise max: EXACTLY the sketch
    # of the concatenated corpus
    assert merged.vocab_estimate == whole.vocab_estimate
    assert merged.distinct_content_estimate == \
        whole.distinct_content_estimate
    assert merged.n_docs == whole.n_docs == docs.count()
    assert merged.n_tokens == whole.n_tokens

    # accuracy: ~0.8% RSE at lg_k=14 — assert 5%
    exact_vocab = (docs.select(F.explode(F.split(F.lower("text"),
                                                 r"\s+")).alias("t"))
                   .filter(F.col("t") != "").distinct().count())
    assert abs(whole.vocab_estimate - exact_vocab) <= \
        max(2, 0.05 * exact_vocab)
    exact_content = docs.select(F.md5("text")).distinct().count()
    assert abs(whole.distinct_content_estimate - exact_content) <= \
        max(2, 0.05 * exact_content)
    assert whole.est_duplicate_docs == max(
        0, whole.n_docs - whole.distinct_content_estimate)


def test_duplicate_rate_proxy_and_groups(spark):
    rows = [(i, "totally duplicated text body", "a") for i in range(40)]
    rows += [(100 + i, f"unique document number {i}", "b")
             for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    by_src = {r.source: r for r in sketch_estimates(
        corpus_sketch(docs, group_by=["source"])).collect()}
    assert by_src["a"].n_docs == 40
    assert by_src["a"].distinct_content_estimate == 1
    assert by_src["a"].est_duplicate_docs == 39
    assert by_src["b"].est_duplicate_docs == 0


def test_incremental_monitoring_via_catalog(spark, tmp_path):
    """The advertised flow: one sketch row appended per increment, any
    window merged later with no corpus rescan."""
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    batches = [
        [(1, "alpha beta gamma"), (2, "beta gamma delta")],
        [(3, "gamma delta epsilon"), (4, "alpha beta gamma")],
        [(5, "zeta eta theta iota")],
    ]
    for i, b in enumerate(batches):
        df = spark.createDataFrame(b, "doc_id long, text string")
        cat.append(corpus_sketch(df).withColumn(
            "batch", F.lit(i)), "corpus_stats")
    merged = sketch_estimates(merge_corpus_sketches(
        cat.read("corpus_stats"))).collect()[0]
    assert merged.n_docs == 5
    assert merged.vocab_estimate == 9  # alpha..iota
    assert merged.distinct_content_estimate == 4  # doc 4 repeats doc 1
    assert merged.est_duplicate_docs == 1


def test_length_sketch_exact_below_compaction(spark):
    """n <= k: the KLL sketch stores every value, so quantiles are
    exact and the split-merge equals the whole-corpus sketch."""
    rows = [(i, " ".join(["w"] * (i + 1))) for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    whole = length_quantiles(length_sketch(docs)).collect()[0]
    assert whole.n_docs == 100
    # lengths are exactly 1..100
    assert (whole.p50, whole.p90, whole.p99) == (50, 90, 99)

    halves = [length_sketch(docs.filter(F.col("doc_id") % 2 == i))
              for i in (0, 1)]
    merged = length_quantiles(merge_length_sketches(
        halves[0].unionByName(halves[1]))).collect()[0]
    assert merged.n_docs == 100
    assert (merged.p50, merged.p90, merged.p99) == (50, 90, 99)


def test_length_sketch_rank_error_past_compaction(spark):
    """n >> k forces compaction; the merged estimate must stay within
    the KLL rank-error bound (~1.3% at k=200 — assert 3%)."""
    n = 5000
    rows = [(i, (i % 1000) + 1) for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, len int").select(
        "doc_id",
        F.concat_ws(" ", F.array_repeat(F.lit("w"), "len")).alias("text"))
    # three increments merged, like the stats-table flow
    parts = [length_sketch(docs.filter(F.col("doc_id") % 3 == i))
             for i in range(3)]
    merged = length_quantiles(
        merge_length_sketches(parts[0].unionByName(parts[1])
                              .unionByName(parts[2])),
        qs=(0.25, 0.5, 0.9)).collect()[0]
    assert merged.n_docs == n
    # uniform over 1..1000: value at rank q is ~1000*q; 3% rank error
    # translates to +-30 in value space
    for q, got in ((0.25, merged.p25), (0.5, merged.p50),
                   (0.9, merged.p90)):
        assert abs(got - 1000 * q) <= 30, (q, got)


def test_length_sketch_null_text_and_single_increment(spark):
    """NULL text counts as length 0 (corpus_sketch convention); a
    one-row merge (single increment in the window) is the identity."""
    docs = spark.createDataFrame(
        [(1, "a b c", "x"), (2, None, "x"), (3, "a", "y")],
        "doc_id long, text string, source string")
    one = length_sketch(docs, group_by=["source"])
    merged = {r.source: r for r in length_quantiles(
        merge_length_sketches(one, group_by=["source"]),
        qs=(0.0, 1.0)).collect()}
    assert merged["x"].n_docs == 2
    assert (merged["x"].p0, merged["x"].p100) == (0, 3)
    assert merged["y"].n_docs == 1
    assert (merged["y"].p0, merged["y"].p100) == (1, 1)


def test_heavy_hitters_exact_below_k(spark):
    """vocab <= k: no truncation, deficit 0, counters are the exact
    counts, and split-merge == whole."""
    from apsviz_timeseriesdb_ingest_spark.llm.sketches import (
        heavy_hitters_sketch, merge_heavy_hitters)
    rows = [(i, "alpha beta alpha") for i in range(10)]
    rows += [(100 + i, "beta gamma") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    whole = heavy_hitters_sketch(docs, k=8).collect()[0]
    assert whole.deficit == 0
    assert whole.n_items == 40
    got = {c["item"]: c["count"] for c in whole.counters}
    assert got == {"alpha": 20, "beta": 15, "gamma": 5}
    # count-desc order, deterministic
    assert [c["item"] for c in whole.counters] == ["alpha", "beta",
                                                   "gamma"]
    halves = [heavy_hitters_sketch(docs.filter(F.col("doc_id") % 2 == i),
                                   k=8) for i in (0, 1)]
    merged = merge_heavy_hitters(
        halves[0].unionByName(halves[1]), k=8).collect()[0]
    assert merged.deficit == 0 and merged.n_items == 40
    assert {c["item"]: c["count"] for c in merged.counters} == got


def test_heavy_hitters_bounds_and_presence_past_truncation(spark):
    """vocab >> k forces truncation: every reported estimate is a
    lower bound with est + deficit an upper bound (the Misra-Gries
    invariant), deficit <= n_items/(k+1), any item with frequency
    above n_items/(k+1) is guaranteed present — and the invariant
    survives a 3-way split-merge with additive deficits."""
    import collections
    from apsviz_timeseriesdb_ingest_spark.llm.sketches import (
        heavy_hitters_estimates, heavy_hitters_sketch,
        merge_heavy_hitters)
    k = 8
    toks = ["the"] * 300 + ["cat"] * 100 + [f"tail{i}" for i in range(500)]
    rows = [(i, t) for i, t in enumerate(toks)]
    true = collections.Counter(toks)
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    whole = heavy_hitters_sketch(docs, k=k)
    r = whole.collect()[0]
    assert r.n_items == 900
    assert 0 < r.deficit <= 900 // (k + 1)
    for e in heavy_hitters_estimates(whole).collect():
        assert e.est_count <= true[e.item] <= e.max_count
    assert any(c["item"] == "the" for c in r.counters)

    parts = [heavy_hitters_sketch(docs.filter(F.col("doc_id") % 3 == i),
                                  k=k) for i in range(3)]
    deficits = sum(p.collect()[0].deficit for p in parts)
    m = merge_heavy_hitters(
        parts[0].unionByName(parts[1]).unionByName(parts[2]),
        k=k).collect()[0]
    assert m.n_items == 900
    assert m.deficit >= deficits  # input deficits carry through
    for c in m.counters:
        assert c["count"] <= true[c["item"]] <= c["count"] + m.deficit
    # frequency 300 > 900/(k+1): presence guaranteed even after merge
    assert any(c["item"] == "the" for c in m.counters)


def test_heavy_hitters_key_col_grouped_and_null(spark):
    """key= names an arbitrary item column (domains); NULL items are
    skipped; group_by splits per source."""
    from apsviz_timeseriesdb_ingest_spark.llm.sketches import (
        heavy_hitters_sketch)
    rows = [(1, "a.com", "x"), (2, "a.com", "x"), (3, "b.com", "x"),
            (4, None, "x"), (5, "c.com", "y")]
    docs = spark.createDataFrame(rows, "doc_id long, host string, "
                                       "source string")
    by_src = {r.source: r for r in heavy_hitters_sketch(
        docs, key="host", group_by=["source"], k=4).collect()}
    assert by_src["x"].n_items == 3  # NULL dropped
    assert {c["item"]: c["count"] for c in by_src["x"].counters} == \
        {"a.com": 2, "b.com": 1}
    assert {c["item"]: c["count"] for c in by_src["y"].counters} == \
        {"c.com": 1}


def test_drift_report_two_windows(spark):
    """drift_report measures dup-rate rise, length shift, vocab growth,
    and top-token churn between two windows — from sketch rows only;
    identical windows report zero drift."""
    from apsviz_timeseriesdb_ingest_spark.llm.sketches import (
        corpus_stats_row, drift_report)

    base_rows = [(i, "alpha beta gamma delta") for i in range(50)]
    # window: longer docs, a dup flood, and a changed token mix
    win_rows = [(100 + i, f"epsilon zeta doc{i} " + " ".join(["pad"] * 9))
                for i in range(30)]
    win_rows += [(200 + i, "flooded duplicate body") for i in range(20)]
    base = corpus_stats_row(spark.createDataFrame(
        base_rows, "doc_id long, text string"))
    win = corpus_stats_row(spark.createDataFrame(
        win_rows, "doc_id long, text string"))

    r = drift_report(base, win).collect()[0]
    assert r.n_docs_base == 50 and r.n_docs_win == 50
    # base is ONE distinct content (49/50 dups); window floods 19/50
    assert r.dup_rate_base > 0.9
    assert 0.3 < r.dup_rate_win < 0.9
    assert r.p50_shift > 1.0  # 4-token docs -> 12-token docs
    assert r.top_token_jaccard < 0.5  # token mix replaced
    assert r.vocab_ratio > 1.0  # 4 tokens -> 6 distinct tokens

    same = drift_report(base, base).collect()[0]
    assert same.p50_shift == 0.0 and same.p90_shift == 0.0
    assert same.top_token_jaccard == 1.0
    assert same.vocab_ratio == 1.0


def test_grouped_stats_row_and_drift(spark):
    """corpus_stats_row(group_by=) gives one mergeable row per source;
    drift_report(group_by=) compares windows PER GROUP, full-outer on
    the group keys so a source present in only one window reports
    against an empty other side (r6 grouped-drift candidate)."""
    from apsviz_timeseriesdb_ingest_spark.llm.sketches import (
        corpus_stats_row, drift_report, merge_corpus_sketches,
        sketch_estimates)

    base_rows = ([(i, f"alpha beta gamma doc{i}", "web")
                  for i in range(40)]
                 + [(100 + i, "one two three four", "books")
                    for i in range(10)])
    # window: web drifts longer + dup-floods; books vanishes; a NEW
    # source (code) appears; plus a source whose docs have no tokens
    win_rows = ([(200 + i, "alpha beta gamma delta epsilon zeta",
                  "web") for i in range(20)]
                + [(300 + i, "flood flood flood flood flood flood",
                    "web") for i in range(20)]
                + [(400 + i, f"def f{i}(): pass", "code")
                   for i in range(5)]
                + [(500, "", "empty"), (501, None, "empty")])
    schema = "doc_id long, text string, source string"
    base = corpus_stats_row(spark.createDataFrame(base_rows, schema),
                            group_by=["source"])
    win = corpus_stats_row(spark.createDataFrame(win_rows, schema),
                           group_by=["source"])
    assert base.count() == 2  # web, books
    assert win.count() == 3   # web, code, empty (no-token group kept)

    # grouped rows still merge per family (the stats-table contract)
    est = sketch_estimates(merge_corpus_sketches(
        base.unionByName(win), group_by=["source"]))
    got = {r.source: r.n_docs for r in est.collect()}
    assert got == {"web": 80, "books": 10, "code": 5, "empty": 2}

    rep = {r.source: r for r in
           drift_report(base, win, group_by=["source"]).collect()}
    assert set(rep) == {"web", "books", "code", "empty"}
    web = rep["web"]
    assert web.n_docs_base == 40 and web.n_docs_win == 40
    assert web.dup_rate_win > web.dup_rate_base  # flood shows up
    assert web.p50_shift > 0.0                   # 3 -> 6 token docs
    assert web.top_token_jaccard < 1.0
    books = rep["books"]  # vanished source: empty window side
    assert books.n_docs_base == 10 and books.n_docs_win == 0
    assert books.vocab_win == 0 and books.top_token_jaccard == 0.0
    code = rep["code"]    # new source: empty baseline side
    assert code.n_docs_base == 0 and code.n_docs_win == 5
    assert code.vocab_ratio is None  # no base to ratio against
    empty = rep["empty"]  # tokenless group: zero-item set, no crash
    assert empty.n_docs_win == 2 and empty.vocab_win == 0

    # grouped self-comparison: zero drift in every group
    same = drift_report(base, base, group_by=["source"]).collect()
    for r in same:
        assert r.p50_shift == 0.0 and r.top_token_jaccard == 1.0


def test_flag_drift_rules(spark):
    """flag_drift evaluates threshold rules over drift rows (global or
    grouped): one boolean per rule + any_alert; NULL metrics never
    alert; unknown ops refused."""
    import pytest

    from apsviz_timeseriesdb_ingest_spark.llm.sketches import (
        corpus_stats_row, drift_report, flag_drift)

    base_rows = [(i, f"alpha beta gamma doc{i}", "web")
                 for i in range(40)]
    win_rows = ([(200 + i, "flood flood flood flood flood flood flood "
                           "flood", "web") for i in range(40)]
                + [(300 + i, f"steady tokens here doc{i}", "books")
                   for i in range(10)])
    schema = "doc_id long, text string, source string"
    base = corpus_stats_row(spark.createDataFrame(base_rows, schema),
                            group_by=["source"])
    win = corpus_stats_row(spark.createDataFrame(win_rows, schema),
                           group_by=["source"])
    rep = drift_report(base, win, group_by=["source"])
    flagged = {r.source: r for r in flag_drift(rep).collect()}
    web = flagged["web"]  # dup flood + replaced token mix
    assert web.flag_dup_rate_win and web.flag_top_token_jaccard
    assert web.any_alert
    books = flagged["books"]  # new source: vocab_ratio NULL -> no alert
    assert not books.flag_vocab_ratio

    # identical windows under default rules: no alerts anywhere
    calm = flag_drift(drift_report(base, base, group_by=["source"]))
    assert [r.any_alert for r in calm.collect()] == [False]

    # custom rule set + unknown op refusal
    custom = flag_drift(rep, {"p50_shift": ("abs>", 0.1)}).collect()
    assert all(set(r.asDict()) >= {"flag_p50_shift", "any_alert"}
               for r in custom)
    with pytest.raises(ValueError, match="unknown drift rule"):
        flag_drift(rep, {"p50_shift": ("~=", 1)}).collect()


def test_flag_drift_skips_absent_metric_rules(spark):
    """DEFAULT_DRIFT_RULES names p50_shift; a report built with qs
    omitting 0.5 must evaluate the remaining rules instead of raising
    (ADVICE r6)."""
    from apsviz_timeseriesdb_ingest_spark.llm.sketches import (
        corpus_stats_row,
        drift_report,
        flag_drift,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string")
    stats = corpus_stats_row(docs)
    report = drift_report(stats, stats, qs=(0.9,))
    flagged = flag_drift(report)  # default rules, no p50_shift column
    assert "flag_p50_shift" not in flagged.columns
    assert "flag_dup_rate_win" in flagged.columns
    row = flagged.collect()[0]
    assert row["any_alert"] is False
