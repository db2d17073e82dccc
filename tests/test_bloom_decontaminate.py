"""Bloom-filter decontamination: must match the exact broadcast
semi-join path on real flags, with a plan whose size does not grow with
the benchmark (the large-contamination-list scale path)."""

from __future__ import annotations

import contextlib
import io
import random

from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.llm.text import (
    build_shingle_bloom,
    decontaminate,
    decontaminate_bloom,
)

SCHEMA = "doc_id long, text string"


def _vocab(seed: str, n: int) -> list[str]:
    rng = random.Random(seed)
    return ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6))
            for _ in range(n)]


def _docs(seed: str, n_docs: int, n_words: int, vocab: list[str],
          start_id: int = 0) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    return [(start_id + i, " ".join(rng.choice(vocab) for _ in range(n_words)))
            for i in range(n_docs)]


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("extended")
    return buf.getvalue()


def test_bloom_matches_exact_on_large_benchmark(spark):
    # ~1e5 distinct 3-shingles of random 6-letter words: far beyond what
    # a literal array or per-shingle broadcast list should carry
    bench_vocab = _vocab("bench", 4000)
    bench_rows = _docs("bench-docs", 120, 900, bench_vocab)
    bench = spark.createDataFrame(bench_rows, SCHEMA)

    # train: 8 docs embedding a verbatim 40-token span from a benchmark
    # doc (contaminated) + 16 clean docs from a DISJOINT vocabulary
    rng = random.Random("spans")
    contaminated_rows = []
    for i in range(8):
        src = bench_rows[rng.randrange(len(bench_rows))][1].split()
        lo = rng.randrange(len(src) - 40)
        span = " ".join(src[lo:lo + 40])
        contaminated_rows.append((1000 + i, f"fresh prefix {span} fresh suffix"))
    clean_rows = _docs("clean", 16, 120, _vocab("other", 4000), start_id=2000)
    train = spark.createDataFrame(contaminated_rows + clean_rows, SCHEMA)

    exact = {r.doc_id: r.contaminated
             for r in decontaminate(train, bench).collect()}
    # 2^23 bits for ~1.1e5 shingles: per-shingle fpp ~1.6e-7, so the
    # ~1900 clean-doc probes flag identically to the exact path (the
    # whole computation is md5-deterministic — no flake margin needed)
    bloom = build_shingle_bloom(bench, num_bits=1 << 23,
                                expected_shingles=110_000)
    got_df = decontaminate_bloom(train, bloom)
    got = {r.doc_id: r.contaminated for r in got_df.collect()}

    assert {i for i, c in exact.items() if c} == set(
        i for i, _ in contaminated_rows)
    assert got == exact

    # the plan must not embed benchmark content: constant-size bitmap
    # broadcast, no shingle literals, no Python stage
    plan = _plan(got_df)
    probe_token = bench_rows[0][1].split()[0]
    assert probe_token not in plan
    assert "arrays_overlap" not in plan
    assert "python" not in plan.lower()


def test_bloom_table_matches_broadcast_and_exact(spark, tmp_path):
    """The table-backed probe (the beyond-2GB-broadcast path) must flag
    bit-identically to the one-row broadcast bloom at equal geometry,
    and match the exact semi-join path when the filter is sized for
    ~zero false positives. Geometry comes from the sidecar, not the
    caller."""
    from apsviz_timeseriesdb_ingest_spark.llm.text import (
        build_shingle_bloom_table,
        decontaminate_bloom_table,
    )
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    bench_vocab = _vocab("bench", 1500)
    bench_rows = _docs("bench-docs", 40, 400, bench_vocab)
    bench = spark.createDataFrame(bench_rows, SCHEMA)

    rng = random.Random("tbl-spans")
    contaminated_rows = []
    for i in range(5):
        src = bench_rows[rng.randrange(len(bench_rows))][1].split()
        lo = rng.randrange(len(src) - 30)
        span = " ".join(src[lo:lo + 30])
        contaminated_rows.append((1000 + i, f"pre {span} post"))
    clean_rows = _docs("clean", 10, 100, _vocab("other", 1500), start_id=2000)
    train = spark.createDataFrame(contaminated_rows + clean_rows, SCHEMA)

    catalog = Catalog(spark, str(tmp_path / "bloomwh"))
    build_shingle_bloom_table(catalog, bench, table="bb",
                              num_bits=1 << 21, expected_shingles=16_000)

    got_df = decontaminate_bloom_table(train, catalog, table="bb")
    got = {r.doc_id: r.contaminated for r in got_df.collect()}
    exact = {r.doc_id: r.contaminated
             for r in decontaminate(train, bench).collect()}
    bloom = build_shingle_bloom(bench, num_bits=1 << 21)
    via_broadcast = {r.doc_id: r.contaminated
                     for r in decontaminate_bloom(train, bloom).collect()}

    assert {i for i, c in exact.items() if c} == {1000 + i for i in range(5)}
    assert got == exact == via_broadcast

    # no benchmark content in the plan (the scale contract: plan size is
    # independent of the contamination list) and no Python stage
    plan = _plan(got_df)
    assert bench_rows[0][1].split()[0] not in plan
    assert "python" not in plan.lower()

    # a rebuild REDEFINES the filter: the probe must pick up the new
    # sidecar geometry, not the build-time caller's
    build_shingle_bloom_table(catalog, bench, table="bb",
                              num_bits=1 << 18, num_hashes=4,
                              expected_shingles=16_000)
    regot = {r.doc_id: r.contaminated
             for r in decontaminate_bloom_table(train, catalog, table="bb")
             .collect()}
    assert {i for i, c in regot.items() if c} >= {1000 + i for i in range(5)}


def test_bloom_num_hashes_overflow_guard(spark):
    import pytest

    from apsviz_timeseriesdb_ingest_spark.llm.text import (
        build_shingle_bloom_table,
    )
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    bench = spark.createDataFrame([(1, "a b c d")], SCHEMA)
    with pytest.raises(ValueError, match=r"num_hashes"):
        build_shingle_bloom(bench, num_bits=1 << 12, num_hashes=9)
    with pytest.raises(ValueError, match=r"num_hashes"):
        build_shingle_bloom_table(Catalog(spark, "/tmp/unused-bloom-wh"),
                                  bench, num_bits=1 << 12, num_hashes=9)
