#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The headline "value"/"queries" run each query once in a shared session
— each line therefore includes that query's one-time janino compile
(unchanged methodology across rounds, comparable to earlier BENCH_r*).
"warm_total"/"queries_warm" re-run the same plans already compiled:
steady-state execution cost, the number that scales with data volume
(compile is a constant; at 100 TB it vanishes, locally it dominates
several lines — see NOTES_r3).

"queries"/"warm_median_total" (r8 verdict task 3; renamed from
"queries_warm_median" in r12 so the driver's PERF comparator — which
keys on "queries" — sees it) are the NOISE-ROBUST per-query map: the
per-query median of THREE warm passes. Single-shot numbers at
sub-second-to-few-second scale carry session jitter (the r8 driver
session recorded q5 cold 4x slower than the committed same-code run;
warm numbers agreed within ~8%) — the warm median is the map that
carries the 2x performance contract (BASELINE.md §"what carries the
contract"); the single-shot cold fields stay as "queries_cold" for
cross-round comparability.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from apsviz_timeseriesdb_ingest_spark import suite  # noqa: E402
from apsviz_timeseriesdb_ingest_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "j3_three_way_join_agg",
    "j7_keep_latest_dedup",
    "x1_event_pivot",
    "a2_count_distinct",
]

#: longest stdout line that survives a ~2000-char tail capture whole
LINE_BUDGET = 1950


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    queries = suite.all_queries()
    names = [n for n in HEADLINE if n in queries]
    names += [n for n in sorted(queries) if n.startswith("llm_") and n not in names]

    # warm the JVM + parquet footers + the Python worker pool once so
    # timings measure the query, not process startup (the Arrow-batched
    # paths pay ~1s of daemon spawn on the session's first Python stage)
    queries[names[0]](spark, sf_dir).count()
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, schema="id long").count()

    def run_all() -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            out[name] = round(time.perf_counter() - t0, 3)
        return out

    timings = run_all()
    warm_passes = [run_all() for _ in range(3)]
    warm = warm_passes[0]
    warm_median = {n: round(sorted(p[n] for p in warm_passes)[1], 3)
                   for n in names}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    record = {
        "metric": "headline_suite_total",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # "queries" is the per-query map the driver's PERF comparator
        # consumes (r11 verdict task 1): it MUST be on the printed line.
        # Its values are the noise-robust warm MEDIANS — the contract
        # carrier per BASELINE.md (single-shot cold numbers at sub-second
        # scale are documented 2x weather). The cold single-shot map
        # stays in the record as "queries_cold" for cross-round
        # comparability (r11 and earlier printed it as "queries" when it
        # fit; BENCH_LAST.json keeps every map in full).
        "queries": warm_median,
        "queries_cold": timings,
        "queries_warm": warm,
        "warm_total": round(sum(warm.values()), 3),
        "warm_median_total": round(sum(warm_median.values()), 3),
        "value": round(sum(timings.values()), 3),
    }
    # the driver keeps only a ~2000-char tail of stdout, and the full
    # multi-map record outgrew it (r7 verdict task 6: BENCH_r07's json
    # was head-clipped → unparseable; r10/r11: the >1950-char line
    # dropped "queries" and PERF parsed empty). Persist the COMPLETE
    # record to BENCH_LAST.json, and print a line that is itself a
    # complete, parseable record carrying "queries" UNCONDITIONALLY —
    # if the line outgrows the tail budget, drop the cold map first,
    # never "queries" (printed_line).
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LAST.json"), "w") as f:
            f.write(json.dumps(record) + "\n")
    except OSError:
        pass
    print(printed_line(record))


def printed_line(record: dict) -> str:
    """The stdout line for ``record``: compact JSON without the
    per-pass warm map, and without the cold map too when the line would
    outgrow ``LINE_BUDGET``. Exits non-zero rather than print a line
    still over budget, whose clipped tail would lose "queries"."""
    printed = {k: v for k, v in record.items() if k != "queries_warm"}
    compact = dict(separators=(",", ":"))
    if len(json.dumps(printed, **compact)) > LINE_BUDGET:
        printed = {k: v for k, v in printed.items() if k != "queries_cold"}
    line = json.dumps(printed, **compact)
    if len(line) > LINE_BUDGET:
        sys.exit(f"bench: the printed record is {len(line)} chars without "
                 f"queries_cold, over the {LINE_BUDGET}-char budget; "
                 "BENCH_LAST.json holds the full record")
    return line


if __name__ == "__main__":
    main()
