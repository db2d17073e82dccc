"""bench.py's stdout line: complete and parseable within its budget, or
a non-zero exit — never a line whose clipped tail loses "queries"."""

from __future__ import annotations

import json

import pytest

import bench


def _record(n_queries: int) -> dict:
    queries = {f"query_{i:03d}": 1.234 for i in range(n_queries)}
    return {"metric": "headline_suite_total", "queries": queries,
            "queries_cold": dict(queries), "queries_warm": dict(queries),
            "value": 1.0}


def test_line_keeps_queries_and_drops_maps_to_fit():
    small = json.loads(bench.printed_line(_record(3)))
    assert "queries_warm" not in small and "queries_cold" in small
    fits_without_cold = json.loads(bench.printed_line(_record(60)))
    assert "queries_cold" not in fits_without_cold
    assert len(fits_without_cold["queries"]) == 60


def test_line_over_budget_exits_nonzero():
    with pytest.raises(SystemExit) as exc:
        bench.printed_line(_record(200))
    assert exc.value.code and "budget" in str(exc.value.code)
