"""String helpers (SURVEY.md section 2.7 F6/F9, section 2.5 X6)."""

from __future__ import annotations


def sanitize_pivot_label(label: str) -> str:
    """Strip dots from a dynamic pivot column label.

    Mirrors ``SPLIT_PART(data_source,'.',1) || SPLIT_PART(data_source,'.',2)``
    (``scripts/get_forecast_timeseries_station_data.sql:32``) generalized to
    any number of dots.
    """
    return label.replace(".", "")
