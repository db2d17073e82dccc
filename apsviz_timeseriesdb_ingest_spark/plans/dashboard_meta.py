"""Run-property lookup — ``getDashboardMeta`` equivalents (SURVEY S9/J8/X5).

The reference queries a second Postgres DB (``asgs_dashboard.config_item``)
through ``get_adcirc_run_property_variables``
(``scripts/get_adcirc_run_property_variables.sql:11-50``): key/value rows
where ``instance_id || '-' || uid = run_id`` pivot to one wide row over 13
fixed keys. Here the config store is any DataFrame with the
``config_item`` schema (instance_id, uid, key, value) — a JDBC read on a
real deployment, a fixture table in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pivot import kv_pivot
from ..schemas import RUN_PROPERTY_KEYS


def get_adcirc_run_property_variables(config_items: DataFrame, model_run_id: str,
                                      ) -> dict[str, str]:
    """X5: the 13 run properties for one model run as a dict (the
    reference returns a 1-row frame; a dict is the idiomatic driver-side
    shape for 13 scalars)."""
    scoped = config_items.filter(
        (F.concat_ws("-", F.col("instance_id").cast("string"), F.col("uid"))
         == model_run_id)
        & F.col("key").isin(*RUN_PROPERTY_KEYS)
    )
    wide = kv_pivot(scoped, group_key="instance_id", key_col="key",
                    value_col="value", keys=RUN_PROPERTY_KEYS)
    rows = wide.collect()
    if not rows:
        raise KeyError(f"no run properties for model run {model_run_id!r}")
    row = rows[0].asDict()
    row.pop("instance_id", None)
    return row

