"""Salted joins (operators/salt.py): the salt reshapes the shuffle of a
skewed key and never the result."""

from __future__ import annotations

from apsviz_timeseriesdb_ingest_spark.testdata import load_table


def test_salted_join_equals_plain_join(spark, sf_small):
    """salted_join result is exactly the plain inner join — the salt
    only reshapes the shuffle (j9's gate row left in r3 for the driver
    50-query cap; this is its standing equivalence coverage)."""
    from pyspark.sql import functions as F

    from apsviz_timeseriesdb_ingest_spark.operators.salt import salted_join

    ev = load_table(spark, sf_small, "events")
    right = (load_table(spark, sf_small, "orders")
             .filter(F.col("o_orderkey") < 150)
             .select(F.col("o_orderkey").alias("user_id"), "o_totalprice"))
    got = sorted(map(tuple, salted_join(ev, right, ["user_id"])
                 .select("user_id", "event_id", "o_totalprice").collect()))
    exp = sorted(map(tuple, ev.join(right, "user_id")
                 .select("user_id", "event_id", "o_totalprice").collect()))
    assert got == exp and got
