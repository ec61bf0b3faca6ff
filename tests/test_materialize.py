"""plans/profile.py::materialize — the honest timing action of the
benchmark and the profile scripts.

``df.count()`` lets Catalyst re-optimize the count aggregate and prune
every row-preserving subtree, so timing via count() measured a bare
parquet-footer read for 21 catalog entries. ``materialize`` executes
the DataFrame's OWN physical plan; these tests pin that contract so a
future refactor cannot quietly reintroduce the hollow action.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from hpv_etl_code_spark.plans.profile import materialize


def test_count_prunes_projections_but_materialize_executes_them(spark):
    """The defining difference: a projection that raises on evaluation
    is silently pruned by count() (it 'succeeds') but MUST execute —
    and raise — under materialize."""
    df = spark.range(10).select(F.raise_error(F.lit("boom")).alias("x"))
    assert df.count() == 10  # Catalyst never evaluates the projection
    with pytest.raises(Exception, match="boom"):
        materialize(df)


def test_materialize_returns_row_count(spark):
    w = spark.range(100).withColumn("rk", F.row_number().over(Window.orderBy("id")))
    assert materialize(w) == 100
    assert materialize(spark.range(0).select(F.col("id"))) == 0


def test_materialize_executes_row_preserving_left_join(spark):
    """A unique-key left join is eliminated under count(); materialize
    must run it (verified through the join's computed column)."""
    left = spark.range(50).select(F.col("id"))
    right = spark.range(50).select(
        F.col("id"),
        F.when(F.col("id") == 7, F.raise_error(F.lit("joined"))).alias("v"),
    )
    joined = left.join(right, "id", "left")
    assert joined.count() == 50  # join eliminated — right side never runs
    with pytest.raises(Exception, match="joined"):
        materialize(joined)
