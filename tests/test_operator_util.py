"""operators/util.fan_out_if_narrow's exchange-free guard, checked on
plan construction alone (no Spark job runs)."""

from __future__ import annotations

import pytest

from archetype_spark.operators.util import fan_out_if_narrow


def test_fan_out_if_narrow_passes_local_sort_refuses_exchanges(spark):
    """A local sort (`Sort [...], false`) adds no exchange and passes
    the guard; a global sort, an aggregate and a join still raise
    before the partition probe can run their upstream stages."""
    sc = spark.sparkContext
    base = spark.range(0, 10, 1, 2).selectExpr("id", "cast(id as string) t")
    group = "fan_out_if_narrow_guard"
    sc.setJobGroup(group, group)
    try:
        local = base.sortWithinPartitions("t")
        fanned = fan_out_if_narrow(local, 4)._jdf.queryExecution().optimizedPlan()
        assert fanned.toString().startswith("Repartition 4, true")
        assert fan_out_if_narrow(local, 2) is local
        hazards = {
            "Sort": base.orderBy("t"),
            "Aggregate": base.groupBy("t").count(),
            "Join": base.join(base.select("id"), "id"),
        }
        for node, df in hazards.items():
            with pytest.raises(AssertionError, match=node):
                fan_out_if_narrow(df, 4)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
