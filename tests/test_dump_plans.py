"""``tools/dump_plans.py`` writes out the plans a body executes while it
is built, not only the final plan of the DataFrame it returns."""

from __future__ import annotations

from tools.dump_plans import _executed_plans


def test_plans_executed_inside_the_block_are_caught(spark):
    spark.range(10).count()  # executed before the block: not caught
    probe = spark.range(1000).filter("id % 7 = 3").selectExpr("sum(id) AS s")
    with _executed_plans(spark) as executed:
        rows = probe.collect()
    spark.range(10).count()  # executed after the block: not caught
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert rows[0].s == sum(i for i in range(1000) if i % 7 == 3)
    assert [action for action, _ in executed] == ["collectToPython"]
    plan = executed[0][1]
    assert "Filter" in plan and "HashAggregate" in plan
