"""Dump `.explain("formatted")` for a set of queries to files.

Used by the optimization rounds to commit before/after physical plans
(`plans/r16/<query>_{before,after}.txt`): the judge cannot run Spark and
checks plan claims against these files.

Usage (from a repo root — also works from a worktree of an older head,
with THIS file copied alongside or invoked by absolute path while
PYTHONPATH points at that worktree):

  python tools/dump_plans.py OUTDIR SUFFIX q01_foo q02_bar ...
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/dump_plans.py \
      plans/r16 after q101_minhash_neardup_sharp

Writes OUTDIR/<query>_<SUFFIX>.txt. Queries are built (plan-build time —
streaming replays execute here, memoized builds run their jobs) and the
FINAL batch plan string is captured without executing the noop sink.

A body that collects its rows during the build (a layout probe, a query
run under scoped confs) returns a DataFrame over those rows, whose final
plan is only a ``Scan ExistingRDD``. So a ``QueryExecutionListener`` is
registered for the duration of each build, and the formatted plan of
every query executed in it follows the final plan, in execution order.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import contextmanager, redirect_stdout

sys.path.insert(0, os.getcwd())


class _ExecutedPlans:
    """py4j implementation of ``QueryExecutionListener``: the formatted
    plan of every query the session executes while it is registered."""

    def __init__(self, mode):
        self._mode = mode
        self.plans: list[tuple[str, str]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 -- JVM interface
        self.plans.append((str(func_name), qe.explainString(self._mode)))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 -- JVM interface
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@contextmanager
def _executed_plans(spark):
    """Yield the list the plans executed inside the block are appended to.
    Listener events arrive on Spark's listener bus, so the bus is drained
    before registering (nothing earlier is caught) and before
    unregistering (nothing from the block is missed).

    py4j wraps a Python object in a new JVM proxy each time it crosses
    the gateway, and ``unregister`` does not match a second proxy to the
    first, so the listener is wrapped once and that one proxy is
    registered and unregistered."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    listener = _ExecutedPlans(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    wrapped = spark._jvm.java.util.ArrayList()
    wrapped.add(listener)
    proxy = wrapped.get(0)
    manager = spark._jsparkSession.listenerManager()
    bus.waitUntilEmpty()
    manager.register(proxy)
    try:
        yield listener.plans
    finally:
        bus.waitUntilEmpty()
        manager.unregister(proxy)


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES
    from nyc_yellow_taxi_trip_data_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump-plans")
    for name in names:
        entry = QUERIES[name]
        spark.sparkContext.setJobDescription(f"dump_plans: {name}")
        with _executed_plans(spark) as executed:
            df = entry.spark(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        for i, (action, plan) in enumerate(executed, 1):
            buf.write(f"\n== Executed during build {i}/{len(executed)}: {action} ==\n{plan}\n")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"[ok] {path} ({len(buf.getvalue())} chars)")
    spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
