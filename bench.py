"""Benchmark harness: runs the full query inventory at a scale-factor dir
and prints ONE JSON line with total + per-query wall seconds.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism + shuffle partitions (default 32)
  BENCH_QUERIES       comma-separated subset (default: all registered)

The full JSON (also written to BENCH_FULL_PATH, default BENCH_FULL.json)
carries a `provenance` block: commit, source digest, cpu count, Spark
and Python versions, sf, start time, load average and the share of the
host's CPU time stolen by its hypervisor over the run.

Each query is materialized through the `noop` sink — full execution of the
physical plan (scan, shuffles, Python stages) without collect-to-driver or
disk-write noise.
"""

from __future__ import annotations

import datetime
import json
import os
import platform
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
# perfbench/run.py's provenance helpers (it imports its siblings by name).
sys.path.append(str(Path(__file__).resolve().parent / "perfbench"))

from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES  # noqa: E402
from nyc_yellow_taxi_trip_data_pipeline_spark.session import get_spark  # noqa: E402
from run import git_commit, source_digest, stamp  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    started_at = datetime.datetime.now(datetime.timezone.utc).isoformat()
    loadavg_before = os.getloadavg()
    t_run = stamp()
    spark = get_spark("bench")

    names = (
        os.environ["BENCH_QUERIES"].split(",")
        if os.environ.get("BENCH_QUERIES")
        else list(QUERIES)
    )
    # Stateful streaming replays leave background state-store maintenance
    # running briefly after they stop (local mode shares one JVM); run them
    # LAST so that churn never inflates another query's measurement.
    names.sort(key=lambda n: "streaming" in QUERIES[n].tags)

    # Warm the engine so query #1 doesn't pay session startup: one scan +
    # shuffle + join (q05), one higher-order-function/explode pass over a
    # small documents sample (codegen for the text/dedup family), and one
    # Arrow round-trip (Python worker pool for the pandas-UDF family).
    # Steady-state per-query latency is what the bench measures; cold-JVM
    # cost would otherwise land entirely on whichever query runs first.
    from pyspark.sql import functions as F  # noqa: E402

    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (  # noqa: E402
        read_table,
    )

    try:
        QUERIES["q05_route_topk"].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        (
            read_table(spark, sf_dir, "documents")
            .limit(1000)
            .select(F.explode(F.split("text", " ")).alias("w"))
            .groupBy("w")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        spark.range(1000).toPandas()
    except Exception:  # noqa: BLE001 — warmup is best-effort, never fatal
        pass

    # Per-query MIN over up to BENCH_REPS passes. The host's CPU
    # availability swings >2x between runs (shared virtualization), and
    # the FIRST pass additionally pays one-time codegen/JIT/state-store
    # setup per plan, so min-of-N is the standard way to measure the
    # engine rather than the neighbors or the JVM warmup. The second pass
    # is therefore GUARANTEED (a cold single pass once misread as a
    # uniform 1.5-4x regression when the inventory outgrew the old 240s
    # budget); passes beyond the second run only while inside the time
    # budget, keeping worst-case wall bounded at roughly
    # cold_pass + warm_pass, plus budget-gated extra passes (the second
    # pass runs UNCONDITIONALLY even when the cold pass alone blew the
    # budget — min-of-N must never degrade to min-of-1).
    reps = int(os.environ.get("BENCH_REPS", "3"))
    budget_s = float(os.environ.get("BENCH_BUDGET_S", "1500"))  # tracks inventory growth (195 queries x 3 reps ~ 600-700s, raised preemptively r15 for the measured ~1.12x env inflation, lesson 10)
    # One failing query must never cost the run its other timings (round 5
    # lost the whole benchmark to a single AnalysisException): record the
    # error, keep going.
    per_query: dict[str, float] = {}
    errors: dict[str, str] = {}
    passes_done = 0
    t_bench = time.perf_counter()
    for rep in range(reps):
        if rep > 1 and time.perf_counter() - t_bench > budget_s:
            break
        for name in names:
            if name in errors:
                continue
            t0 = time.perf_counter()
            try:
                QUERIES[name].spark(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # noqa: BLE001 — record and continue
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                per_query.pop(name, None)
                continue
            dt = round(time.perf_counter() - t0, 3)
            if name not in per_query or dt < per_query[name]:
                per_query[name] = dt
        passes_done += 1

    total = sum(per_query.values())
    result = {
        "metric": "full_query_inventory_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(names),
        "reps": passes_done,
        "agg": "min",
    }
    # Shared-build accounting (r17, VERDICT r16 item #1 — additions
    # only): every session-memoized value (base-table and published-dir
    # reads, the MinHash/SimHash/ANN/DSIR family builds, largest-group
    # probes) is built on rep 1 of its first consumer and excluded from
    # every per-query MIN, so `value` alone understates a cold session
    # by this one-time cost. The memo records exclusive build seconds
    # per family; report their sum alongside the unchanged totals, and
    # the per-family hits, misses and build seconds under `memo`.
    from nyc_yellow_taxi_trip_data_pipeline_spark import memo  # noqa: E402

    stats = memo.stats(spark.sparkContext.applicationId)
    result["shared_build_sec"] = round(sum(c["build_s"] for c in stats.values()), 3)
    result["memo"] = stats
    if errors:
        result["errors"] = errors
    # Provenance: which code ran, on how many cores, under what load —
    # so a snapshot explains itself without git archaeology. The same
    # keys as perfbench's result records. steal_share is the stolen part
    # of the host's CPU time over the run, stolen / (busy + stolen): the
    # timings are raw wall clock, so a run with a busy neighbour on a
    # shared host reads slower for no code reason.
    _, busy, stolen = (a - b for a, b in zip(stamp(), t_run))
    result["provenance"] = {
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "sf": result["sf"],
        "started_at": started_at,
        "loadavg_before": loadavg_before,
        "loadavg_after": os.getloadavg(),
        "steal_share": round(stolen / (busy + stolen), 4)
        if busy + stolen > 0
        else None,
    }

    # The driver captures stdout with a bounded tail, which clipped ~28
    # per-query numbers out of BENCH_r06. Persist the full JSON to a file
    # so round-over-round comparison never depends on tail luck.
    full_path = os.environ.get(
        "BENCH_FULL_PATH", str(Path(__file__).resolve().parent / "BENCH_FULL.json")
    )
    try:
        Path(full_path).write_text(json.dumps(result, indent=2) + "\n")
    except OSError as exc:
        print(f"warning: could not write {full_path}: {exc}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
