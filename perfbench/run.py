"""The engine's benchmark: one workload, one closed-loop client, one JSON
result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload queries --seed 1 --seconds 12 --trace 0

A run pins its own environment (every core of the host, scratch
directories under ``perfbench/.work``), builds the synthetic tables once
per checkout, sets the engine up, times ops for ``--seconds`` seconds,
then checks every op's output untimed: query ops against their DuckDB
oracle (``tools/parity``), serve ops against one batch ``predict`` over
the same rows. ``--trace 1`` repeats the timed loop with tracing on and
prints per-layer metrics instead of end-to-end ones; the gap between its
two loops is reported as the tracing overhead.

The end-to-end times are steal-free (see ``since``): wall time scaled
down by the share of CPU the hypervisor gave to other machines while it
ran. The record keeps the wall times as measured next to them.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
A fuller record -- provenance, every sample, every span -- goes to
``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import datagen
from metrics import (
    END_TO_END, PER_LAYER, beyond, hd_quantile, min_samples, seeded_order, validate_names,
)
from tracing import OpWindow, StatusStore, Tracer, attribute_jobs, stream_metrics
from workloads import LABEL, WORKLOADS, train_model, write_requests

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = "nyc_yellow_taxi_trip_data_pipeline_spark"
WORK = HERE / ".work"
SF = 0.01
SETUP_CYCLES = 3
# Stolen CPU stretches an op by more than its own share: the threads that
# wait on a robbed one (a stage's last task, a py4j reply, a lock holder)
# stall with it. Fitted on runs of both workloads at 1-45% steal on a
# 4-vCPU virtual machine: with 1.5 their median latencies stay within
# about 10% of the quiet runs'; with 1 (the share alone) runs at 35% steal
# still read 15% (queries) to 30% (serve) slow.
STEAL_EXPONENT = 1.5


def pin_environment(run_dir: Path) -> None:
    """Every core of the host, and every scratch file inside the checkout.
    Must run before the engine is imported: ``session.py`` reads
    ``SPARK_GRAFT_CPUS`` at import time."""
    for sub in ("tmp", "local", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # Every JVM the run starts (the spark-submit launcher and Spark itself)
    # keeps its temp files in the run dir; perf data would go to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    os.environ.pop("SPARK_GRAFT_PROFILE", None)


def spark_conf(run_dir: Path) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }


def ensure_data() -> str:
    """Build the tables on first use; later runs of the checkout reuse them."""
    out = WORK / f"data-sf{SF}"
    if not out.is_dir():
        WORK.mkdir(parents=True, exist_ok=True)
        datagen.write(str(out), SF)
    return str(out)


def source_digest() -> str:
    """Content hash of the engine and the benchmark: the checkout the
    benchmark runs from is not a git repository."""
    h = hashlib.sha256()
    for base in (ROOT / ENGINE, HERE):
        for path in sorted(base.rglob("*.py")):
            h.update(str(path.relative_to(ROOT)).encode())
            h.update(path.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD of the repository the benchmark runs in, if it is one."""
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def host_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this machine since boot, summed over
    its CPUs. Stolen seconds are those the hypervisor of a shared host
    gave to other machines while this one had work to run."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


def stamp() -> tuple[float, float, float]:
    """(wall, busy CPU, stolen CPU) seconds, to time an interval from."""
    return (time.perf_counter(), *host_cpu_s())


def since(t0: tuple[float, float, float]) -> tuple[float, float]:
    """Wall seconds since ``t0``: as measured, and steal-free.

    Steal-free is the measured wall times (busy / (busy + stolen)) **
    STEAL_EXPONENT, over the CPU of the interval. The work timed here is
    CPU-bound (the tables sit in the page cache), so CPU the hypervisor
    gives to a neighbour stretches it; on a shared 4-vCPU virtual machine
    that share was seen to swing between 1% and 45% within minutes. Taking
    it out keeps a busy neighbour from reading as a slower engine."""
    wall, busy, stolen = (a - b for a, b in zip(stamp(), t0))
    if busy + stolen <= 0:
        return wall, wall
    return wall, wall * (busy / (busy + stolen)) ** STEAL_EXPONENT


def rss_high_water_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    def __init__(self, workload, seed: int, seconds: float, run_dir: Path, sf_dir: str):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.spark = None
        self.model = None
        self.requests: dict[str, str] = {}
        self.last: dict[str, object] = {}  # op -> last output, for the check
        self.record: dict[str, object] = {}

    # -- set-up --------------------------------------------------------
    def setup(self) -> float:
        """Start the session SETUP_CYCLES times (the first start also
        launches the JVM), then run the untimed warm-up passes, which fill
        the session memo and JIT-compile the hot paths. Returns set-up
        seconds: the median session start plus the warm-up, steal-free.
        Recorded times are (as measured, steal-free) pairs."""
        from nyc_yellow_taxi_trip_data_pipeline_spark import session

        if self.w.name == "serve":
            self.requests = write_requests(self.seed, str(self.run_dir / "requests"))
        starts = []
        for _ in range(SETUP_CYCLES):
            if self.spark is not None:
                self.spark.stop()
            t0 = stamp()
            self.spark = session.get_spark("perfbench", extra_conf=spark_conf(self.run_dir))
            starts.append(since(t0))
        t0 = stamp()
        if self.w.name == "serve":
            self.model = train_model(self.spark)
            self.record["ml_train_s"] = since(t0)
        for pass_no in range(-self.w.warm_passes, 0):
            for op in seeded_order(list(self.w.ops), self.seed, pass_no):
                self.run_op(op, _NO_TRACE)
        warm = since(t0)
        from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe

        memo = datapipe.shared_build_seconds(self.spark.sparkContext.applicationId)
        self.record.update(session_starts_s=starts, warmup_s=warm, memo_builds_s=memo)
        return statistics.median(free for _, free in starts) + warm[1]

    # -- one op --------------------------------------------------------
    def run_op(self, op: str, tr) -> int:
        """Run one op; returns the rows it scored (serve) or 0."""
        if self.w.name == "serve":
            from nyc_yellow_taxi_trip_data_pipeline_spark.operators import serving

            with tr.span("serve.request"):
                df = serving.predict_csv(self.spark, self.model, self.requests[op], label=LABEL)
                with tr.span("serve.collect"):
                    rows = df.collect()
            self.last[op] = rows
            return len(rows)
        from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

        with tr.span("plans.build"):
            df = QUERIES[op].spark(self.spark, self.sf_dir)
        with tr.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        self.last[op] = df
        return 0

    # -- timed loop ----------------------------------------------------
    def loop(self, tr, pass_base: int) -> dict:
        """Closed loop over whole passes, each running every op once in a
        seeded order. The pass count is fixed by ``seconds`` and the
        workload's nominal pass length, so the sample mix is the same
        from run to run."""
        store = StatusStore(self.spark)
        sc = self.spark.sparkContext
        samples, failures, windows, batch_marks = [], [], [], []
        free, pass_walls = [], []  # steal-free op latencies; (measured, steal-free) pass walls
        rows = 0
        first_job = store.next_job_id()
        passes = max(1, round(self.seconds / self.w.pass_s))
        for pass_no in range(pass_base, pass_base + passes):
            pass_t0 = stamp()
            for op in seeded_order(list(self.w.ops), self.seed, pass_no):
                group = f"perfbench-{pass_no}-{len(samples) + len(failures)}"
                if tr is not _NO_TRACE:
                    sc.setJobGroup(group, op)
                    job0, batch0 = store.next_job_id(), len(tr.batches)
                t0 = stamp()
                try:
                    with tr.span("op"):
                        rows += self.run_op(op, tr)
                except Exception:  # noqa: BLE001 -- a failed op is counted, the loop goes on
                    failures.append((op, traceback.format_exc(limit=3)))
                    continue
                dt, dt_free = since(t0)
                samples.append((op, dt))
                free.append(dt_free)
                if tr is not _NO_TRACE:
                    store.drain()
                    windows.append(OpWindow(group, job0, store.next_job_id()))
                    batch_marks.append((op, dt, batch0, len(tr.batches)))
            pass_walls.append(since(pass_t0))
        if tr is not _NO_TRACE:
            sc.setJobGroup("perfbench-idle", "between loops")
        store.drain()
        jobs = store.jobs(first_job, store.next_job_id())
        if windows:
            jobs = [j for js in attribute_jobs(jobs, windows).values() for j in js]
        return {
            "samples": samples, "failures": failures,
            "free": free, "pass_walls": pass_walls,
            "rows": rows, "batch_marks": batch_marks, "stages": store.stage_totals(jobs),
        }

    # -- output check --------------------------------------------------
    def check(self) -> dict[str, list[str]]:
        """Problems per op, empty when every output is right."""
        if self.w.name == "serve":
            return self._check_serve()
        from tools.parity import compare, duck_connection

        from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

        con = duck_connection(self.sf_dir)
        problems = {}
        for op, df in self.last.items():
            try:
                problems[op] = compare(op, df.toPandas(), con.execute(QUERIES[op].oracle).df())
            except Exception as exc:  # noqa: BLE001 -- any failure is a wrong output
                problems[op] = [f"{type(exc).__name__}: {exc}"]
        return problems

    def _check_serve(self) -> dict[str, list[str]]:
        from nyc_yellow_taxi_trip_data_pipeline_spark.operators import serving

        problems = {op: [] for op in self.last}
        for op, rows in self.last.items():
            want = int(op.split("_")[1])
            if len(rows) != want:
                problems[op].append(f"rows {len(rows)} != {want}")
        frame = (self.spark.read.option("header", "true").option("inferSchema", "true")
                 .csv([self.requests[op] for op in self.last]))
        batch = sorted(tuple(r) for r in serving.predict(self.model, frame, label=LABEL).collect())
        served = sorted(tuple(r) for rows in self.last.values() for r in rows)
        if batch != served:
            bad = sum(a != b for a, b in zip(batch, served)) + abs(len(batch) - len(served))
            for op in problems:
                problems[op].append(f"{bad} predictions differ from one batch predict")
        return problems

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


class _NoTrace:
    @staticmethod
    def span(name: str):
        return contextlib.nullcontext()


_NO_TRACE = _NoTrace()


def end_to_end(runner: Runner, setup_s: float, loop: dict) -> dict[str, float]:
    """Throughputs are per median pass: every pass runs the same ops over
    the same rows, and the median drops the odd pass a stall on the shared
    host stretched."""
    lat = loop["free"]
    rows = loop["rows"] if runner.w.name == "serve" else loop["stages"].get("input_records", 0.0)
    walls = [free for _, free in loop["pass_walls"]]
    pass_s = hd_quantile(walls, 0.5)
    return {
        "setup_s": setup_s,
        "latency_p50_s": hd_quantile(lat, 0.5),
        "latency_p90_s": hd_quantile(lat, 0.9),
        "ops_per_s": len(lat) / len(walls) / pass_s,
        "rows_per_s": rows / len(walls) / pass_s,
    }


def per_layer(runner: Runner, tr: Tracer, loop: dict, untraced_p50: float,
              error_rate: float, peak_rss_mb: float) -> dict[str, float]:
    """Layer metrics of the traced loop: means per timed op unless the
    catalog says otherwise (stream phases are per micro-batch)."""
    n = len(loop["samples"])
    op_s = sum(dt for _, dt in loop["samples"])
    build = tr.total("plans.build")
    exec_s = tr.total("exec") + tr.total("serve.collect")
    ex = dict.fromkeys((
        "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
        "shuffle_write_bytes", "memory_spill_bytes", "disk_spill_bytes"), 0.0)
    ex.update(loop["stages"])
    predict_s, preprocess_s = tr.total("serve.predict"), tr.total("serve.preprocess")
    trig_ms = [
        sum(b.get("triggerExecution", 0.0) for b in tr.batches[b0:b1])
        for _, _, b0, b1 in loop["batch_marks"]
    ]
    outside = sum(dt - ms / 1000.0 for (_, dt, b0, b1), ms in zip(loop["batch_marks"], trig_ms)
                  if b1 > b0)
    return {
        "session.start_s": statistics.median(free for _, free in runner.record["session_starts_s"]),
        "io.read_table_calls": tr.count("io.read_table") / n,
        "io.read_table_s": tr.total("io.read_table") / n,
        "plans.build_s": build / n,
        "plans.build_share": build / op_s if op_s else 0.0,
        "catalyst.analysis_ms": tr.catalyst_ms.get("analysis", 0.0) / n,
        "catalyst.optimization_ms": tr.catalyst_ms.get("optimization", 0.0) / n,
        "catalyst.planning_ms": tr.catalyst_ms.get("planning", 0.0) / n,
        "exec.wall_s": exec_s / n,
        "exec.jobs": ex["jobs"] / n,
        "exec.stages": ex["stages"] / n,
        "exec.tasks": ex["tasks"] / n,
        "exec.run_ms": ex["run_ms"] / n,
        "exec.cpu_ms": ex["cpu_ms"] / n,
        "exec.gc_ms": ex["gc_ms"] / n,
        "exec.shuffle_read_bytes": ex["shuffle_read_bytes"] / n,
        "exec.shuffle_write_bytes": ex["shuffle_write_bytes"] / n,
        "exec.spill_bytes": (ex["memory_spill_bytes"] + ex["disk_spill_bytes"]) / n,
        "exec.cpu_per_wall": ex["cpu_ms"] / 1000.0 / exec_s if exec_s else 0.0,
        "memo.build_s": sum(runner.record["memo_builds_s"].values()),
        "memo.families_built": float(len(runner.record["memo_builds_s"])),
        **stream_metrics(tr.batches, n),
        "stream.outside_batch_s": outside / n,
        "ml.train_s": runner.record.get("ml_train_s", (0.0, 0.0))[1],
        "serve.read_csv_s": (tr.total("serve.predict_csv") - predict_s) / n,
        "serve.preprocess_s": preprocess_s / n,
        "serve.transform_s": (predict_s - preprocess_s) / n,
        "serve.collect_s": tr.total("serve.collect") / n,
        "mem.peak_rss_mb": peak_rss_mb,
        "check.error_rate": error_rate,
        "trace.overhead_share": hd_quantile(loop["free"], 0.5) / untraced_p50 - 1.0,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / ENGINE / "__init__.py").is_file() or not (ROOT / "tools" / "parity.py").is_file():
        print(f"error: the engine ({ENGINE}/, tools/parity.py) is not next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))
    validate_names()
    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    sweep_dead_runs()
    run_dir = WORK / f"run-{os.getpid()}"
    pin_environment(run_dir)
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def sweep_dead_runs() -> None:
    """Remove scratch dirs of earlier runs that were killed mid-run."""
    for old in WORK.glob("run-*"):
        pid = old.name.removeprefix("run-")
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(old, ignore_errors=True)


def run(args: argparse.Namespace, run_dir: Path) -> int:
    provenance = {
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "python": platform.python_version(),
        "sf": SF,
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "started_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "loadavg_before": os.getloadavg(),
    }
    t_run = stamp()
    runner = Runner(WORKLOADS[args.workload], args.seed, args.seconds, run_dir, ensure_data())
    try:
        setup_s = runner.setup()
        spark = runner.spark
        provenance.update(spark=spark.version,
                          java=spark._jvm.System.getProperty("java.version"))
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        loop = runner.loop(_NO_TRACE, 0)
        if not loop["samples"]:
            raise RuntimeError(f"no op completed: {loop['failures'][:1]}")
        metrics = end_to_end(runner, setup_s, loop)
        traced = None
        if args.trace:
            with Tracer(spark) as tr:
                traced = runner.loop(tr, 1000)
        problems = runner.check()
        peak_rss_mb = rss_high_water_mb(jvm_pid) + rss_high_water_mb("self")
    finally:
        runner.close()
    bad_ops = {op for op, p in problems.items() if p}
    loops = [loop] + ([traced] if traced else [])
    attempted = sum(len(lp["samples"]) + len(lp["failures"]) for lp in loops)
    failed = sum(len(lp["failures"]) + sum(op in bad_ops for op, _ in lp["samples"])
                 for lp in loops)
    if args.trace:
        if not traced["samples"]:
            raise RuntimeError("no traced op completed")
        metrics = per_layer(runner, tr, traced, metrics["latency_p50_s"], failed / attempted,
                            peak_rss_mb)
        names = PER_LAYER
    else:
        names = END_TO_END
    provenance["loadavg_after"] = os.getloadavg()
    provenance["wall_s"], provenance["steal_free_wall_s"] = since(t_run)
    record = {
        "provenance": provenance,
        "metrics": metrics,
        "attempted": attempted,
        "failed": failed,
        "problems": {op: p for op, p in problems.items() if p},
        "op_failures": [f for lp in loops for f in lp["failures"]],
        "samples": [lp["samples"] for lp in loops],
        "samples_steal_free": [lp["free"] for lp in loops],
        "pass_walls": [lp["pass_walls"] for lp in loops],
        "setup": runner.record,
        "spans": [s._asdict() for s in tr.spans] if args.trace else [],
    }
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    started = provenance["started_at"].replace(":", "").replace("+0000", "Z")
    out_path = results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{started}.json"
    out_path.write_text(json.dumps(record, indent=1, default=str) + "\n")
    lat = [dt for _, dt in loop["samples"]]
    summary = " ".join(f"{k}={metrics[k]:.6g}{names[k].unit}" for k in names)
    print(f"{args.workload} seed={args.seed} samples={len(lat)} "
          f"beyond_p90={beyond(lat, 0.9)} (p90 wants {min_samples(0.9)} samples) "
          f"error_rate={failed / attempted:.4g} "
          f"stolen={1 - provenance['steal_free_wall_s'] / provenance['wall_s']:.1%} {summary} "
          f"record={out_path.relative_to(ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": names[k].unit} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
