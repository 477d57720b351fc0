"""Metric catalog and the statistics the benchmark reports.

``END_TO_END`` and ``PER_LAYER`` are the single source of every metric
name and unit the runner prints; ``BENCHMARK.json`` lists the same names
(a self-test holds the two in step). Each per-layer entry also records
the end-to-end metric it should move and on which workload, so a change
that targets one layer can name, before measuring, where its gain must
show.
"""

from __future__ import annotations

import math
import random
import re
from typing import NamedTuple

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128


class Metric(NamedTuple):
    unit: str
    better: str
    moves: str = ""  # "<end-to-end metric> on <workload>" for per-layer metrics


END_TO_END: dict[str, Metric] = {
    "setup_s": Metric("s", "lower"),
    "latency_p50_s": Metric("s", "lower"),
    "latency_p90_s": Metric("s", "lower"),
    "ops_per_s": Metric("1/s", "higher"),
    "rows_per_s": Metric("rows/s", "higher"),
}

_Q, _V = "queries", "serve"


PER_LAYER: dict[str, Metric] = {
    # session.get_spark: the first call includes the JVM launch.
    "session.start_s": Metric("s", "lower", f"setup_s on {_Q}, {_V}"),
    # sources.io.read_table
    "io.read_table_calls": Metric("count", "lower", f"latency_p50_s on {_Q}"),
    "io.read_table_s": Metric("s", "lower", f"latency_p50_s on {_Q}"),
    # plans: DataFrame construction in the client process, QUERIES[n].spark(...)
    "plans.build_s": Metric("s", "lower", f"latency_p50_s, ops_per_s on {_Q}"),
    "plans.build_share": Metric("ratio", "lower", f"latency_p50_s, ops_per_s on {_Q}"),
    # Catalyst phases of the executed write/collect
    "catalyst.analysis_ms": Metric("ms", "lower", f"latency_p50_s on {_Q}"),
    "catalyst.optimization_ms": Metric("ms", "lower", f"latency_p50_s on {_Q}"),
    "catalyst.planning_ms": Metric("ms", "lower", f"latency_p50_s on {_Q}"),
    # Spark executor, from the status store
    "exec.wall_s": Metric("s", "lower", f"latency_p90_s, ops_per_s on {_Q}"),
    "exec.jobs": Metric("count", "lower", f"latency_p50_s on {_Q}"),
    "exec.stages": Metric("count", "lower", f"latency_p50_s on {_Q}"),
    "exec.tasks": Metric("count", "lower", f"latency_p90_s, ops_per_s on {_Q}"),
    "exec.run_ms": Metric("ms", "lower", f"latency_p90_s, ops_per_s on {_Q}"),
    "exec.cpu_ms": Metric("ms", "lower", f"latency_p90_s, ops_per_s on {_Q}"),
    "exec.gc_ms": Metric("ms", "lower", f"latency_p90_s, ops_per_s on {_Q}"),
    "exec.shuffle_read_bytes": Metric("bytes", "lower", f"latency_p90_s, ops_per_s on {_Q}"),
    "exec.shuffle_write_bytes": Metric("bytes", "lower", f"latency_p90_s, ops_per_s on {_Q}"),
    "exec.spill_bytes": Metric("bytes", "lower", f"latency_p90_s, ops_per_s on {_Q}"),
    "exec.cpu_per_wall": Metric("ratio", "higher", f"latency_p90_s, ops_per_s on {_Q}"),
    # plans.datapipe session memo, from shared_build_seconds(appId)
    "memo.build_s": Metric("s", "lower", f"setup_s on {_Q}"),
    "memo.families_built": Metric("count", "lower", f"setup_s on {_Q}"),
    # streaming.pipeline, from a StreamingQueryListener
    "stream.batches": Metric("count", "lower", f"rows_per_s on {_Q}"),
    "stream.batch_p50_ms": Metric("ms", "lower", f"latency_p50_s on {_Q}"),
    "stream.batch_p90_ms": Metric("ms", "lower", f"latency_p90_s on {_Q}"),
    "stream.trigger_ms": Metric("ms", "lower", f"latency_p50_s, rows_per_s on {_Q}"),
    "stream.add_batch_ms": Metric("ms", "lower", f"latency_p50_s, rows_per_s on {_Q}"),
    "stream.wal_commit_ms": Metric("ms", "lower", f"latency_p50_s, rows_per_s on {_Q}"),
    "stream.commit_offsets_ms": Metric("ms", "lower", f"latency_p50_s, rows_per_s on {_Q}"),
    "stream.query_planning_ms": Metric("ms", "lower", f"latency_p50_s, rows_per_s on {_Q}"),
    "stream.latest_offset_ms": Metric("ms", "lower", f"latency_p50_s, rows_per_s on {_Q}"),
    "stream.get_batch_ms": Metric("ms", "lower", f"latency_p50_s, rows_per_s on {_Q}"),
    "stream.state_commit_ms": Metric("ms", "lower", f"latency_p50_s, rows_per_s on {_Q}"),
    "stream.state_rows": Metric("count", "lower", f"latency_p50_s on {_Q}"),
    "stream.outside_batch_s": Metric("s", "lower", f"latency_p50_s, ops_per_s on {_Q}"),
    # ml.pipeline
    "ml.train_s": Metric("s", "lower", f"setup_s on {_V}"),
    # operators.serving
    "serve.read_csv_s": Metric("s", "lower", f"latency_p50_s on {_V}"),
    "serve.preprocess_s": Metric("s", "lower", f"latency_p50_s on {_V}"),
    "serve.transform_s": Metric("s", "lower", f"latency_p50_s on {_V}"),
    "serve.collect_s": Metric("s", "lower", f"latency_p50_s, rows_per_s on {_V}"),
    # high-water RSS of the Spark JVM plus Python; varies by a fifth between runs
    "mem.peak_rss_mb": Metric("MB", "lower", f"setup_s on {_Q}, {_V}"),
    # the output check and the cost of tracing itself
    "check.error_rate": Metric("ratio", "lower", f"every metric on {_Q}, {_V}"),
    "trace.overhead_share": Metric("ratio", "lower", "nothing: traced p50 over untraced p50, minus 1"),
}


def validate_names() -> None:
    """Raise ValueError unless every metric name and count fits the
    contract the runner's consumers parse."""
    if len(END_TO_END) > MAX_END_TO_END or len(PER_LAYER) > MAX_PER_LAYER:
        raise ValueError("too many metrics")
    for name in [*END_TO_END, *PER_LAYER]:
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
    clash = set(END_TO_END) & set(PER_LAYER)
    if clash:
        raise ValueError(f"metric names used twice: {sorted(clash)}")


def min_samples(q: float, tail: int = 10) -> int:
    """Samples needed for ``tail`` of them to lie strictly beyond the
    nearest-rank q-quantile."""
    return math.ceil(tail / (1.0 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank q-quantile: the smallest sample with at least a
    share ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def beyond(values: list[float], q: float) -> int:
    """How many samples lie strictly above the nearest-rank q-quantile."""
    cut = percentile(values, q)
    return sum(v > cut for v in values)


def _incbeta(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b), by Lentz's continued
    fraction."""
    if x <= 0.0 or x >= 1.0:
        return 0.0 if x <= 0.0 else 1.0
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _incbeta(b, a, 1.0 - x)
    front = math.exp(
        a * math.log(x) + b * math.log1p(-x)
        - (math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b))
    ) / a
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > 1e-30 else 1e-30)
        c = 1.0 + num / c
        c = c if abs(c) > 1e-30 else 1e-30
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return front * (f - 1.0)


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of
    every order statistic. With the few tens of samples one run yields,
    it varies far less from run to run than any single order statistic,
    which jumps whenever the rank lands between two ops of different
    cost."""
    if not values:
        raise ValueError("quantile of no samples")
    ordered = sorted(values)
    n = len(ordered)
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [_incbeta(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(ordered))


def seeded_order(items: list, seed: int, pass_no: int) -> list:
    """The op order of one pass: a shuffle determined by (seed, pass)."""
    out = list(items)
    random.Random(f"{seed}:{pass_no}").shuffle(out)
    return out

