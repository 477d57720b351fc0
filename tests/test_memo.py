"""The session memo's own contract (``memo``): hit/miss/build-second
counters, ``clear()``, and the ratchet that keeps it the engine's only
cache."""

from __future__ import annotations

import ast
import time
from pathlib import Path

from nyc_yellow_taxi_trip_data_pipeline_spark import memo

ENGINE = Path(memo.__file__).resolve().parent


def test_counters_count_miss_then_hit_without_new_build_seconds(spark):
    """A cold build counts one miss and its build seconds; a repeat
    counts one hit and adds no build seconds."""
    app = spark.sparkContext.applicationId

    def build():
        time.sleep(0.01)
        return "value"

    assert memo.get_or_build(spark, "counter_probe", "n", "t", build) == "value"
    cold = memo.stats(app)["counter_probe"]
    assert cold["hits"] == 0 and cold["misses"] == 1 and cold["build_s"] > 0
    assert memo.get_or_build(spark, "counter_probe", "n", "t", build) == "value"
    assert memo.stats(app)["counter_probe"] == {**cold, "hits": 1}


def test_clear_forces_rebuild(spark):
    builds: list = []

    def build():
        builds.append(1)
        return len(builds)

    assert memo.get_or_build(spark, "clear_probe", "n", "t", build) == 1
    assert memo.get_or_build(spark, "clear_probe", "n", "t", build) == 1
    memo.clear()
    assert "clear_probe" not in memo.stats(spark.sparkContext.applicationId)
    assert memo.get_or_build(spark, "clear_probe", "n", "t", build) == 2


def test_no_module_level_cache_dict_outside_memo():
    """Every cache the engine ever hand-rolled started as a module-level
    empty ``{}`` or ``dict()``; values built once per session go through
    ``memo.get_or_build`` instead. The query registry is the one
    module-level dict that is filled at import, not a cache."""
    allowed = {("plans/registry.py", "QUERIES")}
    found = []
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        if rel == "memo.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            empty = (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id == "dict"
                and not value.args
                and not value.keywords
            )
            for target in targets:
                name = ast.unparse(target)
                if empty and (rel, name) not in allowed:
                    found.append(f"{rel}:{node.lineno} {name}")
    assert not found, found
