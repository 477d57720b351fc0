"""The SPARK_GRAFT_PROFILE knob: local vs cluster scale defaults, and
``scoped_conf``, the one way engine code overrides a session conf for a
while.

getOrCreate() reuses any live session, so the applied-config assertion
runs in a clean subprocess; the cheap invariants run inline.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from nyc_yellow_taxi_trip_data_pipeline_spark.session import (
    LOCAL_CHECKPOINT_FILE_MANAGER,
    PROFILES,
    get_spark,
    scoped_conf,
)

ROOT = Path(__file__).resolve().parents[1]


def _run_clean(code: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=180,
        cwd=ROOT,
    )


def test_profiles_cover_the_scale_sensitive_knobs():
    assert set(PROFILES) == {"local", "cluster"}
    for prof in PROFILES.values():
        assert set(prof) == {
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.shuffle.partitions",
        }
    # local: tiny splits for CPU-bound text at smoke scale; cluster:
    # 128 MB splits + AQE coalescing down from a high partition count.
    assert PROFILES["local"]["spark.sql.files.maxPartitionBytes"] == str(
        2 * 1024 * 1024
    )
    assert PROFILES["cluster"]["spark.sql.files.maxPartitionBytes"] == str(
        128 * 1024 * 1024
    )
    assert int(PROFILES["cluster"]["spark.sql.shuffle.partitions"]) >= 1024


def test_unknown_profile_rejected():
    with pytest.raises(ValueError, match="SPARK_GRAFT_PROFILE"):
        get_spark(profile="petabyte")


def test_cluster_profile_actually_applies():
    code = (
        "from nyc_yellow_taxi_trip_data_pipeline_spark.session import get_spark\n"
        "s = get_spark('prof-test', master='local[2]', profile='cluster')\n"
        "assert s.conf.get('spark.sql.files.maxPartitionBytes') == "
        f"'{128 * 1024 * 1024}'\n"
        "assert s.conf.get('spark.sql.shuffle.partitions') == '4096'\n"
        "print('PROFILE_OK')\n"
    )
    out = _run_clean(code)
    assert "PROFILE_OK" in out.stdout, out.stderr[-2000:]


def test_local_session_checkpoints_through_filesystem_manager():
    """A local-master session names the FileSystem checkpoint manager,
    and the JVM can load that class. The class changed packages between
    Spark 3.5 and 4.x; if it moves again this test fails, instead of
    every streaming ``start()``."""
    code = (
        "from nyc_yellow_taxi_trip_data_pipeline_spark.session import get_spark\n"
        "s = get_spark('ckpt-manager-test', master='local[2]')\n"
        "name = s.conf.get('spark.sql.streaming.checkpointFileManagerClass')\n"
        f"assert name == {LOCAL_CHECKPOINT_FILE_MANAGER!r}, name\n"
        "s._jvm.java.lang.Class.forName(name)\n"
        "print('MANAGER_OK')\n"
    )
    out = _run_clean(code)
    assert "MANAGER_OK" in out.stdout, out.stderr[-2000:]


# A conf the test session leaves unset (it has a default, 5.0) and one
# get_spark sets explicitly (64 MB).
_UNSET_KEY = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
_SET_KEY = "spark.sql.autoBroadcastJoinThreshold"


def test_scoped_conf_unset_key_is_unset_afterwards(spark):
    """A key with no explicit setting comes back unset, not pinned to
    the default ``get(k)`` reports."""
    assert spark.conf.get(_UNSET_KEY, None) is None
    with scoped_conf(spark, {_UNSET_KEY: "3.0"}):
        assert spark.conf.get(_UNSET_KEY, None) == "3.0"
    assert spark.conf.get(_UNSET_KEY, None) is None


def test_scoped_conf_restores_explicit_prior_value(spark):
    before = spark.conf.get(_SET_KEY, None)
    assert before is not None
    with scoped_conf(spark, {_SET_KEY: "-1", _UNSET_KEY: None}):
        assert spark.conf.get(_SET_KEY, None) == "-1"
    assert spark.conf.get(_SET_KEY, None) == before
    assert spark.conf.get(_UNSET_KEY, None) is None


def test_scoped_conf_restores_when_block_raises(spark):
    before = spark.conf.get(_SET_KEY, None)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {_SET_KEY: "-1", _UNSET_KEY: "3.0"}):
            raise RuntimeError("boom")
    assert spark.conf.get(_SET_KEY, None) == before
    assert spark.conf.get(_UNSET_KEY, None) is None


def test_scoped_conf_nested_scopes_unwind(spark):
    with scoped_conf(spark, {_UNSET_KEY: "3.0"}):
        with scoped_conf(spark, {_UNSET_KEY: "4.0"}):
            assert spark.conf.get(_UNSET_KEY, None) == "4.0"
        assert spark.conf.get(_UNSET_KEY, None) == "3.0"
    assert spark.conf.get(_UNSET_KEY, None) is None


def test_scoped_conf_static_conf_failure_restores_keys_set_before_it(spark):
    """A static conf refuses ``set`` on a live session; the keys set
    before it are restored and the ones after it never set."""
    before = spark.conf.get(_SET_KEY, None)
    partitions = spark.conf.get("spark.sql.shuffle.partitions", None)
    confs = {
        _UNSET_KEY: "3.0",
        _SET_KEY: "-1",
        "spark.sql.warehouse.dir": "/nonexistent-warehouse",
        "spark.sql.shuffle.partitions": "3",
    }
    with pytest.raises(Exception, match="warehouse"):
        with scoped_conf(spark, confs):
            pytest.fail("the block ran although a conf failed to set")
    assert spark.conf.get(_UNSET_KEY, None) is None
    assert spark.conf.get(_SET_KEY, None) == before
    assert spark.conf.get("spark.sql.shuffle.partitions", None) == partitions


class _RecordingConf:
    """A session conf that logs every write."""

    def __init__(self, store: dict[str, str]):
        self.store = dict(store)
        self.log: list[tuple] = []

    def get(self, key, default):
        return self.store.get(key, default)

    def set(self, key, value):
        self.log.append(("set", key, value))
        self.store[key] = value

    def unset(self, key):
        self.log.append(("unset", key))
        self.store.pop(key, None)


def test_scoped_conf_unwinds_in_reverse_order():
    """The restore mirrors the set sequence: last key set, first put
    back."""
    fake = SimpleNamespace(conf=_RecordingConf({"b": "1"}))
    with scoped_conf(fake, {"a": "x", "b": "y", "c": "z"}):
        assert fake.conf.log == [
            ("set", "a", "x"),
            ("set", "b", "y"),
            ("set", "c", "z"),
        ]
        fake.conf.log.clear()
    assert fake.conf.log == [("unset", "c"), ("set", "b", "1"), ("unset", "a")]
    assert fake.conf.store == {"b": "1"}


def test_only_session_module_sets_confs():
    """Plan, operator and streaming code never writes the session conf
    directly: a temporary override goes through ``session.scoped_conf``.
    (``sources.io._table_read``'s pins are permanent, not scoped, and
    live outside these modules.)"""
    pkg = ROOT / "nyc_yellow_taxi_trip_data_pipeline_spark"
    modules = [
        pkg / "plans" / "datapipe.py",
        pkg / "plans" / "analytics.py",
        *sorted((pkg / "operators").glob("*.py")),
        *sorted((pkg / "streaming").glob("*.py")),
    ]
    assert len(modules) > 4
    for module in modules:
        src = module.read_text()
        hits = [b for b in ("conf.set(", "conf.unset(") if b in src]
        assert not hits, (
            f"{module.relative_to(ROOT)} spells {hits}; wrap the override "
            "in session.scoped_conf"
        )
