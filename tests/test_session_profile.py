"""The SPARK_GRAFT_PROFILE knob: local vs cluster scale defaults.

getOrCreate() reuses any live session, so the applied-config assertion
runs in a clean subprocess; the cheap invariants run inline.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from nyc_yellow_taxi_trip_data_pipeline_spark.session import (
    LOCAL_CHECKPOINT_FILE_MANAGER,
    PROFILES,
    get_spark,
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
