"""SparkSession factory with scale-aware defaults.

The reference builds ad-hoc sessions per script with duplicated config keys
(reference sparkConsumer.py:9-16, sparkML.py:28-35); here one factory owns
the session so every entry point gets the same tuned configuration:

- AQE on (runtime coalescing, skew-join splitting) — on a real cluster this
  is what keeps 100 TB shuffles healthy without hand-tuned partition counts.
- Arrow on for any pandas interchange (serving path) and pandas UDFs.
- Session timezone pinned to UTC so event-time semantics are stable across
  machines (and comparable to UTC-naive engines like DuckDB).
- Shuffle partitions sized to the local core count for tests; on a cluster
  AQE coalesces from a deliberately-high initial number instead.
- Local-master sessions write streaming checkpoints through the
  FileSystem checkpoint manager (see ``LOCAL_CHECKPOINT_FILE_MANAGER``).
- Local-master sessions start Python workers from the engine's daemon
  module (see ``PYTHON_DAEMON_MODULE``), which stops each worker task from
  re-reading the pyspark and Spark zip archives on Python < 3.13.

A query that needs a different value for a while (a watermark policy, a
disabled broadcast, AQE off for a scan probe) does not touch the session
conf itself: it runs inside ``scoped_conf``, which restores the exact
prior state on exit.

Two PROFILES own the knobs whose right value flips between a laptop-scale
smoke corpus and a 1000-executor cluster (``SPARK_GRAFT_PROFILE`` env var,
or the ``profile=`` argument):

- ``local`` (default): split size 2 MB — compressed text explodes into far
  more compute than its file size suggests (regex/shingle/md5 over
  documents: a 6 MB compressed corpus is ~4M tokens of HOF/regex work),
  and a coarse split leaves it scanning on 1-2 cores while 30 idle
  (measured on the 10x smoke: q105 38.4s -> 5.5s from scan parallelism
  alone). 2 MB + the default 4 MB openCostInBytes ≈ one task per small
  file. Shuffle partitions = local core count.
- ``cluster``: split size 128 MB — at petabyte scale with many ~256 MB
  files per table, split count comes from file count and tiny splits
  would just multiply task-launch overhead; shuffle partitions start
  HIGH (4096) and AQE coalesces down, which beats starting low because
  AQE can merge but never re-split a too-coarse exchange.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Per-profile values for the scale-sensitive knobs. Everything not listed
# here is scale-invariant and set unconditionally in get_spark().
PROFILES: dict[str, dict[str, str]] = {
    "local": {
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    },
    "cluster": {
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.shuffle.partitions": "4096",
    },
}

# Streaming checkpoint manager for local masters. Spark's default,
# FileContextBasedCheckpointFileManager, renames through
# AbstractFileSystem.rename; on the local file system without libhadoop
# that stats the target via FileUtil.readLink, which forks `readlink`
# twice per rename. Every offset-log, commit-log, state-delta and .crc
# write pays it, the state store once per state partition. The
# FileSystem manager renames through ChecksumFileSystem.rename, a single
# rename(2) that also moves the .crc, so nothing atomic is lost on a
# local disk. Other masters keep Spark's choice: HDFS gets an atomic
# overwrite-rename only through FileContext. (Spark 4.1 keeps the class
# in the checkpointing subpackage; 3.5 had it one package up.)
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Python worker daemon for local masters (see pydaemon.py). It goes in
# through the daemon-module hook because the stock daemon only accepts
# worker modules under ``pyspark``. The daemon is a fresh interpreter
# started in the driver's cwd, so the package's parent goes on the
# workers' PYTHONPATH (Spark merges it with its own) for the module to
# import from any cwd.
PYTHON_DAEMON_MODULE = "nyc_yellow_taxi_trip_data_pipeline_spark.pydaemon"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_memory(physical_bytes: int | None = None) -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set, else
    16g capped at half the host's physical memory (``physical_bytes``,
    read with ``os.sysconf`` by default). A local master is one JVM per
    session, so a fixed 16g heap on a 15 GB host let a few sessions side
    by side (a test suite next to a parity run) exhaust the machine."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, physical_bytes // 2 // 2**20)}m"


def get_spark(
    app_name: str = "nyc-yellow-taxi-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode is a single JVM where ``spark.driver.memory`` is the only
    memory knob; on a cluster the same config block applies unchanged and
    AQE takes over partition sizing. ``profile`` (or the
    ``SPARK_GRAFT_PROFILE`` env var) selects the scale-sensitive knob
    set — see module docstring; an explicit ``shuffle_partitions``
    argument still wins over the profile.
    """
    profile = profile or os.environ.get("SPARK_GRAFT_PROFILE", "local")
    if profile not in PROFILES:
        raise ValueError(
            f"unknown SPARK_GRAFT_PROFILE {profile!r}; "
            f"choose one of {sorted(PROFILES)}"
        )
    prof = PROFILES[profile]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or prof["spark.sql.shuffle.partitions"]),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.files.maxPartitionBytes",
            prof["spark.sql.files.maxPartitionBytes"],
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Some producers write TIMESTAMP(NANOS) parquet (e.g. pandas default);
        # Spark has no nanos timestamp — read as long and convert at the scan
        # (sources/io.py) instead of failing.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    if master.startswith("local"):
        builder = (
            builder.config(
                "spark.sql.streaming.checkpointFileManagerClass",
                LOCAL_CHECKPOINT_FILE_MANAGER,
            )
            .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        )
    # Builder-time classpath additions (e.g. a JDBC driver jar for the
    # live-Postgres integration tests): comma-separated jar paths.
    # Builder-time because spark.jars cannot be set on a live session —
    # callers needing a DIFFERENT jar set than the process-cached
    # session carries must use a fresh process (the subprocess pattern
    # in tests/test_postgres_live.py).
    extra_jars = os.environ.get("SPARK_GRAFT_EXTRA_JARS")
    if extra_jars:
        builder = builder.config("spark.jars", extra_jars)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _put(spark: SparkSession, key: str, value: str | None) -> None:
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


@contextmanager
def scoped_conf(
    spark: SparkSession, confs: Mapping[str, str | None]
) -> Iterator[None]:
    """Run the block with ``confs`` set on the session (a ``None`` value
    unsets the key), then put every key back as it was.

    The prior state is each key's EXPLICIT setting, read with
    ``get(k, None)``: a key that was unset before is unset again
    afterwards, not pinned to the default ``get(k)`` would report. On
    exit, failures included, the keys set so far are restored in reverse
    order, so a static conf that refuses ``set`` partway leaves nothing
    behind. Spark reads most of these confs when it plans or runs a
    query, so anything that must see them materializes inside the block
    (collect, write, eager checkpoint); a lazy DataFrame returned out of
    it would re-plan under the restored values (lesson 15)."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    applied: list[str] = []
    try:
        for k, v in confs.items():
            _put(spark, k, v)
            applied.append(k)
        yield
    finally:
        for k in reversed(applied):
            _put(spark, k, prior[k])
