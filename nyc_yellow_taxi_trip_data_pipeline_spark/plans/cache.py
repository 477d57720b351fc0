"""Publish-once warehouse artifacts: the one implementation of the
fingerprint/build/stamp/publish protocol behind every derived table the
queries persist and reuse (q170, q175, q189, q190, q192-q194 and the
q98/q167 signature index). Call sites supply only a ``write``
function; no plan module spells ``_SUCCESS`` or ``.build-``
(``tests/test_cache_tokens.py`` ratchets that)."""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from nyc_yellow_taxi_trip_data_pipeline_spark import memo
from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
    _data_fingerprint_token,
)

# Same-token ``.build-*`` dirs older than this are crashed-builder
# orphans (real builds finish in seconds); see _fingerprint_cache_path.
_BUILD_SWEEP_S = 3600.0

# Bump when a signature-index ingredient the token cannot see
# mechanically changes (shingle n, selected columns). The MECHANICAL
# ingredients (n_hashes, band_size, num_file_buckets, the caller's
# ``recipe``) are folded in by ``signature_index_salt``, so tuning those
# can never replay a stale persistent index.
_SIG_INDEX_SALT = "v2-fp"


def _tree_mtime(path: str) -> float | None:
    """Newest mtime across a directory TREE, not the top-level dir
    alone: writing files into ``build/bands`` does not advance the
    build root's st_mtime, so a top-level probe would judge a
    long-running live build "stale" and let a concurrent session sweep
    it mid-write (ADVICE r13 item 1). None = vanished mid-walk (a
    publisher won the race; caller treats it as fresh)."""
    try:
        newest = os.stat(path).st_mtime
    except OSError:
        return None
    for r, _, fs in os.walk(path):
        for f in fs:
            try:
                newest = max(newest, os.stat(os.path.join(r, f)).st_mtime)
            except OSError:
                continue
    return newest


def _fingerprint_cache_path(
    spark: SparkSession, sf_dir: str, table: str, prefix: str, salt: str
) -> str:
    """Resolve (and garbage-collect around) a warehouse cache directory
    keyed on BOTH axes that can invalidate a cached artifact:

    - the input DATA (``_data_fingerprint_token``: file count + bytes +
      newest mtime — in-place testdata regeneration changes the token);
    - the producing LOGIC (``salt``: a version literal the call site
      bumps whenever the staging/layout recipe changes — phase split
      expression, selected columns, sort keys, block size). Without it,
      editing the recipe would silently replay stale cached files
      against the updated oracle — the exact stale-artifact failure the
      data fingerprint was introduced to eliminate, back on the code
      axis.

    Sibling directories under the same ``prefix`` AND scale-factor slug
    with a DIFFERENT token are pruned before returning: every
    regeneration/salt bump would otherwise orphan the previous
    directory and grow the warehouse without bound across rounds. The
    slug scopes the prune to one sf_dir — tokens embed the sf_dir, so
    without it every scale-factor switch (parity at sf0.01, bench at
    sf0.1) would evict the OTHER factor's still-valid cache and force
    a rebuild per switch. Pruning is safe because all callers are on
    the SERIAL sweep list (same-data concurrent sessions share one
    token, so a concurrent pruner could otherwise delete a directory
    mid-read — documented in ARCHITECTURE.md's env-robustness
    matrix).

    Same-token in-flight build dirs (``{target}.build-*``, see
    ``build_once``) are exempt from the prune — a concurrent
    same-data session must not delete a build about to be published —
    UNLESS they are older than ``_BUILD_SWEEP_S`` (a crashed builder's
    orphan: real builds here live for seconds, and each session uses a
    fresh uuid suffix, so without an age sweep same-token orphans would
    accumulate until the data fingerprint changes — ADVICE r12 item 3).
    A pre-existing TARGET without ``_SUCCESS`` (a build that crashed
    mid-write under the old in-place scheme) IS pruned, so
    ``build_once``'s existence check sees a cleanly absent directory
    instead of re-reading a partial artifact forever."""
    data_tok = _data_fingerprint_token(sf_dir, table)
    tok = hashlib.md5(f"{data_tok}|{salt}".encode()).hexdigest()[:8]
    slug = re.sub(
        r"[^A-Za-z0-9.]", "-", os.path.basename(sf_dir.rstrip("/"))
    )
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    target = f"{prefix}_{slug}_{tok}"
    if os.path.isdir(warehouse):
        for d in os.listdir(warehouse):
            if not d.startswith(f"{prefix}_{slug}_"):
                continue
            if d == target:
                continue
            full = os.path.join(warehouse, d)
            if d.startswith(f"{target}.build-"):
                newest = _tree_mtime(full)
                # None = vanished mid-listing (a publisher won); tree
                # mtime, not the root's — a live build writing into a
                # subdir does not advance the root (ADVICE r13 item 1).
                if newest is None or (
                    time.time() - newest <= _BUILD_SWEEP_S
                ):
                    continue
            shutil.rmtree(full, ignore_errors=True)
        if os.path.isdir(
            os.path.join(warehouse, target)
        ) and not os.path.exists(os.path.join(warehouse, target, "_SUCCESS")):
            shutil.rmtree(os.path.join(warehouse, target), ignore_errors=True)
    return os.path.join(warehouse, target)


def _publish_cache_build(tmp_dir: str, target: str) -> None:
    """Atomically publish a finished cache build: rename the temp build
    dir onto the fingerprint-keyed target. POSIX rename is atomic, so a
    concurrent same-token reader sees either no target (and builds its
    own) or a COMPLETE one — never the partial files an in-place
    ``mode("overwrite")`` rebuild exposes (the FILE_NOT_EXIST mid-rebuild
    race recorded in ARCHITECTURE.md's env-robustness notes). If a
    concurrent builder already published (target carries ``_SUCCESS``),
    the rename fails on the existing target and this build is discarded
    — both builds are byte-equivalent by the token contract (same data
    fingerprint, same logic salt).

    Failure discipline (ADVICE r12): a failed rename is only swallowed
    when a COMPLETE target exists. A rename blocked by a stale PARTIAL
    target (no ``_SUCCESS`` — a crashed in-place build, or a pruner that
    hasn't finished wiping it) is retried once after renaming the
    partial ASIDE to a ``.stale-<uuid>`` sibling (never rmtree'd in
    place — so even if the _SUCCESS re-probe loses a concurrent publish
    race, the target path is never empty-but-expected and the complete
    artifact survives the displacement; ADVICE r13 item 2); any other
    failure (permissions, a stray regular file at the target path, a
    cross-device temp dir) discards the temp build and RAISES, so the
    caller fails at the publish site instead of with a confusing
    FileNotFoundError far downstream."""
    displaced: list[str] = []
    for attempt in (0, 1):
        try:
            os.rename(tmp_dir, target)
            # Clean any partial displaced aside AFTER the publish so
            # the target path's empty window is one rename wide; a
            # crash between the renames leaves a ``.stale-`` sibling
            # the next resolve's prune sweeps.
            for s in displaced:
                shutil.rmtree(s, ignore_errors=True)
            return
        except OSError as exc:
            if os.path.exists(os.path.join(target, "_SUCCESS")):
                # A concurrent same-token builder won the race; this
                # build is byte-equivalent and safely discarded.
                shutil.rmtree(tmp_dir, ignore_errors=True)
                return
            if attempt == 0 and os.path.isdir(target):
                # Stale partial target (no _SUCCESS): move it ASIDE and
                # retry (ADVICE r12 item 2, tightened per ADVICE r13
                # item 2). Re-probe _SUCCESS immediately before the
                # move: a concurrent builder may have published BETWEEN
                # the failed rename's probe above and here, and
                # displacing its complete artifact would re-open the
                # mid-read race. The displacement itself is a RENAME to
                # a ``.stale-<uuid>`` sibling, not an rmtree: if the
                # re-probe loses a publish race anyway, the complete
                # artifact survives intact at the sibling path and the
                # retry republishes a byte-equivalent build — the
                # target path is never empty-but-expected. The sibling
                # is wiped afterwards (and any leftover is also caught
                # by the sibling prune in _fingerprint_cache_path: it
                # shares the prefix and is not a fresh ``.build-``).
                if os.path.exists(os.path.join(target, "_SUCCESS")):
                    shutil.rmtree(tmp_dir, ignore_errors=True)
                    return
                stale = f"{target}.stale-{os.path.basename(tmp_dir)[-8:]}"
                try:
                    os.rename(target, stale)
                    displaced.append(stale)
                except OSError:
                    # Target vanished (a pruner finished) or was
                    # replaced; just retry the publish.
                    pass
                continue
            shutil.rmtree(tmp_dir, ignore_errors=True)
            raise OSError(
                f"cache publish failed: cannot rename {tmp_dir!r} onto "
                f"{target!r} and no complete target exists ({exc})"
            ) from exc


def build_once(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    prefix: str,
    salt: str,
    write: Callable[[str], None],
) -> str:
    """The published directory for (``table``'s data fingerprint,
    ``salt``) under ``prefix`` (``_fingerprint_cache_path``), built on
    first use: ``write(tmp_dir)`` fills a fresh, not yet existing
    ``{target}.build-<uuid>`` sibling, ``_SUCCESS`` is stamped unless
    Spark's committer did, and the sibling is published atomically. A
    raising ``write`` removes the sibling and publishes nothing."""
    target = _fingerprint_cache_path(spark, sf_dir, table, prefix, salt)
    if not os.path.exists(os.path.join(target, "_SUCCESS")):
        tmp_dir = f"{target}.build-{uuid.uuid4().hex[:8]}"
        try:
            write(tmp_dir)
            stamp = os.path.join(tmp_dir, "_SUCCESS")
            if not os.path.exists(stamp):
                open(stamp, "w").close()
        except BaseException:
            shutil.rmtree(tmp_dir, ignore_errors=True)
            raise
        _publish_cache_build(tmp_dir, target)
    return target


def table_name(path: str) -> str:
    """Catalog-safe name of a warehouse directory (embeds its token; a
    build sibling's name starts with its target's)."""
    return re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(path))


def _drop_stale_token_tables(spark: SparkSession, base: str) -> None:
    """Drop catalog entries left by PREVIOUS tokens of the same
    prefix+slug: token-embedded table names (q170's bucketed pair, the
    q98/q167 signature index) re-register per token, and the directory
    prune already removed the old LOCATIONs — without this sweep a
    long-lived session accumulates dangling external tables pointing at
    pruned dirs, one set per in-place regeneration (the unbounded-growth
    concern the sibling prune closes on the directory axis, re-closed
    here on the catalog axis). ``base`` is the sanitized
    ``{prefix}_{slug}_{token}``; every table sharing ``{prefix}_{slug}_``
    with a DIFFERENT token is dropped (external tables — dropping never
    touches files). Same-token temp build tables (``table_name`` of a
    ``.build-<uuid>`` sibling: ``{base}_build_<uuid>_*``) start with the
    full base and are kept."""
    stale_prefix = base.rsplit("_", 1)[0] + "_"
    for t in spark.catalog.listTables():
        if t.name.startswith(stale_prefix) and not t.name.startswith(base):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def register_bucketed(
    spark: SparkSession,
    target: str,
    n_buckets: int,
    tables: Sequence[tuple[str, str]],
    sorted_by: bool = False,
) -> list[str]:
    """Catalog names ``{table_name(target)}_{sub}`` per ``(sub,
    cluster_cols)`` of ``tables``: CREATE TABLE ... CLUSTERED BY ...
    LOCATION ``target/sub`` with the ``n_buckets`` that wrote the files
    (bucket ids live in the file names, so the rename keeps the
    clustering; lesson 27). The names embed the token, so the
    ``tableExists`` fast path is token-scoped and a fresh session
    re-registers without rebuilding; a miss first drops the previous
    token's entries."""
    base = table_name(target)
    names = [f"{base}_{sub}" for sub, _ in tables]
    if all(spark.catalog.tableExists(n) for n in names):
        return names
    _drop_stale_token_tables(spark, base)
    for name, (sub, cols) in zip(names, tables):
        loc = os.path.join(target, sub)
        sort = f" SORTED BY ({cols})" if sorted_by else ""
        ddl_cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in spark.read.parquet(loc).schema.fields
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({ddl_cols}) "
            f"USING parquet CLUSTERED BY ({cols})"
            f"{sort} INTO {n_buckets} BUCKETS "
            f"LOCATION '{loc}'"
        )
    return names


def read_published(spark: SparkSession, path: str) -> DataFrame:
    """Memoized ``spark.read.parquet(path)`` for ATOMICALLY-PUBLISHED,
    immutable cache directories (``build_once`` targets or their
    subdirs), through the session memo with the ``_SUCCESS`` mtime as
    the validity token: the path already embeds the data-fingerprint
    token + logic salt, and the stamp closes the one remaining hole --
    a same-token wipe + rebuild inside one session (new part-file names
    would orphan a cached file index). An unstamped (unpublished or
    racing) directory is read directly and never memoized."""
    # The stamp lives at the path itself (q189's partials) or one level
    # up (q175's fact/dim under a single publish root). The walk is
    # BOUNDED to that one step — an unbounded ascent could latch onto
    # some unrelated ancestor's _SUCCESS, whose mtime would never move
    # on a republish of `path` (a silent-staleness hole).
    success = path
    if not os.path.exists(os.path.join(success, "_SUCCESS")):
        success = os.path.dirname(path)
    try:
        stamp = os.stat(os.path.join(success, "_SUCCESS")).st_mtime_ns
    except OSError:
        stamp = None
    return memo.get_or_build(
        spark, "published", path, stamp, lambda: spark.read.parquet(path)
    )


def signature_index_salt(
    n_hashes: int = 12,
    band_size: int = 3,
    num_file_buckets: int = 16,
    recipe: str = "",
) -> str:
    """The q98/q167 signature index's logic salt: the version literal,
    the mechanical parameters and the caller's accepted-set ``recipe``."""
    return (
        f"{_SIG_INDEX_SALT}.h{n_hashes}.b{band_size}"
        f".f{num_file_buckets}.{recipe}"
    )


def _signature_index_name(
    spark: SparkSession, sf_dir: str, prefix: str, *salt_args
) -> tuple[str, str]:
    """(published directory, catalog-table base name) of the signature
    index; resolving also runs the stale-sibling prune."""
    target = _fingerprint_cache_path(
        spark, sf_dir, "documents", prefix, signature_index_salt(*salt_args)
    )
    return target, table_name(target)
