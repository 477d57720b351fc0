"""Round-12 invariants for the warehouse cache-path helper: the token
must move on BOTH invalidation axes (input data, producing logic) and
stale same-prefix siblings must be garbage-collected, without touching
other prefixes (ADVICE r11 items 1 and 4). Transient tables, unlike
published artifacts, live in a ``tempfile`` directory that is removed
when the body returns."""

from __future__ import annotations

import os

from nyc_yellow_taxi_trip_data_pipeline_spark.plans.cache import (
    _fingerprint_cache_path,
)

SF_DIR = "/root/testdata/sf0.001"


def test_same_inputs_same_path_and_salt_moves_it(spark):
    p1 = _fingerprint_cache_path(spark, SF_DIR, "events", "tcache_a", "v1")
    p2 = _fingerprint_cache_path(spark, SF_DIR, "events", "tcache_a", "v1")
    assert p1 == p2
    p3 = _fingerprint_cache_path(spark, SF_DIR, "events", "tcache_a", "v2")
    assert p3 != p1
    # different table data => different token under the same salt
    p4 = _fingerprint_cache_path(spark, SF_DIR, "customer", "tcache_a", "v1")
    assert p4 != p1


def test_stale_siblings_pruned_other_prefixes_and_sfs_kept(spark):
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    stale = os.path.join(warehouse, "tcache_b_sf0.001_deadbeef")
    other = os.path.join(warehouse, "tcache_bb_sf0.001_deadbeef")
    other_sf = os.path.join(warehouse, "tcache_b_sf0.01_deadbeef")
    for d in (stale, other, other_sf):
        os.makedirs(d, exist_ok=True)
    try:
        live = _fingerprint_cache_path(
            spark, SF_DIR, "events", "tcache_b", "v1"
        )
        # the stale same-prefix same-SF sibling is gone; a LONGER
        # prefix sharing the leading text is untouched (prune matches
        # "tcache_b_sf0.001_", never "tcache_bb_..."); and ANOTHER
        # scale factor's cache under the same prefix survives (an SF
        # switch must not evict the other SF's still-valid artifacts).
        assert not os.path.exists(stale)
        assert os.path.exists(other)
        assert os.path.exists(other_sf)
        assert os.path.dirname(live) == warehouse
        # a second resolve with a bumped salt prunes the previous token
        os.makedirs(live, exist_ok=True)
        live2 = _fingerprint_cache_path(
            spark, SF_DIR, "events", "tcache_b", "v2"
        )
        assert live2 != live and not os.path.exists(live)
    finally:
        for d in (stale, other, other_sf):
            if os.path.isdir(d):
                os.rmdir(d)


def test_inflight_builds_exempt_and_partial_targets_pruned(spark):
    """Atomic-publish contract (r12): same-token ``.build-*`` temp dirs
    survive the prune (a concurrent same-data session must not delete a
    build about to be renamed into place), a COMPLETE target (_SUCCESS
    present) survives re-resolution, and a PARTIAL target (no _SUCCESS —
    a crashed in-place build) is wiped so call sites rebuild cleanly."""
    live = _fingerprint_cache_path(spark, SF_DIR, "events", "tcache_c", "v1")
    build = f"{live}.build-cafe0123"
    os.makedirs(build, exist_ok=True)
    try:
        again = _fingerprint_cache_path(
            spark, SF_DIR, "events", "tcache_c", "v1"
        )
        assert again == live
        assert os.path.isdir(build), "in-flight same-token build was pruned"
        # complete target: survives
        os.makedirs(live, exist_ok=True)
        open(os.path.join(live, "_SUCCESS"), "w").close()
        assert (
            _fingerprint_cache_path(spark, SF_DIR, "events", "tcache_c", "v1")
            == live
        )
        assert os.path.exists(os.path.join(live, "_SUCCESS"))
        # partial target: pruned on resolve
        os.remove(os.path.join(live, "_SUCCESS"))
        _fingerprint_cache_path(spark, SF_DIR, "events", "tcache_c", "v1")
        assert not os.path.exists(live), "partial target survived resolve"
    finally:
        for d in (build, live):
            if os.path.isdir(d):
                import shutil

                shutil.rmtree(d, ignore_errors=True)


def test_publish_cache_build_atomic_rename_and_loser_discard(spark, tmp_path):
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.cache import (
        _publish_cache_build,
    )

    tmp = tmp_path / "t.build-1"
    tgt = tmp_path / "t"
    tmp.mkdir()
    (tmp / "_SUCCESS").touch()
    _publish_cache_build(str(tmp), str(tgt))
    assert tgt.is_dir() and (tgt / "_SUCCESS").exists()
    assert not tmp.exists()
    # a losing concurrent build is discarded, the winner untouched
    loser = tmp_path / "t.build-2"
    loser.mkdir()
    (loser / "part-0.parquet").touch()
    _publish_cache_build(str(loser), str(tgt))
    assert not loser.exists()
    assert (tgt / "_SUCCESS").exists()


def test_publish_cache_build_concurrent_builders(tmp_path):
    """Two builders racing the same token: exactly one publishes, the
    loser's temp dir is discarded, and the published target is COMPLETE
    (all of one builder's files — never a mix)."""
    import threading

    tgt = tmp_path / "c"
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.cache import (
        _publish_cache_build,
    )

    def build(i: int) -> None:
        tmp = tmp_path / f"c.build-{i}"
        tmp.mkdir()
        for j in range(5):
            (tmp / f"part-{j}.builder{i}").touch()
        (tmp / "_SUCCESS").touch()
        _publish_cache_build(str(tmp), str(tgt))

    threads = [threading.Thread(target=build, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert tgt.is_dir() and (tgt / "_SUCCESS").exists()
    owners = {
        f.suffix for f in tgt.iterdir() if f.name.startswith("part-")
    }
    assert len(owners) == 1, f"mixed-builder target: {sorted(owners)}"
    assert len(list(tgt.glob("part-*"))) == 5
    assert not list(tmp_path.glob("c.build-*")), "loser temp dirs left behind"


def test_publish_cache_build_wipes_stale_partial_and_raises_legibly(
    tmp_path,
):
    """ADVICE r12 items 1-2: a rename blocked by a stale PARTIAL target
    (no _SUCCESS) is retried after wiping it; a rename that cannot
    succeed at all (no parent dir, no complete winner) raises at the
    publish site instead of silently discarding the finished build."""
    import pytest

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.cache import (
        _publish_cache_build,
    )

    # stale partial target: wiped, publish succeeds on the retry
    tgt = tmp_path / "p"
    tgt.mkdir()
    (tgt / "part-stale.parquet").touch()  # no _SUCCESS => partial
    build = tmp_path / "p.build-1"
    build.mkdir()
    (build / "part-fresh.parquet").touch()
    (build / "_SUCCESS").touch()
    _publish_cache_build(str(build), str(tgt))
    assert (tgt / "_SUCCESS").exists()
    assert (tgt / "part-fresh.parquet").exists()
    assert not (tgt / "part-stale.parquet").exists()
    # unpublishable: parent of target missing, no winner => raises
    build2 = tmp_path / "q.build-1"
    build2.mkdir()
    (build2 / "_SUCCESS").touch()
    with pytest.raises(OSError, match="cache publish failed"):
        _publish_cache_build(
            str(build2), str(tmp_path / "missing-parent" / "q")
        )
    assert not build2.exists()  # the doomed build is still cleaned up


def test_fingerprint_cache_path_sweeps_aged_orphan_builds(spark):
    """ADVICE r12 item 3: same-token .build-* dirs from crashed builders
    are swept once older than _BUILD_SWEEP_S; fresh in-flight builds
    stay exempt."""
    import shutil
    import time

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import cache

    live = cache._fingerprint_cache_path(
        spark, SF_DIR, "events", "tcache_d", "v1"
    )
    fresh = f"{live}.build-fresh001"
    aged = f"{live}.build-aged0001"
    os.makedirs(fresh, exist_ok=True)
    os.makedirs(aged, exist_ok=True)
    old = time.time() - cache._BUILD_SWEEP_S - 60
    os.utime(aged, (old, old))
    try:
        again = cache._fingerprint_cache_path(
            spark, SF_DIR, "events", "tcache_d", "v1"
        )
        assert again == live
        assert os.path.isdir(fresh), "fresh in-flight build was swept"
        assert not os.path.exists(aged), "aged orphan build survived"
    finally:
        for d in (fresh, aged):
            shutil.rmtree(d, ignore_errors=True)


def _copy_documents(src_sf: str, dst_dir) -> str:
    import shutil

    os.makedirs(dst_dir, exist_ok=True)
    shutil.copyfile(
        os.path.join(src_sf, "documents.parquet"),
        os.path.join(dst_dir, "documents.parquet"),
    )
    return str(dst_dir)


def test_signature_index_fingerprints_data_and_reregisters(spark, tmp_path):
    """r13 signature-index discipline (CORRECTNESS item 2): the catalog
    table NAME is keyed on the documents DATA fingerprint — in-place
    regeneration moves it and prunes the stale index — the publish is
    atomic (_SUCCESS-stamped target), and a fresh session re-registers
    over the published files WITHOUT rebuilding."""
    import pyspark.sql.functions as F

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import cache
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    sf = _copy_documents(SF_DIR, tmp_path / "sf")
    docs = read_table(spark, sf, "documents")
    accepted = docs.filter(F.col("doc_id") % 10 != 0)
    n_accepted = accepted.count()

    sigs, bands = dp._signature_index(spark, sf, "tsig", accepted, 12, 3)
    target1, tbl1 = cache._signature_index_name(spark, sf, "tsig")
    assert os.path.exists(os.path.join(target1, "_SUCCESS"))
    assert sigs.count() == n_accepted
    assert bands.select("band_id").distinct().count() == 4  # 12/3 bands
    built_at = os.stat(os.path.join(target1, "sigs")).st_mtime_ns

    # same data => same name, no rebuild
    sigs2, _ = dp._signature_index(spark, sf, "tsig", accepted, 12, 3)
    assert os.stat(os.path.join(target1, "sigs")).st_mtime_ns == built_at
    assert sigs2.count() == n_accepted

    # fresh-session path: catalog entries gone, published files present
    # => re-register without rebuilding
    for s in ("_sigs", "_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl1}{s}")
    sigs3, _ = dp._signature_index(spark, sf, "tsig", accepted, 12, 3)
    assert os.stat(os.path.join(target1, "sigs")).st_mtime_ns == built_at
    assert sigs3.count() == n_accepted
    # bucketed catalog table: the re-registered relation carries the
    # 16-bucket spec (a bare scan shows "Bucketed: false (disabled by
    # query planner)" because nothing needs the clustering — the
    # metadata, not the single-table plan, is the contract)
    info = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESC EXTENDED {tbl1}_sigs").collect()
    }
    assert info.get("Num Buckets") == "16", info
    assert "doc_id" in info.get("Bucket Columns", ""), info

    # in-place regeneration: rewrite documents.parquet (same path, new
    # bytes/mtime) => a DIFFERENT table name; the stale index is pruned
    import pandas as pd

    pdf = pd.read_parquet(os.path.join(sf, "documents.parquet"))
    pdf.to_parquet(os.path.join(sf, "documents.parquet"), index=False)
    target2, tbl2 = cache._signature_index_name(spark, sf, "tsig")
    assert tbl2 != tbl1
    assert not os.path.exists(target1), "stale index survived regeneration"


def test_signature_index_concurrent_builders_one_winner(spark, tmp_path):
    """Two same-token builders racing: exactly one publishes, both get a
    COMPLETE readable index (the q190-q195 race contract extended to the
    signature index)."""
    import threading

    import pyspark.sql.functions as F

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import cache
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    sf = _copy_documents(SF_DIR, tmp_path / "sf")
    docs = read_table(spark, sf, "documents")
    accepted = docs.filter(F.col("doc_id") % 10 != 0)
    n_accepted = accepted.count()
    counts: list = [None, None]
    errs: list = []

    def build(i: int) -> None:
        try:
            s, _ = dp._signature_index(spark, sf, "tsigrace", accepted, 12, 3)
            counts[i] = s.count()
        except Exception as exc:  # noqa: BLE001 — surfaced via assert
            errs.append(exc)

    threads = [threading.Thread(target=build, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert counts == [n_accepted, n_accepted]
    target, _ = cache._signature_index_name(spark, sf, "tsigrace")
    assert os.path.exists(os.path.join(target, "_SUCCESS"))
    # no loser build dirs left behind
    warehouse = os.path.dirname(target)
    leftovers = [
        d for d in os.listdir(warehouse) if ".build-" in d and "tsigrace" in d
    ]
    assert not leftovers, leftovers


def _copy_tables(src_sf: str, dst_dir, tables) -> str:
    import shutil

    os.makedirs(dst_dir, exist_ok=True)
    for t in tables:
        shutil.copyfile(
            os.path.join(src_sf, f"{t}.parquet"),
            os.path.join(dst_dir, f"{t}.parquet"),
        )
    return str(dst_dir)


def test_q189_sees_in_place_events_regeneration(spark, tmp_path):
    """r14 migration contract for the CONTENT-carrying cache: q189's
    daily partials are keyed on the events data fingerprint, so
    regenerating events IN PLACE (same path, new bytes) within one
    session must rebuild the partials — a stale replay would keep the
    old sums (exactly what the retired md5(sf_dir) key did in a
    long-lived session)."""
    import pandas as pd

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import cache

    sf = _copy_tables(SF_DIR, tmp_path / "sf", ["events"])
    run = QUERIES["q189_partial_agg_rollup"].spark

    first = run(spark, sf).collect()
    assert any(r.value_cents != 0 for r in first)
    target1 = cache._fingerprint_cache_path(
        spark, sf, "events", "q189_daily", "v2-fp"
    )
    assert os.path.exists(os.path.join(target1, "_SUCCESS"))

    ev_path = os.path.join(sf, "events.parquet")
    pdf = pd.read_parquet(ev_path)
    pdf["value"] = 0.0
    pdf.to_parquet(ev_path, index=False)

    second = run(spark, sf).collect()
    assert all(r.value_cents == 0 for r in second), (
        "q189 replayed stale daily partials after in-place events "
        "regeneration"
    )
    assert sum(r.n_events for r in second) == len(pdf)
    assert not os.path.exists(target1), "stale partials survived the prune"


def test_q170_sees_in_place_orders_regeneration(spark, tmp_path):
    """q170's bucketed pair fingerprints BOTH inputs (customer token in
    the path, orders token folded into the salt): zeroing o_totalprice
    in place must move the token, rebuild the pair, and zero every
    revenue_cents."""
    import pandas as pd

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

    sf = _copy_tables(SF_DIR, tmp_path / "sf", ["customer", "orders"])
    run = QUERIES["q170_bucketed_ctas_join"].spark

    first = run(spark, sf).collect()
    assert any(r.revenue_cents != 0 for r in first)
    tables_before = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("q170_pair_sf_")
    }
    assert tables_before, "first run registered no token-scoped tables"

    o_path = os.path.join(sf, "orders.parquet")
    pdf = pd.read_parquet(o_path)
    pdf["o_totalprice"] = 0.0
    pdf.to_parquet(o_path, index=False)

    second = run(spark, sf).collect()
    assert all(r.revenue_cents == 0 for r in second), (
        "q170 replayed a stale bucketed pair after in-place orders "
        "regeneration"
    )
    assert sum(r.n_orders for r in second) == len(pdf)
    # catalog hygiene: the previous token's dangling pair was dropped
    # when the new token registered (its LOCATION was already pruned)
    tables_after = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("q170_pair_sf_")
    }
    assert not (tables_before & tables_after), (
        f"stale-token catalog entries survived: "
        f"{sorted(tables_before & tables_after)}"
    )


def test_q175_sees_in_place_events_regeneration(spark, tmp_path):
    """q175's partitioned fact/dim pair is fingerprint-keyed and
    atomically published as ONE directory: in-place events regeneration
    rebuilds both sides together (the DPP assertion inside the query
    re-proves the pruning on the rebuilt pair)."""
    import pandas as pd

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

    sf = _copy_tables(SF_DIR, tmp_path / "sf", ["events"])
    run = QUERIES["q175_dynamic_partition_pruning"].spark

    first = run(spark, sf).collect()
    assert first and any(r.value_cents != 0 for r in first)

    ev_path = os.path.join(sf, "events.parquet")
    pdf = pd.read_parquet(ev_path)
    pdf["value"] = 0.0
    pdf.to_parquet(ev_path, index=False)

    second = run(spark, sf).collect()
    assert second and all(r.value_cents == 0 for r in second), (
        "q175 replayed a stale fact/dim pair after in-place events "
        "regeneration"
    )
    assert {r.day for r in second} == {r.day for r in first}


def _largest_group_tokens(sf: str, table: str, col: str) -> list:
    """Tokens of the session memo's ``_largest_group`` entries for one
    (corpus, table, column)."""
    from nyc_yellow_taxi_trip_data_pipeline_spark import memo

    return [
        k[3]
        for k in list(memo._ENTRIES)
        if k[1:3] == ("largest_group", (sf, table, col))
    ]


def test_largest_group_memoizes_on_data_fingerprint(spark, tmp_path):
    """The compaction planners' row-richest-partition pull recomputes
    exactly when the data fingerprint moves: same corpus => cached (no
    second scan), in-place regeneration => fresh value."""
    import pandas as pd
    import pyspark.sql.functions as F

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    sf = _copy_tables(SF_DIR, tmp_path / "sf", ["events"])
    ev = read_table(spark, sf, "events").select(
        "event_id", F.to_date("ts").alias("day")
    )
    n1, g1 = dp._largest_group(spark, sf, "events", ev, "day")
    assert _largest_group_tokens(sf, "events", "day") == [
        dp._data_fingerprint_token(sf, "events")
    ]
    # same corpus: the cached tuple is returned (no recompute) even for
    # a df that would give a different answer — proving the cache hit
    empty = ev.filter(F.lit(False))
    assert dp._largest_group(spark, sf, "events", empty, "day") == (n1, g1)

    # in-place regeneration: keep only one day => new fingerprint, new
    # answer computed from the fresh data
    ev_path = os.path.join(sf, "events.parquet")
    pdf = pd.read_parquet(ev_path)
    keep_day = pdf["ts"].dt.date.min()
    pdf2 = pdf[pdf["ts"].dt.date == keep_day]
    pdf2.to_parquet(ev_path, index=False)
    ev2 = read_table(spark, sf, "events").select(
        "event_id", F.to_date("ts").alias("day")
    )
    n2, g2 = dp._largest_group(spark, sf, "events", ev2, "day")
    assert g2 == keep_day and n2 == len(pdf2)


def test_largest_group_evicts_superseded_fingerprint(spark, tmp_path):
    """An in-place regeneration leaves ONE ``_largest_group`` entry per
    (corpus, table, column): the superseded fingerprint's entry is
    evicted when the new one is built, not leaked for the session."""
    import pandas as pd

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp

    sf = str(tmp_path)
    path = os.path.join(sf, "t.parquet")
    tokens = []
    for groups in ([1, 1, 2], [3, 3, 3, 4]):
        pd.DataFrame({"g": groups}).to_parquet(path, index=False)
        df = spark.read.parquet(path)
        got = dp._largest_group(spark, sf, "t", df, "g")
        assert got == (groups.count(groups[0]), groups[0])
        tokens.append(dp._data_fingerprint_token(sf, "t"))
    assert tokens[0] != tokens[1]
    assert _largest_group_tokens(sf, "t", "g") == [tokens[1]]


def test_q189_concurrent_same_token_runs(spark, tmp_path):
    """Two same-session threads racing q189's first build on one token:
    both must return the correct rollup (one publishes, the loser's
    build is discarded) — the signature-index race contract extended to
    the migrated partials cache."""
    import threading

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

    sf = _copy_tables(SF_DIR, tmp_path / "sf", ["events"])
    run = QUERIES["q189_partial_agg_rollup"].spark
    results: list = [None, None]
    errs: list = []

    def go(i: int) -> None:
        try:
            results[i] = sorted(
                (r.week, r.event_type, r.n_events, r.value_cents)
                for r in run(spark, sf).collect()
            )
        except Exception as exc:  # noqa: BLE001 — surfaced via assert
            errs.append(exc)

    threads = [threading.Thread(target=go, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert results[0] == results[1] and results[0]
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    leftovers = [
        d
        for d in os.listdir(warehouse)
        if d.startswith("q189_daily_sf_") and ".build-" in d
    ]
    assert not leftovers, leftovers


def test_q98_sees_in_place_corpus_regeneration(spark, tmp_path):
    """End-to-end form of the r13 staleness fix: within ONE session, q98
    builds its signature index, the corpus is regenerated IN PLACE with
    a new index doc that exactly duplicates a delta doc, and the next
    q98 run must drop that delta doc — which only happens if the index
    was rebuilt for the new data fingerprint instead of replaying the
    stale catalog table (the old md5(sf_dir) key did exactly that)."""
    import pandas as pd

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

    sf = _copy_documents(SF_DIR, tmp_path / "sf")
    doc_path = os.path.join(sf, "documents.parquet")
    run = QUERIES["q98_incremental_dedup_indexed"].spark

    first = {r.doc_id for r in run(spark, sf).collect()}
    assert first, "q98 accepted no delta docs on the original corpus"
    victim = min(first)

    pdf = pd.read_parquet(doc_path)
    dup = pdf[pdf["doc_id"] == victim].copy()
    # new INDEX doc (id % 10 != 0) carrying the victim's exact text
    new_id = int(pdf["doc_id"].max()) + 1
    if new_id % 10 == 0:
        new_id += 1
    dup["doc_id"] = new_id
    pd.concat([pdf, dup], ignore_index=True).to_parquet(
        doc_path, index=False
    )

    second = {r.doc_id for r in run(spark, sf).collect()}
    assert victim not in second, (
        "q98 replayed a stale signature index after in-place corpus "
        "regeneration: the exact-duplicated delta doc survived"
    )
    assert second <= first, "regeneration should only remove delta docs"


def test_read_published_parquet_memoizes_and_invalidates_on_republish(
    spark, tmp_path
):
    """r15 memo contract: a published (atomic, immutable) parquet dir is
    listed ONCE per session — repeat calls return the same DataFrame
    object — while a same-path republish (new _SUCCESS stamp) or a
    missing _SUCCESS (unpublished/racing target) falls back to a fresh
    direct read, so the memo can never orphan a file index."""
    import pyspark.sql.functions as F

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import cache

    pub = tmp_path / "pub"
    spark.range(10).withColumn("v", F.col("id") * 2).write.parquet(str(pub))
    df1 = cache.read_published(spark, str(pub))
    df2 = cache.read_published(spark, str(pub))
    assert df1 is df2, "second call must hit the memo"
    assert df1.count() == 10

    # q175 shape: _SUCCESS lives at the PUBLISH ROOT, data in a subdir —
    # the memo must find the stamp by walking up
    root = tmp_path / "pair"
    spark.range(5).write.parquet(str(root / "fact"))
    os.remove(str(root / "fact" / "_SUCCESS"))
    open(str(root / "_SUCCESS"), "w").close()
    f1 = cache.read_published(spark, str(root / "fact"))
    assert f1 is cache.read_published(spark, str(root / "fact"))
    assert f1.count() == 5

    # same-path republish: new files + new _SUCCESS mtime => new entry
    # reading the NEW data (the one hole a pure path key would leave)
    import shutil

    shutil.rmtree(pub)
    spark.range(3).write.parquet(str(pub))
    df3 = cache.read_published(spark, str(pub))
    assert df3 is not df1
    assert df3.count() == 3

    # unpublished dir (no _SUCCESS anywhere up the tree): direct read,
    # never memoized
    raw = tmp_path / "raw"
    spark.range(7).write.parquet(str(raw))
    os.remove(str(raw / "_SUCCESS"))
    r1 = cache.read_published(spark, str(raw))
    r2 = cache.read_published(spark, str(raw))
    assert r1 is not r2
    assert r1.count() == 7


def _siblings(target: str) -> list[str]:
    """Every warehouse entry sharing ``target``'s prefix + slug."""
    warehouse, name = os.path.split(target)
    stem = name.rsplit("_", 1)[0] + "_"
    return sorted(d for d in os.listdir(warehouse) if d.startswith(stem))


def test_build_once_reuses_then_rebuilds_on_regeneration(spark, tmp_path):
    """Unchanged data: the second call returns the same target and never
    calls ``write``. In-place regeneration: ``write`` runs again under a
    new token and the superseded target is pruned."""
    import shutil

    import pandas as pd

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import cache

    sf = _copy_tables(SF_DIR, tmp_path / "sf", ["events"])
    calls: list[str] = []

    def write(tmp_dir: str) -> None:
        calls.append(tmp_dir)
        spark.range(3).write.parquet(tmp_dir)

    t1 = cache.build_once(spark, sf, "events", "tbo_reuse", "v1", write)
    assert len(calls) == 1 and calls[0].startswith(f"{t1}.build-")
    assert cache.build_once(spark, sf, "events", "tbo_reuse", "v1", write) == t1
    assert len(calls) == 1, "unchanged data must not rebuild"
    try:
        ev_path = os.path.join(sf, "events.parquet")
        pdf = pd.read_parquet(ev_path)
        pdf["value"] = 0.0
        pdf.to_parquet(ev_path, index=False)
        t2 = cache.build_once(spark, sf, "events", "tbo_reuse", "v1", write)
        assert t2 != t1 and len(calls) == 2
        assert os.path.exists(os.path.join(t2, "_SUCCESS"))
        assert not os.path.exists(t1), "superseded target survived"
        assert _siblings(t2) == [os.path.basename(t2)]
    finally:
        for d in _siblings(t1):
            shutil.rmtree(os.path.join(os.path.dirname(t1), d))


def test_build_once_failed_write_publishes_nothing(spark, tmp_path):
    """A raising ``write`` propagates, publishes no target and leaves no
    ``.build-*`` sibling; the next call builds."""
    import shutil

    import pytest

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import cache

    sf = _copy_tables(SF_DIR, tmp_path / "sf", ["events"])

    def broken(tmp_dir: str) -> None:
        os.makedirs(tmp_dir)
        open(os.path.join(tmp_dir, "part-0"), "w").close()
        raise RuntimeError("write failed mid-build")

    def good(tmp_dir: str) -> None:
        spark.range(2).write.parquet(tmp_dir)

    with pytest.raises(RuntimeError, match="write failed mid-build"):
        cache.build_once(spark, sf, "events", "tbo_fail", "v1", broken)
    target = cache._fingerprint_cache_path(
        spark, sf, "events", "tbo_fail", "v1"
    )
    try:
        assert not os.path.exists(target), "a failed build was published"
        assert _siblings(target) == [], "a failed build left a temp dir"
        assert cache.build_once(spark, sf, "events", "tbo_fail", "v1", good) == (
            target
        )
        assert spark.read.parquet(target).count() == 2
    finally:
        shutil.rmtree(target, ignore_errors=True)


def test_build_once_stamps_success_exactly_once(spark, tmp_path):
    """A committer-stamped Spark write and a plain-file write both end
    with exactly one ``_SUCCESS`` at the published target, and the
    committer's own stamp is kept, not rewritten."""
    import shutil

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import cache

    sf = _copy_tables(SF_DIR, tmp_path / "sf", ["events"])
    stamped: list[int] = []

    def spark_write(tmp_dir: str) -> None:
        spark.range(4).write.parquet(tmp_dir)
        stamped.append(os.stat(os.path.join(tmp_dir, "_SUCCESS")).st_mtime_ns)

    def plain_write(tmp_dir: str) -> None:
        os.makedirs(tmp_dir)
        with open(os.path.join(tmp_dir, "rows.txt"), "w") as fh:
            fh.write("a\nb\n")

    targets = []
    try:
        for prefix, write in (
            ("tbo_stamp_spark", spark_write),
            ("tbo_stamp_plain", plain_write),
        ):
            target = cache.build_once(spark, sf, "events", prefix, "v1", write)
            targets.append(target)
            stamps = [
                os.path.join(r, f)
                for r, _, fs in os.walk(target)
                for f in fs
                if f == "_SUCCESS"
            ]
            assert stamps == [os.path.join(target, "_SUCCESS")], stamps
        spark_target, plain_target = targets
        assert stamped == [
            os.stat(os.path.join(spark_target, "_SUCCESS")).st_mtime_ns
        ]
        assert spark.read.parquet(spark_target).count() == 4
        with open(os.path.join(plain_target, "rows.txt")) as fh:
            assert fh.read() == "a\nb\n"
    finally:
        for t in targets:
            shutil.rmtree(t, ignore_errors=True)


def test_only_cache_module_spells_the_publish_protocol():
    """The build/stamp/publish protocol lives in ``plans/cache.py`` only:
    the plan modules call ``build_once``/``read_published`` and never
    spell the stamp, the temp-sibling suffix or the private helpers."""
    import pathlib

    plans = pathlib.Path(__file__).resolve().parent.parent / (
        "nyc_yellow_taxi_trip_data_pipeline_spark/plans"
    )
    banned = (
        "_SUCCESS",
        ".build-",
        "_publish_cache_build",
        "_fingerprint_cache_path",
    )
    for module in ("datapipe.py", "analytics.py"):
        src = (plans / module).read_text()
        hits = [b for b in banned if b in src]
        assert not hits, f"plans/{module} spells {hits}; use plans/cache.py"


def test_q196_scratch_table_lives_under_tempdir(spark, tmp_path, monkeypatch):
    """q196's scratch table lives in a ``tempfile`` directory (so
    ``TMPDIR`` decides where), never under a literal ``/tmp``, and is
    gone once the query returns."""
    import glob
    import tempfile

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES, layout

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    tables: list[str] = []
    snapshot = layout.partition_snapshot

    def recording_snapshot(tbl, prefix):
        tables.append(tbl)
        return snapshot(tbl, prefix)

    monkeypatch.setattr(layout, "partition_snapshot", recording_snapshot)
    in_tmp = set(glob.glob("/tmp/q196_*"))
    QUERIES["q196_compact_optimize"].spark(spark, SF_DIR).collect()
    assert tables and all(
        t.startswith(str(tmp_path / "q196_")) for t in tables
    ), tables
    assert glob.glob(str(tmp_path / "q196_*")) == []
    assert set(glob.glob("/tmp/q196_*")) == in_tmp
