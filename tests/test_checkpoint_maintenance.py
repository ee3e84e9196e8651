"""Checkpoint maintenance: compaction folds append deltas without losing
pointer meta (round / metrics_history), the driver auto-compacts every
``compact_every`` rounds so reads stop paying O(rounds) unions, and a
seen-filter format change triggers a rebuild from url_seen on resume
instead of silently probing stale bitmaps."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from distributed_crawl_spark import corpus
from distributed_crawl_spark.config import CrawlConfig
from distributed_crawl_spark.streaming.checkpoint import CheckpointStore
from distributed_crawl_spark.streaming.driver import CrawlDriver


def _versions(store: CheckpointStore, table: str) -> list[int]:
    return store.latest_meta()["tables"][table]["versions"]


def test_compact_carries_pointer_meta(spark, tmp_path):
    """compact() must not wipe round/metrics_history (a maintenance commit
    carries prior pointer meta forward)."""
    drv = CrawlDriver(
        spark,
        corpus.tiny_pages(spark),
        None,
        CrawlConfig(max_levels=3, max_rounds=8, host_budget=2, compact_every=None),
        str(tmp_path / "ck"),
    )
    drv.run(corpus.tiny_seeds(spark))
    before = drv.store.latest_meta()
    assert len(before["metrics_history"]) >= 2
    assert len(_versions(drv.store, "url_seen")) >= 2

    drv.store.compact(spark)
    after = drv.store.latest_meta()
    assert after["round"] == before["round"]
    assert after["metrics_history"] == before["metrics_history"]
    assert after["last_compaction"] == after["version"]
    assert len(_versions(drv.store, "url_seen")) == 1
    # resume numbering unaffected by the maintenance commit
    resumed = CrawlDriver(
        spark, corpus.tiny_pages(spark), None,
        CrawlConfig(max_levels=3, max_rounds=8, host_budget=2), str(tmp_path / "ck"),
    )
    assert resumed._next_round() == before["round"] + 1


def test_compact_preserves_table_contents(spark, tmp_path):
    drv = CrawlDriver(
        spark,
        corpus.tiny_pages(spark),
        None,
        CrawlConfig(max_levels=3, max_rounds=8, host_budget=2, compact_every=None),
        str(tmp_path / "ck"),
    )
    drv.run(corpus.tiny_seeds(spark))
    seen_before = {
        tuple(r) for r in drv.store.read(spark, "url_seen").collect()
    }
    results_before = {
        (r.url, r.md_hash) for r in drv.results().collect()
    }
    drv.store.compact(spark)
    drv.store.gc()
    assert {
        tuple(r) for r in drv.store.read(spark, "url_seen").collect()
    } == seen_before
    assert {(r.url, r.md_hash) for r in drv.results().collect()} == results_before
    # idempotent: a second compact with single deltas is a no-op commit-wise
    v = drv.store.latest_version()
    drv.store.compact(spark)
    assert drv.store.latest_version() == v


def test_driver_auto_compacts(spark, tmp_path):
    """With compact_every=2, the url_seen union width is bounded by the
    interval (+1 for the in-flight delta), not by the round count."""
    drv = CrawlDriver(
        spark,
        corpus.tiny_pages(spark),
        None,
        CrawlConfig(max_levels=4, max_rounds=10, host_budget=1, compact_every=2),
        str(tmp_path / "ck"),
    )
    stats = drv.run(corpus.tiny_seeds(spark))
    assert len(stats) >= 3
    assert len(_versions(drv.store, "url_seen")) <= 3
    meta = drv.store.latest_meta()
    assert len(meta["metrics_history"]) == len(stats)
    # equivalent to a never-compacted run
    plain = CrawlDriver(
        spark,
        corpus.tiny_pages(spark),
        None,
        CrawlConfig(max_levels=4, max_rounds=10, host_budget=1, compact_every=None),
        str(tmp_path / "plain"),
    )
    plain.run(corpus.tiny_seeds(spark))
    assert {
        (r.url, r.status) for r in drv.current_status().collect()
    } == {(r.url, r.status) for r in plain.current_status().collect()}


def test_seen_filter_rebuild_on_format_change(spark, tmp_path):
    """Resuming with a different bloom geometry must rebuild the filter from
    url_seen (not probe stale bitmaps → false negatives → re-enqueue)."""
    pages = corpus.tiny_pages(spark)
    cfg_a = CrawlConfig(max_levels=3, max_rounds=8, host_budget=2, bloom_bits=1 << 16)
    part = CrawlDriver(spark, pages, None, cfg_a, str(tmp_path / "ck"))
    part.start(corpus.tiny_seeds(spark))
    part.run_round(0)
    fmt_a = json.loads((tmp_path / "ck" / "_LATEST").read_text())[
        "seen_filter_format"
    ]
    assert fmt_a.startswith("bloom/")

    cfg_b = CrawlConfig(max_levels=3, max_rounds=8, host_budget=2, bloom_bits=1 << 18)
    resumed = CrawlDriver(spark, pages, None, cfg_b, str(tmp_path / "ck"))
    resumed.resume()
    meta = resumed.store.latest_meta()
    assert meta["seen_filter_format"] == resumed.bloom.format != fmt_a

    # crawl result equals an uninterrupted run: nothing re-enqueued/lost
    full = CrawlDriver(spark, pages, None, cfg_a, str(tmp_path / "full"))
    full.run(corpus.tiny_seeds(spark))
    assert {
        (r.url, r.status) for r in resumed.current_status().collect()
    } == {(r.url, r.status) for r in full.current_status().collect()}
    # no duplicate fetches: each completed url fetched exactly once
    dup = (
        resumed.fetch_log()
        .filter(F.col("ok"))
        .groupBy("url")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_seen_filter_rebuilt_after_rounds_without_one(spark, tmp_path):
    """Rounds run without a seen filter enqueue URLs without inserting
    them, so the bitmap no longer covers url_seen. The filterless driver
    must clear the pointer's filter format, or the next filtered resume
    trusts the stale bitmap and its definite-new branch re-enqueues the
    URLs those rounds discovered (here ``d`` would be fetched twice)."""
    from distributed_crawl_spark.schema import PAGES_SCHEMA, SEEDS_SCHEMA

    links = {"a": ["b"], "b": ["c"], "c": ["d"], "d": ["c", "d"]}
    pages = spark.createDataFrame(
        [{"url": f"https://s.test/{p}", "warc_ts": None, "lang": "en",
          "text": None,
          "html": ("<html><body><p>page " + p + "</p>" + "".join(
              f'<a href="https://s.test/{c}">x</a>' for c in cs)
              + "</body></html>").encode()}
         for p, cs in links.items()],
        schema=PAGES_SCHEMA,
    )
    seeds = spark.createDataFrame(
        [{"url": "https://s.test/a", "seq": 0, "unique_id": None}],
        schema=SEEDS_SCHEMA,
    )

    def cfg(use_bloom, max_rounds):
        return CrawlConfig(max_levels=10, max_rounds=max_rounds,
                           use_bloom=use_bloom, compact_every=None)

    ck = str(tmp_path / "ck")
    bloom = CrawlDriver(spark, pages, None, cfg(True, 8), ck)
    bloom.start(seeds)
    bloom.run_round(0)
    bloom.run_round(1)
    CrawlDriver(spark, pages, None, cfg(False, 3), ck).resume()
    assert bloom.store.latest_meta()["seen_filter_format"] is None
    mixed = CrawlDriver(spark, pages, None, cfg(True, 8), ck)
    mixed.resume()
    assert mixed.store.latest_meta()["seen_filter_format"] == (
        mixed.bloom.format)

    full = CrawlDriver(spark, pages, None, cfg(True, 8),
                       str(tmp_path / "full"))
    full.run(seeds)

    def fetches(drv):
        return sorted(r.url for r in drv.fetch_log().filter("ok").collect())

    assert fetches(mixed) == fetches(full) == [
        f"https://s.test/{p}" for p in "abcd"]


def test_time_travel_read_at(spark, tmp_path):
    """Iceberg VERSION-AS-OF analog: every finalized snapshot carries a
    per-version pointer copy, so read_at() reproduces any still-on-disk
    snapshot's view — url_seen grows monotonically across versions, and
    the frontier at an old version is the OLD frontier, not the latest."""
    drv = CrawlDriver(
        spark,
        corpus.tiny_pages(spark),
        None,
        CrawlConfig(max_levels=3, max_rounds=8, host_budget=2, compact_every=None),
        str(tmp_path / "ck"),
    )
    drv.run(corpus.tiny_seeds(spark))
    store = drv.store
    snaps = store.snapshots()
    assert len(snaps) >= 3
    assert snaps[-1] == store.latest_version()

    seen_counts = [
        store.read_at(spark, "url_seen", v).count() for v in snaps
    ]
    assert seen_counts == sorted(seen_counts)       # append-only log grows
    assert seen_counts[0] < seen_counts[-1]
    # latest-version time travel == the live read
    assert seen_counts[-1] == store.read(spark, "url_seen").count()

    # the frontier at the first snapshot is the seed set, not the (empty
    # or advanced) latest frontier
    f0 = store.read_at(spark, "frontier", snaps[0]).count()
    assert f0 == corpus.tiny_seeds(spark).count()

    # a never-finalized version raises
    import pytest

    with pytest.raises(FileNotFoundError):
        store.read_at(spark, "url_seen", snaps[-1] + 100)

    # gc() bounds history: old unreferenced snapshots stop being listed
    store.compact(spark)
    store.gc(keep_last=0)
    assert set(store.snapshots()).issubset(set(snaps) | {snaps[-1] + 1, snaps[-1] + 2})
    assert store.latest_version() in store.snapshots()


def test_driver_views_time_travel(spark, tmp_path):
    """results()/seen_set() accept a snapshot version — an old snapshot
    shows strictly less crawl progress than the live view."""
    drv = CrawlDriver(
        spark,
        corpus.tiny_pages(spark),
        None,
        CrawlConfig(max_levels=3, max_rounds=8, host_budget=2, compact_every=None),
        str(tmp_path / "ck"),
    )
    drv.run(corpus.tiny_seeds(spark))
    v0 = drv.store.snapshots()[0]   # the seed bootstrap commit
    assert drv.results(version=drv.store.latest_version()).count() == drv.results().count()
    assert drv.seen_set(version=v0).count() <= drv.seen_set().count()
    # at the bootstrap snapshot nothing is completed yet; live view has all
    assert drv.current_status(version=v0).filter("status = 'completed'").count() == 0
    assert drv.current_status().filter("status = 'completed'").count() > 0


def test_unfinalized_staging_is_invisible(spark, tmp_path):
    """Crash atomicity: a staging that wrote tables but never finalized
    (mid-round crash) must be invisible — the pointer still serves the
    previous snapshot, snapshots() excludes the orphan, and the next
    begin() reuses and clears the version."""
    drv = CrawlDriver(
        spark,
        corpus.tiny_pages(spark),
        None,
        CrawlConfig(max_levels=2, max_rounds=2, host_budget=2),
        str(tmp_path / "ck"),
    )
    drv.run(corpus.tiny_seeds(spark))
    store = drv.store
    v_committed = store.latest_version()
    seen_before = store.read(spark, "url_seen").count()

    # simulate a crash: stage a write, never finalize
    staging = store.begin()
    staging.write_append(
        "url_seen",
        store.read(spark, "url_seen").limit(1),
    )
    orphan_v = staging.version
    assert store._version_dir(orphan_v).exists()

    # a fresh store (new process) sees only the committed state
    fresh = CheckpointStore(str(tmp_path / "ck"))
    assert fresh.latest_version() == v_committed
    assert fresh.read(spark, "url_seen").count() == seen_before
    assert orphan_v not in fresh.snapshots()

    # the next commit reuses the orphan version number cleanly
    s2 = fresh.begin()
    assert s2.version == orphan_v
    s2.write_append("url_seen", fresh.read(spark, "url_seen").limit(1))
    s2.finalize({})
    assert fresh.latest_version() == orphan_v
    assert fresh.read(spark, "url_seen").count() == seen_before + 1
