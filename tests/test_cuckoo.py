"""Cuckoo-filter seen layer: no false negatives, deletability, and
drop-in parity with the Bloom path inside filter_unseen."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_crawl_spark.operators.cuckoo import CuckooSeenFilter
from distributed_crawl_spark.operators.seen import filter_unseen


def _urls_df(spark, urls, extra=False):
    if extra:
        return spark.createDataFrame([(u, i) for i, u in enumerate(urls)], ["url", "seq"])
    return spark.createDataFrame([(u,) for u in urls], ["url"])


def test_cuckoo_no_false_negatives(spark):
    cf = CuckooSeenFilter(n_partitions=4, m_buckets=1 << 10)
    urls = [f"https://h{i % 5}.test/p/{i}" for i in range(2000)]
    state = cf.insert(cf.empty_state(spark), _urls_df(spark, urls))
    probed = cf.probe(state, _urls_df(spark, urls))
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_low_false_positive(spark):
    cf = CuckooSeenFilter(n_partitions=4, m_buckets=1 << 12)
    seen = [f"https://a.test/{i}" for i in range(2000)]
    fresh = [f"https://b.test/{i}" for i in range(2000)]
    state = cf.insert(cf.empty_state(spark), _urls_df(spark, seen))
    fp = cf.probe(state, _urls_df(spark, fresh)).filter(F.col("maybe_seen")).count()
    assert fp < 40  # 16-bit fingerprints → fp ~ 2*4/65535 per probe


def test_cuckoo_delete_restores_unseen(spark):
    """The capability Bloom lacks: deleting re-opens a URL for recrawl."""
    cf = CuckooSeenFilter(n_partitions=2, m_buckets=1 << 8)
    urls = [f"https://x.test/{i}" for i in range(50)]
    state = cf.insert(cf.empty_state(spark), _urls_df(spark, urls))
    gone = urls[:10]
    state2 = cf.delete(state, _urls_df(spark, gone))
    probed = {r.url: r.maybe_seen for r in cf.probe(state2, _urls_df(spark, urls)).collect()}
    assert all(not probed[u] for u in gone)          # reopened
    assert all(probed[u] for u in urls[10:])         # rest intact
    n = state2.agg(F.sum("n_inserted")).collect()[0][0]
    assert n == 40


def test_cuckoo_drop_in_for_bloom_in_filter_unseen(spark):
    cf = CuckooSeenFilter(n_partitions=2, m_buckets=1 << 10)
    seen_urls = [f"https://s.test/{i}" for i in range(300)]
    cand_urls = [f"https://s.test/{i}" for i in range(200, 500)]
    seen = _urls_df(spark, seen_urls)
    cands = _urls_df(spark, cand_urls, extra=True)
    state = cf.insert(cf.empty_state(spark), seen)
    exact = {r.url for r in filter_unseen(cands, seen).collect()}
    got = {r.url for r in filter_unseen(cands, seen, cf, state).collect()}
    assert got == exact == {f"https://s.test/{i}" for i in range(300, 500)}


def test_cuckoo_colliding_keys_each_own_a_copy():
    """Two keys with equal (fingerprint, bucket) each store a copy, so
    deleting one leaves the other present."""
    import numpy as np

    from distributed_crawl_spark.operators.cuckoo import SLOTS

    cf = CuckooSeenFilter(n_partitions=1, m_buckets=1 << 4)
    table = np.zeros(cf.m_buckets * SLOTS, dtype=np.uint16)
    fp = np.array([7, 7], dtype=np.uint64)
    i1 = np.array([3, 3], dtype=np.int64)
    cf._insert_np(table, fp, i1, 0)
    assert int((table == 7).sum()) == 2
    assert cf._delete_np(table, fp[:1], i1[:1]) == 1
    assert cf._contains_np(table, fp[:1], i1[:1]).all()
