"""Explicit StructTypes for the engine's input and state tables.

The reference is schemaless Python dicts (SURVEY.md §1); here every table
is a fixed-schema columnar relation. The ``pages`` schema is the driver's
input contract (BASELINE.json ``input_hint``): Common-Crawl-style pages
``(url, warc_ts, html, text, lang)``.

Reference shapes these formalize:
- frontier   ← ``pending_urls`` FIFO + ``CrawlStatus`` (run_crawl_local.py:27-39,68)
- round_metrics ← session counters (hybrid_crawler.py:71-78)
- seeds      ← CSV import (hybrid_crawler.py:204-293)

``url_seen``, ``crawl_results`` and the error log take their columns from
the round plans that write them (``streaming/driver.py``); no second copy
is kept here to drift from them.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- input contract -------------------------------------------------------

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# --- frontier state -------------------------------------------------------
# Priority contract (SURVEY.md §2.10): deterministic crawl order is the
# lexicographic sort (level, attempt, parent_seq, link_pos). ``seq`` is a
# sparse monotone key derived from (parent_seq, link_pos) — dense global
# ordering is never materialized at scale (that would be a single-partition
# sort); it is only an ORDER BY inside per-host windows.

FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),  # raw form = dedup key (F6/D2)
        StructField("host", StringType(), True),
        StructField("level", IntegerType(), False),
        StructField("attempt", IntegerType(), False),
        StructField("parent_url", StringType(), True),
        StructField("parent_seq", LongType(), False),
        StructField("link_pos", IntegerType(), False),
        StructField("seq", LongType(), False),
        StructField("discovered_round", IntegerType(), False),
    ]
)

ROUND_METRICS_SCHEMA = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("urls_seen", LongType(), False),
        StructField("fetched", LongType(), False),
        StructField("failed", LongType(), False),
        StructField("deduped", LongType(), False),
        StructField("deferred_by_politeness", LongType(), False),
        StructField("robots_denied", LongType(), False),
        StructField("geo_blocked_skipped", LongType(), False),
        StructField("new_frontier", LongType(), False),
        # dup-content rows withheld from the crawl_results append (D3
        # storage parity; 0 unless CrawlConfig.content_dedup and in
        # histories written before round 4)
        StructField("content_deduped", LongType(), False),
        # noindex pages withheld from storage (0 unless honor_noindex and
        # in histories written before round 4)
        StructField("noindex_skipped", LongType(), False),
        StructField("seconds", DoubleType(), False),  # round wall time (A6)
        # next-frontier size from the same Observations (drain check runs
        # no count job); 0 in histories written before round 3
        StructField("frontier_size", LongType(), False),
    ]
)

SEEDS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("seq", LongType(), False),
        StructField("unique_id", StringType(), True),
    ]
)

ROBOTS_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("robots_txt", StringType(), True),
        StructField("crawl_delay", StringType(), True),
    ]
)
