"""Fetch = join against the pages table, then extract.

The reference's network fetch (hybrid_crawler.py:322-392 local,
webcrawleranalyzer.py:68-153 Lambda) is reified as an equi join of the
round's selected frontier slice against the Common-Crawl-style pages
table on ``url`` (SURVEY.md §2.1 S4/S5, §2.6 J3): a hit is an HTTP 200
with (html, text, warc_ts); a miss is a 404 that flows into the retry
path (run_crawl_local.py:240-250 semantics).

**Join strategy — the single most scale-critical choice in the engine.**
A plain ``selected LEFT JOIN pages`` shuffles BOTH sides by url — i.e.
re-shuffles the entire pages table including the fat ``html`` binary
column every round. The politeness budget makes the round slice small
relative to the corpus by construction, so the default strategy broadcasts
the slice and STREAMS pages in place:

    hits   = pages ⋈ broadcast(selected)          -- inner, no pages shuffle
    misses = selected ⟕̸ hits.urls                 -- tiny anti-join → 404s

``html`` bytes then never cross a shuffle boundary: they go straight from
the columnar scan into the one Arrow exchange of the extract UDF, and only
for matched rows. On a full 10^10 cluster where even a round slice is too
big to broadcast, set ``strategy='shuffle'`` and co-bucket the pages table
and the frontier by ``bucket(url)`` in Iceberg so the join is storage-
colocated (zero-shuffle again); the broadcast path is the right default
everywhere below that.

Extraction result columns follow the Lambda response contract
(webcrawleranalyzer.py:667-685): md_hash, last_modified, content_length,
status_code, extracted_links, plus slug/filename (hybrid_crawler.py:295-311)
and the geo-block tag (hybrid_crawler.py:317-320).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import url as U
from ..functions.text import ANCHOR_PAIR_TYPE, make_extract_udf

# SQL type string for the captured (target_url, anchor) pair column —
# used to type the empty-array fallback on miss rows.
_ANCHORS_SQL = ANCHOR_PAIR_TYPE.simpleString()


def _with_extract_columns(
    joined: DataFrame, max_links: int | None, extract_links: bool,
    extract_mode: str = "basic", with_anchors: bool = False,
    honor_nofollow: bool = False, with_meta: bool = False,
) -> DataFrame:
    extract = make_extract_udf(
        max_links=max_links if extract_links else 0, mode=extract_mode,
        with_anchors=with_anchors, honor_nofollow=honor_nofollow,
        with_meta=with_meta,
    )
    ex = (
        joined.withColumn(
            "ex",
            F.when(F.col("html").isNotNull(), extract(F.col("url"), F.col("html"))),
        )
        .drop("html")
        .withColumn("ok", F.coalesce(F.col("page_hit"), F.lit(False)))
        .drop("page_hit")
    )
    text = F.col("ex.text")
    return (
        ex.withColumn("status_code", F.when(F.col("ok"), 200).otherwise(404))
        .withColumn("text", text)
        .withColumn("md_hash", F.when(F.col("ok"), U.content_hash(text)))
        .withColumn("page_slug", U.page_slug(F.col("url")))
        .withColumn(
            "filename",
            U.enhanced_filename(F.lit(None).cast("string"),
                                F.col("md_hash"), F.col("page_slug")),
        )
        .withColumn("content_length", F.length(text).cast("long"))
        .withColumn(
            "extracted_links",
            F.when(F.lit(extract_links), F.col("ex.links")).otherwise(
                F.array().cast("array<string>")
            ),
        )
        .withColumn("geo_blocked", U.is_geo_blocked(text))
        # R3 parity tag: geo-blocked content kept from the local fetch
        # (hybrid_crawler.py:625-639 keeps it tagged when the fallback
        # path is unavailable)
        .withColumn(
            "method",
            F.when(F.coalesce(F.col("geo_blocked"), F.lit(False)),
                   F.lit("local_geo_blocked")).otherwise(F.lit("pages_table_join")),
        )
        .withColumns(
            {
                "anchors": F.coalesce(
                    F.col("ex.anchors"),
                    F.array().cast(_ANCHORS_SQL),
                )
            }
            if with_anchors
            else {}
        )
        .withColumns(
            {
                "meta_robots": F.col("ex.meta_robots"),
                "canonical_url": F.col("ex.canonical_url"),
            }
            if with_meta
            else {}
        )
        .drop("ex")
    )


def fetch_hits(
    selected: DataFrame,
    pages: DataFrame,
    max_links: int | None = 10,
    extract_links: bool = True,
    strategy: str = "broadcast",
    extract_mode: str = "basic",
    with_anchors: bool = False,
    honor_nofollow: bool = False,
    with_meta: bool = False,
) -> DataFrame:
    """Fetch+extract for the HIT rows only (page found): selected frontier
    columns + ok=true, status_code, text, md_hash, page_slug, filename,
    content_length, last_modified, extracted_links, geo_blocked, method
    (+ ``anchors`` — the page's (target_url, anchor) pairs — when
    ``with_anchors``; captured in the SAME Arrow pass as text/links, so
    in-crawl anchor capture never re-exchanges html).

    Misses are NOT in the output — derive them with :func:`fetch_misses`
    against the materialized result (the driver writes hits first, making
    the miss anti-join a cheap parquet-vs-parquet join).
    """
    page_side = _page_side(pages)
    if strategy == "broadcast":
        joined = page_side.join(F.broadcast(selected), "url", "inner")
    else:
        joined = selected.join(page_side, "url", "inner")
    return _with_extract_columns(joined, max_links, extract_links, extract_mode,
                                 with_anchors, honor_nofollow, with_meta)


def fetch_misses(selected: DataFrame, hit_urls: DataFrame) -> DataFrame:
    """Selected rows whose url has no page: status 404, no content.
    Column set matches :func:`fetch_hits` so the two union cleanly."""
    missed = selected.join(hit_urls.select("url"), "url", "left_anti")
    null_s = F.lit(None).cast("string")
    return (
        missed.withColumn("last_modified", F.lit(None).cast("timestamp"))
        .withColumn("ok", F.lit(False))
        .withColumn("status_code", F.lit(404))
        .withColumn("text", null_s)
        .withColumn("md_hash", null_s)
        .withColumn("page_slug", U.page_slug(F.col("url")))
        .withColumn("filename", null_s)
        .withColumn("content_length", F.lit(None).cast("long"))
        .withColumn("extracted_links", F.array().cast("array<string>"))
        .withColumn("geo_blocked", F.lit(None).cast("boolean"))
        .withColumn("method", F.lit("pages_table_join"))
    )


def fetch_and_extract(selected: DataFrame, pages: DataFrame,
                      max_links: int | None = 10) -> DataFrame:
    """One-shot hits+misses as one ``selected LEFT JOIN pages``, for
    single-pass queries; the round driver uses fetch_hits/fetch_misses
    with a materialization in between instead."""
    joined = selected.join(_page_side(pages), "url", "left")
    return _with_extract_columns(joined, max_links, True)


def _page_side(pages: DataFrame) -> DataFrame:
    return pages.select(
        "url",
        F.col("warc_ts").alias("last_modified"),
        "html",
        F.lit(True).alias("page_hit"),
    )
