"""One crawl round as declarative DataFrame plans (SURVEY.md §4.3).

    frontier ── robots gate ── politeness window ── fetch join(pages)
        │                                               │
        │                              ┌── ok ──► results append
        │                              │            └─ posexplode(links)
        │                              │                 → filter F1/F4
        │                              │                 → batch dedup (min priority wins)
        │                              │                 → seen filter (bloom + anti-join)
        │                              │                 → children
        │                              └── miss ─► retry (attempt+1) / failed
        └── deferred ───────────────────────────────► next frontier ∪ retry ∪ children

Each stage is a pure DataFrame→DataFrame function so Catalyst sees one
logical plan per materialization point; the driver (streaming/driver.py)
decides where to cut lineage via checkpoint writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions import url as U
from ..schema import FRONTIER_SCHEMA

FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """Level-0 frontier from a seeds table (url, seq). Mirrors
    ``add_urls(initial_urls, level=0)`` (run_crawl_local.py:262): invalid
    URLs are kept out up front (utils.py:23-29 would fail them at fetch)."""
    return (
        seeds.filter(U.is_valid_url(F.col("url")))
        .select(
            "url",
            U.url_host(F.col("url")).alias("host"),
            F.lit(0).alias("level"),
            F.lit(0).alias("attempt"),
            F.lit(None).cast("string").alias("parent_url"),
            F.lit(0).cast("long").alias("parent_seq"),
            F.lit(0).alias("link_pos"),
            F.col("seq").cast("long").alias("seq"),
            F.lit(0).alias("discovered_round"),
        )
        # a seed list may itself repeat a URL — first occurrence wins (F6)
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("url").orderBy("seq")),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def child_candidates(
    fetched_ok: DataFrame, cfg: CrawlConfig, round_no: int, observation=None,
    param_drops: DataFrame | None = None,
) -> DataFrame:
    """Extracted links → next-level frontier candidates.

    Link extraction only happens while ``level < max_levels - 1``
    (run_crawl_local.py:178,228-232). Child ``seq`` =
    ``parent_seq * (max_links+1) + pos + 1`` — lexicographically consistent
    with (parent_seq, link_pos), collision-free within a level, and
    overflow-safe to ~12 levels at 10^10 seeds (documented bound).

    Within-batch dedup: the same URL discovered by two parents keeps the
    lowest (level, attempt, seq) row — the reference's first-enqueuer-wins
    (run_crawl_local.py:165). Implemented as a min_by aggregation, not a
    global window: it shuffles by url exactly once, and that shuffle is
    shared with the downstream anti-join partitioning.
    """
    stride = cfg.max_links + 1

    parents = fetched_ok.filter(F.col("level") < cfg.max_levels - 1)
    if cfg.focused_topic:
        # Focused mode (shark-search, engine extension): re-rank each
        # parent's already-capped link list by inbound-anchor topic
        # relevance BEFORE link_pos is assigned — the seq formula below
        # is untouched, so ordering stays deterministic/collision-free
        # and first-enqueuer-wins still applies; only the order in which
        # a parent endorses its own children changes. Relevance is the
        # same integer contract as graph.focused_scores; ties keep
        # document order. Zero extra shuffle: an array_sort per row.
        from ..functions.dedup import tokens

        topic_arr = F.array(
            *[F.lit(t) for t in dict.fromkeys(cfg.focused_topic)]
        )

        def _rel(u):
            return F.aggregate(
                F.filter(
                    F.col("anchors"), lambda p: p["target_url"] == u
                ),
                F.lit(0),
                lambda acc, p: acc + F.size(
                    F.array_intersect(tokens(p["anchor"]), topic_arr)
                ),
            )

        ranked = F.array_sort(
            F.transform(
                F.col("extracted_links"),
                lambda u, i: F.struct(
                    (-_rel(u)).alias("neg_rel"),
                    i.alias("doc_pos"),
                    u.alias("u"),
                ),
            )
        )
        links = parents.select(
            F.col("url").alias("parent_url"),
            F.col("seq").alias("parent_seq"),
            F.col("level").alias("parent_level"),
            F.posexplode(ranked).alias("link_pos", "_lk"),
        ).withColumn("url", F.col("_lk.u")).drop("_lk")
    else:
        links = parents.select(
            F.col("url").alias("parent_url"),
            F.col("seq").alias("parent_seq"),
            F.col("level").alias("parent_level"),
            F.posexplode("extracted_links").alias("link_pos", "url"),
        )

    links = links.filter(U.is_valid_url(F.col("url")))
    if cfg.strip_tracking:
        # canonicalize BEFORE batch-dedup/seen-filter so campaign
        # variants collapse to one frontier entry (engine extension;
        # off by default for the reference's raw-string parity)
        links = links.withColumn(
            "url", U.strip_tracking_params(F.col("url"))
        )
    if param_drops is not None:
        # learned DUST rewrite (config.strip_params_path): drop each
        # host's content-proven strippable params and sort survivors —
        # same timing as strip_tracking (before batch-dedup/seen);
        # hosts absent from the learned table pass through untouched.
        # |hosts|-row broadcast join, zero link-side shuffle.
        from ..functions.pagehealth import canonical_with_drops

        links = (
            links.withColumn("__ph", U.url_host(F.col("url")))
            .join(
                F.broadcast(
                    param_drops.select(
                        F.col("host").alias("__ph"), "drop_set"
                    )
                ),
                "__ph",
                "left",
            )
            .withColumn(
                "url",
                canonical_with_drops(F.col("url"), F.col("drop_set")),
            )
            .drop("__ph", "drop_set")
        )
    if cfg.block_extensions:
        links = links.filter(~U.has_blocked_extension(F.col("url")))
    if cfg.drop_traps:
        # Mercator-style frontier hygiene (engine extension, off by
        # default for reference parity): drop trap-shaped children
        # (repeated path segments, param explosions, unbounded paths)
        # BEFORE batch-dedup/seen-filter so a trap site never reaches
        # its host's politeness budget
        links = links.filter(~U.is_trap(F.col("url")))
    if cfg.block_domains:
        # closed-form suffix-match blocklist (engine extension): a
        # blocked registrable domain blocks all its subdomains; a
        # UT1-scale list belongs in url.blocklist_filter instead
        host = U.url_host(F.col("url"))
        blocked = F.lit(False)
        for d in cfg.block_domains:
            blocked = blocked | (host == d.lower()) | host.endswith(
                "." + d.lower()
            )
        links = links.filter(~blocked)
    if cfg.allowed_domains:
        links = links.filter(
            U.url_netloc(F.col("url")).isin(*cfg.allowed_domains)
        )
    if cfg.same_domain_only:  # F5 (webcrawleranalyzer.py:181-183)
        links = links.filter(
            U.url_host(F.col("url")) == U.url_host(F.col("parent_url"))
        )

    cand = links.select(
        "url",
        U.url_host(F.col("url")).alias("host"),
        (F.col("parent_level") + 1).alias("level"),
        F.lit(0).alias("attempt"),
        "parent_url",
        "parent_seq",
        "link_pos",
        (F.col("parent_seq") * stride + F.col("link_pos") + 1).alias("seq"),
        F.lit(round_no + 1).alias("discovered_round"),
    )

    if observation is not None:
        # pre-dedup census rides the downstream action for free (the
        # ``deduped`` lineage counter = n_candidates - new_frontier rows)
        cand = cand.observe(observation, F.count(F.lit(1)).alias("n_candidates"))

    # first-enqueuer-wins batch dedup
    rest = [c for c in FRONTIER_COLS if c != "url"]
    return (
        cand.groupBy("url")
        .agg(F.min_by(F.struct(*rest), F.struct("level", "attempt", "seq")).alias("w"))
        .select("url", *[F.col(f"w.{c}").alias(c) for c in rest])
    )
