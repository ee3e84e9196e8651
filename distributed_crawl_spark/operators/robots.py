"""Robots gate (north-rule addition — absent in the reference, SURVEY.md §2.6 J4).

The robots table is (host, robots_txt). Frontier rows join it on ``host``
— broadcast when small, shuffle otherwise — then ONE vectorized pandas
UDF returns each row's verdict, ``struct(ok, delay_s)``: the
``urllib.robotparser`` allow decision and the host's Crawl-delay. Both
fields come from the same parsed RobotFileParser, cached per distinct
robots text in the Python worker (:func:`parsed_robots`); the
crawl-delay and sitemap UDFs share that cache, so a text is parsed once
per worker however many rows and UDFs read it.

NULL / empty robots_txt → allow-all (the crawler's conventional default
for missing robots.txt).
"""

from __future__ import annotations

from functools import lru_cache
from urllib import robotparser

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                               StringType, StructField, StructType)

USER_AGENT = "*"

VERDICT_TYPE = StructType([
    StructField("ok", BooleanType()),
    StructField("delay_s", DoubleType()),
])


def parsed_robots(txt) -> robotparser.RobotFileParser | None:
    """The parsed RobotFileParser for one robots text, None for a
    NULL / blank text (allow-all, no Crawl-delay)."""
    if txt is None or not str(txt).strip():
        return None
    return _parse(str(txt))


@lru_cache(maxsize=4096)
def _parse(txt: str) -> robotparser.RobotFileParser:
    # keyed by the text itself, so a cached parse can never go stale
    rp = robotparser.RobotFileParser()
    rp.parse(txt.splitlines())
    return rp


def _delay(rp: robotparser.RobotFileParser | None) -> float | None:
    d = rp.crawl_delay(USER_AGENT) if rp is not None else None
    return float(d) if d is not None else None


@pandas_udf(DoubleType())
def robots_crawl_delay_udf(robots_txt: pd.Series) -> pd.Series:
    """Crawl-delay seconds for USER_AGENT, NULL when unspecified."""
    return pd.Series(
        [_delay(parsed_robots(t)) for t in robots_txt], dtype="float64"
    )


@pandas_udf(VERDICT_TYPE)
def robots_verdict_udf(url: pd.Series, robots_txt: pd.Series) -> pd.DataFrame:
    """Per-row ``struct(ok, delay_s)``: the allow decision for ``url``
    and the host's Crawl-delay (NULL when unspecified)."""
    ok, delay = [], []
    for u, t in zip(url, robots_txt):
        rp = parsed_robots(t)
        ok.append(rp is None or rp.can_fetch(USER_AGENT, u))
        delay.append(_delay(rp))
    return pd.DataFrame({
        "ok": pd.Series(ok, dtype=bool),
        "delay_s": pd.Series(delay, dtype="float64"),
    })


def gate_verdicts(
    frontier: DataFrame, robots: DataFrame, broadcast_robots: bool = True
) -> DataFrame:
    """``frontier`` plus ``robots_ok`` and ``delay_s`` from one UDF pass.
    ``robots`` has columns (host, robots_txt); hosts absent from it are
    allowed with no Crawl-delay. The driver stages this once per round;
    its allowed/denied sides are filters of the staged table and its
    ``delay_s`` feeds :func:`crawl_delay_budget`."""
    r = robots.select("host", "robots_txt")
    if broadcast_robots:
        r = F.broadcast(r)
    v = robots_verdict_udf(F.col("url"), F.col("robots_txt"))
    return (
        frontier.join(r, "host", "left")
        .withColumn("__v", v)
        .select(*frontier.columns,
                F.col("__v.ok").alias("robots_ok"),
                F.col("__v.delay_s").alias("delay_s"))
    )


def crawl_delay_budget(
    delay_s: Column, round_seconds: float,
    default_budget: int | None = None,
    round_no: int | None = None,
) -> Column:
    """Per-host politeness budget honoring a Crawl-delay of ``delay_s``
    seconds; NULL where the delay is NULL or not positive (the default
    budget applies). A host demanding one request per D seconds gets
    ``floor(round_seconds / D)`` slots per round — the batch analog of
    inter-request spacing (rounds model a wall-clock window of
    ``round_seconds``; the reference has no robots support at all, and a
    real-time sleep is meaningless in set-at-a-time execution).

    Delays LONGER than the round window are spread ACROSS rounds when
    ``round_no`` is given (the driver passes it): such a host gets one
    slot every ``ceil(D / round_seconds)`` rounds — budget 0 on its
    off-rounds — with a per-host hash phase (of column ``host``) so
    long-delay hosts don't all fire on the same round.
    Without ``round_no`` (window-only callers) the budget floors at
    1/round, which OVERSHOOTS robots by up to D/round_seconds for those
    hosts — the documented politeness lower bound of the stateless form,
    not the driver behavior. ``default_budget`` caps the result.
    """
    rs = F.lit(float(round_seconds))
    within = F.greatest(
        F.lit(1).cast("long"), F.floor(rs / delay_s).cast("long")
    )
    if round_no is None:
        budget = within
    else:
        period = F.ceil(delay_s / rs).cast("long")
        phase = F.pmod(F.xxhash64("host"), period)
        on_round = F.pmod(F.lit(round_no) + phase, period) == 0
        budget = F.when(delay_s <= rs, within).otherwise(
            F.when(on_round, F.lit(1)).otherwise(F.lit(0)).cast("long")
        )
    if default_budget is not None:  # never exceed the global cap
        budget = F.least(budget, F.lit(default_budget).cast("long"))
    return F.when(delay_s > 0, budget)


def crawl_delay_budgets(
    robots: DataFrame, round_seconds: float,
    default_budget: int | None = None,
    round_no: int | None = None,
) -> DataFrame:
    """(host, budget) from the robots table — :func:`crawl_delay_budget`
    per host. Hosts without a positive Crawl-delay are omitted, so the
    default budget applies to them. Tiny output (≤ #hosts in the robots
    table): always broadcastable.
    """
    d = robots.select(
        "host", robots_crawl_delay_udf(F.col("robots_txt")).alias("delay_s")
    )
    b = crawl_delay_budget(F.col("delay_s"), round_seconds,
                           default_budget, round_no)
    return d.select("host", b.alias("budget")).filter(
        F.col("budget").isNotNull()
    )


@pandas_udf(ArrayType(StringType()))
def robots_sitemaps_udf(robots_txt: pd.Series) -> pd.Series:
    """``Sitemap:`` directive URLs per robots.txt (empty array when
    none)."""
    def maps(txt) -> list[str]:
        rp = parsed_robots(txt)
        return list(rp.site_maps() or []) if rp is not None else []

    return pd.Series([maps(t) for t in robots_txt])


def sitemap_seeds(robots: DataFrame) -> DataFrame:
    """Sitemap discovery: (host, sitemap_url) for every ``Sitemap:``
    directive in the robots table — the standard seed-expansion channel
    a production crawler follows after fetching robots.txt (the
    reference has no robots support at all; SURVEY.md §2.6 J4 is this
    engine's north-rule extension, and sitemaps ride the same parsed
    artifact for free). Output is distinct and http(s)-only, sized by
    the robots table (≤ a few URLs per host) — feed it to
    ``CrawlDriver.add_seeds`` to enqueue discovered sitemaps through
    the normal seen-filter/politeness path.

    One Arrow pass over robots_txt (already host-partitioned, cache-hot)
    + a map-combinable distinct — no new shuffle shape.
    """
    return (
        robots.select(
            "host",
            F.explode(robots_sitemaps_udf(F.col("robots_txt")))
            .alias("sitemap_url"),
        )
        .filter(
            F.col("sitemap_url").startswith("http://")
            | F.col("sitemap_url").startswith("https://")
        )
        .distinct()
    )


def sitemap_entries(pages: DataFrame, url_col: str = "url",
                    html_col: str = "html") -> DataFrame:
    """Parse fetched sitemap XML bodies (sitemaps.org protocol) into
    entries — the second half of the sitemap seed channel
    (:func:`sitemap_seeds` discovers sitemap URLs from robots.txt; the
    crawl fetches them like any page; this operator turns the fetched
    bodies into crawl seeds or further sitemap fetches).

    100% JVM-side (no Python, no UDF): utf-8 decode →
    ``regexp_extract_all('<loc>…</loc>')`` → posexplode. ``kind``
    distinguishes ``<sitemapindex>`` docs (entries are MORE sitemaps —
    enqueue for another fetch round) from ``<urlset>`` docs (entries are
    page seeds — feed ``CrawlDriver.add_seeds``). Pure projection at
    scan speed; entry counts are bounded by the protocol itself
    (50k locs / 50 MB per sitemap file).

    Returns (sitemap_url, kind, url, pos) with pos the 0-based document
    order (the protocol's priority hint order).
    """
    body = F.decode(F.col(html_col), "utf-8")
    locs = F.regexp_extract_all(
        body, F.lit(r"<loc>\s*([^<]+?)\s*</loc>"), F.lit(1)
    )
    kind = F.when(
        body.contains("<sitemapindex"), F.lit("sitemap")
    ).otherwise(F.lit("url"))
    return pages.select(
        F.col(url_col).alias("sitemap_url"),
        kind.alias("kind"),
        F.posexplode(locs).alias("pos", "url"),
    ).select("sitemap_url", "kind", "url", F.col("pos").cast("long").alias("pos"))


def sitemap_url_entries(pages: DataFrame, url_col: str = "url",
                        html_col: str = "html") -> DataFrame:
    """Full ``<url>``-block sitemap parse: per entry, ``loc`` plus the
    protocol's recrawl-scheduling hints — ``lastmod`` (W3C date) and
    ``priority`` (0.0–1.0, returned floor-scaled as ``priority_milli``
    so downstream ordering is integer-exact). The lastmod stream is the
    natural driver for recrawl TTLs: join it against the store's last
    fetch timestamp and re-enqueue only entries whose lastmod moved —
    sitemap-driven freshness instead of blind re-fetch.

    Same execution shape as :func:`sitemap_entries` (which stays the
    loc-only fast path for plain seed import): utf-8 decode → DOTALL
    ``regexp_extract_all`` of the ``<url>`` blocks → posexplode → three
    per-block regexp projections. 100% JVM-side, scan-speed, and
    dialect-portable (RE2 and Java agree on the explicit patterns).

    Returns (sitemap_url, url, lastmod DATE?, priority_milli BIGINT?,
    pos) — absent hints are NULL, entries outside <url> blocks are not
    emitted (the protocol requires the wrapper).
    """
    body = F.decode(F.col(html_col), "utf-8")
    blocks = F.regexp_extract_all(
        body, F.lit(r"(?s)<url>(.*?)</url>"), F.lit(1)
    )
    out = pages.select(
        F.col(url_col).alias("sitemap_url"),
        F.posexplode(blocks).alias("pos", "block"),
    )
    b = F.col("block")
    loc = F.regexp_extract(b, r"<loc>\s*([^<]+?)\s*</loc>", 1)
    lastmod = F.regexp_extract(b, r"<lastmod>\s*([^<]+?)\s*</lastmod>", 1)
    prio = F.regexp_extract(b, r"<priority>\s*([^<]+?)\s*</priority>", 1)
    return out.select(
        "sitemap_url",
        loc.alias("url"),
        F.to_date(F.when(lastmod != "", F.substring(lastmod, 1, 10)))
        .alias("lastmod"),
        # round, not floor: '0.7' as a double is fractionally BELOW 0.7,
        # so floor(0.7*1000) would yield 699 — round recovers the
        # decimal the author wrote (no protocol value lands near .5)
        F.round(F.when(prio != "", prio).cast("double") * 1000)
        .cast("long").alias("priority_milli"),
        F.col("pos").cast("long").alias("pos"),
    ).filter(F.col("url") != "")


def sitemap_coverage(sitemap_urls, fetched, host_col: str = "host",
                     url_col: str = "url"):
    """Sitemap-vs-crawl coverage audit: for each host, how much of what
    the site DECLARED (its sitemap URL set) the crawl actually fetched,
    and how much the crawl fetched that the sitemap never listed — the
    two numbers a crawl operator reads after a round to find hosts
    whose sitemaps are stale, blocked, or ignored (and hosts whose
    link-discovery is wandering off-map).

    Inputs: ``sitemap_urls`` (host, url) from :func:`parse_sitemap`;
    ``fetched`` (host, url) from the results/status table. Both sides
    are DISTINCT'd — a sitemap listing a URL twice or a refetch does
    not change coverage.

    Output per host: n_listed, n_fetched_listed, coverage_bp
    (``(10000·fetched_listed) DIV listed``), n_unlisted_fetched,
    ordered by host.

    Scale: two url-keyed distincts + one url-keyed LEFT SEMI and one
    LEFT ANTI join (co-partitioned on the same key, so AQE reuses the
    exchange) + |hosts|-bounded censuses. No exchange wider than the
    URL sets themselves — the same budget any frontier round already
    pays for its seen-probe.
    """
    from pyspark.sql import functions as F

    listed = sitemap_urls.select(
        F.col(host_col).alias("host"), F.col(url_col).alias("url")
    ).distinct()
    got = fetched.select(
        F.col(host_col).alias("host"), F.col(url_col).alias("url")
    ).distinct()
    n_listed = listed.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_listed")
    )
    hit = listed.join(got, ["host", "url"], "left_semi").groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetched_listed")
    )
    extra = got.join(listed, ["host", "url"], "left_anti").groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_unlisted_fetched")
    )
    return (
        n_listed.join(hit, "host", "left").join(extra, "host", "full")
        .select(
            "host",
            F.coalesce("n_listed", F.lit(0)).cast("long").alias("n_listed"),
            F.coalesce("n_fetched_listed", F.lit(0)).cast("long")
            .alias("n_fetched_listed"),
            F.expr("CAST((10000 * coalesce(n_fetched_listed, 0))"
                   " DIV greatest(coalesce(n_listed, 0), 1) AS BIGINT)")
            .alias("coverage_bp"),
            F.coalesce("n_unlisted_fetched", F.lit(0)).cast("long")
            .alias("n_unlisted_fetched"),
        )
        .orderBy("host")
    )


def robots_audit(fetched: DataFrame, robots: DataFrame,
                 host_col: str = "host", url_col: str = "url",
                 broadcast_robots: bool = True) -> DataFrame:
    """Robots-compliance audit of a FETCH LOG: which already-fetched
    URLs the host's robots.txt disallowed. Zero is the only acceptable
    number — anything above it means a gate bypass (a retry path that
    skipped the gate, a stale robots cache, an alias host) and names
    exactly where. The post-hoc twin of :func:`gate_verdicts` (which
    filters BEFORE fetching); both take the ``ok`` field of
    :func:`robots_verdict_udf`, so the audit disagrees with the gate
    only when the log really did.

    Output per host: n_fetched, n_denied, denied_bp (floor basis
    points), example_denied (min denied URL, NULL when clean), ordered
    by host.

    Scale: one broadcast join vs the (host, robots_txt) table (same
    broadcast the gate already pays; pass ``broadcast_robots=False``
    for a giant robots corpus), the gate's Arrow-batched verdict UDF, and
    one |hosts|-bounded census. Reference analog: the reference checks
    robots per-request at fetch time (crawler.py); an audit over the
    stored log has no analog there — engine extension.
    """
    r = robots.select(F.col(host_col).alias("host"), "robots_txt")
    if broadcast_robots:
        r = F.broadcast(r)
    flagged = (
        fetched.select(F.col(host_col).alias("host"),
                       F.col(url_col).alias("url"))
        .join(r, "host", "left")
        .withColumn(
            "__ok",
            robots_verdict_udf(F.col("url"), F.col("robots_txt"))["ok"],
        )
    )
    return (
        flagged.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fetched"),
            F.coalesce(F.sum((~F.col("__ok")).cast("int")), F.lit(0))
            .cast("long").alias("n_denied"),
            F.min(F.when(~F.col("__ok"), F.col("url")))
            .alias("example_denied"),
        )
        .select(
            "host", "n_fetched", "n_denied",
            F.expr("CAST((10000 * n_denied) DIV n_fetched AS BIGINT)")
            .alias("denied_bp"),
            "example_denied",
        )
        .orderBy("host")
    )
