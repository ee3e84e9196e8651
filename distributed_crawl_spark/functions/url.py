"""URL kernel — native Spark SQL expressions reproducing the reference's
string/hash semantics exactly (SURVEY.md §2.3/§2.4).

Everything here is a Column-builder over built-in functions: zero Python
in the executor hot path, full whole-stage codegen. Each function's
docstring cites the reference behavior it reproduces.

Reference parity notes:
- ``netloc`` follows ``urllib.parse.urlparse`` (includes port/userinfo),
  NOT Spark's ``parse_url(url,'HOST')`` (host only) — the slug kernel
  needs urlparse semantics byte-for-byte.
- Python ``str.replace('www.','')`` replaces ALL occurrences, so the slug
  domain step uses a global regexp_replace, not a prefix strip.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Blocked download extensions — utils.py:50-52 (reference filter_urls).
_BLOCKED_EXT_RE = r"\.(pdf|doc|docx|xls|xlsx|zip|rar|exe|dmg|pkg)$"

# Geo-block trigger phrases — hybrid_crawler.py:59-68 (verbatim, lowercased
# substring match against lowercased content).
GEO_BLOCK_PHRASES = [
    "your location not permitted",
    "not available in your region",
    "geo-blocked",
    "location not supported",
    "access denied from your location",
    "content not available in your country",
    "vpn detected",
    "proxy detected",
]

_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://"
_NETLOC_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)"
_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)"


def url_scheme(url: Column) -> Column:
    """Scheme per urlparse ('' when URL has no ``scheme://``)."""
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def _has_scheme(url: Column) -> Column:
    return url.rlike(_SCHEME_RE)


def url_netloc(url: Column) -> Column:
    """urlparse().netloc — host[:port], userinfo included, '' if absent
    (scheme-less strings have no netloc per urlparse)."""
    return F.when(_has_scheme(url), F.regexp_extract(url, _NETLOC_RE, 1)).otherwise(
        F.lit("")
    )


def url_path(url: Column) -> Column:
    """urlparse().path — everything between netloc and '?'/'#'; for
    scheme-less strings urlparse puts the whole prefix in .path."""
    return F.when(_has_scheme(url), F.regexp_extract(url, _PATH_RE, 1)).otherwise(
        F.regexp_extract(url, r"^([^?#]*)", 1)
    )


def url_host(url: Column) -> Column:
    """Politeness partition key: lowercased netloc (engine-defined — the
    reference has no per-host scheduling, SURVEY.md §2.9 W1)."""
    return F.lower(url_netloc(url))


def is_valid_url(url: Column) -> Column:
    """P1 — utils.py:23-29: scheme ∈ {http,https} AND netloc non-empty."""
    return url_scheme(url).isin("http", "https") & (url_netloc(url) != "")


def normalize_url(url: Column) -> Column:
    """P2 — utils.py:32-43: rebuild ``scheme://netloc path [?query]``;
    drops fragment AND params, keeps query/trailing slash, no case-fold.

    Native approximation: strips ``#fragment`` (params — ``;`` in the last
    path segment — are vanishingly rare; the exact urlparse rebuild lives
    in the link-resolution pandas UDF where urljoin already forces Python).
    """
    return F.regexp_replace(url, r"#.*$", "")


def content_hash(content: Column) -> Column:
    """P4 — hybrid_crawler.py:313-315: sha256(utf8)[:16] lowercase hex."""
    return F.substring(F.sha2(content, 256), 1, 16)


def md5_hash(content: Column) -> Column:
    """utils.py:78-80 MD5 variant."""
    return F.md5(content)


def unique_id_from_latlong(lat: Column, long: Column) -> Column:
    """P5 — hybrid_crawler.py:184-202: sha1(trim(lat)+trim(long))[:12]
    over the STRING forms (never parse to double — hash input must be the
    raw text)."""
    return F.substring(F.sha1(F.concat(F.trim(lat), F.trim(long))), 1, 12)


def unique_id_from_url(url: Column) -> Column:
    """hybrid_crawler.py:274-277 fallback: sha1(url)[:12]."""
    return F.substring(F.sha1(url), 1, 12)


def page_slug(url: Column) -> Column:
    """P3 — hybrid_crawler.py:147-182, byte-for-byte:

    domain = netloc, all 'www.' removed, [^a-zA-Z0-9.-] stripped, '.'→'_'
    page   = last path segment minus one extension; if that's empty, the
             whole path with '/'→'_' stripped of '_'; 'index' for empty
             path; non-[a-zA-Z0-9-_]→'_', collapse '_+', strip '_',
             'page' if empty
    slug   = f"{domain}_{page}"[:50].strip('_')
    """
    netloc = url_netloc(url)
    domain = F.regexp_replace(netloc, r"www\.", "")  # str.replace = global
    domain = F.regexp_replace(domain, r"[^a-zA-Z0-9.\-]", "")
    domain = F.translate(domain, ".", "_")

    path = F.regexp_replace(url_path(url), r"^/+|/+$", "")  # path.strip('/')
    last_seg = F.element_at(F.split(path, "/"), -1)
    no_ext = F.regexp_replace(last_seg, r"\.[^.]*$", "")
    # reference: if stripping the extension emptied the name, fall back to
    # full path with '/'→'_' then strip('_')
    page_raw = F.when(path == "", F.lit("index")).otherwise(
        F.when(no_ext == "", F.regexp_replace(F.translate(path, "/", "_"), r"^_+|_+$", ""))
        .otherwise(no_ext)
    )
    page = F.regexp_replace(page_raw, r"[^a-zA-Z0-9\-_]", "_")
    page = F.regexp_replace(page, r"_+", "_")
    page = F.regexp_replace(page, r"^_+|_+$", "")  # str.strip('_')
    page = F.when(page == "", F.lit("page")).otherwise(page)

    slug = F.substring(F.concat(domain, F.lit("_"), page), 1, 50)
    return F.regexp_replace(slug, r"^_+|_+$", "")


def enhanced_filename(unique_id: Column, md_hash: Column, slug: Column) -> Column:
    """P6 — hybrid_crawler.py:295-311: ``{uid}_{hash}_{slug}`` when a CSV
    unique id exists, else ``{hash}_{slug}``."""
    return F.when(
        unique_id.isNotNull() & (unique_id != ""),
        F.concat_ws("_", unique_id, md_hash, slug),
    ).otherwise(F.concat_ws("_", md_hash, slug))


def has_blocked_extension(url: Column) -> Column:
    """F4 — utils.py:65-67: lowercased URL endswith a blocked extension."""
    return F.lower(url).rlike(_BLOCKED_EXT_RE)


def is_geo_blocked(text: Column) -> Column:
    """P12 — hybrid_crawler.py:317-320: lowercased content contains any of
    the 8 trigger phrases. Plain substring containment, so escape-free
    ``contains`` OR-chain (rlike would need phrase escaping)."""
    lowered = F.lower(text)
    cond = F.lit(False)
    for phrase in GEO_BLOCK_PHRASES:
        cond = cond | lowered.contains(phrase)
    return cond


def ensure_scheme(url: Column) -> Column:
    """S2 — hybrid_crawler.py:259-260: default ``https://`` when the seed
    URL has no http(s) scheme."""
    return F.when(
        url.startswith("http://") | url.startswith("https://"), url
    ).otherwise(F.concat(F.lit("https://"), url))


def strip_tracking_params(url: Column) -> Column:
    """Remove advertising/attribution query parameters (``utm_*``,
    ``fbclid``, ``gclid``, ``msclkid``) — frontier canonicalization
    hygiene: the same page reached from a campaign link and organically
    must collapse to ONE url-seen entry, or the crawler fetches every
    page once per marketing channel. Applied before hashing into the
    seen filter; parameter order of the SURVIVING params is preserved
    (stripping must not invent a new canonical form that real links
    never use). Pure codegen: split → higher-order filter → rejoin,
    zero Python, zero shuffle.
    """
    base = F.substring_index(url, "?", 1)
    qs = F.regexp_extract(url, r"\?(.*)", 1)
    kept = F.filter(
        F.split(qs, "&"),
        lambda p: (F.length(p) > 0)
        & (
            F.regexp_count(
                p, F.lit(r"^(utm_[^=&]*|fbclid|gclid|msclkid)(=|$)")
            )
            == 0
        ),
    )
    return F.when(
        url.contains("?") & (F.size(kept) > 0),
        F.concat(base, F.lit("?"), F.array_join(kept, "&")),
    ).otherwise(base)


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the web-archive
    canonical sort key (first field of Common Crawl's CDX index):
    ``com,example)/path?query``. Host labels are reversed and
    comma-joined, so a plain lexicographic sort clusters every capture of
    a domain — and all its subdomains — contiguously; that property is
    what makes CDX range scans ("give me all of *.example.com") and
    per-domain index merges work on a sorted, sharded 100-TB index.

    Canonicalization subset (the engine's documented contract, applied
    identically by :func:`~distributed_crawl_spark.sinks.warc.cdx_lines`):
    everything lowercased; scheme and fragment dropped; one leading
    ``www.`` and any ``:port`` dropped from the host; path+query kept
    verbatim (empty path → ``/``). Pure codegen expressions — index-key
    generation over a 10^10-row capture table never leaves the JVM.
    """
    host = F.lower(url_netloc(url))
    host = F.regexp_replace(host, r":\d+$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    rest = F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)", 1)
    )
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.concat(rev, F.lit(")"), rest)


def trap_features(url: Column) -> dict[str, Column]:
    """Crawl-trap signals per URL — the Mercator-style frontier hygiene
    every production crawler needs (Heydon & Najork 1999): calendar
    traps and cycle links repeat path segments, session-id/faceted-
    search explosions stack query params, generated spaces grow
    unbounded paths. No reference analog (the reference caps by level
    only, hybrid_crawler.py max_levels); engine crawl-kernel extension.

    Closed-form Column expressions (array HOFs over the split path —
    bounded by the URL's own segment count, zero shuffle, dialect-
    portable so the DuckDB oracle checks values):

    - ``path_depth``   — non-empty path segments
    - ``max_seg_repeat`` — occurrences of the most-repeated segment
      (/cal/2024/cal/2024/... → 2); the calendar/cycle-trap signal
    - ``n_params``     — '&'-separated query params
    - ``path_len``     — path length in chars
    """
    path = url_path(url)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    depth = F.size(segs)
    max_rep = F.when(
        depth > 0,
        F.array_max(
            F.transform(
                segs, lambda s: F.size(F.filter(segs, lambda x: x == s))
            )
        ),
    ).otherwise(F.lit(0))
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    n_params = (
        F.when(query != "", F.size(F.split(query, "&"))).otherwise(F.lit(0))
    )
    return {
        "path_depth": depth.cast("long"),
        "max_seg_repeat": max_rep.cast("long"),
        "n_params": n_params.cast("long"),
        "path_len": F.length(path).cast("long"),
    }


def is_trap(url: Column, max_repeat: int = 3, max_depth: int = 12,
            max_params: int = 8, max_path_len: int = 200) -> Column:
    """Conservative trap predicate over :func:`trap_features` — meant as
    a frontier pre-filter (drop before the seen-filter/politeness
    stages so a trap site can't monopolize its host budget). Thresholds
    follow common crawler defaults; tune per deployment."""
    f = trap_features(url)
    return (
        (f["max_seg_repeat"] >= max_repeat)
        | (f["path_depth"] > max_depth)
        | (f["n_params"] > max_params)
        | (f["path_len"] > max_path_len)
    )


# Soft URL-keyword signal for blocklist_filter — the FineWeb/RefinedWeb
# URL-filtering recipe pairs a domain blocklist (UT1-style) with banned
# words counted in the URL string itself.
BLOCK_KEYWORDS: tuple[str, ...] = (
    "casino", "porn", "xxx", "escort", "poker", "viagra",
)


def host_suffix(host: Column, depth: int) -> Column:
    """The ``depth``-label domain suffix of a host (``a.b.example.com``
    at depth 2 → ``example.com``), NULL when the host has fewer labels.
    Closed-form (split + slice), used per-depth by
    :func:`blocklist_filter` so matching stays joinable by equality."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.when(
        n >= depth,
        F.array_join(F.slice(labels, n - depth + 1, depth), "."),
    )


def url_keyword_hits(url: Column,
                     keywords: tuple[str, ...] = BLOCK_KEYWORDS) -> Column:
    """Total occurrences of any banned keyword in the lowercased URL —
    the soft score next to the hard domain blocklist."""
    hits = F.lit(0)
    for kw in keywords:
        hits = hits + F.regexp_count(F.lower(url), F.lit(kw))
    return hits.cast("long")


def blocklist_filter(docs, blocklist, url_col: str = "url",
                     keywords: tuple[str, ...] = BLOCK_KEYWORDS,
                     kw_threshold: int = 2, max_labels: int = 5):
    """UT1/FineWeb-style URL filtering: drop a document when its host —
    or ANY registrable parent domain of it — appears in ``blocklist``
    (columns ``domain``, ``category``; entries with more than
    ``max_labels`` labels never match — the cap bounds entry
    specificity, NOT subdomain depth, so a blocked ``bad.example``
    still blocks ``a.b.c.d.e.bad.example``),
    or when the URL itself accumulates ``kw_threshold`` banned-keyword
    hits (:func:`url_keyword_hits`). The standard first gate of a web
    training pipeline (FineWeb blocks ~4.6M domains this way before any
    content-based scoring).

    Scale shape — ZERO shuffle on the document side: subdomain matching
    is expressed as one equality **broadcast hash join per suffix
    depth** (``max_labels - 1`` joins of a few-hundred-MB-at-most
    blocklist; a UT1-sized list broadcasts comfortably), and the most
    specific (longest) matching suffix wins via ``coalesce`` over the
    join results in depth order. No explode, no per-doc aggregation —
    the 100-TB corpus streams through map-side. A blocklist too large
    to broadcast should be pre-partitioned by suffix instead (bucketed
    join); this helper assumes the broadcastable norm.

    Returns every input row + (host, matched_domain, category,
    kw_hits, keep).
    """
    host = url_host(F.col(url_col))
    out = docs.withColumn("host", host).withColumn(
        "kw_hits", url_keyword_hits(F.col(url_col), keywords)
    )
    depths = range(max_labels, 1, -1)  # most specific first
    for d in depths:
        bl = blocklist.select(
            F.col("domain").alias(f"_dom{d}"),
            F.col("category").alias(f"_cat{d}"),
        )
        out = out.join(
            F.broadcast(bl),
            host_suffix(F.col("host"), d) == F.col(f"_dom{d}"),
            "left",
        )
    matched = F.coalesce(*[F.col(f"_dom{d}") for d in depths])
    category = F.coalesce(*[F.col(f"_cat{d}") for d in depths])
    return out.select(
        *[c for c in out.columns if not c.startswith(("_dom", "_cat"))],
        matched.alias("matched_domain"),
        category.alias("category"),
    ).withColumn(
        "keep",
        F.col("matched_domain").isNull()
        & (F.col("kw_hits") < F.lit(kw_threshold)),
    )


# ---- URL template mining (corpus-evidence trap detection) -------------------

def url_template(url: Column) -> Column:
    """Structural URL template: long lowercase-hex runs (≥16 chars —
    session ids, digestless UUIDs) collapse to ``{h}`` first, then any
    digit run collapses to ``{n}``.

    Two URLs share a template iff they differ only in identifiers —
    the equivalence class a crawler budgets, not the individual URL.
    Pure regexp_replace (JVM codegen, no UDF); the same two replaces
    run verbatim in DuckDB (with the 'g' flag) for the oracle.
    """
    return F.regexp_replace(
        F.regexp_replace(url, "[0-9a-f]{16,}", "{h}"),
        "[0-9]+", "{n}",
    )


def url_template_mine(urls, url_col: str = "url",
                      min_urls: int = 5,
                      min_share_bp: int = 2500):
    """Mine URL templates that dominate a host — the corpus-evidence
    complement of the per-URL :func:`is_trap` heuristics, exactly as
    :func:`~.curation.blocklist_mine` complements the static domain
    blocklist: calendar pages, session-id echoes, and faceted-search
    grids show up as ONE template owning an outsized share of a host's
    distinct URLs long before any single URL looks trap-shaped.

    Output per (host, template) with ``n_urls >= min_urls`` and
    ``share_bp >= min_share_bp``: n_urls, host_urls, basis-point share
    (``(10000·n_urls) DIV host_urls`` — scale-free, so thresholds
    survive corpus growth), and ``example_url`` = min(url) for triage.

    Scale: one (host, template) census groupBy (map-side combinable,
    bounded by distinct templates, not URLs) + a |hosts|-row broadcast
    rollup — no exchange above census size at any frontier scale.
    """
    url = F.col(url_col)
    census = (
        urls.select(
            url_host(url).alias("host"),
            url_template(url).alias("template"),
            url.alias("__url"),
        )
        .groupBy("host", "template")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.min("__url").alias("example_url"),
        )
    )
    totals = census.groupBy("host").agg(
        F.sum("n_urls").cast("long").alias("host_urls")
    )
    return (
        census.join(F.broadcast(totals), "host")
        .select(
            "host", "template", "n_urls", "host_urls",
            F.expr("CAST((10000 * n_urls) DIV host_urls AS BIGINT)")
            .alias("share_bp"),
            "example_url",
        )
        .filter((F.col("n_urls") >= min_urls)
                & (F.col("share_bp") >= min_share_bp))
        .orderBy("host", "template")
    )
