"""Host-graph analytics for crawl prioritization.

A frontier scheduler at 10^10 URLs cannot treat every host equally:
which host's queue to drain first is a ranking problem over the host
link graph (who links to whom, aggregated from page out-links). The
reference crawler (thebenjy/distributed_crawl) schedules FIFO within a
concurrency budget and has no graph signal; this module adds the
standard one — PageRank-style power iteration — as a DataFrame-native
iterative job, the same shape as
:func:`~distributed_crawl_spark.functions.dedup.near_dup_components`.

Determinism contract: ranks are QUANTIZED to integer micro-units
(x1e6) and every update uses integer floor arithmetic only. Floating
point summation is order-dependent (a + b + c ≠ c + a + b in the last
ulp), so a float PageRank can differ run-to-run with partition layout;
the integer form is bit-identical across engines, layouts, and the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import LOCAL_ROWS, rows_if_small

RANK_UNIT = 1_000_000  # 1.0 in micro-units


def _edge_indices(it):
    """Drain a mapInPandas batch iterator of (src, dst) rows into
    factorized int64 index arrays + the sorted host vocabulary.
    ``sort=True`` makes code order equal host order (UTF-8 byte order ==
    Python codepoint order — the _local_components argument), so integer
    min/tie-breaks over codes reproduce Spark's string comparisons
    exactly. Returns (src_idx, dst_idx, hosts) or (None, None, None) on
    an empty input."""
    import numpy as np
    import pandas as pd

    srcs, dsts = [], []
    for pdf in it:
        srcs.append(pdf["src"])
        dsts.append(pdf["dst"])
    if not srcs:
        return None, None, None
    s = pd.concat(srcs, ignore_index=True)
    d = pd.concat(dsts, ignore_index=True)
    if len(s) == 0:
        return None, None, None
    codes, hosts = pd.factorize(pd.concat([s, d], ignore_index=True),
                                sort=True)
    n = len(s)
    return (codes[:n].astype(np.int64), codes[n:].astype(np.int64),
            np.asarray(hosts))


def _local_rank(e: DataFrame, iters: int, damping_x1000: int,
                out_name: str, seeds=None,
                scaled_teleport: bool = False) -> DataFrame:
    """Single-task replay of the host_rank / trust_rank quantized power
    iteration — the small-graph fast path. Bit-identical to the
    DataFrame loop it replaces: contributions are
    ``floor(double(pr) / double(outdeg))`` (the same long→double cast +
    IEEE divide + floor Catalyst evaluates), summed in int64 (exact,
    order-free), and the damping step is ``floor(double(d·s) / 1000)``.
    ``seeds=None`` gives the uniform-teleport host_rank update; a seed
    set gives the trust_rank update (teleport only on seeds, optional
    |hosts|//|seeds| scaling computed from the same distinct-host count
    the DataFrame path uses)."""
    import numpy as np
    import pandas as pd

    id_t = e.schema["src"].dataType.simpleString()
    seed_set = None if seeds is None else set(seeds)

    def _kern(it):
        s_idx, d_idx, hosts = _edge_indices(it)
        if hosts is None:
            return
        nv = len(hosts)
        outdeg = np.bincount(s_idx, minlength=nv).astype(np.int64)
        base = (1000 - damping_x1000) * 1000
        if seed_set is None:
            pr = np.full(nv, RANK_UNIT, dtype=np.int64)
            teleport = np.full(nv, base, dtype=np.int64)
        else:
            is_seed = np.fromiter((h in seed_set for h in hosts),
                                  dtype=bool, count=nv)
            scale = (max(1, nv // len(seed_set))
                     if scaled_teleport else 1)
            pr = np.where(is_seed, np.int64(RANK_UNIT * scale),
                          np.int64(0))
            teleport = np.where(is_seed, np.int64(base * scale),
                                np.int64(0))
        od = outdeg[s_idx].astype(np.float64)
        for _ in range(iters):
            contrib = np.floor(
                pr[s_idx].astype(np.float64) / od
            ).astype(np.int64)
            acc = np.zeros(nv, dtype=np.int64)
            np.add.at(acc, d_idx, contrib)  # int64-exact, order-free
            pr = teleport + np.floor(
                (damping_x1000 * acc).astype(np.float64) / 1000.0
            ).astype(np.int64)
        yield pd.DataFrame({"host": hosts, out_name: pr})

    return e.coalesce(1).mapInPandas(
        _kern, f"host {id_t}, {out_name} bigint"
    )


def _local_hits(e: DataFrame, iters: int) -> DataFrame:
    """Single-task replay of the hits_scores quantized update: int64
    neighbor sums (exact, order-free) + max-renormalization with
    Spark's ``div`` (integral division — floor for the non-negative
    values here). Identical output to the DataFrame loop."""
    import numpy as np
    import pandas as pd

    id_t = e.schema["src"].dataType.simpleString()

    def _kern(it):
        s_idx, d_idx, hosts = _edge_indices(it)
        if hosts is None:
            return
        nv = len(hosts)
        hub = np.full(nv, RANK_UNIT, dtype=np.int64)
        auth = np.zeros(nv, dtype=np.int64)
        for _ in range(iters):
            raw = np.zeros(nv, dtype=np.int64)
            np.add.at(raw, d_idx, hub[s_idx])
            mx = raw.max()
            auth = ((raw * RANK_UNIT) // mx if mx > 0
                    else np.zeros(nv, dtype=np.int64))
            raw = np.zeros(nv, dtype=np.int64)
            np.add.at(raw, s_idx, auth[d_idx])
            mx = raw.max()
            hub = ((raw * RANK_UNIT) // mx if mx > 0
                   else np.zeros(nv, dtype=np.int64))
        yield pd.DataFrame(
            {"host": hosts, "hub_x1e6": hub, "auth_x1e6": auth}
        )

    return e.coalesce(1).mapInPandas(
        _kern, f"host {id_t}, hub_x1e6 bigint, auth_x1e6 bigint"
    )


def _local_communities(e: DataFrame, iters: int) -> DataFrame:
    """Single-task replay of label_communities' synchronous label
    propagation: the undirected simple graph is deduplicated in-kernel
    (np.unique over packed pair codes — same distinct), each round
    counts neighbor labels + the self vote and picks (count DESC, label
    ASC) per host. Sorted factorization makes the integer label
    comparisons equal Spark's string ordering, so output is identical
    to the DataFrame loop."""
    import numpy as np
    import pandas as pd

    id_t = e.schema["src"].dataType.simpleString()

    def _kern(it):
        s_idx, d_idx, hosts = _edge_indices(it)
        if hosts is None:
            return
        nv = len(hosts)
        mask = s_idx != d_idx
        a = np.concatenate([s_idx[mask], d_idx[mask]])
        b = np.concatenate([d_idx[mask], s_idx[mask]])
        und = np.unique(a * nv + b)  # distinct undirected-as-directed
        ua, ub = und // nv, und % nv
        self_h = np.arange(nv, dtype=np.int64)
        lab = self_h.copy()
        for _ in range(iters):
            vh = np.concatenate([ua, self_h])
            vl = np.concatenate([lab[ub], lab])  # neighbor + self votes
            keys, cnt = np.unique(vh * nv + vl, return_counts=True)
            kh, kl = keys // nv, keys % nv
            order = np.lexsort((kl, -cnt, kh))  # (host, n DESC, label)
            kh_s = kh[order]
            first = np.ones(len(order), dtype=bool)
            first[1:] = kh_s[1:] != kh_s[:-1]
            nxt = np.empty(nv, dtype=np.int64)
            nxt[kh_s[first]] = kl[order][first]  # self vote covers all
            lab = nxt
        yield pd.DataFrame({"host": hosts, "community": hosts[lab]})

    return e.coalesce(1).mapInPandas(
        _kern, f"host {id_t}, community {id_t}"
    )


def _host_nodes(e: DataFrame) -> DataFrame:
    """(host) for every host appearing as src or dst of ``e``,
    checkpointed: every iteration of the graph loops re-reads it."""
    return (
        e.select(F.col("src").alias("host"))
        .unionByName(e.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint()
    )


def _power_iteration(e: DataFrame, nodes: DataFrame, iters: int,
                     damping_x1000: int, out_name: str, init: Column,
                     teleport: Column) -> DataFrame:
    """The quantized power iteration behind :func:`host_rank` and
    :func:`trust_rank` (the DataFrame form of :func:`_local_rank`).
    ``init`` and ``teleport`` are long Columns over ``nodes.host``:
    uniform for host_rank, seed-masked for trust_rank. ``ranks`` is
    referenced once per iteration, so the lazy plan grows linearly in
    ``iters`` with no per-iteration checkpoint (see host_rank)."""
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e = e.join(outdeg, "src").localCheckpoint()  # static across iterations
    ranks = nodes.withColumn(out_name, init)
    for _ in range(iters):
        contrib = (
            e.join(
                ranks.select(
                    F.col("host").alias("src"), F.col(out_name).alias("r")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(
                F.sum(F.floor(F.col("r") / F.col("outdeg")).cast("long"))
                .alias("s")
            )
        )
        ranks = (
            nodes.join(contrib, nodes["host"] == contrib["dst"], "left")
            .select(
                "host",
                (teleport + F.floor(
                    F.lit(damping_x1000) * F.coalesce(F.col("s"), F.lit(0))
                    / F.lit(1000)
                ).cast("long")).alias(out_name),
            )
        )
    return ranks


def host_rank(edges: DataFrame, iters: int = 5, damping_x1000: int = 850,
              src_col: str = "src", dst_col: str = "dst",
              local_threshold: int = LOCAL_ROWS) -> DataFrame:
    """PageRank over a host multigraph, quantized to integer micro-units.

    Update per iteration (all integer ops)::

        contrib(e) = pr(src(e)) // outdeg(src(e))          per edge
        pr'(h)     = (1000 - d)*1000 + d * sum(contrib) // 1000

    with ``d = damping_x1000`` (850 = the classic 0.85). Parallel edges
    count once each (a host linking twice sends twice the mass) —
    pre-``distinct()`` the edge list for simple-graph semantics.
    Dangling mass (hosts with no out-edges) is dropped, the common
    large-scale simplification: ranks are used comparatively for queue
    ordering, not as true probabilities.

    Scale shape: the edge list joins the current rank table on ``src``
    (uniform hash join — a popular DESTINATION host skews nothing here;
    the groupBy on ``dst`` is map-side combinable so even 10^6 in-links
    partial-aggregate before the exchange), then one groupBy(dst) and
    one left join back to the node set. Three shuffles per iteration,
    each keyed by host id. ``ranks`` is referenced ONCE per iteration,
    so the lazy plan grows LINEARLY in ``iters`` — no per-iteration
    checkpoint needed (round 6: dropping the eager per-iteration
    localCheckpoint removed ``iters`` driver-blocking jobs; the static
    ``nodes``/``e`` tables stay checkpointed because every iteration
    re-reads them). Overflow bound: sum(contrib) ≤ |hosts| · RANK_UNIT,
    so the 850× product stays in int64 up to ~10^13 hosts.

    Small graphs (edge list of at most ``local_threshold`` rows, found
    by the bounded probe :func:`dedup.rows_if_small`) skip the iterative
    loop entirely: the probe's checkpointed edge rows run the identical
    integer update in ONE task (:func:`_local_rank`), trading
    ``3·iters`` fixed-latency shuffle stages for one numpy pass.
    ``local_threshold=0`` forces the scale path.

    Returns (host, pr_x1e6) for every host appearing as src or dst.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    small = rows_if_small(e, local_threshold)
    if small is not None:
        return _local_rank(small, iters, damping_x1000, "pr_x1e6")
    return _power_iteration(
        e, _host_nodes(e), iters, damping_x1000, "pr_x1e6",
        init=F.lit(RANK_UNIT).cast("long"),
        teleport=F.lit((1000 - damping_x1000) * 1000).cast("long"),
    )


def rank_budgets(ranks: DataFrame, total_budget: int,
                 min_budget: int = 1,
                 rank_col: str = "pr_x1e6") -> DataFrame:
    """Turn :func:`host_rank` output into per-host politeness budgets —
    the "priority queue" composition: instead of every host getting the
    same per-round fetch budget, a round's ``total_budget`` slots are
    allocated proportionally to host rank, so well-linked hosts drain
    faster while ``min_budget`` keeps every host live (no starvation).

    ``budget(h) = max(min_budget, total_budget * pr(h) // sum(pr))`` —
    integer floor allocation (deterministic; the sum of budgets can
    exceed ``total_budget`` only via the min-budget floor, and can fall
    short by at most one slot per host from flooring — politeness
    budgets are soft targets, not exact quotas).

    The rank sum is a one-row aggregate cross-joined back (broadcast of
    a single row — no collect, stays a pure plan). Output (host,
    budget) plugs directly into
    :func:`~distributed_crawl_spark.operators.politeness.rank_frontier`'s
    ``host_budgets`` parameter, which broadcast-joins it onto the
    frontier — the whole priority path adds zero shuffles to the round.

    ``rank_col`` picks the scoring column, so :func:`trust_rank` output
    (``trust_x1e6``) plugs in unchanged — trust-proportional budgets
    starve link farms down to ``min_budget`` instead of rewarding their
    self-inflated PageRank.
    """
    tot = ranks.agg(F.sum(rank_col).alias("__tot"))
    return (
        ranks.crossJoin(F.broadcast(tot))
        .select(
            "host",
            F.greatest(
                F.lit(min_budget).cast("long"),
                F.floor(
                    F.lit(total_budget) * F.col(rank_col) / F.col("__tot")
                ).cast("long"),
            ).alias("budget"),
        )
    )


def anchor_census(pages: DataFrame, k: int = 5,
                  url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """Inbound anchor-text census: for every link TARGET, the top-``k``
    anchor strings the web uses to describe it, with counts — the
    classic link-graph side product (anchor corpora train retrieval and
    title models; "what others call this page" beats the page's own
    title for ranking). No reference analog (the reference crawler
    discards anchor text at extraction, webcrawleranalyzer.py:139-140);
    this is the engine's web-graph extension.

    Plan: one Arrow pass over html (``anchor_pairs_udf`` — the page's
    bytes cross into Python exactly once, same batch shape as the
    extract UDF) → explode → ONE map-side-combinable census shuffle on
    (target, anchor) → per-target top-k. ``row_number() <= k`` gets
    Catalyst's map-side WindowGroupLimit(Partial) (measured for
    per_source_cap, BENCH.md), so a target the whole web links to — the
    Zipf head of inbound links — forwards at most k rows per map task,
    never its full inbound census, into the rank exchange. Ties break
    (n DESC, anchor ASC) for deterministic, oracle-checkable output.
    Returns (target_url, anchor, n, rank).
    """
    from .text import anchor_pairs_udf

    pairs = pages.select(
        F.explode(
            anchor_pairs_udf(F.col(url_col), F.col(html_col))
        ).alias("p")
    )
    return _census_topk(pairs, k)


def anchor_census_from_pairs(results: DataFrame, k: int = 5,
                             pairs_col: str = "anchors") -> DataFrame:
    """:func:`anchor_census` over PRE-CAPTURED pairs — the crawl-export
    path. A crawl run with ``CrawlConfig.capture_anchors`` stores each
    page's (target_url, anchor) pairs as a crawl_results column (harvested
    in the extract UDF's Arrow pass, operators/fetch.py), so the census at
    export time is explode → one map-side-combinable shuffle over a slim
    parquet column — NO html re-scan, no second Python crossing of the
    page bytes. Output schema and semantics identical to
    :func:`anchor_census` on the same fetched pages."""
    pairs = results.select(F.explode(F.col(pairs_col)).alias("p"))
    return _census_topk(pairs, k)


def _census_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Shared census stage: exploded pair structs → per-target top-k."""
    from pyspark.sql.window import Window

    census = (
        pairs.select(
            F.col("p.target_url").alias("target_url"),
            F.col("p.anchor").alias("anchor"),
        )
        .groupBy("target_url", "anchor")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("target_url").orderBy(
        F.col("n").desc(), F.col("anchor")
    )
    return (
        census.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hits_scores(edges: DataFrame, iters: int = 2,
                src_col: str = "src", dst_col: str = "dst",
                local_threshold: int = LOCAL_ROWS) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a host multigraph,
    quantized to integer micro-units — the complementary link signal to
    :func:`host_rank`: PageRank finds globally-endorsed hosts; HITS
    separates DIRECTORY hosts (hubs — pages that link out to many good
    targets, e.g. link farms vs genuine indexes) from CONTENT hosts
    (authorities), which a frontier scheduler weighs differently (drain
    authorities' queues for corpus value, drain hubs' queues for
    frontier discovery).

    Update rule per iteration, all integer floor arithmetic (the float
    version is summation-order-dependent and could never hash-match an
    oracle): ``auth'(v) = Σ_{u→v} hub(u)`` then max-renormalized to
    micro-units ``auth(v) = auth'(v) * 1e6 // max(auth')``; then
    ``hub'(u) = Σ_{u→v} auth(v)`` renormalized the same way. Parallel
    edges count with multiplicity (the multigraph carries link volume).

    Scale shape: each half-step is one shuffle on the edge key plus a
    ONE-ROW max aggregate cross-joined back broadcast (bounded, the
    same normalize-by-scalar shape as rank_budgets) — 2 shuffles per
    iteration over an edges table that partitions uniformly by host
    hash. Hosts with no inbound (outbound) edges hold authority (hub)
    0. Returns (host, hub_x1e6, auth_x1e6) for every host appearing as
    src or dst.

    Signed-64 bound: the renormalize step computes ``raw * 1e6``, and
    ``raw ≤ weighted_degree * 1e6``, so the max weighted in/out-degree
    must stay ≤ ~9.2e6 — true for host graphs (degree = distinct
    neighbor hosts); for denser graphs drop RANK_UNIT a decade.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    # small-graph fast path: identical integer iteration in one task
    # over the bounded probe's edge rows (same dispatch as host_rank)
    small = rows_if_small(e, local_threshold)
    if small is not None:
        return _local_hits(small, iters)
    # localCheckpoint: e/nodes are referenced by every half-step and the
    # scores fold the whole previous iteration into their lineage —
    # without truncation the final plan re-derives the edge projection
    # O(iters^2) times (same per-iteration cut as host_rank).
    e = e.localCheckpoint()
    nodes = e.select(F.col("src").alias("host")).union(
        e.select(F.col("dst").alias("host"))
    ).distinct().localCheckpoint()
    hub = nodes.withColumn("hub", F.lit(RANK_UNIT).cast("long"))

    def _renorm(scores: DataFrame, col: str) -> DataFrame:
        mx = scores.agg(F.max(col).alias("__mx"))
        return scores.crossJoin(F.broadcast(mx)).select(
            "host",
            F.when(F.col("__mx") > 0,
                   F.expr(f"({col} * {RANK_UNIT}) div __mx"))
            .otherwise(F.lit(0)).cast("long").alias(col),
        ).localCheckpoint()

    auth = None
    for _ in range(iters):
        a_raw = (
            e.join(hub.withColumnRenamed("host", "src"), "src")
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum("hub").cast("long").alias("auth"))
        )
        auth = _renorm(
            nodes.join(a_raw, "host", "left").select(
                "host", F.coalesce(F.col("auth"), F.lit(0)).alias("auth")
            ),
            "auth",
        )
        h_raw = (
            e.join(auth.withColumnRenamed("host", "dst"), "dst")
            .groupBy(F.col("src").alias("host"))
            .agg(F.sum("auth").cast("long").alias("hub"))
        )
        hub = _renorm(
            nodes.join(h_raw, "host", "left").select(
                "host", F.coalesce(F.col("hub"), F.lit(0)).alias("hub")
            ),
            "hub",
        )
    return (
        nodes.join(hub.withColumnRenamed("hub", "hub_x1e6"), "host", "left")
        .join(auth.withColumnRenamed("auth", "auth_x1e6"), "host", "left")
        .select(
            "host",
            F.coalesce(F.col("hub_x1e6"), F.lit(0)).cast("long")
            .alias("hub_x1e6"),
            F.coalesce(F.col("auth_x1e6"), F.lit(0)).cast("long")
            .alias("auth_x1e6"),
        )
    )


# ---- focused crawling: anchor-text relevance -> frontier priority ----------

def focused_scores(census: DataFrame, topic: "list[str]",
                   target_col: str = "target_url",
                   anchor_col: str = "anchor",
                   n_col: str = "n") -> DataFrame:
    """Shark-/fish-search style focused-crawl relevance: score every
    link TARGET by how its inbound anchor text matches a topic term
    list — the crawler's only pre-fetch evidence about an unseen URL is
    what other pages call it (Hersovici et al. WWW'98; the same signal
    anchor corpora give rankers). Input is any (target, anchor, n)
    census (:func:`anchor_census` / `anchor_census_from_pairs`).

    ``rel_q = Σ_census_rows n × |distinct topic terms ∈ tokens(anchor)|``
    — pure integer arithmetic (order-free, hash-exact), monotone in
    both anchor frequency and term coverage. Matching is exact on
    whitespace tokens; lowercase the census + topic upstream for
    case-insensitive matching. Zero-shuffle projection over the census
    + one |targets|-bounded map-combinable rollup; targets with no
    matching anchors drop out. Returns (target_url, rel_q).
    """
    from .dedup import tokens

    terms = F.array(*[F.lit(t) for t in dict.fromkeys(topic)])
    hits = F.size(F.array_intersect(tokens(F.col(anchor_col)), terms))
    return (
        census.select(
            F.col(target_col).alias("target_url"),
            (F.col(n_col).cast("long") * hits.cast("long")).alias("_r"),
        )
        .groupBy("target_url")
        .agg(F.sum("_r").cast("long").alias("rel_q"))
        .filter(F.col("rel_q") > 0)
    )


def focused_frontier(scores: DataFrame,
                     min_rel_q: int = 1) -> DataFrame:
    """Turn :func:`focused_scores` output into frontier rows the
    politeness window drains MOST-RELEVANT-FIRST — the focused-crawl
    twin of recrawl.refetch_frontier: ``rank_frontier`` orders each host
    lane by (level, attempt, seq), so ``seq = -rel_q`` spends per-host
    politeness budgets on the targets the web's anchor text says matter
    most, with zero changes to the politeness operator. Level/attempt
    are 0, parent lineage is null/self, discovered_round = -2 marks
    focused-scheduler-injected rows (refetch uses -1).
    Output matches FRONTIER_SCHEMA."""
    from .url import url_host

    kept = scores.filter(F.col("rel_q") >= int(min_rel_q))
    return kept.select(
        F.col("target_url").alias("url"),
        url_host(F.col("target_url")).alias("host"),
        F.lit(0).cast("int").alias("level"),
        F.lit(0).cast("int").alias("attempt"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(-1).cast("long").alias("parent_seq"),
        F.lit(0).cast("int").alias("link_pos"),
        (-F.col("rel_q")).cast("long").alias("seq"),
        F.lit(-2).cast("int").alias("discovered_round"),
    )


def link_spam_signals(edges: DataFrame,
                      min_inlinks: int = 10,
                      src_share_bp: int = 8000,
                      anchor_share_bp: int = 8000,
                      src_col: str = "src", dst_col: str = "dst",
                      anchor_col: str = "anchor") -> DataFrame:
    """Per-host link-spam audit over an anchored edge list — the two
    classic web-spam signals a ranking pipeline checks before trusting
    in-links (no reference analog; the reference crawler discards
    anchors, webcrawleranalyzer.py:139-140):

    - **in-link concentration**: share of a host's in-links that come
      from its single biggest source host. A link farm pushes this
      toward 10000 bp (one controlled site emitting thousands of
      links); organically-endorsed hosts stay low.
    - **duplicated-anchor rate**: share of in-links carrying the host's
      single most common anchor string. Spam campaigns paste one
      exact-match anchor everywhere; organic anchors vary.

    Shares are integer BASIS POINTS (``10000 * top // total``, floor),
    so results hash-match any engine. ``spam_flag`` fires when a host
    has at least ``min_inlinks`` in-links AND either share crosses its
    threshold — thresholds are policy knobs, the default 8000 bp (80%)
    flags only strongly concentrated hosts.

    Scale shape: two censuses, ``(dst, src)`` and ``(dst, anchor)``,
    both map-side combinable (a Zipf-head target host partial-aggregates
    per map task before any exchange), each rolled up to one row per
    dst (``sum``/``count``/``max`` — again map-side combinable), then
    ONE hash join on dst between two |hosts|-sized sides. No window, no
    all-pairs, no skew exposure beyond the bounded per-dst rollup.

    Returns ``(host, inlinks, src_hosts, top_src_share_bp,
    top_anchor_share_bp, spam_flag)``, one row per link target.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        F.col(anchor_col).alias("anchor"),
    )
    by_src = (
        e.groupBy("dst", "src").agg(F.count(F.lit(1)).alias("n"))
        .groupBy("dst")
        .agg(
            F.sum("n").cast("long").alias("inlinks"),
            F.count(F.lit(1)).cast("long").alias("src_hosts"),
            F.max("n").cast("long").alias("_top_src_n"),
        )
    )
    by_anchor = (
        e.groupBy("dst", "anchor").agg(F.count(F.lit(1)).alias("n"))
        .groupBy("dst")
        .agg(F.max("n").cast("long").alias("_top_anchor_n"))
    )
    out = by_src.join(by_anchor, "dst")
    # `div` is int64 floor division in Spark SQL — exact at any count,
    # unlike `/` (double) whose 53-bit mantissa rounds above ~9e12
    src_share = F.expr("10000 * _top_src_n div inlinks").cast("long")
    anc_share = F.expr("10000 * _top_anchor_n div inlinks").cast("long")
    return out.select(
        F.col("dst").alias("host"),
        F.col("inlinks"),
        F.col("src_hosts"),
        src_share.alias("top_src_share_bp"),
        anc_share.alias("top_anchor_share_bp"),
        (
            (F.col("inlinks") >= F.lit(int(min_inlinks)))
            & (
                (src_share >= F.lit(int(src_share_bp)))
                | (anc_share >= F.lit(int(anchor_share_bp)))
            )
        ).alias("spam_flag"),
    )


def trust_rank(edges: DataFrame, seeds: "list[str]",
               iters: int = 5, damping_x1000: int = 850,
               src_col: str = "src", dst_col: str = "dst",
               scaled_teleport: bool = False,
               local_threshold: int = LOCAL_ROWS) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): PageRank
    with the teleport biased onto a hand-vetted TRUSTED seed set, so
    trust flows only along links out of good hosts and decays with
    distance from them. Link farms — which inflate plain PageRank by
    linking to each other — receive (almost) none of it: a host no seed
    transitively endorses scores 0. Read together with
    :func:`link_spam_signals`: high in-link concentration AND low trust
    is the classic spam verdict; high PageRank AND low trust is
    Gyöngyi's spam-mass shape.

    Same integer micro-unit scheme as :func:`host_rank` (quantized,
    layout- and engine-bit-identical), with two changes::

        t0(h)  = RANK_UNIT            if h in seeds else 0
        t'(h)  = is_seed(h) * (1000 - d)*1000
                 + d * sum(t(src) // outdeg(src)) // 1000

    i.e. the teleport term lands ONLY on seeds (the biased
    personalization vector), everything else is the host_rank update.
    Trust is comparative (queue ordering / gating), not a probability,
    so the seed mass is per-seed RANK_UNIT rather than 1/|seeds| —
    ordering is identical and the integers stay large enough to floor
    safely.

    ``scaled_teleport=True`` multiplies the seed init and teleport by
    ``|hosts| // |seeds|`` (integer), putting total trust mass on the
    SAME scale as host_rank's uniform teleport — the normalization
    Gyöngyi's relative-mass comparison needs (without it, trust totals
    |seeds|·UNIT vs PageRank's |hosts|·UNIT and every host looks
    under-trusted). Ordering within trust is unchanged; only
    cross-measure comparisons (:func:`spam_mass`) need it. int64-safe:
    the scaled unit is ≤ RANK_UNIT·|hosts|, the same bound host_rank's
    overflow analysis already covers. Costs one ``nodes.count()`` on
    the checkpointed node table.

    Scale shape: identical to :func:`host_rank` — three host-keyed
    shuffles per iteration, lazy linear plan (ranks referenced once per
    iteration, so no per-iteration checkpoint — see host_rank); the
    seed set is a literal in-plan array (vetted seed lists are
    hundreds-to-thousands of hosts — driver-side by nature). Returns
    ``(host, trust_x1e6)`` for every host appearing as src or dst.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    # small-graph fast path (same dispatch as host_rank); the kernel
    # computes the scaled-teleport factor from the same distinct-host
    # count the DataFrame path would
    small = rows_if_small(e, local_threshold)
    if small is not None:
        return _local_rank(small, iters, damping_x1000, "trust_x1e6",
                           seeds=seeds, scaled_teleport=scaled_teleport)
    nodes = _host_nodes(e)
    seed_arr = F.array(*[F.lit(s) for s in sorted(set(seeds))])
    is_seed = F.array_contains(seed_arr, F.col("host"))
    scale = 1
    if scaled_teleport:
        scale = max(1, nodes.count() // len(set(seeds)))

    def on_seeds(v: int) -> Column:
        return F.when(is_seed, F.lit(v)).otherwise(F.lit(0)).cast("long")

    return _power_iteration(
        e, nodes, iters, damping_x1000, "trust_x1e6",
        init=on_seeds(RANK_UNIT * scale),
        teleport=on_seeds((1000 - damping_x1000) * 1000 * scale),
    )


def spam_mass(edges: DataFrame, seeds: "list[str]",
              iters: int = 5, damping_x1000: int = 850,
              src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Relative spam mass (Gyöngyi et al., "Link Spam Detection Based on
    Mass Estimation", VLDB 2006): the share of a host's PageRank NOT
    backed by trust — ``mass = (pr - trust) / pr`` — in integer basis
    points. A host whose rank comes from seed-endorsed neighborhoods
    scores near 0 bp; a link farm that inflated its PageRank without any
    trusted endorsement scores near 10000 bp. The third leg of the spam
    stack: :func:`link_spam_signals` (local edge statistics),
    :func:`trust_rank` (global trust), spam_mass (the verdict ratio).

    Normalization (the part the paper is careful about): raw trust
    totals ``|seeds| * UNIT`` while PageRank totals ``|hosts| * UNIT``,
    so subtracting them directly calls every host under-trusted. Trust
    therefore runs with ``scaled_teleport=True`` — seed mass multiplied
    by ``|hosts| // |seeds|`` — which puts both measures on the same
    total-mass scale. Scaled trust CAN then exceed a host's PageRank
    (seed neighborhoods hold trust mass that plain PageRank spreads
    everywhere), so the mass clamps at 0: ``max(0, 10000*(pr - t) div
    pr)``. pr > 0 always (uniform teleport), so the division is safe.

    Cost: the two power iterations run over the SAME localCheckpointed
    edge+outdeg table shape (host_rank and trust_rank each checkpoint
    their own copy — at cluster scale cache the edge list before
    calling), then ONE |hosts|-sized equi-join. Returns
    ``(host, pr_x1e6, trust_x1e6, spam_mass_bp)`` with trust in scaled
    units.
    """
    pr = host_rank(edges, iters, damping_x1000, src_col, dst_col)
    tr = trust_rank(edges, seeds, iters, damping_x1000, src_col, dst_col,
                    scaled_teleport=True)
    return (
        pr.join(tr, "host")
        .select(
            "host", "pr_x1e6", "trust_x1e6",
            F.greatest(
                F.lit(0).cast("long"),
                F.expr("10000 * (pr_x1e6 - trust_x1e6) div pr_x1e6")
                .cast("long"),
            ).alias("spam_mass_bp"),
        )
    )


def reciprocal_link_rate(edges: DataFrame,
                         src_col: str = "src",
                         dst_col: str = "dst") -> DataFrame:
    """Per-host reciprocal-link rate — the link-exchange signal (Fetterly
    et al.'s spam statistics; "I link to you, you link to me" rings are
    cheap to build and organic linking is strongly asymmetric): of a
    host's distinct out-neighbors, the share that link BACK, in integer
    basis points. Mutual-linking rings read near 10000 bp; organic hosts
    sit low. A ranking/dedup pipeline reads this next to
    :func:`link_spam_signals` (in-link shape) and :func:`spam_mass`
    (trust deficit) — three independent spam axes.

    Plan: DISTINCT directed pairs (one census shuffle, parallel edges
    collapse), LEFT SEMI self-join against the swapped pair set (hash
    join on the same key width — no data duplication, semi returns at
    most one row per pair), then one map-side-combinable host rollup.
    Self-loops are excluded (a host trivially "reciprocates" itself).
    Returns ``(host, out_hosts, reciprocal_hosts, reciprocal_bp)`` for
    every host with at least one distinct out-neighbor.
    """
    pairs = (
        edges.select(
            F.col(src_col).alias("a"), F.col(dst_col).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    back = pairs.select(
        F.col("b").alias("a"), F.col("a").alias("b")
    )
    recip = pairs.join(back, ["a", "b"], "left_semi")
    out_n = pairs.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("out_hosts")
    )
    rec_n = recip.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("reciprocal_hosts")
    )
    return (
        out_n.join(rec_n, "a", "left")
        .select(
            F.col("a").alias("host"),
            "out_hosts",
            F.coalesce("reciprocal_hosts", F.lit(0)).cast("long")
            .alias("reciprocal_hosts"),
            F.expr(
                "10000 * coalesce(reciprocal_hosts, 0) div out_hosts"
            ).cast("long").alias("reciprocal_bp"),
        )
    )


def label_communities(edges: DataFrame, iters: int = 4,
                      src_col: str = "src",
                      dst_col: str = "dst",
                      local_threshold: int = LOCAL_ROWS
                      ) -> DataFrame:
    """Host communities by SYNCHRONOUS label propagation (Raghavan et
    al. 2007) over the undirected simple host graph: every host starts
    labeled with itself; each iteration every host adopts the most
    frequent label among its neighbors PLUS its own current label (the
    self-inclusive vote — without it a mutual pair oscillates x↔y
    forever under synchronous updates), ties broken by minimum label.
    A fixed iteration count plus the deterministic tie-break makes the
    result bit-identical across engines, partition layouts, and the
    unrolled-CTE oracle — the async/random-order variant of the paper
    converges faster but is run-order-dependent, which a contract
    operator cannot be. Communities ≠ connected components: a bridge
    edge between two dense clusters leaves them in one component but
    (usually) two labels.

    Scale shape per iteration: neighbor-label join on host (uniform —
    label payloads are host ids, never lists), label census
    groupBy(host, label) with map-side partial counts, then the mode
    pick as a per-host top-1 window (Catalyst inserts the map-side
    WindowGroupLimit for the rank-1 shape — same machinery as
    per_source_cap). The self vote means every host always has a
    census row, so the mode pick IS the next label table — no join
    back to the node set (self-loop-only hosts keep their own label
    through their self vote). Degree bounds the census rows (sum deg =
    2|E| + |V|); ``localCheckpoint`` per iteration keeps the plan
    linear like :func:`host_rank`.

    Returns (host, community) for every host appearing as src or dst.
    """
    from pyspark.sql.window import Window

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    # small-graph fast path (same dispatch as host_rank): the raw edge
    # list crosses once and the kernel dedups/undirects it in-task
    small = rows_if_small(e, local_threshold)
    if small is not None:
        return _local_communities(small, iters)
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .unionByName(
            e.filter(F.col("src") != F.col("dst"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    nodes = _host_nodes(e)
    labels = nodes.withColumn("community", F.col("host"))
    w = Window.partitionBy("host").orderBy(
        F.col("n").desc(), F.col("community")
    )
    for _ in range(iters):
        nb = und.join(
            labels.select(
                F.col("host").alias("dst"), F.col("community")
            ),
            "dst",
        ).select(F.col("src").alias("host"), "community").unionByName(
            labels.select("host", "community")  # the self vote
        )
        # the self vote guarantees every host a census row, so the mode
        # pick IS the next label table — no join back to the node set
        labels = (
            nb.groupBy("host", "community")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("host", "community")
            .localCheckpoint()
        )
    return labels


def degree_census(edges: DataFrame) -> DataFrame:
    """Per-host degree census over the directed host multigraph:
    ``out_edges``/``in_edges`` (link counts, parallel edges kept — the
    crawl-volume view) and ``out_hosts``/``in_hosts`` (distinct
    neighbors — the connectivity view). Hosts appearing only as a
    target read 0 on the out side and vice versa.

    Two map-side-combinable censuses (one per direction; the exact
    distinct-neighbor count rides the same shuffle as an expand) and
    one |hosts|-keyed full outer merge — nothing above census size.
    """
    out_c = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("out_edges"),
        F.countDistinct("dst").cast("long").alias("out_hosts"),
    )
    in_c = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("in_edges"),
        F.countDistinct("src").cast("long").alias("in_hosts"),
    )
    z = F.lit(0).cast("long")
    return (
        out_c.join(in_c, "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_edges", z).alias("out_edges"),
            F.coalesce("out_hosts", z).alias("out_hosts"),
            F.coalesce("in_edges", z).alias("in_edges"),
            F.coalesce("in_hosts", z).alias("in_hosts"),
        )
    )


def degree_histogram(census: DataFrame) -> DataFrame:
    """Log2-bucketed degree distribution over a :func:`degree_census`
    result — the power-law census (Broder et al., WWW'00 "Graph
    structure in the Web") read before sizing skew mitigations: the
    top buckets name the heavy hosts salting/AQE must absorb.

    One row per (measure, bucket, n_hosts): measure ∈ out_edges /
    out_hosts / in_edges / in_hosts; ``bucket = floor(log2(d))``
    computed INTEGER-exactly as ``length(bin(d)) - 1`` (never the
    float log), degree-0 hosts land in bucket -1. A 4-way stack
    projection + one census groupBy bounded by 4 × 64 buckets.
    """
    m = census.selectExpr(
        "stack(4, 'out_edges', out_edges, 'out_hosts', out_hosts, "
        "'in_edges', in_edges, 'in_hosts', in_hosts) AS (measure, d)"
    )
    bucket = F.when(F.col("d") == 0, F.lit(-1)).otherwise(
        F.length(F.conv(F.col("d").cast("string"), 10, 2)) - 1
    )
    return (
        m.withColumn("bucket", bucket.cast("long"))
        .groupBy("measure", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hosts"))
    )


def contract_edges(edges: DataFrame, mapping: DataFrame,
                   drop_self_loops: bool = True) -> DataFrame:
    """Rewrite the link graph through a node-identification mapping —
    redirect finals (:func:`~..redirects.resolve_redirects` filtered to
    resolved), canonical-URL groups, or learned DUST rewrites — so
    ranking runs on the graph users actually land on. Without this,
    every alias of a popular page splits its PageRank/TrustRank mass
    (the classic www/apex split).

    ``mapping`` rows are (src, final); nodes absent from the mapping
    represent themselves. Parallel edges that collapse onto the same
    contracted pair merge into one row with their multiplicity in
    ``weight``; self-loops created by the contraction (links between
    aliases of one node) are dropped by default — they would otherwise
    let a redirect ring vote for itself in every rank pass.

    Scale shape: two |mapping|-row joins against the edge list (one per
    endpoint — broadcast when the alias table is small, shuffle-on-key
    otherwise; Spark/AQE picks) + one (src, dst) census groupBy.
    Nothing above edge-census size.
    """
    m_src = mapping.select(
        F.col("src").alias("src"), F.col("final").alias("__fs")
    )
    m_dst = mapping.select(
        F.col("src").alias("dst"), F.col("final").alias("__fd")
    )
    out = (
        edges.select("src", "dst")
        .join(m_src, "src", "left")
        .join(m_dst, "dst", "left")
        .select(
            F.coalesce("__fs", F.col("src")).alias("src"),
            F.coalesce("__fd", F.col("dst")).alias("dst"),
        )
    )
    if drop_self_loops:
        out = out.filter(F.col("src") != F.col("dst"))
    return out.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("weight")
    )


def domain_rollup(census: DataFrame, depth: int = 2) -> DataFrame:
    """Site-level rollup of a per-host :func:`degree_census`: group
    hosts by their ``depth``-label domain suffix (``a.b.example.com``
    at depth 2 → ``example.com``) and sum the degree measures — the
    registrable-domain view a crawl planner budgets against, since
    per-host budgets alone let a wildcard-subdomain site (blogspot-
    style, or a spam farm minting hosts) multiply its effective crawl
    share by its host count. ``n_hosts`` is exactly that multiplier.

    Hosts with fewer than ``depth`` labels (bare TLDs, localhost-style
    names) roll up under themselves. One census-sized groupBy — input
    is already |hosts|-bounded, output |domains|-bounded.
    """
    from .url import host_suffix

    dom = F.coalesce(host_suffix(F.col("host"), depth), F.col("host"))
    return (
        census.withColumn("domain", dom)
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hosts"),
            F.sum("out_edges").cast("long").alias("out_edges"),
            F.sum("out_hosts").cast("long").alias("out_hosts"),
            F.sum("in_edges").cast("long").alias("in_edges"),
            F.sum("in_hosts").cast("long").alias("in_hosts"),
        )
    )
