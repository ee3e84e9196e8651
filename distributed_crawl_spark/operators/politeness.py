"""Per-host politeness budget — the salted window ranking (SURVEY.md §2.9 W1).

The reference rate-limits globally (one ``time.sleep(rate_limit_delay)``
per scheduler tick, run_crawl_local.py:312-313) and has no per-host queue.
At 10^10-URL scale a global limit is meaningless and per-host fairness is
mandatory, so the engine selects each round's fetchable set with a window:

    row_number() OVER (PARTITION BY host[, salt] ORDER BY level, attempt,
                       seq) <= budget

**Skew**: one mega-host owning 30%+ of the frontier would put 30% of rows
in one window partition — one straggler task. Hosts whose pending count
exceeds ``salt_threshold`` are split into ``n_salts`` salt lanes keyed by
``pmod(url_hash, n_salts)``; each lane gets ``ceil(budget / n_salts)``
slots. The shuffle then spreads the mega-host over n_salts tasks. AQE skew
handling remains on as backstop, but the salting is explicit and tested
(tests/test_politeness.py asserts lane balance on a Zipf frontier).

The heavy-host census is one map-side-combinable groupBy over the frontier,
broadcast back — tiny (#distinct hosts ≪ #urls).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


RANK_COLS = ["rn", "salt", "n_salts", "lane_budget"]


def rank_frontier(
    frontier: DataFrame,
    host_budget: int,
    salt_threshold: int = 100_000,
    max_salts: int = 32,
    host_budgets: DataFrame | None = None,
    budget_col: str | None = None,
) -> DataFrame:
    """Frontier with window rank + per-lane budget attached — ONE window
    shuffle; callers split selected/deferred by filtering ``rn`` against
    ``lane_budget`` (the driver materializes this once per round so the
    selected and deferred branches never recompute the window).

    ``budget_col`` names a nullable per-row budget column of
    ``frontier`` (e.g. robots Crawl-delay budgets,
    operators/robots.py:crawl_delay_budget) that overrides the scalar
    ``host_budget`` where it is not NULL; it is consumed (``lane_budget``
    carries the effective value). ``host_budgets`` (host, budget) feeds
    that same column through a broadcast join — same single shuffle;
    when both are given the tighter one binds per host (LEAST, and a
    host in only one of them keeps that one's budget).
    """
    heavy = (
        frontier.groupBy("host")
        .agg(F.count("*").alias("pending_count"))
        .filter(F.col("pending_count") > salt_threshold)
        .withColumn(
            "n_salts",
            F.least(
                F.lit(max_salts),
                F.ceil(F.col("pending_count") / salt_threshold).cast("int"),
            ),
        )
        .select("host", "n_salts")
    )

    salted = frontier.join(F.broadcast(heavy), "host", "left").withColumn(
        "salt",
        F.when(
            F.col("n_salts").isNotNull(),
            F.pmod(F.xxhash64("url"), F.col("n_salts")).cast("int"),
        ).otherwise(F.lit(0)),
    )
    if host_budgets is not None:
        salted = salted.join(
            F.broadcast(host_budgets.select("host", F.col("budget").alias("__hb"))),
            "host",
            "left",
        )
        if budget_col is not None:  # least() skips NULLs
            salted = salted.withColumn(
                "__hb", F.least(F.col(budget_col), F.col("__hb"))
            ).drop(budget_col)
        budget_col = "__hb"
    eff_budget = F.lit(host_budget).cast("long")
    if budget_col is not None:
        eff_budget = F.coalesce(F.col(budget_col).cast("long"), eff_budget)

    w = Window.partitionBy("host", "salt").orderBy("level", "attempt", "seq")
    lane_budget = F.when(
        F.col("n_salts").isNotNull(),
        F.ceil(eff_budget / F.col("n_salts")),
    ).otherwise(eff_budget)

    out = salted.withColumn("rn", F.row_number().over(w)).withColumn(
        "lane_budget", lane_budget.cast("long")
    )
    return out.drop(budget_col) if budget_col is not None else out


def split_ranked(ranked: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(selected, deferred) from a ``rank_frontier`` output."""
    selected = ranked.filter(F.col("rn") <= F.col("lane_budget")).drop(*RANK_COLS)
    deferred = ranked.filter(F.col("rn") > F.col("lane_budget")).drop(*RANK_COLS)
    return selected, deferred


def select_round(
    frontier: DataFrame,
    host_budget: int | None,
    salt_threshold: int = 100_000,
    max_salts: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """Split the pending frontier into (selected, deferred) for one round.

    ``host_budget=None`` → unlimited (every pending row selected; no
    shuffle at all — the window is skipped entirely, which is also the
    exact-ordering parity configuration).
    """
    if host_budget is None:
        return frontier, frontier.limit(0)
    return split_ranked(
        rank_frontier(frontier, host_budget, salt_threshold, max_salts)
    )


def error_backoff_budgets(failures: DataFrame, base_budget: int,
                          floor_budget: int = 1,
                          max_shift: int = 6) -> DataFrame:
    """Per-host exponential backoff from failure counts — the adaptive
    politeness loop a production crawler closes: a host that keeps
    timing out or 5xx-ing gets its next-round budget halved per
    failure (``budget = max(floor, base >> min(n_failures,
    max_shift))``), instead of burning the same slots on a dead or
    throttling host every round. Complements robots Crawl-delay
    (declared limits) with OBSERVED behaviour; floor_budget keeps the
    host probed so recovery is detected.

    Input: (host, n_failures) — e.g. the driver's status table
    filtered to the last round's failures and counted (one combinable
    shuffle the caller already pays for its error histogram). This
    function itself is a pure projection; the output (host, budget)
    plugs into ``rank_frontier``'s ``host_budgets`` broadcast join, so
    the whole backoff path adds ZERO shuffles to a round. Integer
    shift arithmetic — deterministic and oracle-portable.
    """
    shifted = F.expr(
        f"shiftright(CAST({int(base_budget)} AS BIGINT), "
        f"CAST(least(n_failures, {int(max_shift)}) AS INT))"
    )
    return failures.select(
        "host",
        F.greatest(
            F.lit(floor_budget).cast("long"), shifted.cast("long")
        ).alias("budget"),
    )


def politeness_audit(fetch_log: DataFrame, delay_s: int,
                     host_col: str = "host", ts_col: str = "ts",
                     seq_col: str = "event_id") -> DataFrame:
    """Compliance audit of a fetch log against a politeness delay: for
    each host, the observed inter-fetch gaps vs the delay the crawler
    was supposed to honor (robots Crawl-delay or the configured
    default). The operational closing-of-the-loop on W1: the window
    scheduler PLANS polite rounds; this measures what the fetch layer
    actually DID — drift here means rounds overlap on a host, retries
    bypass the ranker, or a mirror host aliases to the same origin.

    Output per host: n_fetches, n_gaps (= n_fetches − 1), min_gap_s,
    n_violations (gaps strictly under ``delay_s``), violation_bp
    (``(10000·n_violations) DIV max(n_gaps, 1)``, floor basis points).

    Plan: ONE window exchange keyed by host (lag over (ts, seq) — the
    seq tie-break makes simultaneous fetches deterministic), then a
    map-side-combinable per-host census; the same shape and skew story
    as sessionize (a bot-heavy host is an AQE-skew case, not a plan
    change). Integer-seconds arithmetic, oracle-portable.
    """
    w = Window.partitionBy(host_col).orderBy(ts_col, seq_col)
    gap = (
        F.unix_timestamp(F.col(ts_col))
        - F.unix_timestamp(F.lag(F.col(ts_col)).over(w))
    ).cast("long")
    return (
        fetch_log.select(F.col(host_col).alias("host"), gap.alias("__gap"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fetches"),
            F.count("__gap").cast("long").alias("n_gaps"),
            F.min("__gap").cast("long").alias("min_gap_s"),
            F.coalesce(
                F.sum((F.col("__gap") < delay_s).cast("int")), F.lit(0)
            ).cast("long").alias("n_violations"),
        )
        .select(
            "host", "n_fetches", "n_gaps",
            "min_gap_s", "n_violations",
            F.expr("CAST((10000 * n_violations) DIV greatest(n_gaps, 1)"
                   " AS BIGINT)").alias("violation_bp"),
        )
        .orderBy("host")
    )


def drain_plan(frontier: DataFrame, budgets: DataFrame | None = None,
               default_budget: int = 1,
               host_col: str = "host") -> DataFrame:
    """Frontier drain forecast: given the queued URLs and each host's
    per-round politeness budget, how many polite rounds until each
    host's queue empties — the capacity-planning number behind the A6
    rate/ETA metric (ETA says how fast the crawl IS going; this says
    how long it MUST take, because politeness caps per-host progress
    no matter how many executors exist: a 10M-URL host at budget 100
    pins the tail at 100k rounds, and adding machines cannot help).

    ``budgets`` is an optional (host, budget) table — e.g.
    :func:`error_backoff_budgets` or graph.py's rank-weighted budgets;
    hosts absent from it (or with a non-positive budget) fall back to
    ``default_budget``. Output per host: n_queued, budget,
    rounds_needed (= ceil-division ``(n_queued + budget − 1) DIV
    budget``), ordered by rounds_needed descending then host — the
    head IS the list of hosts that bound the crawl horizon.

    Scale: one map-side-combinable host census over the frontier, then
    a |hosts|-keyed join against the budgets table (census-sized on
    BOTH sides — deliberately not forced to broadcast; at 10^10-URL
    frontiers the host table is millions of rows and AQE picks the
    right strategy), zero corpus-sized exchange after the census.
    """
    census = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_queued")
    )
    if budgets is not None:
        b = budgets.select(
            F.col(host_col).alias("host"),
            F.col("budget").cast("long").alias("__b"),
        )
        census = census.join(b, "host", "left")
    else:
        census = census.withColumn("__b", F.lit(None).cast("long"))
    eff = F.when(F.col("__b") > 0, F.col("__b")).otherwise(
        F.lit(default_budget).cast("long")
    )
    return (
        census.select("host", "n_queued", eff.alias("budget"))
        .select(
            "host", "n_queued", "budget",
            F.expr("CAST((n_queued + budget - 1) DIV budget AS BIGINT)")
            .alias("rounds_needed"),
        )
        .orderBy(F.desc("rounds_needed"), "host")
    )


def lane_assignment(hosts: DataFrame, n_lanes: int = 16,
                    host_col: str = "host") -> DataFrame:
    """Rendezvous (highest-random-weight) host → fetcher-lane pinning.

    Politeness is only enforceable when ALL of a host's fetches go
    through one serialization point: a distributed fetch tier therefore
    pins each host to a lane (executor slot / fetcher process), the
    Heritrix/Nutch queue-assignment model. The reference crawler is a
    single process (thebenjy/distributed_crawl crawler.py) and needs no
    pinning; at 1000 executors the pinning function IS the politeness
    guarantee.

    Rendezvous hashing (Thaler & Ravishankar 1998) beats mod-N here:
    when a lane is added or removed, ONLY the hosts whose argmax lane
    changed move (expected 1/n_lanes of them) — mod-N reshuffles
    almost every host, breaking per-host rate memory on every fleet
    resize.

    score(host, lane) = md5_int48(host ‖ ':' ‖ lane); the lane with the
    highest score wins, ties (2^-48) broken toward the smaller lane id.
    Returns (host, lane, score) per distinct host.

    Scale shape: zero-shuffle explode to n_lanes candidate rows, then a
    per-host top-1 window over exactly n_lanes rows — the
    row_number()=1 shape Spark 4 rewrites to a map-side
    WindowGroupLimit, so nothing but |hosts| rows reach the exchange.
    Deterministic across engines: md5 on both sides.
    """
    from distributed_crawl_spark.functions.dedup import md5_int48

    if n_lanes <= 0:
        raise ValueError(f"n_lanes must be positive, got {n_lanes}")
    cand = (
        hosts.select(F.col(host_col).alias("host"))
        .distinct()
        .select(
            "host",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_lanes - 1))
            ).alias("lane"),
        )
        .withColumn(
            "score",
            md5_int48(
                F.concat(F.col("host"), F.lit(":"), F.col("lane").cast("string"))
            ),
        )
    )
    w = Window.partitionBy("host").orderBy(F.desc("score"), F.asc("lane"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("host", F.col("lane").cast("long").alias("lane"), "score")
    )


def lane_load(assigned: DataFrame, weights: DataFrame | None = None,
              host_col: str = "host") -> DataFrame:
    """Per-lane load census over a :func:`lane_assignment` result.

    ``weights`` (host, weight) — e.g. queued-URL counts from the
    frontier census — joins in as the load measure; absent, every host
    weighs 1. Returns (lane, n_hosts, total_weight): the skew report a
    fleet scheduler reads before resizing.

    One |hosts|-keyed left join plus one map-side-combinable groupBy on
    lane (≤ n_lanes output rows).
    """
    a = assigned.select("host", "lane")
    if weights is not None:
        w = weights.select(
            F.col(host_col).alias("host"),
            F.col("weight").cast("long").alias("__w"),
        )
        a = a.join(w, "host", "left")
    else:
        a = a.withColumn("__w", F.lit(1).cast("long"))
    return a.groupBy("lane").agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.sum(F.coalesce(F.col("__w"), F.lit(1))).cast("long")
        .alias("total_weight"),
    )
