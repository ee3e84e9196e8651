"""Micro-batch crawl driver (SURVEY.md §2.13/§3.4).

The reference's scheduler tick (run_crawl_local.py:269-313) becomes a
round loop: each round is one set of declarative plans committed as one
atomic snapshot. The loop is the only imperative remnant — everything
inside a round is Catalyst-planned DataFrame dataflow; the shape matches
a Structured-Streaming ``foreachBatch`` body so a ``Trigger.AvailableNow``
wrapper could drive it unchanged.

Per-round lineage counters (BASELINE.json): urls_seen, fetched, deduped,
deferred_by_politeness (+ failed, robots_denied, new_frontier) land in the
``round_metrics`` append table and the commit pointer metadata.

Resume: state lives entirely in the checkpoint; ``CrawlDriver.resume()``
continues from the latest committed round — mid-round crashes replay the
whole round (rounds are idempotent because commits are all-or-nothing).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..operators.fetch import fetch_hits, fetch_misses
from ..operators.politeness import rank_frontier, split_ranked
from ..operators.robots import apply_robots_gate
from ..operators.seen import BloomSeenFilter, filter_unseen
from ..plans.round import FRONTIER_COLS, child_candidates, seeds_to_frontier
from ..schema import ROUND_METRICS_SCHEMA
from .checkpoint import CheckpointStore


def _fork_join(concurrent: bool, *thunks):
    """Run independent staged-write actions concurrently from Python
    threads — the local-mode analog of a cluster driver submitting
    independent stages without waiting on each other.

    Every thunk materializes a write whose inputs are ALREADY parquet
    (no shared lineage), onto a distinct table name (disjoint staging
    paths + dict keys), so concurrency cannot change any table's
    contents — it only overlaps the per-job fixed costs (plan, submit,
    Py4J, output-commit) that otherwise stack up serially and cap the
    high-core-count legs of the N→4N scaling pair. ``InheritableThread``
    keeps scheduler-pool/job-group local properties correct under
    PySpark's pinned-thread mode. Returns thunk results in order;
    re-raises the first failure (the round's commit then never
    finalizes — same crash-atomicity contract as serial mode).
    """
    if not concurrent or len(thunks) == 1:
        return [t() for t in thunks]
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: list = []

    def _run(i, thunk):
        try:
            results[i] = thunk()
        except BaseException as exc:  # noqa: BLE001 — propagate to the round
            errors.append(exc)

    threads = [
        InheritableThread(target=_run, args=(i, t)) for i, t in enumerate(thunks)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]
    return results


def _seen_events(frontier_like: DataFrame, status: str, round_no: int) -> DataFrame:
    """Status-event rows for the append-only url_seen log."""
    return frontier_like.select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.lit(status).alias("status"),
        "level",
        "attempt",
        "parent_url",
        F.lit(round_no).alias("discovered_round"),
        "seq",
    )


@dataclass
class RoundStats:
    round: int
    urls_seen: int
    fetched: int
    failed: int
    deduped: int
    deferred_by_politeness: int
    robots_denied: int
    geo_blocked_skipped: int
    new_frontier: int
    # D3 storage parity: dup-content rows withheld from the crawl_results
    # append this round (0 unless CrawlConfig.content_dedup)
    content_deduped: int = 0
    # noindex pages withheld from storage (0 unless CrawlConfig.honor_noindex)
    noindex_skipped: int = 0
    seconds: float = 0.0  # round wall time — feeds rate/ETA (A6)
    # deferred + retries + new — derived from the same Observations, so
    # the drain check needs NO standalone frontier count job (the between-
    # rounds limit(1).count() was part of the measured serial floor)
    frontier_size: int = 0


class CrawlDriver:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame | None,
        cfg: CrawlConfig,
        checkpoint_dir: str,
    ):
        cfg.validate()
        self.spark = spark
        self.pages = pages
        self.robots = robots
        self.cfg = cfg
        self.store = CheckpointStore(checkpoint_dir, scratch_dir=cfg.scratch_dir)
        if not cfg.use_bloom:
            self.bloom = None
        elif cfg.seen_filter == "cuckoo":
            from ..operators.cuckoo import CuckooSeenFilter

            self.bloom = CuckooSeenFilter(cfg.bloom_buckets, cfg.cuckoo_buckets)
        else:
            self.bloom = BloomSeenFilter(cfg.bloom_buckets, cfg.bloom_bits)
        self.stats: list[RoundStats] = []
        # offline rank-job budgets (host, budget): loaded once, broadcast
        # into every round's politeness window (config.host_budgets_path)
        self._rank_budgets: DataFrame | None = None
        if cfg.host_budgets_path is not None:
            self._rank_budgets = (
                spark.read.parquet(cfg.host_budgets_path)
                .select("host", F.col("budget").cast("long").alias("budget"))
                .localCheckpoint()
            )
        # learned strippable-param verdicts (host, param, strippable):
        # folded once to per-host drop sets, broadcast into each round's
        # child-link canonicalization (config.strip_params_path)
        self._param_drops: DataFrame | None = None
        if cfg.strip_params_path is not None:
            self._param_drops = (
                spark.read.parquet(cfg.strip_params_path)
                .filter(F.col("strippable"))
                .groupBy("host")
                .agg(F.collect_set("param").alias("drop_set"))
                .localCheckpoint()
            )

    # -- lifecycle -------------------------------------------------------------

    def start(self, seeds: DataFrame) -> None:
        """Round -1 commit: seeds → frontier + seen(pending) + bloom."""
        frontier = seeds_to_frontier(seeds)
        staging = self.store.begin()
        frontier = staging.write_replace("frontier", frontier)
        staging.write_append("url_seen", _seen_events(frontier, "pending", 0))
        if self.bloom:
            state = self.bloom.insert(
                self.bloom.empty_state(self.spark), frontier.select("url")
            )
            staging.write_replace("bloom_state", state)
        # bootstrap-only aggregate; progress() needs the denominator and
        # add_seeds() needs the FIFO seq watermark — one job for both
        boot = frontier.agg(
            F.count(F.lit(1)).alias("n"), F.max("seq").alias("m")
        ).first()
        staging.finalize(
            {
                "round": -1,
                "seen_filter_format": self.bloom.format if self.bloom else None,
                "n_seeds": int(boot["n"]),
                "seq_watermark": int(boot["m"]) + 1 if boot["m"] is not None else 0,
            }
        )

    def run(self, seeds: DataFrame | None = None) -> list[RoundStats]:
        """Full crawl: start (unless resuming) then loop until the frontier
        drains or max_rounds."""
        if seeds is not None:
            self.start(seeds)
        else:
            self._check_seen_filter()
        round_no = self._next_round()
        k = self.cfg.compact_every
        while round_no < self.cfg.max_rounds:
            stats = self.run_round(round_no)
            self.stats.append(stats)
            # Periodic maintenance commit: fold the append logs so url_seen/
            # crawl_results reads union O(compact_every) deltas instead of
            # O(rounds), then drop unreferenced version dirs. Pointer meta
            # (round, metrics_history) is carried through the commit.
            if k is not None and (round_no + 1) % k == 0:
                self.store.compact(self.spark)
                self.store.gc()
            if stats.frontier_size == 0:  # drained — no count job needed
                break
            round_no += 1
        return self.stats

    def resume(self) -> list[RoundStats]:
        """Continue from the latest committed snapshot."""
        return self.run(seeds=None)

    def add_seeds(self, seeds: DataFrame) -> int:
        """Mid-crawl seed injection — the streaming-ingestion commit
        (``stream_crawl`` calls this per micro-batch). New, never-enqueued
        seed URLs join the frontier at level 0; their FIFO ``seq``
        continues after the committed watermark so ordering stays total
        across batches; already-seen URLs are dropped by the same
        raw-string contract as organic links (§2.10). Returns the number
        of newly enqueued URLs. On an empty checkpoint this is exactly
        ``start()``.
        """
        meta = self.store.latest_meta()
        if meta is None:
            self.start(seeds)
            return int(self.store.latest_meta()["n_seeds"])
        spark = self.spark
        offset = int(meta.get("seq_watermark", meta.get("n_seeds", 0)))
        nr = self._next_round()
        frontier_add = seeds_to_frontier(
            seeds.select("url", (F.col("seq") + offset).alias("seq"))
        ).withColumn("discovered_round", F.lit(nr))
        url_seen = self.store.read(spark, "url_seen")
        fresh = frontier_add.join(
            url_seen.select("url").distinct(), "url", "left_anti"
        )
        staging = self.store.begin()
        obs = Observation()
        fresh = staging.write_scratch(
            "_seed_add",
            fresh.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.max("seq").alias("max_seq"),
            ),
        )
        n_new = int(obs.get["n"] or 0)
        if n_new == 0:
            staging.abandon()
            return 0
        watermark = max(offset, int(obs.get["max_seq"]) + 1)
        frontier = self.store.read(spark, "frontier")
        staging.write_replace(
            "frontier",
            frontier.select(*FRONTIER_COLS).unionByName(
                fresh.select(*FRONTIER_COLS)
            ),
        )
        staging.write_append("url_seen", _seen_events(fresh, "pending", nr))
        if self.bloom:
            state = self.store.read(spark, "bloom_state")
            staging.write_replace(
                "bloom_state", self.bloom.insert(state, fresh.select("url"))
            )
        staging.finalize(
            {
                # progress() denominator grows with injected seeds
                "n_seeds": int(meta.get("n_seeds", 0)) + n_new,
                "seq_watermark": watermark,
            }
        )
        return n_new

    def _check_seen_filter(self) -> None:
        """Persisted seen-filter bitmaps are valid only for the exact hash
        scheme + geometry that built them — probing with different code
        yields false negatives, and filter_unseen's definite-new branch
        would silently re-enqueue already-crawled URLs. On a format
        mismatch (old checkpoint, changed config), rebuild the filter from
        the exact url_seen log and stamp the new format."""
        if not self.bloom:
            return
        meta = self.store.latest_meta()
        if meta is None or meta.get("seen_filter_format") == self.bloom.format:
            return
        state = self.bloom.insert(
            self.bloom.empty_state(self.spark),
            self.store.read(self.spark, "url_seen").select("url").distinct(),
        )
        staging = self.store.begin()
        staging.write_replace("bloom_state", state)
        staging.finalize({"seen_filter_format": self.bloom.format})

    def _next_round(self) -> int:
        meta = self.store.latest_meta()
        if meta is None:
            raise RuntimeError("no checkpoint to resume from — call start()")
        return meta.get("round", -1) + 1

    def _frontier_empty(self) -> bool:
        return self.store.read(self.spark, "frontier").limit(1).count() == 0

    # -- one round ---------------------------------------------------------------

    def run_round(self, round_no: int) -> RoundStats:
        """One micro-batch round. Every lineage counter rides an
        ``Observation`` on a write that happens anyway — a round runs NO
        standalone count jobs (at 10^10-frontier scale a stray count is a
        full table scan)."""
        import time as _time

        t0 = _time.monotonic()
        spark, cfg = self.spark, self.cfg
        frontier = self.store.read(spark, "frontier")
        staging = self.store.begin()

        # 1. robots gate — denied side is tiny; materialize it once so the
        #    seen/errors writes don't re-run the gate
        if self.robots is not None:
            allowed, denied = apply_robots_gate(frontier, self.robots)
            obs_denied = Observation()
            denied = staging.write_scratch(
                "_round_denied",
                denied.observe(obs_denied, F.count(F.lit(1)).alias("n")),
            )
            n_denied = int(obs_denied.get["n"])
        else:
            allowed, denied = frontier, frontier.limit(0)
            n_denied = 0

        # 2. politeness window — ONE window shuffle, materialized, then the
        #    selected and deferred branches are parquet filters over it
        if cfg.host_budget is None:
            selected, deferred, n_deferred = allowed, allowed.limit(0), 0
            n_selected = None  # unbounded slice — auto must not broadcast
        else:
            budgets = None
            if cfg.honor_crawl_delay and self.robots is not None:
                from ..operators.robots import crawl_delay_budgets

                budgets = crawl_delay_budgets(
                    self.robots, cfg.crawl_delay_round_seconds,
                    default_budget=cfg.host_budget,
                    round_no=round_no,  # spreads delays > window across rounds
                )
            if self._rank_budgets is not None:
                if budgets is None:
                    budgets = self._rank_budgets
                else:
                    # both constraints bind: LEAST of delay & rank budgets;
                    # a host in only one table keeps that table's budget
                    budgets = (
                        budgets.withColumnRenamed("budget", "__d")
                        .join(
                            self._rank_budgets
                            .withColumnRenamed("budget", "__r"),
                            "host", "outer",
                        )
                        .select(
                            "host",
                            F.least(
                                F.coalesce("__d", "__r"),
                                F.coalesce("__r", "__d"),
                            ).alias("budget"),
                        )
                    )
            obs_rank = Observation()
            ranked = staging.write_scratch(
                "_round_ranked",
                rank_frontier(
                    allowed, cfg.host_budget, cfg.salt_threshold,
                    cfg.max_salts, host_budgets=budgets,
                ).observe(
                    obs_rank,
                    F.sum(
                        (F.col("rn") <= F.col("lane_budget")).cast("long")
                    ).alias("n_selected"),
                ),
            )
            selected, deferred = split_ranked(ranked)
            n_deferred = None  # observed on the frontier write below
            n_selected = int(obs_rank.get["n_selected"] or 0)

        # Resolve the fetch-join strategy: broadcast only a slice that is
        # provably bounded (politeness budget exists) and observed small
        # enough; anything else takes the partitioned/bucketed join.
        if cfg.fetch_join_strategy == "auto":
            strategy = (
                "broadcast"
                if n_selected is not None
                and n_selected <= cfg.broadcast_row_limit
                else "shuffle"
            )
        else:
            strategy = cfg.fetch_join_strategy

        # 3. fetch + extract. Hits first: pages stay put (bucket-colocated
        #    or streamed vs a broadcast slice), html never shuffled, the
        #    pandas-UDF extraction runs exactly once — its write IS the
        #    crawl_results append (4.), no scratch+projection double write.
        #    Misses derived afterwards as a parquet-vs-parquet anti-join
        #    (selected slice vs the just-written hits).
        obs_fetch = Observation()
        hits = fetch_hits(
            selected, self.pages, cfg.max_links, cfg.extract_links,
            strategy=strategy, extract_mode=cfg.extract_mode,
            with_anchors=cfg.capture_anchors,
            honor_nofollow=cfg.honor_nofollow,
            with_meta=cfg.honor_noindex,
        ).withColumn("round", F.lit(round_no))
        hits = hits.observe(
            obs_fetch,
            F.count(F.lit(1)).alias("n_ok"),
            F.sum(F.col("geo_blocked").cast("long")).alias("n_geo"),
        )
        # F8 geo-block routing at the write boundary (hybrid_crawler.py:
        # 592-643): under 'skip' the reference's disable_lambda path logs the
        # error and never stores the result — so geo rows must not reach the
        # durable crawl_results log. Stage the extraction output once, then
        # append only the clean slice (a parquet→parquet projection copy;
        # extraction still runs exactly once). Under 'keep' (default) the
        # single direct append stands.
        n_content_deduped = 0
        n_noindex = 0
        if (cfg.geo_block_policy == "skip" or cfg.content_dedup
                or cfg.honor_noindex):
            attempted = staging.write_scratch("_round_hits", hits)
            m_fetch = obs_fetch.get
            n_ok = int(m_fetch["n_ok"] or 0)
            n_geo = int(m_fetch["n_geo"] or 0)
            if cfg.geo_block_policy == "skip":
                ok = attempted.filter(~F.col("geo_blocked"))
                geo_skipped = attempted.filter(F.col("geo_blocked"))
                n_ok -= n_geo
            else:
                ok, geo_skipped = attempted, attempted.limit(0)
            storable = ok
            if cfg.honor_noindex:
                # noindex contract: the page was crawled (counters/children
                # above see the full `ok` set) but its content never lands
                # in the durable store. Count rides the same append job.
                is_noindex = F.coalesce(
                    F.col("meta_robots"), F.lit("")
                ).rlike(r"\bnoindex\b")
                obs_noindex = Observation()
                storable = (
                    storable.observe(
                        obs_noindex,
                        F.sum(is_noindex.cast("long")).alias("n_noindex"),
                    )
                    .filter(~is_noindex)
                    .drop("meta_robots")  # results schema stays parity
                )
            if cfg.content_dedup:
                # D3 storage parity (hybrid_crawler.py:539-544): the
                # reference names each stored file by content hash, so its
                # store holds ONE copy per distinct content. Same here:
                # within-round keep the min-url row per md_hash (hits rows
                # always carry a hash — extraction ran), cross-round
                # anti-join against hashes already logged. Crawl FLOW is
                # untouched — dup-content pages still count as completed
                # and their links are followed, exactly as the reference
                # still analyzes a page whose file it overwrites.
                from pyspark.sql.window import Window

                w = Window.partitionBy("md_hash").orderBy("url")
                storable = (
                    storable.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )
                try:
                    prior = self.store.read(spark, "crawl_results").select(
                        "md_hash"
                    ).dropDuplicates(["md_hash"])
                    storable = storable.join(prior, "md_hash", "left_anti")
                except FileNotFoundError:
                    pass  # first round: nothing stored yet
                obs_store = Observation()
                storable = storable.observe(
                    obs_store, F.count(F.lit(1)).alias("n_stored")
                )
            staging.write_append("crawl_results", storable)
            if cfg.honor_noindex:
                n_noindex = int(obs_noindex.get["n_noindex"] or 0)
            if cfg.content_dedup:
                n_content_deduped = (
                    n_ok - n_noindex - int(obs_store.get["n_stored"] or 0)
                )
        else:
            attempted = staging.write_append("crawl_results", hits)
            m_fetch = obs_fetch.get
            n_ok = int(m_fetch["n_ok"] or 0)
            n_geo = int(m_fetch["n_geo"] or 0)
            ok, geo_skipped = attempted, attempted.limit(0)

        obs_miss = Observation()
        misses = fetch_misses(selected, attempted).withColumn(
            "round", F.lit(round_no)
        )
        misses = misses.observe(
            obs_miss,
            F.count(F.lit(1)).alias("n_miss"),
            F.sum(
                (F.col("attempt") + 1 >= cfg.retry_attempts).cast("long")
            ).alias("n_failed"),
        )

        # 5. children: extract links → filter → batch-dedup → seen-filter.
        #    Both the miss-log append and the children seen-probe scratch
        #    depend ONLY on the results append above — fork-join them.
        obs_cand = Observation()
        url_seen = self.store.read(spark, "url_seen")
        bloom_state = (
            self.store.read(spark, "bloom_state") if self.bloom else None
        )

        def _miss_write():
            return staging.write_append("miss_log", misses)

        def _children_probe():
            candidates = child_candidates(
                ok, cfg, round_no, observation=obs_cand,
                param_drops=self._param_drops,
            )
            return filter_unseen(
                candidates.select(*FRONTIER_COLS),
                url_seen,
                self.bloom,
                bloom_state,
                materialize=staging.write_scratch,
            )

        misses, new_frontier = _fork_join(
            cfg.concurrent_commits, _miss_write, _children_probe
        )
        m_miss = obs_miss.get
        n_failed = int(m_miss["n_failed"] or 0)
        n_miss = int(m_miss["n_miss"] or 0)

        bumped = misses.withColumn("attempt", F.col("attempt") + 1)
        retry = bumped.filter(F.col("attempt") < cfg.retry_attempts).select(
            *FRONTIER_COLS
        )
        failed = bumped.filter(F.col("attempt") >= cfg.retry_attempts)

        # 6. next frontier = deferred ∪ retries ∪ new children — staged;
        #    per-source counts observed on this one write
        obs_frontier = Observation()

        def _src(df: DataFrame, tag: str) -> DataFrame:
            return df.select(*FRONTIER_COLS, F.lit(tag).alias("_src"))

        next_frontier = (
            _src(deferred, "deferred")
            .unionByName(_src(retry, "retry"))
            .unionByName(_src(new_frontier, "new"))
            .observe(
                obs_frontier,
                F.sum((F.col("_src") == "deferred").cast("long")).alias("n_deferred"),
                F.sum((F.col("_src") == "new").cast("long")).alias("n_new"),
            )
            .select(*FRONTIER_COLS)
        )
        next_frontier = staging.write_replace("frontier", next_frontier)
        m_frontier = obs_frontier.get
        if n_deferred is None:
            n_deferred = int(m_frontier["n_deferred"] or 0)
        n_new = int(m_frontier["n_new"] or 0)
        n_candidates = int(obs_cand.get["n_candidates"] or 0)

        # 7. url_seen delta: new pending + completed + failed (+ robots)
        new_children = next_frontier.filter(
            F.col("discovered_round") == round_no + 1
        )
        seen_delta = (
            _seen_events(new_children, "pending", round_no + 1)
            .unionByName(_seen_events(ok, "completed", round_no))
            .unionByName(_seen_events(failed, "failed", round_no))
            .unionByName(_seen_events(denied, "robots_denied", round_no))
            .unionByName(_seen_events(geo_skipped, "geo_blocked_skipped", round_no))
        )
        # 8. errors delta (K4/R2 semantics: reason + 200-char preview) —
        #    skipped entirely on clean rounds (counts already observed)
        errors = failed.select(
            "url",
            F.lit(round_no).alias("round"),
            F.lit("fetch_miss_max_retries").alias("reason"),
            F.concat(F.lit("status "), F.col("status_code")).alias("error"),
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 200).alias("preview"),
        ).unionByName(
            denied.select(
                "url",
                F.lit(round_no).alias("round"),
                F.lit("robots_denied").alias("reason"),
                F.lit(None).cast("string").alias("error"),
                F.lit(None).cast("string").alias("preview"),
            )
        ).unionByName(
            geo_skipped.select(
                "url",
                F.lit(round_no).alias("round"),
                F.lit("geo_blocked").alias("reason"),
                F.lit(None).cast("string").alias("error"),
                F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 200).alias("preview"),
            )
        )
        n_geo_skipped = n_geo if cfg.geo_block_policy == "skip" else 0

        # 10. per-partition lineage: fetched/failed/new counts keyed by the
        #     url-hash bucket each row lives in — one slim agg over the
        #     already-materialized deltas per round. This is the audit trail
        #     that says WHICH partition of the seen/results space each
        #     round's rows landed in (Iceberg file-manifest stand-in).
        bucket = F.pmod(F.xxhash64("url"), F.lit(cfg.bloom_buckets)).cast("int")
        part_delta = (
            attempted.select(bucket.alias("bucket"), F.lit("fetched").alias("kind"))
            .unionByName(failed.select(bucket.alias("bucket"), F.lit("failed").alias("kind")))
            .unionByName(
                new_children.select(bucket.alias("bucket"), F.lit("enqueued").alias("kind"))
            )
            .groupBy("bucket", "kind")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("round", F.lit(round_no))
        )

        # 7–10 fork-join: all four deltas derive from already-materialized
        # parquet (next_frontier / attempted / misses / denied), land in
        # disjoint tables, and none feeds another — submit together so four
        # slim jobs cost ~one job wall instead of four.
        tail_writes = [lambda: staging.write_append("url_seen", seen_delta)]
        if n_failed + n_denied + n_geo_skipped > 0:
            tail_writes.append(lambda: staging.write_append("errors", errors))
        if self.bloom and n_new > 0:
            # bloom insert for the newly-enqueued urls (no-op round → keep
            # the previous state version, saving the cogroup shuffle)
            tail_writes.append(
                lambda: staging.write_replace(
                    "bloom_state",
                    self.bloom.insert(bloom_state, new_children.select("url")),
                )
            )
        tail_writes.append(
            lambda: staging.write_append("partition_metrics", part_delta)
        )
        _fork_join(cfg.concurrent_commits, *tail_writes)

        # 11. metrics — every number came off an Observation riding a write;
        #     the history lives in the commit pointer (one JSON, no extra
        #     parquet job per round), materialized on demand by metrics()
        stats = RoundStats(
            round=round_no,
            urls_seen=n_new,
            fetched=n_ok,
            failed=n_failed,
            deduped=n_candidates - n_new,
            deferred_by_politeness=n_deferred,
            robots_denied=n_denied,
            geo_blocked_skipped=n_geo_skipped,
            new_frontier=n_new,
            content_deduped=n_content_deduped,
            noindex_skipped=n_noindex,
            seconds=round(_time.monotonic() - t0, 3),
            frontier_size=n_deferred + n_new + (n_miss - n_failed),
        )
        history = (self.store.latest_meta() or {}).get("metrics_history", [])
        staging.finalize(
            {
                "round": round_no,
                "metrics": stats.__dict__,
                "metrics_history": history + [stats.__dict__],
            }
        )
        return stats

    # -- recrawl TTL ---------------------------------------------------------------

    def expire(self, ttl_rounds: int, requeue: bool = False) -> int:
        """Recrawl-TTL maintenance commit: URLs whose latest event is
        ``completed`` more than ``ttl_rounds`` rounds ago become crawlable
        again. Returns the number of expired URLs.

        Two policies:

        - ``requeue=True`` — *recrawl now*: expired URLs are re-injected
          into the frontier (attempt reset, original FIFO ``seq`` kept so
          recrawls keep their original ordering) with a fresh ``pending``
          event. The seen filter is untouched — the URL stays
          ever-enqueued, so organic link rediscovery still dedups against
          it (it's already queued).
        - ``requeue=False`` — *forget*: the URL's events are dropped from
          the ``url_seen`` log (an Iceberg rewrite-with-deletes commit),
          so the NEXT organic link to it re-enqueues naturally. With the
          cuckoo seen filter the fingerprints are also deleted, restoring
          the definite-new fast path; with bloom (non-deletable) the stale
          bit only costs those URLs the exact-confirm join — correctness
          always comes from the rewritten exact log. This asymmetry is
          why the deletable filter exists (operators/cuckoo.py).

        Content history in ``crawl_results`` is never touched; a recrawl
        appends a newer row and ``current_status``/``results`` consumers
        pick by round.
        """
        spark = self.spark
        current = self._next_round()
        url_seen = self.store.read(spark, "url_seen")
        rank = F.when(F.col("status") == "pending", 0).otherwise(1)
        latest = url_seen.groupBy("url").agg(
            F.max_by(
                F.struct("status", "level", "parent_url", "seq",
                         "discovered_round"),
                F.struct("discovered_round", F.col("attempt"),
                         rank.alias("rank")),
            ).alias("w")
        )
        due = latest.filter(
            (F.col("w.status") == "completed")
            & (F.col("w.discovered_round") + ttl_rounds < current)
        ).select(
            "url", "w.level", "w.parent_url", "w.seq", "w.discovered_round"
        )

        staging = self.store.begin()
        obs = Observation()
        due = staging.write_scratch(
            "_expire_due", due.observe(obs, F.count(F.lit(1)).alias("n"))
        )
        n_due = int(obs.get["n"] or 0)
        if n_due == 0:
            # nothing to do — drop the staging + its scratch now (pointer
            # never moved; next begin() would clear them anyway)
            staging.abandon()
            return 0

        if requeue:
            from ..functions import url as U

            requeued = due.select(
                "url",
                U.url_host(F.col("url")).alias("host"),
                "level",
                F.lit(0).alias("attempt"),
                "parent_url",
                F.lit(0).cast("long").alias("parent_seq"),
                F.lit(0).alias("link_pos"),
                F.col("seq").cast("long").alias("seq"),
                F.lit(current).alias("discovered_round"),
            )
            frontier = self.store.read(spark, "frontier")
            staging.write_replace(
                "frontier",
                frontier.select(*FRONTIER_COLS).unionByName(
                    requeued.select(*FRONTIER_COLS)
                ),
            )
            staging.write_append(
                "url_seen", _seen_events(requeued, "pending", current)
            )
        else:
            staging.write_rewrite(
                "url_seen", url_seen.join(due, "url", "left_anti")
            )
            if self.bloom is not None and hasattr(self.bloom, "delete"):
                state = self.store.read(spark, "bloom_state")
                staging.write_replace(
                    "bloom_state",
                    self.bloom.delete(state, due.select("url")),
                )

        meta: dict = {
            "last_expire": {
                "at_round": current,
                "ttl_rounds": ttl_rounds,
                "n_expired": n_due,
                "mode": "requeue" if requeue else "forget",
            }
        }
        if requeue:
            # cumulative requeue count — progress() adds it to the work
            # denominator so re-fetches don't push pct past 100
            prior = (self.store.latest_meta() or {}).get("n_requeued_total", 0)
            meta["n_requeued_total"] = prior + n_due
        staging.finalize(meta)
        return n_due

    # -- views --------------------------------------------------------------------

    def _table(self, name: str, version: int | None) -> DataFrame:
        """Live read, or time travel when ``version`` is given (any
        snapshot ``store.snapshots()`` still holds — Iceberg
        VERSION-AS-OF analog)."""
        if version is None:
            return self.store.read(self.spark, name)
        return self.store.read_at(self.spark, name, version)

    def seen_set(self, version: int | None = None) -> DataFrame:
        """Distinct ever-enqueued URLs (the reference's crawl_status keys)."""
        return self._table("url_seen", version).select("url").distinct()

    def current_status(self, version: int | None = None) -> DataFrame:
        """Latest status per URL from the append-only event log."""
        seen = self._table("url_seen", version)
        # terminal events (completed/failed/robots_denied) outrank pending
        # within the same round; later rounds outrank earlier ones.
        rank = F.when(F.col("status") == "pending", 0).otherwise(1)
        return (
            seen.groupBy("url")
            .agg(
                F.max_by(
                    F.struct("status", "level", "attempt", "parent_url", "seq"),
                    F.struct("discovered_round", F.col("attempt"), rank.alias("rank")),
                ).alias("w")
            )
            .select("url", "w.status", "w.level", "w.attempt", "w.parent_url", "w.seq")
        )

    def results(self, version: int | None = None) -> DataFrame:
        """Completed pages in the reference's results-store shape (K1/K2:
        text + metadata columns, one row per fetched URL; plus the stored
        ``anchors`` pairs when the crawl ran with capture_anchors)."""
        stored = self._table("crawl_results", version)
        cols = [
            "url", "seq", "level", "round", "text", "md_hash", "page_slug",
            "filename", "method", "status_code", "content_length",
            "last_modified", "extracted_links",
            F.col("geo_blocked").cast("string").alias("geo_blocked"),
        ]
        if "anchors" in stored.columns:
            cols.append("anchors")
        return stored.select(*cols)

    def fetch_log(self) -> DataFrame:
        """Slim per-attempt log — the crawl-ordering evidence (attempt is
        1-based like the reference's attempt_count)."""

        def slim(df: DataFrame) -> DataFrame:
            return df.select(
                "url", "round", "level",
                (F.col("attempt") + 1).alias("attempt"),
                "ok", "seq", "status_code",
            )

        log = slim(self.store.read(self.spark, "crawl_results"))
        try:
            log = log.unionByName(slim(self.store.read(self.spark, "miss_log")))
        except FileNotFoundError:
            pass
        return log

    def partition_metrics(self) -> DataFrame:
        """Per-(round, url-bucket) lineage counts (kind ∈ fetched/failed/
        enqueued) — which partition of the url space each round touched."""
        return self.store.read(self.spark, "partition_metrics")

    def metrics(self) -> DataFrame:
        hist = (self.store.latest_meta() or {}).get("metrics_history", [])
        rows = [
            tuple(
                float(h.get(f.name, 0))
                if f.dataType.typeName() == "double"
                else h.get(f.name, 0)
                for f in ROUND_METRICS_SCHEMA.fields
            )
            for h in hist
        ]
        return self.spark.createDataFrame(rows, schema=ROUND_METRICS_SCHEMA)

    def progress(self) -> dict:
        """A6 rate/ETA (reference utils.py:819-833 ``log_progress``):
        completed/total, URLs-per-second over the crawl's round wall time,
        and the remaining-work ETA at that rate. Derived entirely from the
        pointer's metrics history + the bootstrap seed count — no table
        scan."""
        meta = self.store.latest_meta() or {}
        hist = meta.get("metrics_history", [])
        terminal = sum(
            h.get("fetched", 0)
            + h.get("failed", 0)
            + h.get("robots_denied", 0)
            + h.get("geo_blocked_skipped", 0)
            for h in hist
        )
        # requeued recrawls (expire(requeue=True)) hit the terminal counters
        # a second time — they must also count in the denominator or pct
        # can pass 100 and the ETA clamps to 0
        total = (
            meta.get("n_seeds", 0)
            + sum(h.get("urls_seen", 0) for h in hist)
            + meta.get("n_requeued_total", 0)
        )
        elapsed = sum(h.get("seconds", 0.0) for h in hist)
        rate = terminal / elapsed if elapsed > 0 else 0.0
        remaining = max(total - terminal, 0)
        return {
            "total_urls": total,
            "current": terminal,
            "pct": round(terminal / total * 100, 1) if total else 0.0,
            "elapsed_sec": round(elapsed, 3),
            "urls_per_sec": round(rate, 2),
            "eta_sec": round(remaining / rate, 1) if rate > 0 else None,
        }
