"""The crawl workloads: ``CrawlDriver`` over a bucketed Zipf page corpus.

``crawl_polite`` honours a generated robots table (Disallow rules and
Crawl-delay budgets) under a tight per-host budget, so every round
re-gates, re-ranks and rewrites a growing deferred frontier and a
compaction runs. ``crawl_bfs`` has no robots table and a loose budget, so
extraction and the seen probe carry the round instead.

The seed picks one of :data:`N_VARIANTS` input variants: which block of
page ids seeds the crawl, and how the robots rules rotate over hosts.
Variant 0 seeds with the first page ids, exactly ``corpus.scaled_seeds``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

from distributed_crawl_spark import corpus
from distributed_crawl_spark.config import CrawlConfig
from distributed_crawl_spark.functions.text import (
    extract_text_and_hrefs,
    make_extract_udf,
    resolve_links,
)
from distributed_crawl_spark.schema import ROBOTS_SCHEMA
from distributed_crawl_spark.streaming.driver import CrawlDriver

from perfbench.proc import tree_cpu_s
from perfbench.tracing import Tracer, stage_metrics, union_seconds

N_VARIANTS = 5
N_BUCKETS = 64
# (pages, seeds, hosts) per scale; "full" is the 100k-page sizing the
# workloads were first measured at, "toy" feeds the smoke test.
SCALES = {
    "toy": (2_000, 400, 50),
    "default": (20_000, 4_000, 500),
    "full": (100_000, 20_000, 500),
}
EXTRACT_SAMPLE = 3_000
MAX_LINKS = 10

# Staged table -> the round phase its write belongs to. Tables not named
# here (errors, partition_metrics) and the pointer flip are the commit tail.
PHASE_OF_TABLE = {
    "_round_denied": "robots",
    "_round_ranked": "politeness",
    "crawl_results": "fetch_extract",
    "_round_probed": "seen_probe",
    "miss_log": "miss_log",
    "frontier": "frontier_write",
    "url_seen": "url_seen",
    "bloom_state": "bloom_insert",
}
PHASES = ["robots", "politeness", "fetch_extract", "seen_probe", "miss_log",
          "frontier_write", "url_seen", "bloom_insert", "commit", "compact"]


def crawl_config(workload: str) -> CrawlConfig:
    common = dict(max_levels=3, salt_threshold=2000, use_bloom=True,
                  fetch_join_strategy="shuffle", max_links=MAX_LINKS)
    if workload == "crawl_bfs":
        return CrawlConfig(host_budget=1024, max_rounds=3, **common)
    return CrawlConfig(host_budget=32, max_rounds=2, honor_crawl_delay=True,
                       compact_every=1, **common)


def robots_rows(n_hosts: int, variant: int) -> list[tuple]:
    """Disallow ``/p/1`` on every 5th host, Crawl-delay 10 s on every 3rd
    and 120 s on every 7th (120 wins where both apply); the variant
    rotates which hosts those are."""
    rows = []
    for h in range(n_hosts):
        k = h + variant
        lines = ["User-agent: *"]
        if k % 5 == 0:
            lines.append("Disallow: /p/1")
        delay = "120" if k % 7 == 0 else "10" if k % 3 == 0 else None
        if delay:
            lines.append(f"Crawl-delay: {delay}")
        rows.append((f"host{h:05d}.test", "\n".join(lines) + "\n", delay))
    return rows


def pages_table(spark, cache: Path, n_pages: int, n_hosts: int):
    """The corpus as a url-bucketed table, generated once into ``cache`` and
    reused by every later run: on a cluster the pages are a pre-existing
    table, so generation is neither crawl time nor per-run set-up."""
    name = f"pages_{n_pages}_h{n_hosts}_b{N_BUCKETS}"
    path = cache / name
    if not (path / "_SUCCESS").exists():
        tmp = cache / f"{name}.tmp{os.getpid()}"
        (
            corpus.scaled_pages(spark, n_pages, n_hosts=n_hosts)
            .repartition(N_BUCKETS, "url")
            .write.format("parquet")
            .bucketBy(N_BUCKETS, "url")
            .sortBy("url")
            .option("path", str(tmp))
            .saveAsTable(f"{name}_tmp")
        )
        spark.sql(f"DROP TABLE {name}_tmp")  # external: files stay
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (url STRING, warc_ts TIMESTAMP, html BINARY,"
        f" text STRING, lang STRING) USING PARQUET"
        f" CLUSTERED BY (url) SORTED BY (url) INTO {N_BUCKETS} BUCKETS"
        f" LOCATION '{path}'"
    )
    return spark.table(name)


def prepare_inputs(spark, work: Path, workload: str, scale: str, variant: int):
    """Seeds and robots for one variant, materialized as parquet the way a
    crawl would receive them."""
    n_pages, n_seeds, n_hosts = SCALES[scale]
    seeds = (
        corpus.scaled_seeds(spark, n_pages, (variant + 1) * n_seeds,
                            n_hosts=n_hosts)
        .filter(F.col("seq") >= variant * n_seeds)
        .withColumn("seq", F.col("seq") - variant * n_seeds)
    )
    seeds_path = str(work / "inputs" / "seeds")
    seeds.write.mode("overwrite").parquet(seeds_path)
    seeds = spark.read.parquet(seeds_path)
    robots = None
    if workload == "crawl_polite":
        robots_path = str(work / "inputs" / "robots")
        spark.createDataFrame(
            robots_rows(n_hosts, variant), schema=ROBOTS_SCHEMA
        ).write.mode("overwrite").parquet(robots_path)
        robots = spark.read.parquet(robots_path)
    return seeds, robots


def dir_mb(path: Path, skip: str | None = None) -> float:
    total = 0
    for root, dirs, files in os.walk(path):
        if skip in dirs:
            dirs.remove(skip)
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


class CrawlTrace:
    """Wraps one driver's calls into the checkpoint layer: each staged
    write becomes a span named by its table, each round a residue group,
    each compaction a span of its own."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.round: int | None = None
        self.probed = None
        self.rounds: list[dict] = []

    def attach(self, drv: CrawlDriver) -> None:
        store, tracer = drv.store, self.tracer
        real_begin, real_compact, real_gc = store.begin, store.compact, store.gc
        real_round = drv.run_round

        def begin():
            staging = real_begin()
            for meth in ("write_replace", "write_append", "write_scratch",
                         "write_rewrite"):
                setattr(staging, meth, self._traced_write(getattr(staging, meth)))
            staging.finalize = self._traced_finalize(staging.finalize)
            return staging

        def maintenance(fn):
            def run(*args, **kwargs):
                with tracer.span(f"c{self.rounds[-1]['round']}", "compact"):
                    return fn(*args, **kwargs)
            return run

        def run_round(round_no):
            self.round, self.probed = round_no, None
            with tracer.group(f"r{round_no}/residue"):
                t0 = time.monotonic()
                try:
                    stats = real_round(round_no)
                finally:
                    t1 = time.monotonic()
                    self.round = None
            # round scratch lives until the next begin(): measure it now
            with tracer.group("trace"):
                probed = {True: 0, False: 0}
                if self.probed is not None:
                    for row in self.probed.groupBy("maybe_seen").count().collect():
                        probed[row["maybe_seen"]] = row["count"]
            self.rounds.append({
                "round": round_no, "t0": t0, "t1": t1, "stats": stats,
                "scratch_mb": dir_mb(store.scratch_root),
                "suspects": probed[True], "definite_new": probed[False],
            })
            return stats

        store.begin = begin
        store.compact = maintenance(real_compact)
        store.gc = maintenance(real_gc)
        drv.run_round = run_round

    def _traced_write(self, write):
        def traced(name, df):
            if self.round is None:  # bootstrap or compaction internals
                return write(name, df)
            with self.tracer.span(f"r{self.round}",
                                  PHASE_OF_TABLE.get(name, "commit")):
                out = write(name, df)
            if name == "_round_probed":
                self.probed = out
            return out
        return traced

    def _traced_finalize(self, finalize):
        def traced(*args, **kwargs):
            if self.round is None:
                return finalize(*args, **kwargs)
            with self.tracer.span(f"r{self.round}", "commit"):
                return finalize(*args, **kwargs)
        return traced

    def per_layer(self, spark) -> tuple[dict, list[str]]:
        """Per-layer values and a human-readable per-round phase table."""
        spans = self.tracer.spans
        out = {f"crawl.{p}_s": 0.0 for p in PHASES}
        residue, worst, table = 0.0, 0.0, []
        for r in self.rounds:
            scope = f"r{r['round']}"
            mine = [(a, b) for s, _, a, b in spans if s == scope]
            wall = r["t1"] - r["t0"]
            covered = union_seconds(mine)
            residue += wall - covered
            # CrawlDriver's own round wall stops before the pointer flip
            worst = max(worst, abs(wall - r["stats"].seconds)
                        / max(r["stats"].seconds, 1e-9))
            by_phase = {}
            for s, p, a, b in spans:
                if s == scope:
                    by_phase[p] = by_phase.get(p, 0.0) + b - a
            table.append(
                f"round {r['round']}: wall {wall:.3f}s (RoundStats "
                f"{r['stats'].seconds:.3f}s) residue {wall - covered:.3f}s "
                + " ".join(f"{p}={v:.3f}" for p, v in sorted(by_phase.items()))
            )
        for s, p, a, b in spans:
            out[f"crawl.{p}_s"] += b - a
        n = max(len(self.rounds), 1)
        groups = [g for g in self.tracer.groups if g[0] in "rc" and "/" in g]
        metrics = stage_metrics(spark, groups)
        round_jobs = sum(m["jobs"] for g, m in metrics.items() if g[0] == "r")
        out.update({
            "crawl.residue_s": residue,
            "crawl.reconcile_err": worst,
            "crawl.jobs_per_round": round_jobs / n,
            # every round span is a staged write but the one pointer flip
            "crawl.staged_writes_per_round":
                sum(1 for s, *_ in spans if s[0] == "r") / n - 1,
            "crawl.executor_run_s": sum(m["run_s"] for m in metrics.values()),
            "crawl.executor_cpu_s": sum(m["cpu_s"] for m in metrics.values()),
            "crawl.shuffle_write_mb":
                sum(m["shuffle_write_bytes"] for m in metrics.values()) / 2**20,
            "crawl.scratch_mb": sum(r["scratch_mb"] for r in self.rounds),
        })
        suspects = sum(r["suspects"] for r in self.rounds)
        candidates = suspects + sum(r["definite_new"] for r in self.rounds)
        confirmed = sum(
            r["stats"].new_frontier - r["definite_new"] for r in self.rounds
        )
        out.update({
            "seen.candidates": candidates,
            "seen.maybe_seen_share": suspects / candidates if candidates else 0.0,
            "seen.confirmed_new_share": confirmed / suspects if suspects else 0.0,
        })
        return out, table


def extraction_micro(pages) -> dict:
    """Single-process cost of the extractor's layers on a fixed sample:
    HTML parse, link resolution, and the pandas-UDF body on one batch."""
    import pandas as pd

    sample = (
        pages.select("url", "html").orderBy("url").limit(EXTRACT_SAMPLE).toPandas()
    )
    urls, htmls = list(sample["url"]), list(sample["html"])
    n = len(urls)
    body = make_extract_udf(MAX_LINKS).func
    t0 = time.perf_counter()
    hrefs = [extract_text_and_hrefs(h)[1] for h in htmls]
    t1 = time.perf_counter()
    for u, hs in zip(urls, hrefs):
        resolve_links(u, hs, MAX_LINKS)
    t2 = time.perf_counter()
    body(pd.Series(urls), pd.Series(htmls))
    t3 = time.perf_counter()
    return {
        "extract.parse_us": (t1 - t0) / n * 1e6,
        "extract.resolve_us": (t2 - t1) / n * 1e6,
        "extract.udf_us": (t3 - t2) / n * 1e6,
    }


def check_crawl(drv: CrawlDriver, pages, stats) -> tuple[dict, list[str]]:
    """Observed output counts and checksum, plus the errors of the
    invariants that hold for every input: one stored row per fetched page,
    and each stored text byte-identical to the reference text of a corpus
    page with that URL. The generated corpus can hold two pages under one
    URL (10 URLs at 100k pages), and the fetch join returns both."""
    res = drv.results()
    row = res.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64("url", "md_hash").bitwiseAND(0xFFFFFFFF)).alias("checksum"),
    ).first()
    bad_text = (
        res.select("url", "text")
        .join(pages.select("url", "text"), ["url", "text"], "left_anti")
        .count()
    )
    observed = {
        "fetched": sum(s.fetched for s in stats),
        "deduped": sum(s.deduped for s in stats),
        "failed": sum(s.failed for s in stats),
        "robots_denied": sum(s.robots_denied for s in stats),
        "results_checksum": int(row["checksum"] or 0),
    }
    errors = []
    if row["rows"] != observed["fetched"]:
        errors.append(
            f"crawl_results has {row['rows']} rows for {observed['fetched']} fetched"
        )
    if bad_text:
        errors.append(f"{bad_text} stored texts match no corpus page of their URL")
    return observed, errors


def run(spark, work: Path, args, expected: dict, build_s: float) -> dict:
    """One run of a crawl workload in the run directory ``work``, whose
    parent holds the corpus cache; returns the result fields."""
    n_pages, _, n_hosts = SCALES[args.scale]
    variant = args.seed % N_VARIANTS
    key = f"{args.workload}/{args.scale}/{variant}"

    t0 = time.monotonic()
    pages_table(spark, work.parent, n_pages, n_hosts)
    print(f"corpus ready in {time.monotonic() - t0:.1f}s", file=sys.stderr)
    preps = []
    for _ in range(3):
        t0 = time.monotonic()
        pages = pages_table(spark, work.parent, n_pages, n_hosts)
        seeds, robots = prepare_inputs(spark, work, args.workload, args.scale,
                                       variant)
        preps.append(time.monotonic() - t0)
    setup_s = build_s + statistics.median(preps)

    def crawl_once(i: int, trace: CrawlTrace | None) -> dict:
        ckpt = work / f"ckpt{i}"
        shutil.rmtree(ckpt, ignore_errors=True)
        drv = CrawlDriver(spark, pages, robots, crawl_config(args.workload),
                          str(ckpt))
        if trace is not None:
            trace.attach(drv)
        c0, t0 = tree_cpu_s(), time.monotonic()
        drv.start(seeds)
        c1, t1 = tree_cpu_s(), time.monotonic()
        stats = drv.resume()
        c2, t2 = tree_cpu_s(), time.monotonic()
        print(f"crawl {i}: start wall {t1 - t0:.3f}s cpu {c1 - c0:.2f}s, "
              f"resume wall {t2 - t1:.3f}s cpu {c2 - c1:.2f}s", file=sys.stderr)
        n_seeds = drv.store.latest_meta()["n_seeds"]
        state_mb = dir_mb(ckpt, skip="_scratch")
        observed, errors = check_crawl(drv, pages, stats)
        shutil.rmtree(ckpt, ignore_errors=True)
        if args.record:
            expected[key] = observed
        elif key not in expected:
            errors.append(f"no recorded outputs for {key}")
        elif observed != expected[key]:
            errors.append(f"outputs {observed} != recorded {expected[key]}")
        return {"boot": t1 - t0, "crawl": t2 - t1,
                "boot_cpu": c1 - c0, "crawl_cpu": c2 - c1, "stats": stats,
                "n_seeds": n_seeds, "state_mb": state_mb, "errors": errors}

    crawls = []
    t_run = time.monotonic()
    while not crawls or (not args.trace and time.monotonic() - t_run < args.seconds):
        crawls.append(crawl_once(len(crawls), None))
    if args.trace:
        # untraced, traced, untraced: the second untraced crawl is the base
        # of the tracing overhead, as warm as the traced one before it
        trace = CrawlTrace(Tracer(spark))
        crawls.append(crawl_once(len(crawls), trace))
        crawls.append(crawl_once(len(crawls), None))
    result = {
        "attempted": sum(len(c["stats"]) for c in crawls),
        "failed": sum(len(c["stats"]) for c in crawls if c["errors"]),
        "errors": [e for c in crawls for e in c["errors"]],
    }
    if not args.trace:
        result["end_to_end"] = {
            "setup_s": setup_s,
            "cold_cpu_s": statistics.median(c["boot_cpu"] for c in crawls),
            "work_cpu_s": statistics.median(c["crawl_cpu"] for c in crawls),
        }
        return result

    layers, table = trace.per_layer(spark)
    for line in table:
        print(line, file=sys.stderr)
    if layers["crawl.reconcile_err"] > 0.05:
        result["errors"].append(
            f"phase spans + residue miss RoundStats.seconds by "
            f"{layers['crawl.reconcile_err']:.1%}"
        )
        result["failed"] = result["attempted"]
    traced, base = crawls[1], crawls[2]
    stats = traced["stats"]
    fetched = sum(s.fetched for s in stats)
    # the gate reads each round's whole frontier: the seeds, then the
    # frontier the previous round left behind
    gated = 0
    if robots is not None:
        gated = traced["n_seeds"] + sum(s.frontier_size for s in stats[:-1])
    round_s = [s.seconds for s in base["stats"]]
    layers.update({
        # what the untraced run measures, as wall time
        "cold_wall_s": crawls[0]["boot"],
        "work_wall_s": crawls[0]["crawl"],
        "crawl.round_p50_s": statistics.median(round_s),
        "crawl.round_max_s": max(round_s),
        "crawl.state_mb": traced["state_mb"],
        "crawl.untraced_s": base["crawl"],
        "crawl.trace_overhead_s": traced["crawl"] - base["crawl"],
        "crawl.urls_per_s": sum(
            s.fetched + s.deduped + s.failed for s in base["stats"]
        ) / base["crawl"],
        "robots.rows_gated_per_fetched": gated / fetched,
        "politeness.deferred_per_fetched":
            sum(s.deferred_by_politeness for s in stats) / fetched,
        **extraction_micro(pages),
    })
    result["per_layer"] = layers
    return result
