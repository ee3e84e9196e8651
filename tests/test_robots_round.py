"""One robots pass per round: the staged gate table carries both the
robots verdict and the Crawl-delay, and the politeness window reads only
that parquet."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_crawl_spark import corpus
from distributed_crawl_spark.config import CrawlConfig
from distributed_crawl_spark.operators.politeness import rank_frontier
from distributed_crawl_spark.operators.robots import (crawl_delay_budgets,
                                                      gate_verdicts)
from distributed_crawl_spark.streaming.driver import (DELAY_BUDGET,
                                                      CrawlDriver,
                                                      _gate_allowed)


def _python_over_robots(plan: str) -> bool:
    return any(
        ("ArrowEvalPython" in line or "BatchEvalPython" in line)
        and "robots_txt" in line
        for line in plan.splitlines()
    )


def test_round_stages_one_robots_pass(spark, tmp_path):
    """Per round exactly one staged plan evaluates Python over
    robots_txt (the gate), and ``_round_ranked`` holds no Python stage
    and no robots scan."""
    robots_path = str(tmp_path / "robots")
    corpus.tiny_robots(spark).write.parquet(robots_path)
    cfg = CrawlConfig(
        max_levels=3, host_budget=2, honor_crawl_delay=True,
        crawl_delay_round_seconds=10.0, max_rounds=2,
    )
    drv = CrawlDriver(
        spark, corpus.tiny_pages(spark), spark.read.parquet(robots_path),
        cfg, str(tmp_path / "ck"),
    )
    stagings: list[list[tuple[str, str]]] = []
    real_begin = drv.store.begin

    def begin():
        staging = real_begin()
        plans: list[tuple[str, str]] = []
        stagings.append(plans)
        for meth in ("write_scratch", "_write"):
            def traced(name, df, _write=getattr(staging, meth)):
                qe = df._jdf.queryExecution()
                plans.append((name, qe.optimizedPlan().toString()))
                return _write(name, df)
            setattr(staging, meth, traced)
        return staging

    drv.store.begin = begin
    stats = drv.run(corpus.tiny_seeds(spark))
    assert len(stats) == 2 and stats[1].fetched > 0
    rounds = stagings[1:]  # stagings[0] is start()'s bootstrap commit
    assert len(rounds) == 2
    for plans in rounds:
        assert [n for n, p in plans if _python_over_robots(p)] == [
            "_round_gated"
        ]
        ranked = dict(plans)["_round_ranked"]
        assert "EvalPython" not in ranked
        assert "robots_txt" not in ranked and robots_path not in ranked


def test_driver_budget_matches_crawl_delay_budgets(spark):
    """Delays below, equal to and above the round window: for rounds 0
    to 2·period the per-row budget on the driver path equals
    ``crawl_delay_budgets(..., round_no=r)`` for every host, and hosts
    without a Crawl-delay rank at the scalar host_budget."""
    window, host_budget = 10.0, 4
    delays = {"d2.test": 2, "d10.test": 10, "d25.test": 25, "d40.test": 40,
              "d0.test": 0}
    rows = [(h, f"User-agent: *\nCrawl-delay: {d}\n") for h, d in delays.items()]
    rows += [("none.test", "User-agent: *\nDisallow: /x\n"),
             ("blank.test", "")]
    robots = spark.createDataFrame(rows, "host STRING, robots_txt STRING")
    hosts = [h for h, _ in rows] + ["absent.test"]
    frontier = spark.createDataFrame(
        [(f"https://{h}/p{i}", h, 0, 0, None, 0, 0, 10 * k + i, 0)
         for k, h in enumerate(hosts) for i in range(6)],
        "url STRING, host STRING, level INT, attempt INT, parent_url STRING,"
        "parent_seq LONG, link_pos INT, seq LONG, discovered_round INT",
    )
    gated = gate_verdicts(frontier, robots).localCheckpoint()
    cfg = CrawlConfig(host_budget=host_budget, honor_crawl_delay=True,
                      crawl_delay_round_seconds=window)
    period = 4  # ceil(40 / 10), the longest delay's period
    for r in range(2 * period + 1):
        want = {
            row.host: row.budget
            for row in crawl_delay_budgets(
                robots, window, default_budget=host_budget, round_no=r
            ).collect()
        }
        assert set(want) == {"d2.test", "d10.test", "d25.test", "d40.test"}
        allowed = _gate_allowed(gated, cfg, r)
        got = {
            row.host: row.b
            for row in allowed.groupBy("host")
            .agg(F.max(DELAY_BUDGET).alias("b")).collect()
        }
        assert got == {h: want.get(h) for h in hosts}, r
        lanes = {
            row.host: row.b
            for row in rank_frontier(allowed, host_budget,
                                     budget_col=DELAY_BUDGET)
            .groupBy("host").agg(F.max("lane_budget").alias("b")).collect()
        }
        assert lanes == {h: want.get(h, host_budget) for h in hosts}, r
