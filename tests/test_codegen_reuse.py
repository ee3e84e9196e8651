"""Each generated class compiles once per session: the session's codegen
cache holds a crawl's working set.

Compile counts come from Spark's CodegenMetrics, whose compilation-time
histogram records one sample per class the code generator compiles (a
cache miss); a cache hit records nothing."""

from __future__ import annotations

from distributed_crawl_spark import corpus
from distributed_crawl_spark.config import CrawlConfig
from distributed_crawl_spark.schema import ROBOTS_SCHEMA
from distributed_crawl_spark.streaming.driver import CrawlDriver

N_PAGES, N_SEEDS, N_HOSTS = 2_000, 400, 50


def _compiled(spark) -> int:
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def _robots_rows() -> list[tuple]:
    """Disallow ``/p/1`` on every 5th host; Crawl-delay 10 s (inside the
    round window) on every 3rd and 120 s (spread across rounds) on every
    7th."""
    rows = []
    for h in range(N_HOSTS):
        lines = ["User-agent: *"]
        if h % 5 == 0:
            lines.append("Disallow: /p/1")
        delay = "120" if h % 7 == 0 else "10" if h % 3 == 0 else None
        if delay:
            lines.append(f"Crawl-delay: {delay}")
        rows.append((f"host{h:05d}.test", "\n".join(lines) + "\n", delay))
    return rows


def test_repeat_crawl_compiles_nothing(spark, tmp_path):
    """A second identical 2-round robots crawl in the session compiles 0
    classes: the first one's classes are all still cached (at Spark's
    default cache size it compiles over 200 again)."""
    corpus.scaled_pages(spark, N_PAGES, n_hosts=N_HOSTS).write.parquet(
        str(tmp_path / "pages"))
    corpus.scaled_seeds(spark, N_PAGES, N_SEEDS, n_hosts=N_HOSTS) \
        .write.parquet(str(tmp_path / "seeds"))
    spark.createDataFrame(_robots_rows(), schema=ROBOTS_SCHEMA) \
        .write.parquet(str(tmp_path / "robots"))
    pages, seeds, robots = (spark.read.parquet(str(tmp_path / name))
                            for name in ("pages", "seeds", "robots"))
    cfg = CrawlConfig(
        max_levels=6, max_links=8, host_budget=4, honor_crawl_delay=True,
        crawl_delay_round_seconds=10.0, use_bloom=True, max_rounds=2,
    )

    def crawl(ck):
        drv = CrawlDriver(spark, pages, robots, cfg, str(tmp_path / ck))
        drv.start(seeds)
        return drv.resume()

    first = crawl("a")
    assert len(first) == 2 and first[1].fetched > 0
    before = _compiled(spark)
    second = crawl("b")
    assert _compiled(spark) - before == 0
    assert [s.fetched for s in second] == [s.fetched for s in first]
