"""SparkSession builders tuned for this engine.

Local testing runs a single JVM (``local[N]``); production is
``spark-submit --py-files`` on a multi-executor cluster — every setting
here is chosen to survive that transition (AQE on, explicit shuffle
partitioning, Arrow for every pandas UDF exchange).

Generated-code cache. Spark compiles each whole-stage and expression
class with Janino and keeps it in a per-JVM cache keyed by the generated
source text (``spark.sql.codegen.cache.maxEntries``, 100 by default).
The engine runs the same plan shapes over and over — every crawl round,
every curate query — so its working set is what one pass compiles, not
what one query does. Measured with CodegenMetrics on local[4]: a cold
perfbench ``curate`` pass (12 queries, sf0.01) compiles 247–274
classes, a ``crawl_polite`` resume 139–228, and one pass of all 148
``__spark_entry__`` queries at sf0.01 about 1,690 distinct classes. At
the default of 100 every later curate pass recompiled 206–212 of them
(the 148-query pass: 2,429 compiles, then 2,289), and the JIT compiled
them again. ``CODEGEN_CACHE_ENTRIES`` holds the whole battery with room
to spare: a repeated curate pass then compiles 4 classes, a repeated
148-query pass 57, a repeated crawl none. This cache holds
generated code only, no data, and an entry cannot go stale, since its
key is the full source it compiles. ROADMAP aim 3's rule that no cache
outlives the plan that made it is about CacheManager data and does not
cover it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes the JVM keeps compiled (module docstring): above the
# ~1,690 of the full 148-query battery at sf0.01.
CODEGEN_CACHE_ENTRIES = 4096


def build_session(
    app_name: str = "distributed_crawl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    ``cores=None`` → ``local[*]``.  Shuffle partitions default to the core
    count: at 100 TB on a real cluster the round driver overrides this per
    stage via AQE coalescing, so the static value only matters locally.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores or (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-planning — coalesce post-shuffle partitions,
        # convert to broadcast joins late, split skewed partitions. This is
        # the backstop behind our explicit host-salting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow is the only sanctioned Python boundary (vectorized UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # UTC so parquet timestamps round-trip identically with DuckDB.
        .config("spark.sql.session.timeZone", "UTC")
        # compile each plan shape once per session (module docstring)
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # Quieter local runs.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # keep catalog artifacts out of the repo/cwd (bucketed bench tables
        # are external — only metadata lives in the in-memory catalog)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark_graft_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark, cores)
    return spark


def _warm_session(spark: SparkSession, cores: int | None) -> None:
    """One-time, data-independent session warmup (guide §4.5's
    heavyweight-init-once, applied at session scope).

    A fresh JVM charges the FIRST queries of a session for cold-start
    work that has nothing to do with those queries: JIT compilation of
    the Catalyst analyze/optimize/codegen path, Janino infrastructure,
    the shuffle + broadcast machinery, and the Python worker pool
    (daemon fork + pandas/numpy import per worker).  Measured on
    local[32] these cost 3-6 s on the first complex query of a session.
    This warmup runs two tiny synthetic jobs — a join/aggregate/window/
    explode plan and a mapInPandas pass across `cores` partitions — so
    that cost is paid once at session build, not inside whichever real
    query happens to run first.  No input data is read and no result is
    kept: everything computes from ``spark.range`` and lands in the
    noop sink.
    """
    if getattr(spark, "_dcs_warmed", False):
        return
    try:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        n = cores or (os.cpu_count() or 8)
        df = spark.range(0, 4 * n, 1, n).select(
            F.col("id"),
            (F.col("id") % 5).alias("k"),
            F.array(F.lit("a"), F.lit("b")).alias("arr"),
        )
        agg = df.groupBy("k").agg(
            F.count(F.lit(1)).alias("c"), F.sum("id").alias("s")
        )
        w = Window.partitionBy("k").orderBy(F.col("id"))
        out = (
            df.join(F.broadcast(agg), "k")
            .join(df.select(F.col("id")).hint("merge"), "id")
            .select("id", "k", "c", F.explode("arr").alias("e"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2)
        )
        out.write.format("noop").mode("overwrite").save()

        def _k(it):
            import numpy  # noqa: F401 — worker-side import warm
            import pandas  # noqa: F401

            for b in it:
                yield b

        spark.range(0, n, 1, n).mapInPandas(_k, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception:
        pass  # warmup must never block session creation
    spark._dcs_warmed = True
