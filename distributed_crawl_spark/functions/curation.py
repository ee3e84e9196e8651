"""Corpus-curation operators for training-data pipelines: deterministic
splits, seeded sampling, per-source health rollups, benchmark
decontamination, and duplicated-span scrubbing.

No reference analog (thebenjy/distributed_crawl stops at page storage);
these are the engine's extension contract for the steps between a
crawled corpus and a training run. All are pure DataFrame plans with
md5-based arithmetic so the DuckDB oracle verifies values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import (LOCAL_ROWS, doc_shingles, md5_int48, rows_if_small,
                    shingles, tokens)
from .textstats import char_count, quality_score_int, word_count

SPLIT_BUCKETS = 10_000


C4_BAD_PHRASES = ("javascript", "cookie policy", "privacy policy",
                  "terms of use", "uses cookies")
C4_DOC_BAD = ("lorem ipsum",)


def c4_clean(docs: DataFrame, min_words_per_line: int = 3,
             min_lines: int = 3, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """The C4 line+document rule set (Raffel et al. 2020, "Colossal
    Clean Crawled Corpus"), the other canonical web-cleaning recipe next
    to Gopher (:func:`~.textstats.gopher_features`):

    line rules (offending lines removed, doc rewritten):
      - keep only lines ending in terminal punctuation (``. ! ?`` with
        an optional closing quote),
      - with at least ``min_words_per_line`` words,
      - and containing none of :data:`C4_BAD_PHRASES` (the
        javascript-warning / cookie-banner signatures).

    document rules (``keep`` flag; text NOT rewritten by these):
      - at least ``min_lines`` surviving lines,
      - no ``{`` anywhere (source-code marker),
      - no :data:`C4_DOC_BAD` phrase ("lorem ipsum").

    Entirely closed-form (split → higher-order filter → rejoin, all
    codegen): ZERO shuffle at any corpus size — the C4 pass over 100 TB
    is scan-speed, embarrassingly parallel, and dialect-portable enough
    that the DuckDB oracle runs the same lambda. C4's 3-sentence-span
    dedup step is the separate :func:`span_scrub` /
    ``global_line_dedup`` family.

    Returns (id, clean_text, n_kept, n_removed, keep) for EVERY doc.
    """
    text = F.col(text_col)
    lines = F.split(text, "\n")
    kept = _c4_kept_lines(text, min_words_per_line)
    clean, keep = c4_columns(text, min_words_per_line, min_lines)
    return docs.select(
        id_col,
        clean.alias("clean_text"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_removed"),
        keep.alias("keep"),
    )


def _c4_kept_lines(text: Column, min_words_per_line: int) -> Column:
    lo = F.lower

    def good(ln: Column) -> Column:
        ok = ln.rlike(r"[.!?][\"']?\s*$")
        ok &= F.size(F.split(F.trim(ln), r"\s+")) >= min_words_per_line
        for p in C4_BAD_PHRASES:
            ok &= ~lo(ln).contains(p)
        return ok

    return F.filter(F.split(text, "\n"), good)


def c4_columns(text: Column, min_words_per_line: int = 3,
               min_lines: int = 3) -> tuple[Column, Column]:
    """The C4 rule set as raw (clean_text, keep) Column expressions —
    the building block :func:`c4_clean` and the streaming gate share,
    for callers that need to rewrite/filter in place (e.g. a stream,
    where joining a 5-column result back is not an option)."""
    kept = _c4_kept_lines(text, min_words_per_line)
    doc_ok = F.size(kept) >= F.lit(min_lines)
    doc_ok &= ~text.contains("{")
    for p in C4_DOC_BAD:
        doc_ok &= ~F.lower(text).contains(p)
    return F.array_join(kept, "\n"), doc_ok


def split_bucket(id_col: Column) -> Column:
    """Deterministic split bucket in [0, 10000): md5-prefix hash of the
    STRING form of the id. Stable under repartitioning, cluster layout,
    and corpus growth — a document's bucket never changes when other
    documents are added, which is what makes hash splits (vs random or
    modulo-row-number splits) the only correct choice for an evolving
    10^10-doc corpus."""
    return md5_int48(id_col.cast("string")) % F.lit(SPLIT_BUCKETS)


def corpus_split(docs: DataFrame, id_col: str = "doc_id",
                 weights: dict[str, float] | None = None) -> DataFrame:
    """Assign every document to a named split by hash range.

    ``weights`` maps split name → fraction (summing to ≤ 1; any
    remainder falls into the last split). Ranges are cumulative over the
    dict's insertion order, so ``{"train": .9, "val": .05, "test": .05}``
    gives buckets [0,9000) → train, [9000,9500) → val, rest → test.
    Returns (id, split, bucket) — bucket kept so downstream samplers can
    sub-slice a split without rehashing.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = split_bucket(F.col(id_col))
    return docs.select(
        id_col, _split_expr(b, weights).alias("split"), b.alias("bucket")
    )


def _split_expr(b: Column, weights: dict[str, float]) -> Column:
    """Split name for bucket column ``b`` under cumulative hash ranges
    (shared by :func:`corpus_split` and :func:`mix_report`)."""
    expr = None
    edge = 0.0
    names = list(weights)
    for name in names[:-1]:
        edge += weights[name]
        cond = b < int(round(edge * SPLIT_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])


def _sample_key_thresh(rates: dict[str, float] | None, default_rate: float,
                       seed: str, id_col: str,
                       source_col: str) -> tuple[Column, Column]:
    """(sample_key, keep_threshold) column pair shared by
    :func:`corpus_sample` and :func:`mix_report` — kept means
    ``key < thresh``."""
    key = md5_int48(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    ) % F.lit(SPLIT_BUCKETS)
    rate: Column = F.lit(float(default_rate))
    if rates:
        expr = None
        for name, r in rates.items():
            cond = F.col(source_col) == name
            expr = (F.when(cond, float(r)) if expr is None
                    else expr.when(cond, float(r)))
        rate = expr.otherwise(float(default_rate))
    thresh = F.floor(rate * SPLIT_BUCKETS).cast("long")
    return key, thresh


def corpus_sample(docs: DataFrame,
                  rates: dict[str, float] | None = None,
                  default_rate: float = 1.0,
                  seed: str = "s42",
                  id_col: str = "doc_id",
                  source_col: str = "source") -> DataFrame:
    """Seeded deterministic downsampling with per-source rates — the
    mixing step of a training run ("2 epochs of wiki, 0.3 of common
    crawl" becomes per-source keep fractions for one pass).

    A document is kept iff ``md5(seed ':' id) % 10000 < rate·10000``
    where ``rate`` is the source's entry in ``rates`` (fallback
    ``default_rate``). Membership depends only on (seed, doc_id), so a
    sample is reproducible across repartitioning and corpus growth, a
    different seed draws an independent sample, and a rate INCREASE is a
    superset of the old sample (hash-threshold monotonicity) — the
    properties random() sampling can't give an evolving corpus.

    Pure projection + filter: zero shuffle at any scale. Returns
    (doc_id, source, sample_key).
    """
    key, thresh = _sample_key_thresh(rates, default_rate, seed,
                                     id_col, source_col)
    return (
        docs.select(id_col, source_col, key.alias("sample_key"),
                    thresh.alias("__thresh"))
        .filter(F.col("sample_key") < F.col("__thresh"))
        .drop("__thresh")
    )


def mix_report(docs: DataFrame,
               rates: dict[str, float] | None = None,
               default_rate: float = 1.0,
               seed: str = "s42",
               weights: dict[str, float] | None = None,
               id_col: str = "doc_id", text_col: str = "text",
               source_col: str = "source") -> DataFrame:
    """Training-mix accounting: what a sampled + split corpus actually
    contains, counted in the unit that matters for a training run —
    tokens. Applies the same seeded per-source sample as
    :func:`corpus_sample` and the same hash split as
    :func:`corpus_split` (shared predicate helpers, so the report is
    exactly the corpus those operators would emit), then rolls up per
    (source, split): documents, whitespace tokens, characters.

    This is the planning table for mixture weights — "does src0 at rate
    0.25 still deliver the 50B tokens the mix calls for?" — computed
    without writing the sampled corpus.

    Plan: projection + filter (zero shuffle) into ONE map-side-combinable
    groupBy over ≤ |sources|×|splits| keys — a cheap census at any
    corpus size, no skew exposure (the combine collapses each partition
    to the same few keys before the exchange).
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    key, thresh = _sample_key_thresh(rates, default_rate, seed,
                                     id_col, source_col)
    b = split_bucket(F.col(id_col))
    return (
        docs.filter(key < thresh)
        .select(
            source_col,
            _split_expr(b, weights).alias("split"),
            word_count(F.col(text_col)).cast("long").alias("__w"),
            char_count(F.col(text_col)).cast("long").alias("__c"),
        )
        .groupBy(source_col, "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__w").alias("n_tokens"),
            F.sum("__c").alias("n_chars"),
        )
    )


def pack_shards(docs: DataFrame, shard_tokens: int = 2048,
                n_writers: int = 32, seed: str = "p42",
                id_col: str = "doc_id",
                text_col: str = "text",
                count_col: str | None = None) -> DataFrame:
    """Deterministic shuffle + token-budget shard planning: assign every
    document a training shard such that (a) document order within a
    shard is a seeded pseudo-random permutation (the "global shuffle" a
    training run needs — no residual crawl/source locality), and (b)
    each shard holds ~``shard_tokens`` whitespace tokens (documents are
    never split; a shard closes when its running total crosses the
    budget, so totals land in [budget, budget + max_doc) except each
    writer's final shard).

    How a 100-TB pipeline packs: ONE uniform hash shuffle routes each
    doc to one of ``n_writers`` writer lanes (lane = hash(seed, id) %
    W — uniform by construction, no skew possible), then each lane
    independently sorts its ~|docs|/W rows by the same hash and takes a
    running token total. The per-lane sort IS the price of sequential
    packing — but it is embarrassingly parallel across lanes and its
    size is set by W, not by any data property. Choose W ≈ a few × the
    cluster's cores; there is no global order and no global barrier.
    Output is stable under repartitioning and input order (hash order,
    not row order) — re-running the plan on a re-laid-out corpus yields
    byte-identical shard assignments.

    Returns (doc_id, writer, shard_id, n_tokens, offset_tokens) where
    ``offset_tokens`` is the exclusive running token total within the
    writer lane and ``shard_id = writer * 2^20 + offset_tokens //
    shard_tokens`` (globally unique; ~10^6 shards per lane headroom).

    ``count_col`` makes the packing TOKENIZER-EXACT: pass a column of
    precomputed per-doc token counts (e.g. ``n_bpe_tokens`` from
    :func:`~.bpe.apply_bpe`) and budgets are taken in those units
    instead of the whitespace word count — the --bpe-train →
    --pack-tokens path packs in the exact tokens the trained model
    will emit (``text_col`` is then unused).
    """
    okey = md5_int48(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    )
    base = docs.select(
        id_col,
        okey.alias("__okey"),
        (okey % F.lit(n_writers)).alias("writer"),
        (
            F.col(count_col) if count_col is not None
            else word_count(F.col(text_col))
        ).cast("long").alias("n_tokens"),
    )
    win = (
        Window.partitionBy("writer")
        .orderBy("__okey", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
    return base.select(
        id_col,
        "writer",
        (F.col("writer") * F.lit(1 << 20)
         + F.floor(off / F.lit(shard_tokens))).cast("long").alias("shard_id"),
        "n_tokens",
        off.cast("long").alias("offset_tokens"),
    )


def quality_quantile_gate(docs: DataFrame, p: float = 0.5,
                          approx: bool = False,
                          id_col: str = "doc_id", text_col: str = "text",
                          source_col: str = "source") -> DataFrame:
    """Adaptive per-source quality gate: keep a document iff its
    integer quality score reaches its OWN source's p-th percentile —
    "top half of each source", not a fixed global threshold that
    over-prunes weak sources and under-prunes strong ones.

    Exactness at scale: the default computes the EXACT percentile, and
    that is scale-safe *here specifically* because
    :func:`~.textstats.quality_score_int` has a bounded domain
    (≤ 100,001 distinct values) — Spark's percentile aggregate keeps a
    value→count map, so partial (map-side) aggregation applies and no
    buffer exceeds the domain size regardless of corpus size. For an
    unbounded metric pass ``approx=True`` (percentile_approx, fixed
    sketch memory). Pick ``p`` from {.25, .5, .75}-style
    binary-representable fractions if the DuckDB oracle must agree
    bit-for-bit (interpolation stays exact on integer scores).

    Plan: one map-side-combinable agg to ≤ |sources| threshold rows,
    broadcast back — no window, no per-source sort, no skew exposure.
    Returns (doc_id, source, quality, thr, keep).
    """
    scored = docs.select(
        id_col, source_col,
        quality_score_int(F.col(text_col)).alias("quality"),
    )
    pct = (F.percentile_approx("quality", p) if approx
           else F.percentile("quality", F.lit(p)))
    thr = scored.groupBy(source_col).agg(pct.cast("double").alias("thr"))
    return (
        scored.join(F.broadcast(thr), source_col)
        .select(
            id_col, source_col, "quality", "thr",
            (F.col("quality") >= F.col("thr")).alias("keep"),
        )
    )


def top_ngrams(docs: DataFrame, n: int = 3, k: int = 10,
               id_col: str = "doc_id", text_col: str = "text",
               source_col: str = "source") -> DataFrame:
    """Per-source heavy-hitter word n-grams — the boilerplate discovery
    census ("which phrases does this source repeat everywhere?") that
    feeds span-scrub windows and quality-rule tuning. Counts each
    n-gram's occurrences AND distinct docs per source, keeps the top-k
    by document reach (doc reach, not raw count, so one pathological
    doc can't promote its own repetition to "boilerplate").

    Plan: explode to (source, gram) → ONE map-side-combinable census
    shuffle (two aggs ride it: count + approx-free exact distinct via
    the pre-aggregated (source, gram, doc) distinct) → per-source top-k
    window. Spark 4's InferWindowGroupLimit inserts a partial
    WindowGroupLimit BEFORE the exchange for row_number() <= k, so each
    map task forwards at most k rows per source — the same plan
    property measured for per_source_cap (BENCH.md): no Zipf-head
    single-task sort. Ties broken (n_docs DESC, n_total DESC, gram ASC)
    for deterministic, oracle-checkable output.
    """
    grams = docs.select(
        source_col,
        id_col,
        F.explode(shingles(F.col(text_col), n)).alias("gram"),
    )
    census = (
        grams.groupBy(source_col, "gram", id_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(source_col, "gram")
        .agg(
            F.sum("__c").alias("n_total"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    w = Window.partitionBy(source_col).orderBy(
        F.col("n_docs").desc(), F.col("n_total").desc(), F.col("gram")
    )
    return (
        census.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def decontaminate(docs: DataFrame, bench: DataFrame, n: int = 8,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_text_col: str = "text") -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word ``n``-gram with an evaluation/benchmark document (the GPT-3
    appendix-C / Llama overlap rule — eval text leaking into the
    training mix inflates downstream scores, so contaminated docs are
    dropped or quarantined before training).

    Plan shape for 100 TB: the benchmark side (eval suites are ~10^6–
    10^7 distinct grams — megabytes) is collapsed to a DISTINCT gram set
    and **broadcast**, so the corpus side never shuffles its grams: the
    explode, the left-semi probe, and the per-doc hit count (map-side
    combinable; hits are rare) all stay partition-local. The only
    exchange is the final per-doc count aggregation over matched rows.

    Returns one row per input doc: (doc_id, n_hit_grams, contaminated)
    where n_hit_grams counts DISTINCT leaked grams.
    """
    bench_grams = (
        bench.select(F.explode(shingles(F.col(bench_text_col), n)).alias("gram"))
        .distinct()
    )
    doc_grams = doc_shingles(docs, id_col, text_col, n).withColumnRenamed(
        "shingle", "gram"
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    return (
        docs.select(id_col).join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hit_grams"), F.lit(0)).alias("n_hit_grams"),
        )
        .withColumn("contaminated", F.col("n_hit_grams") > 0)
    )


def decontaminate_semantic(corpus_vecs: DataFrame, bench_vecs: DataFrame,
                           threshold_m: int = 250,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Semantic benchmark decontamination: flag corpus documents whose
    embedding is too close (cosine) to ANY evaluation/benchmark
    embedding — the paraphrase-leak complement of the n-gram
    ``decontaminate`` rule (an eval question rephrased shares no 8-gram
    but sits next to the original in embedding space).

    Plan shape for 100 TB: a benchmark suite is tiny next to the corpus
    (10^3–10^5 vectors), so it is collapsed to ONE row
    (``collect_list(struct(id, vec))``) and cross-joined — the bounded
    1-row broadcast-nested-loop pattern PLANS.md documents for
    ``mix_plan``. The corpus side never shuffles: per-row work is
    |bench| whole-stage-codegen dot products (``transform`` over the
    broadcast array + ``array_max``), embarrassingly parallel, zero
    exchanges. Scores are floor-quantized to cosine milli-units BEFORE
    the argmax so the (score, tie-break) order is integer-exact and
    hash-stable; ties pick the smallest benchmark id.

    Returns one row per corpus vector:
    (id_col, best_bench_id, best_cos_m, contaminated).

    Physical form (round 6): an Arrow ``mapInPandas`` kernel. The
    Catalyst ``transform`` + ``array_max`` over the broadcast struct
    array evaluated |bench| *interpreted* higher-order dots per corpus
    row; the kernel broadcasts the (tiny) bench matrix once and scores
    each Arrow batch with the same ordered-summation numpy kernel the
    bitext family uses: the dot matrix accumulates dimension-by-
    dimension (one IEEE multiply + one IEEE add per term, left to
    right — the zip_with/aggregate fold's exact op order), then
    divide / scale / floor in the fold's op sequence, so every cos_m
    and the (cos_m, smallest-bid) argmax are bit-identical to the
    Catalyst form the DuckDB oracle mirrors. Zero exchanges either way.
    """
    import numpy as np
    import pandas as pd

    from .similarity import _np_ordered_norms, as_double

    spark = corpus_vecs.sparkSession
    bp = bench_vecs.select(
        F.col(id_col).cast("long").alias("bid"),
        as_double(F.col(vec_col)).alias("bv"),
    ).toPandas()
    b_ids = bp["bid"].to_numpy(np.int64)
    if len(bp):
        B = np.array(bp["bv"].tolist(), dtype=np.float64)
        bn = _np_ordered_norms(B)
    else:  # empty suite → null best/flag per row, like array_max([])
        B = np.zeros((0, 0))
        bn = np.zeros(0)
    bc = spark.sparkContext.broadcast((b_ids, B, bn))
    thr = int(threshold_m)
    id_t = dict(corpus_vecs.dtypes)[id_col]

    def _score(it):
        b_ids, B, bn = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            if B.size == 0:
                yield pd.DataFrame({
                    id_col: pdf["__id"],
                    "best_bench_id": pd.array([None] * len(pdf), dtype="Int64"),
                    "best_cos_m": pd.array([None] * len(pdf), dtype="Int64"),
                    "contaminated": pd.array([None] * len(pdf), dtype="boolean"),
                })
                continue
            A = np.array(pdf["__v"].tolist(), dtype=np.float64)
            an = _np_ordered_norms(A)
            P = np.zeros((A.shape[0], B.shape[0]))
            for d in range(A.shape[1]):
                # one IEEE multiply + one IEEE add per term — the fold's
                # (acc, x) -> acc + x over zip_with products
                P += A[:, d : d + 1] * B[None, :, d]
            cs = np.floor(P / (an[:, None] * bn[None, :]) * 1000.0).astype(
                np.int64
            )
            best = cs.max(axis=1)
            bid = np.where(
                cs == best[:, None], b_ids[None, :], np.iinfo(np.int64).max
            ).min(axis=1)
            yield pd.DataFrame({
                id_col: pdf["__id"],
                "best_bench_id": bid,
                "best_cos_m": best,
                "contaminated": best >= thr,
            })

    return corpus_vecs.select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    ).mapInPandas(
        _score,
        f"{id_col} {id_t}, best_bench_id long, best_cos_m long,"
        " contaminated boolean",
    )


def span_chunks(text: Column, w: int) -> Column:
    """Fixed-width word chunks as array<struct<pos,chunk>> (1-based pos,
    last chunk ragged; empty text → one empty chunk so every doc keeps a
    row through explode/reassemble round-trips)."""
    toks = tokens(text)
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(w)).cast("int"), F.lit(1)
    )
    return F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(
                F.slice(toks, (i - F.lit(1)) * w + F.lit(1), w), " "
            ).alias("chunk"),
        ),
    )


def span_scrub(docs: DataFrame, w: int = 20, min_docs: int = 2,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Duplicated-span removal: delete every ``w``-word chunk whose text
    occurs in ≥ ``min_docs`` DISTINCT documents, then stitch each doc's
    surviving chunks back in order. The scalable fixed-window
    approximation of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): the
    full suffix-array construction doesn't distribute, but boilerplate
    (nav bars, license headers, mirrored articles) repeats in long runs,
    so window-aligned chunks catch it with two uniform hash shuffles and
    no pairwise comparisons.

    Plan: (doc, pos, chunk) explode → digest census (distinct doc count
    per md5(chunk); digest keys are unskewable) → anti-join pairs
    against the duplicated-digest set (tiny in practice — AQE broadcasts
    it; a uniform hash join at worst) → per-doc sort_array(collect_list)
    reassembly, bounded by the doc's own chunk count. Within-doc repeats
    are NOT scrubbed (count is per distinct doc) — repetition is a
    quality signal handled by the Gopher gate, not a cross-doc leak.

    Returns (doc_id, clean_text, n_removed); a fully-scrubbed doc stays
    present with clean_text='' so callers can count or drop it.
    """
    pairs = docs.select(
        id_col, F.explode(span_chunks(F.col(text_col), w)).alias("pc")
    ).select(
        id_col,
        F.col("pc.pos").alias("pos"),
        F.col("pc.chunk").alias("chunk"),
    )
    census = (
        pairs.select(id_col, F.md5(F.col("chunk")).alias("digest"))
        .distinct()
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    dup = census.filter(F.col("n_docs") >= min_docs).select("digest")
    kept = pairs.withColumn("digest", F.md5(F.col("chunk"))).join(
        dup, "digest", "left_anti"
    )
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s.chunk,
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = docs.select(
        id_col,
        F.greatest(
            F.ceil(F.size(tokens(F.col(text_col))) / F.lit(w)).cast("int"),
            F.lit(1),
        ).cast("long").alias("__n_total"),
    )
    return (
        totals.join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("__n_total") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .alias("n_removed"),
        )
    )


def winnow_anchors(h: Column, s: int) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    "local algorithms for document fingerprinting") over a STAGED array
    of gram digests: select every gram position whose digest is the
    minimum of at least one window of ``s`` consecutive gram positions.
    Returns ``array<struct<pos:int, digest:string>>`` with 0-based
    token positions.

    Why content-defined selection and not a fixed position grid: two
    copies of the same passage sit at DIFFERENT offsets in their
    documents, so grams sampled at positions 0, s, 2s… of each document
    are misaligned between the copies and never collide — exactly the
    bug :func:`span_scrub`'s chunk grid has. Window-minimum selection
    depends only on the surrounding CONTENT, so both copies select the
    same grams at the same positions relative to the passage, and the
    winnowing guarantee holds: every window of ``s`` gram positions
    contains a selected gram, hence every repeated span of
    ``>= k + s - 1`` tokens shares at least one anchor across copies
    (it contains a full selection window lying inside the repeat in
    both copies).

    Selection keeps ALL positions achieving a window minimum (the
    standard rightmost-tie rule needs positional state; keeping every
    minimum is equally content-local, so the cross-copy guarantee is
    unchanged and the expression stays a pure HOF). Position ``i`` is a
    window minimum iff its maximal runs of ``>=``-digest neighbours
    left (``la``) and right (``ra``) satisfy ``la + ra + 1 >= s``
    (some ``s``-window inside that run contains ``i``; conversely a
    window witnessing ``i`` IS such a run) — O(s) comparisons per
    position against the staged array, no per-window slice/min
    allocations.

    ``h`` MUST be a materialized column (see :func:`gram_digests` and
    the staging in :func:`substring_spans`), not an inline expression
    tree: interpreted higher-order functions re-evaluate every
    reference to a non-attribute operand per lambda element, turning
    an inline digest expression into an O(grams²·s) re-computation per
    row — measured as ~3 s/doc on 75-word docs before staging
    (BENCH.md round-5 substring section).
    """
    g = F.size(h)
    sw = F.least(F.lit(s), g)  # short docs: one window over all grams

    def run(i: Column, sign: int) -> Column:
        lim = F.least(i, sw - 1) if sign < 0 else F.least(g - 1 - i, sw - 1)
        viol = F.array_position(
            F.transform(
                F.sequence(F.lit(1), lim),
                lambda e: F.element_at(h, i + F.lit(sign) * e + 1)
                < F.element_at(h, i + 1),
            ),
            F.lit(True),
        )
        # array_position: 1-based first violation, 0 if none
        return F.when(
            lim >= 1, F.coalesce(F.nullif(viol, F.lit(0)) - 1, lim)
        ).otherwise(F.lit(0))

    selected = F.filter(
        F.transform(
            F.sequence(F.lit(0), g - 1),
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.element_at(h, i + 1).alias("digest"),
                (run(i, -1) + run(i, +1) + 1 >= sw).alias("sel"),
            ),
        ),
        lambda st: st.sel,
    )
    empty = F.array().cast("array<struct<pos:int,digest:string>>")
    return F.when(
        g >= 1,
        F.transform(selected, lambda st: F.struct(st.pos, st.digest)),
    ).otherwise(empty)


def gram_digests(toks: Column, k: int) -> Column:
    """md5 digests of the word ``k``-grams of a STAGED token-array
    column, in document order. Kept separate from :func:`winnow_anchors`
    so each layer of the anchor computation is materialized once per
    row (the staging contract described there)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
        lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")),
    )
    return F.when(F.size(toks) >= k, grams).otherwise(
        F.array().cast("array<string>")
    )


def _winnow_anchor_rows(docs: DataFrame, k: int, s: int, id_col: str,
                        text_col: str) -> DataFrame:
    """(__doc, __pos, __dig) winnowed-anchor occurrence rows — the Arrow
    twin of ``explode(winnow_anchors(gram_digests(tokens(text))))``.
    Position ``i`` is selected iff its maximal runs of ``>=``-digest
    neighbours left/right (each capped at ``min(s, g) - 1``) satisfy
    ``la + ra + 1 >= min(s, g)`` — computed with vectorized shifted
    string comparisons instead of per-element interpreted lambdas."""
    import hashlib

    import numpy as np
    import pandas as pd

    from .dedup import java_ws_tokens

    id_t = docs.schema[id_col].dataType.simpleString()

    def _anchors(it):
        for pdf in it:
            # all docs of the batch concatenate into ONE digest vector;
            # the shifted >=-comparisons run once per offset e with
            # doc-boundary guards (pos-in-doc / pos-from-end >= e), so
            # numpy call count is O(s) per BATCH, not per doc
            doc_ids, dig_list, pos_in, g_of = [], [], [], []
            for did, text in zip(pdf["__doc"], pdf["__txt"]):
                toks = java_ws_tokens(text)
                if not toks or len(toks) < k:
                    continue
                g = len(toks) - k + 1
                dig_list.extend(
                    hashlib.md5(
                        " ".join(toks[i:i + k]).encode("utf-8")
                    ).hexdigest()
                    for i in range(g)
                )
                doc_ids.append((did, g))
                pos_in.append(np.arange(g))
                g_of.append(np.full(g, g))
            if not dig_list:
                continue
            digs = np.array(dig_list)
            n = len(digs)
            pos = np.concatenate(pos_in)
            g_arr = np.concatenate(g_of)
            la = np.zeros(n, dtype=np.int64)
            ra = np.zeros(n, dtype=np.int64)
            ok_l = np.ones(n, dtype=bool)
            ok_r = np.ones(n, dtype=bool)
            for e in range(1, s):
                cl = np.zeros(n, dtype=bool)
                cl[e:] = digs[:-e] >= digs[e:]
                cl &= pos >= e                  # stay inside the doc
                ok_l &= cl
                la += ok_l
                cr = np.zeros(n, dtype=bool)
                cr[:n - e] = digs[e:] >= digs[:-e]
                cr &= (g_arr - 1 - pos) >= e
                ok_r &= cr
                ra += ok_r
            sel = np.flatnonzero(la + ra + 1 >= np.minimum(s, g_arr))
            doc_col = np.empty(n, dtype=object)
            o = 0
            for did, g in doc_ids:
                doc_col[o:o + g] = did
                o += g
            yield pd.DataFrame({
                "__doc": doc_col[sel],
                "__pos": pos[sel].astype(np.int32),
                "__dig": digs[sel],
            })

    return docs.select(
        F.col(id_col).alias("__doc"), F.col(text_col).alias("__txt")
    ).mapInPandas(_anchors, f"__doc {id_t}, __pos int, __dig string")


def _local_substring_tail(u: DataFrame, w: int, k: int, min_docs: int,
                          max_df: int | None, id_col: str,
                          id_t: str) -> DataFrame:
    """Single-task replay of substring_spans' census → pair →
    extend → merge tail. Input ``u`` unions the winnowed anchor rows
    (__doc, __pos, __dig, __txt=null) with the involved docs' text rows
    (__dig=null). The kernel replicates the DataFrame stages exactly:
    distinct-doc census with the optional occurrence cap, cross-doc
    (doc_a < doc_b) occurrence pairing per digest, token-by-token
    maximal extension on :func:`~..dedup.java_ws_tokens` streams
    (tokens()' bit-identical twin — same comparisons the array HOFs
    evaluate, but short-circuiting), span distinct, and the
    running-max islands merge. All integer ops — output rows identical
    to the distributed plan."""
    import pandas as pd

    from .dedup import java_ws_tokens

    def _kern(it):
        occ: dict = {}
        texts: dict = {}
        for pdf in it:
            for doc, pos, dig, txt in zip(
                pdf["__doc"], pdf["__pos"], pdf["__dig"], pdf["__txt"]
            ):
                if dig is None or (isinstance(dig, float) and pd.isna(dig)):
                    texts[doc] = txt
                else:
                    occ.setdefault(dig, []).append((doc, int(pos)))
        if not occ:
            return
        toks: dict = {}

        def _t(doc):
            t = toks.get(doc)
            if t is None:
                t = toks[doc] = java_ws_tokens(texts[doc])
            return t

        spans: set = set()
        for lst in occ.values():
            if len({d for d, _ in lst}) < min_docs:
                continue
            if max_df is not None and len(lst) > max_df:
                continue
            for da, pa in lst:
                ta = _t(da)
                for db, pb in lst:
                    if not da < db:
                        continue
                    tb = _t(db)
                    max_l = min(pa, pb)
                    left = 0
                    while (left < max_l
                           and ta[pa - left - 1] == tb[pb - left - 1]):
                        left += 1
                    max_r = min(len(ta) - pa - k, len(tb) - pb - k)
                    right = 0
                    while (right < max_r
                           and ta[pa + k + right] == tb[pb + k + right]):
                        right += 1
                    ln = k + left + right
                    if ln >= w:
                        spans.add((da, pa - left, pa - left + ln))
                        spans.add((db, pb - left, pb - left + ln))
        if not spans:
            return
        by_doc: dict = {}
        for d, b, e in spans:
            by_doc.setdefault(d, []).append((b, e))
        od, ob, ol = [], [], []
        for d, lst in by_doc.items():
            lst.sort()
            cb, ce = lst[0]
            for b, e in lst[1:]:
                if b <= ce:           # overlap or touch: same island
                    ce = max(ce, e)
                else:
                    od.append(d), ob.append(cb), ol.append(ce - cb)
                    cb, ce = b, e
            od.append(d), ob.append(cb), ol.append(ce - cb)
        yield pd.DataFrame({id_col: od, "begin": ob, "length": ol})

    # repartition, not coalesce: the shuffle boundary keeps the
    # semi-joined corpus scan feeding ``u`` parallel instead of folding
    # it into the single kernel task
    return u.repartition(1).mapInPandas(
        _kern, f"{id_col} {id_t}, begin int, length int"
    )


def substring_spans(docs: DataFrame, w: int = 50, s: int = 16,
                    min_docs: int = 2, id_col: str = "doc_id",
                    text_col: str = "text",
                    max_df: int | None = None,
                    local_threshold: int = LOCAL_ROWS) -> DataFrame:
    """Arbitrary-offset exact-substring duplicate detection (the
    Lee et al. 2022 / RefinedWeb repeated-span pass): find every token
    range that is part of a span of ``>= w`` tokens repeated verbatim
    in ``>= min_docs`` distinct documents — at ANY offset, closing the
    window-alignment gap :func:`span_scrub` documents (a template
    paragraph shifted by one word escapes a fixed chunk grid; it cannot
    escape content-defined anchors).

    Plan shape for 100 TB (no suffix array — that doesn't distribute):

    1. **Anchor** (projection, no shuffle): winnowed ``k``-gram md5
       anchors with ``k = w - s + 1`` (:func:`winnow_anchors`), so any
       repeated span of ``>= k + s - 1 = w`` tokens shares an anchor
       across copies; explode ships ~``grams/s`` slim rows.
    2. **Census** (one uniform digest shuffle, map-side combinable):
       anchors occurring in ``>= min_docs`` distinct docs survive; at
       any corpus size the survivor set is the duplicated boilerplate
       mass, orders of magnitude below the anchor stream.
    3. **Extend** (census-bounded): surviving occurrences pair up per
       digest across distinct docs and each pair extends left/right
       token-by-token to its maximal equal run (pure array HOFs on the
       two token arrays — no Python); runs shorter than ``w`` drop.
       ``max_df`` caps occurrences per digest for pathological anchors
       shared by millions of docs (pairing is quadratic per digest);
       like ``ngram_jaccard``'s cap it is the explicit skew knob, off
       by default because the census already bounds ordinary corpora.
    4. **Merge** (per-doc window, bounded by the doc's own span count):
       overlapping/touching spans union into maximal intervals.

    Output (doc_id, begin, length): 0-based token intervals, one row
    per maximal duplicated region. Exactness: a position is covered iff
    some ``w``-gram through it repeats in ``>= min_docs`` docs — the
    winnowing guarantee gives every such ``w``-gram occurrence-pair a
    shared anchor whose maximal extension contains it, and conversely
    every emitted run of length ``>= w`` is made of repeated
    ``w``-grams; merged interval sets of equal unions are identical,
    so a brute-force every-offset ``w``-gram census (the test oracle)
    must produce byte-identical rows.
    """
    if not 2 <= s < w:
        raise ValueError("substring_spans requires 2 <= s < w")
    k = w - s + 1
    toks_t = docs.select(
        F.col(id_col).alias("__doc"), tokens(F.col(text_col)).alias("__toks")
    )
    # Anchor stage as an Arrow kernel (round 6): gram digests + window-
    # minimum selection were O(grams·s) interpreted higher-order
    # comparisons per row — the dominant cost of the operator. The
    # kernel replicates the JVM exactly: java_ws_tokens is tokens()'s
    # bit-identical twin, digests are md5 of the space-joined k-gram's
    # UTF-8 bytes, and the la/ra neighbour-run selection compares hex
    # digest strings (ASCII, so Python's ordering equals UTF8_BINARY).
    # The JVM winnow_anchors/gram_digests forms remain the documented
    # reference (and the pytest oracle pins both to the same spans).
    anchors = _winnow_anchor_rows(docs, k, s, id_col, text_col)
    # small-anchor-stream fast path (same dispatch as the graph/pair
    # families): when the bounded probe holds the whole anchor stream
    # (anchor rows bound the occurrence table, the pair count and the
    # involved-doc set), its checkpoint is read once (one kernel pass)
    # by the census/extend/merge tail in one task, together with the
    # involved docs' text (fetched with one slim semi-joined corpus scan)
    small = rows_if_small(anchors, local_threshold)
    if small is not None:
        involved = small.select("__doc").distinct()
        dtx = (
            docs.select(
                F.col(id_col).alias("__doc"),
                F.col(text_col).alias("__txt"),
            )
            .join(involved, "__doc", "left_semi")
        )
        u = small.withColumn(
            "__txt", F.lit(None).cast("string")
        ).unionByName(
            dtx.select(
                "__doc",
                F.lit(None).cast("int").alias("__pos"),
                F.lit(None).cast("string").alias("__dig"),
                "__txt",
            )
        )
        id_t = docs.schema[id_col].dataType.simpleString()
        return _local_substring_tail(
            u, w, k, min_docs, max_df, id_col, id_t
        )
    census = anchors.groupBy("__dig").agg(
        F.countDistinct("__doc").alias("__n_docs"),
        F.count(F.lit(1)).alias("__n_occ"),
    )
    dup = census.filter(F.col("__n_docs") >= min_docs)
    if max_df is not None:
        dup = dup.filter(F.col("__n_occ") <= max_df)
    occ = anchors.join(dup.select("__dig"), "__dig")
    pairs = (
        occ.select(
            F.col("__dig"),
            F.col("__doc").alias("__doc_a"),
            F.col("__pos").alias("__pos_a"),
        )
        .join(
            occ.select(
                F.col("__dig"),
                F.col("__doc").alias("__doc_b"),
                F.col("__pos").alias("__pos_b"),
            ),
            "__dig",
        )
        .filter(F.col("__doc_a") < F.col("__doc_b"))
        .drop("__dig")
    )
    # attach token arrays AFTER pairing so the digest shuffle stays slim
    both = (
        pairs.join(
            toks_t.select(
                F.col("__doc").alias("__doc_a"), F.col("__toks").alias("__ta")
            ),
            "__doc_a",
        )
        .join(
            toks_t.select(
                F.col("__doc").alias("__doc_b"), F.col("__toks").alias("__tb")
            ),
            "__doc_b",
        )
    )
    ta, tb = F.col("__ta"), F.col("__tb")
    pa, pb = F.col("__pos_a"), F.col("__pos_b")
    empty_i = F.array().cast("array<int>")

    def _first_mismatch(limit: Column, at_a, at_b) -> Column:
        mis = F.when(
            limit >= 1,
            F.filter(
                F.sequence(F.lit(1), limit),
                lambda d: at_a(d) != at_b(d),
            ).cast("array<int>"),
        ).otherwise(empty_i)
        return F.coalesce(F.array_min(mis) - 1, limit)

    max_l = F.least(pa, pb)
    left = _first_mismatch(
        max_l,
        lambda d: F.element_at(ta, pa - d + 1),
        lambda d: F.element_at(tb, pb - d + 1),
    )
    max_r = F.least(F.size(ta) - pa - k, F.size(tb) - pb - k)
    right = _first_mismatch(
        max_r,
        lambda d: F.element_at(ta, pa + F.lit(k) + d),
        lambda d: F.element_at(tb, pb + F.lit(k) + d),
    )
    ext = both.select(
        F.col("__doc_a"),
        F.col("__doc_b"),
        (pa - left).alias("__ba"),
        (pb - left).alias("__bb"),
        (F.lit(k) + left + right).cast("int").alias("__len"),
    ).filter(F.col("__len") >= w)
    spans = (
        ext.select(
            F.col("__doc_a").alias(id_col),
            F.col("__ba").cast("int").alias("begin"),
            F.col("__len").alias("__len"),
        )
        .unionByName(
            ext.select(
                F.col("__doc_b").alias(id_col),
                F.col("__bb").cast("int").alias("begin"),
                F.col("__len").alias("__len"),
            )
        )
        .select(id_col, "begin", (F.col("begin") + F.col("__len")).alias("__end"))
        .distinct()
    )
    # merge overlapping/touching intervals: classic islands, ONE sort
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("begin", "__end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("begin", "__end")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = spans.withColumn(
        "__brk",
        F.when(
            F.col("begin") <= F.max("__end").over(w_prev), F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn("__isl", F.sum("__brk").over(w_run))
    return (
        flagged.groupBy(id_col, "__isl")
        .agg(
            F.min("begin").alias("begin"),
            (F.max("__end") - F.min("begin")).cast("int").alias("length"),
        )
        .select(id_col, "begin", "length")
    )


def substring_scrub(docs: DataFrame, w: int = 50, s: int = 16,
                    min_docs: int = 2, id_col: str = "doc_id",
                    text_col: str = "text",
                    max_df: int | None = None) -> DataFrame:
    """Remove every token covered by a cross-document repeated span of
    ``>= w`` tokens (:func:`substring_spans`) and stitch the survivors
    back in order — the drop-in upgrade of :func:`span_scrub` that
    catches misaligned repeats. Returns (doc_id, clean_text,
    n_removed) with n_removed counting removed TOKENS. The span table
    is tiny relative to the corpus (duplicated mass only), so the
    collect_list per doc and the final join stay bounded; docs with no
    spans pass through the left join untouched.
    """
    spans = substring_spans(
        docs, w=w, s=s, min_docs=min_docs, id_col=id_col,
        text_col=text_col, max_df=max_df,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("begin"), (F.col("begin") + F.col("length")).alias("end"))
        ).alias("__spans")
    )
    toks = tokens(F.col(text_col))
    covered = lambda t: F.exists(  # noqa: E731
        F.col("__spans"), lambda sp: (t >= sp.begin) & (t < sp.end)
    )
    kept = F.filter(
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda t: ~covered(t),
    )
    return (
        docs.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.when(F.size(toks) == 0, F.lit(""))
            .when(
                F.col("__spans").isNull(),
                F.array_join(toks, " "),
            )
            .otherwise(
                F.array_join(
                    F.transform(kept, lambda t: F.element_at(toks, t + 1)), " "
                )
            )
            .alias("clean_text"),
            F.when(F.col("__spans").isNull(), F.lit(0))
            .otherwise(
                F.aggregate(
                    F.col("__spans"),
                    F.lit(0),
                    lambda acc, sp: acc + sp.end - sp.begin,
                )
            )
            .cast("long")
            .alias("n_removed"),
        )
    )


def per_source_cap(docs: DataFrame, k: int, id_col: str = "doc_id",
                   text_col: str = "text",
                   source_col: str = "source",
                   lane_threshold: int | None = None,
                   max_lanes: int = 32,
                   quality_col: str | None = None) -> DataFrame:
    """Corpus balancing: keep at most ``k`` documents per source, best
    quality first (the C4-style per-domain cap that stops one mega-site
    from dominating a training mix). Ranking = (quality_score_int DESC,
    doc_id ASC) — deterministic and engine-portable (integer composite).

    Default plan (``lane_threshold=None``) is ONE window: Catalyst's
    InferWindowGroupLimit (Spark 3.5+, measured — see BENCH.md) rewrites
    ``row_number() <= k`` into a map-side ``WindowGroupLimit(Partial)``
    BEFORE the exchange, so even a 10^8-doc Zipf-head source shuffles
    only k rows per map task it spans (~10^4 residue rows at k=100) —
    no census, no second scoring pass, no extra scan. The round-5
    r3-vs-HEAD A/B (BENCH.md) showed the always-on census/branch plan
    cost ~1.7× on ordinary corpora because referencing the scored table
    from two join branches recomputes the quality text pass; the lane
    machinery is therefore OPT-IN.

    Set ``lane_threshold`` to an int to engage the adaptive two-stage
    top-k (the same salt-lane pattern as
    operators/politeness.rank_frontier) for the regimes the group-limit
    rewrite can't cover — Spark < 3.5, ranking expressions Catalyst
    can't push a limit through, or reduce-side residue at extreme
    map-task counts: a cheap census (groupBy-count on the pruned source
    column — head counts combine map-side, so the census itself can't
    skew) finds sources above ``lane_threshold`` docs; their documents
    hash into ``ceil(count/threshold)`` lanes (capped at ``max_lanes``)
    and stage 1 keeps the top ``k`` per (source, lane), so stage 2's
    per-source re-rank sees ≤ k·lanes rows — bounded regardless of
    skew. The composition is exact (any global top-k row is top-k
    within its own lane), so the output — and the oracle hash — is
    identical to the single-window plan; the lane hash only routes rows
    and never reaches the output.
    Returns (doc_id, source, quality, rank_in_source).
    """
    from pyspark.sql.window import Window

    from .textstats import quality_score_int

    # quality_col: reuse a precomputed ranking column (callers that
    # already scored the corpus — or benchmarks isolating the window
    # stage — skip the text pass entirely; text_col is then unused)
    scored = docs.select(
        id_col, source_col,
        (
            F.col(quality_col) if quality_col is not None
            else quality_score_int(F.col(text_col))
        ).alias("quality"),
    )
    order = [F.desc("quality"), F.asc(id_col)]
    w = Window.partitionBy(source_col).orderBy(*order)
    if lane_threshold is None:
        return (
            scored.withColumn("rank_in_source", F.row_number().over(w))
            .filter(F.col("rank_in_source") <= k)
            .select(id_col, source_col, "quality", "rank_in_source")
        )
    heavy = (
        docs.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > lane_threshold)
        .select(
            source_col,
            F.least(
                F.lit(max_lanes),
                F.ceil(F.col("__n") / lane_threshold).cast("int"),
            ).alias("__n_lanes"),
        )
    )
    # Lane stage runs over HEAVY-source rows only: light sources skip
    # straight to the final window (their stage-1 top-k would equal the
    # final top-k anyway, so output is provably unchanged — and the
    # common corpus, where heavy rows are a minority, pays the lane
    # pass only on that minority instead of windowing everything twice;
    # measured as the difference between +54% and near-free overhead,
    # BENCH.md zipf section).
    w_lane = Window.partitionBy(source_col, "__lane").orderBy(*order)
    pre_heavy = (
        scored.join(F.broadcast(heavy), source_col)
        .withColumn(
            "__lane",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("__n_lanes")).cast("int"),
        )
        .withColumn("__lane_rn", F.row_number().over(w_lane))
        .filter(F.col("__lane_rn") <= k)
        .drop("__lane", "__lane_rn", "__n_lanes")
    )
    pre_light = scored.join(
        F.broadcast(heavy.select(source_col)), source_col, "left_anti"
    )
    pre = pre_light.unionByName(pre_heavy)
    return (
        pre.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= k)
        .select(id_col, source_col, "quality", "rank_in_source")
    )


def source_rollup(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  source_col: str = "source") -> DataFrame:
    """Per-source corpus health: document count, token/char volume, and
    how many of the source's documents are exact duplicates of ANY
    document corpus-wide (the crawl-prioritization signal — a source
    whose content is mostly seen elsewhere isn't worth recrawl budget).

    Plan: digest census (one uniform groupBy on md5(text)) joined back
    to the docs, then one rollup shuffle keyed by source. Returns
    (source, n_docs, sum_tokens, sum_chars, n_dup_docs) sorted-stable by
    the compare harness.
    """
    digest = F.md5(F.col(text_col)).alias("digest")
    census = (
        docs.select(digest)
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )
    tagged = docs.select(
        source_col,
        word_count(F.col(text_col)).alias("wc"),
        char_count(F.col(text_col)).alias("cc"),
        digest,
    ).join(census, "digest")
    return tagged.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("wc").alias("sum_tokens"),
        F.sum("cc").alias("sum_chars"),
        F.sum((F.col("n_copies") > 1).cast("long")).alias("n_dup_docs"),
    )


def mix_plan(docs: DataFrame,
             weights: dict[str, int] | None = None,
             default_weight: int = 1,
             text_col: str = "text",
             source_col: str = "source") -> DataFrame:
    """Mixture planning: given integer target weights per source ("3
    parts src0 : 2 parts src1 : 1 part everything else"), compute the
    per-source sampling rates that realize the mix at the LARGEST size
    the corpus supports in one pass — the bottleneck source (smallest
    tokens-per-weight-unit) samples at exactly 100%, every other source
    downsamples proportionally. The output ``rate_bp`` is in the same
    basis-point unit :func:`corpus_sample` consumes, closing the loop
    census (:func:`mix_report`) → plan (this) → apply
    (:func:`corpus_sample`).

    Exactness: rate_bp = floor(10000 · t* · w_s / (w* · t_s)) is
    computed with DECIMAL(38,0) integral division (Spark ``DIV`` ==
    DuckDB ``//``), never float — at 100 TB the products pass 2^63
    (10^4 · 10^12 tokens · 10^3 weight), and float rounding would make
    the plan engine-dependent. The bottleneck argmin uses one double
    compare (t/w) only for ORDERING, tie-broken by source name.

    Plan: one map-combinable token census to ≤ |sources| rows, a 1-row
    sort for the bottleneck, broadcast back — no window, no skew
    exposure. Zero-weight sources get rate 0 (excluded from the mix).
    Returns (source, n_tokens, weight, rate_bp, planned_tokens).
    """
    weights = weights or {}
    if weights:
        wmap = F.create_map(
            *[F.lit(x) for kv in weights.items() for x in kv]
        )
        w_expr = F.coalesce(
            wmap[F.col(source_col)], F.lit(default_weight)
        )
    else:
        w_expr = F.lit(default_weight)
    census = (
        docs.groupBy(source_col)
        .agg(F.sum(word_count(F.col(text_col)).cast("long"))
             .alias("n_tokens"))
        .withColumn("weight", w_expr.cast("long"))
    )
    star = (
        census.filter((F.col("weight") > 0) & (F.col("n_tokens") > 0))
        .orderBy(
            (F.col("n_tokens").cast("double") / F.col("weight")).asc(),
            F.col(source_col),
        )
        .limit(1)
        .select(
            F.col("n_tokens").alias("__t_star"),
            F.col("weight").alias("__w_star"),
        )
    )
    rate = F.expr(
        "CAST((CAST(10000 AS DECIMAL(38,0)) * __t_star * weight)"
        " DIV greatest(CAST(__w_star AS DECIMAL(38,0)) * n_tokens, 1)"
        " AS BIGINT)"
    )
    return census.crossJoin(F.broadcast(star)).select(
        source_col,
        "n_tokens",
        "weight",
        F.when((F.col("weight") > 0) & (F.col("n_tokens") > 0), rate)
        .otherwise(F.lit(0)).cast("long").alias("rate_bp"),
    ).withColumn(
        "planned_tokens",
        F.expr("CAST((n_tokens * rate_bp) DIV 10000 AS BIGINT)"),
    )


def shard_manifest(docs: DataFrame, packed: DataFrame | None = None,
                   shard_tokens: int = 2048, n_writers: int = 32,
                   seed: str = "p42", id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Shard integrity manifest over a :func:`pack_shards` plan: one
    row per training shard with doc/token totals and a COMMUTATIVE
    content digest (Σ md5_int48(text) mod 2³¹−1) — order-free by
    construction, so the digest is identical no matter which executor
    wrote the shard or in what order, and a training job can re-derive
    it from the shard file alone to catch truncated/corrupted/mixed-up
    shards before a run burns compute on them. The standard
    reproducibility artifact a 100-TB corpus ships alongside its data.

    One doc-keyed broadcast-free join (packed plan ⋈ texts, both sides
    keyed by id) + one map-combinable shard rollup. Passing ``packed``
    reuses an existing plan; otherwise the pack runs in-plan.
    Returns (shard_id, writer, n_docs, n_tokens, content_digest).
    """
    from .dedup import MERSENNE31, md5_int48

    if packed is None:
        packed = pack_shards(docs, shard_tokens=shard_tokens,
                             n_writers=n_writers, seed=seed,
                             id_col=id_col, text_col=text_col)
    j = packed.select(id_col, "writer", "shard_id", "n_tokens").join(
        docs.select(
            id_col,
            (md5_int48(F.col(text_col)) % MERSENNE31).alias("__d"),
        ),
        id_col,
    )
    return j.groupBy("shard_id", "writer").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        (F.sum("__d") % MERSENNE31).cast("long").alias("content_digest"),
    )


def pack_examples(docs: DataFrame, seq_len: int = 512,
                  n_writers: int = 32, seed: str = "p42",
                  id_col: str = "doc_id",
                  text_col: str = "text",
                  count_col: str | None = None) -> DataFrame:
    """Fixed-length training-example packing over the
    :func:`pack_shards` writer streams — the GPT-style sample layout:
    each writer lane's token stream is cut into ``seq_len``-token
    examples and documents are SPLIT across example boundaries (unlike
    shards, which never split a doc), so no example wastes tokens on
    padding. Emits one row per (document × example it overlaps):

        (doc_id, writer, example_id, start_in_doc, n_in_example)

    where ``example_id = writer·2²⁰ + (global example index within the
    lane)`` and ``start_in_doc`` is the 0-based token offset inside the
    document. A loader reconstructs example ``e`` by concatenating its
    rows' doc slices in ``start_in_doc``-consistent stream order —
    Σ n_in_example = seq_len for every example except each lane's last.

    All arithmetic is closed-form over pack_shards' running offsets:
    the span explode is ``sequence(first_example, last_example)`` — a
    projection, no new shuffle beyond the lane window pack_shards
    already pays. Deterministic under repartitioning for the same
    reason pack_shards is (hash order, not row order). Token-less docs
    occupy no stream space and emit no rows. ``count_col`` (see
    :func:`pack_shards`) makes the example grid tokenizer-exact:
    ``start_in_doc`` / ``n_in_example`` are then offsets into the
    document's ``apply_bpe`` token array rather than its word list.
    """
    packed = pack_shards(docs, shard_tokens=seq_len, n_writers=n_writers,
                         seed=seed, id_col=id_col, text_col=text_col,
                         count_col=count_col)
    first = F.floor(F.col("offset_tokens") / F.lit(seq_len))
    last = F.floor(
        (F.col("offset_tokens") + F.col("n_tokens") - 1) / F.lit(seq_len)
    )
    e = F.explode(F.sequence(first, last)).alias("ex")
    return (
        packed.filter(F.col("n_tokens") > 0)
        .select(id_col, "writer", "n_tokens", "offset_tokens", e)
        .select(
            id_col,
            "writer",
            (F.col("writer") * F.lit(1 << 20) + F.col("ex"))
            .cast("long").alias("example_id"),
            F.greatest(
                F.col("ex") * seq_len - F.col("offset_tokens"), F.lit(0)
            ).cast("long").alias("start_in_doc"),
            (
                F.least(
                    (F.col("ex") + 1) * seq_len,
                    F.col("offset_tokens") + F.col("n_tokens"),
                )
                - F.greatest(F.col("ex") * seq_len, F.col("offset_tokens"))
            ).cast("long").alias("n_in_example"),
        )
    )


def corpus_diff(old: DataFrame, new: DataFrame,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Snapshot diff for continual crawling: classify every doc id
    across two corpus snapshots as ``added`` / ``removed`` /
    ``changed`` (same id, different content digest) / ``same`` — the
    audit table an incremental pipeline publishes with each refresh
    ("what did this crawl actually change?"), and the input to
    re-embedding / re-indexing only the changed slice instead of the
    whole corpus.

    One full-outer join keyed by id (uniform — no skew exposure), both
    sides pre-collapsed to (id, digest) projections so no text moves
    through the shuffle. Returns (doc_id, status).
    """
    o = old.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("__od")
    )
    n = new.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("__nd")
    )
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("__od").isNull(), F.lit("added"))
        .when(F.col("__nd").isNull(), F.lit("removed"))
        .when(F.col("__od") == F.col("__nd"), F.lit("same"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def source_entropy(docs: DataFrame, lang_col: str = "lang",
                   source_col: str = "source") -> DataFrame:
    """Per-language source-diversity census: Shannon entropy (nats,
    ×1e6 integer-quantized) of the source distribution, plus doc and
    distinct-source counts.

    The mixing diagnostic next to :func:`mix_report`: a language whose
    tokens all come from two sources is a memorization/contamination
    risk no matter how many documents it has, and "effective source
    count" = exp(entropy) is the number a mix planner compares against
    its per-language source floor. Engine extension (the reference has
    no corpus-analysis surface); same determinism contract as
    ``unigram_logprob``: each (lang, source) term is quantized
    independently — ``floor((c/t) · ln(t/c) · 1e6)`` — and the per-lang
    sum of bigints is order-free, so the result hash-matches the DuckDB
    oracle.

    Plan: ONE map-side-combinable groupBy to the (lang, source) census
    (bounded by |langs|×|sources|), a broadcast-sized per-lang rollup
    joined back, then a second tiny groupBy — no exchange ever carries
    more than the census rows, at any corpus size.
    """
    census = docs.groupBy(lang_col, source_col).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = census.groupBy(lang_col).agg(
        F.sum("c").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    return (
        census.join(F.broadcast(totals), lang_col)
        .select(
            lang_col,
            "t",
            "n_sources",
            F.floor(
                (F.col("c") / F.col("t"))
                * F.log(F.col("t") / F.col("c"))
                * F.lit(1_000_000)
            ).cast("long").alias("__e"),
        )
        .groupBy(lang_col)
        .agg(
            F.first("t").alias("n_docs"),
            F.first("n_sources").alias("n_sources"),
            F.sum("__e").cast("long").alias("entropy_q"),
        )
        .orderBy(lang_col)
    )


def source_similarity(docs: DataFrame, source_col: str = "source",
                      text_col: str = "text", n: int = 3) -> DataFrame:
    """Exact pairwise Jaccard between source shingle VOCABULARIES — the
    redundancy matrix a mix planner reads next to :func:`source_entropy`:
    two sources whose word-n-gram vocabularies overlap heavily contribute
    near-duplicate coverage, so upweighting both buys less diversity than
    their token counts suggest (the source-level analog of doc-level
    ngram Jaccard). Engine extension (the reference has no
    corpus-analysis surface).

    Plan (the posting-list shape of ``ngram_jaccard_pairs``, but with a
    list bounded by |sources| BY CONSTRUCTION, so no ``max_df`` knob is
    needed): explode shingles → ONE groupBy(shingle) whose partial
    ``collect_set(source)`` dedups map-side into a ≤|sources| array →
    per-source vocabulary sizes recovered from the same posting table
    (exchange reused) → pair enumeration as a pure array projection
    (≤|sources|² structs per shingle) → intersection census bounded by
    |sources|² rows → broadcast joins against the tiny vocab table.
    No exchange after the shingle shuffle ever carries more than
    |shingles_distinct| × |sources| rows, at any corpus size.

    Returns (source_a, source_b, n_inter, n_a, n_b, jaccard_u) with
    source_a < source_b (binary string order in both engines) and
    jaccard_u = floor(jaccard × 1e6) — floor-quantized, hash-stable.
    Pairs with zero vocabulary intersection do not appear.
    """
    sg = docs.select(
        F.col(source_col).alias("source"),
        F.explode(shingles(F.col(text_col), n)).alias("shingle"),
    )
    posts = sg.groupBy("shingle").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    vocab = (
        posts.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size(F.col("srcs"))),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    inter = (
        posts.filter(F.size("srcs") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    va = vocab.select(F.col("source").alias("source_a"),
                      F.col("n_sh").alias("n_a"))
    vb = vocab.select(F.col("source").alias("source_b"),
                      F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(F.broadcast(va), "source_a")
        .join(F.broadcast(vb), "source_b")
        .select(
            "source_a", "source_b", "n_inter", "n_a", "n_b",
            F.floor(jac * 1_000_000).cast("long").alias("jaccard_u"),
        )
    )


def dup_rate_by_source(docs: DataFrame, components: DataFrame,
                       id_col: str = "doc_id",
                       source_col: str = "source") -> DataFrame:
    """Near-duplication rate per source: given a (doc_id, component_id)
    table from :func:`~..functions.dedup.near_dup_components`, the
    fraction of each source's documents that are NON-CANONICAL members
    of a duplicate cluster (component_id ≠ doc_id) — i.e. the mass a
    keep-one dedup pass would remove. The per-source health number a
    mix planner uses to discount a source's raw token count before
    weighting it.

    Plan: one shuffle join on doc id (components is pair-output-bound,
    far smaller than the corpus) and one map-side-combinable census
    groupBy bounded by |sources|. Rate is integer basis points —
    floor(n_dups × 10⁴ / n_docs) — so the value hash-matches the
    DuckDB oracle.
    """
    comp = components.select(
        F.col(id_col).alias("__cid"), F.col("component_id")
    )
    flags = docs.join(
        comp, docs[id_col] == comp["__cid"], "left"
    ).select(
        F.col(source_col).alias("source"),
        F.when(
            F.col("component_id").isNotNull()
            & (F.col("component_id") != F.col(id_col)),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("is_dup"),
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        F.floor(
            F.sum("is_dup") * F.lit(10_000) / F.count(F.lit(1))
        ).cast("long").alias("dup_bp"),
    )


def mix_temperature(docs: DataFrame, alpha_bp: int = 3000,
                    text_col: str = "text",
                    source_col: str = "source") -> DataFrame:
    """Temperature-scaled mixture planning (the multilingual-LM
    sampling standard: p_s ∝ t_s^α with α ∈ (0, 1], e.g. α = 0.3 for
    mT5/XLM-R-style upsampling of small sources): given the per-source
    token census, compute each source's target share and the
    basis-point sampling rate that realizes the α-mix at the LARGEST
    size the corpus supports in one pass — the bottleneck source
    (largest t^α / t, i.e. the SMALLEST source for α < 1) samples at
    exactly 100% and everything else downsamples proportionally, the
    same bottleneck contract as :func:`mix_plan` (which is the α = 1 /
    explicit-integer-weights special case).

    Determinism contract: the only float is the per-source
    ``floor(pow(t, α)·1e6)`` quantization (α = alpha_bp / 1e4); every
    division after it is DECIMAL(38,0) integral (Spark ``DIV`` ==
    DuckDB ``//``), so shares and rates hash-match the oracle. The
    quantized weight must fit signed-64 to be reported
    (α·log10(t) ≲ 12.9 — any α ≤ 0.5 is safe past 10²⁵ tokens; for
    α = 1 use :func:`mix_plan`, which never leaves integers).

    Plan: one map-combinable token census to ≤ |sources| rows, a 1-row
    total + a 1-row bottleneck argmax (double compare for ORDERING
    only, tie-broken by source name), both broadcast back. No window,
    no skew exposure, no exchange above |sources| rows.

    Returns (source, n_tokens, weight_q, share_bp, rate_bp,
    planned_tokens); zero-token sources get share/rate 0.
    """
    alpha = alpha_bp / 10_000.0
    census = docs.groupBy(source_col).agg(
        F.sum(word_count(F.col(text_col)).cast("long")).alias("n_tokens")
    )
    wq = census.withColumn(
        "__wq",
        F.floor(
            F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
            * F.lit(1_000_000.0)
        ).cast("decimal(38,0)"),
    )
    tot = wq.agg(
        F.coalesce(F.sum("__wq"), F.lit(0))
        .cast("decimal(38,0)").alias("__q_tot")
    )
    star = (
        wq.filter(F.col("n_tokens") > 0)
        .orderBy(
            (F.col("__wq").cast("double") / F.col("n_tokens")).desc(),
            F.col(source_col),
        )
        .limit(1)
        .select(
            F.col("n_tokens").alias("__t_star"),
            F.col("__wq").alias("__q_star"),
        )
    )
    return (
        wq.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(star))
        .select(
            source_col,
            "n_tokens",
            F.col("__wq").cast("long").alias("weight_q"),
            F.expr(
                "CAST((CAST(10000 AS DECIMAL(38,0)) * __wq)"
                " DIV greatest(__q_tot, CAST(1 AS DECIMAL(38,0)))"
                " AS BIGINT)"
            ).alias("share_bp"),
            F.when(
                F.col("n_tokens") > 0,
                F.expr(
                    "CAST((CAST(10000 AS DECIMAL(38,0)) * __wq * __t_star)"
                    " DIV (__q_star * n_tokens) AS BIGINT)"
                ),
            ).otherwise(F.lit(0)).cast("long").alias("rate_bp"),
        )
        .withColumn(
            "planned_tokens",
            F.expr("CAST((n_tokens * rate_bp) DIV 10000 AS BIGINT)"),
        )
    )


def quality_drift(old: DataFrame, new: DataFrame,
                  bucket_col: str = "bucket") -> DataFrame:
    """Population-stability index between two corpus snapshots' quality
    distributions, per bucket: the monitoring number a pipeline reads
    before retraining on a new crawl ("did this month's crawl shift the
    quality mix, or can last month's gates be reused?"). Callers supply
    an INTEGER bucket column (a quality decile, a ccnet bucket id, a
    length band) on both snapshots; this operator owns the censuses and
    the PSI arithmetic.

    Per-bucket PSI term: (p_old − p_new) · ln(p_old / p_new), which is
    ≥ 0 by construction (both factors share a sign), quantized
    ``floor(term · 1e6)``; the conventional read is Σ psi_q < 0.1·1e6
    stable, 0.1–0.25 drifting, > 0.25 retrain. One-sided buckets (the
    classic PSI singularity) are NOT folded into an epsilon — psi_q is
    NULL there and the raw counts stay visible, so a bucket appearing
    or vanishing outright is loud instead of smoothed away. Shares are
    exact integral parts-per-million; the only floats are the two
    divisions and the ln inside the quantized term (same contract as
    :func:`source_entropy`).

    Plan: two map-combinable censuses (≤ |buckets| rows each), a 1-row
    broadcast of both totals, a bucket-keyed full outer join of the two
    tiny censuses. No exchange above |buckets| rows at any corpus size.

    Returns (bucket, n_old, n_new, p_ppm_old, p_ppm_new, psi_q) for
    every bucket present in either snapshot.
    """
    co = old.groupBy(F.col(bucket_col).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_old")
    )
    cn = new.groupBy(F.col(bucket_col).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    totals = (
        co.agg(F.coalesce(F.sum("n_old"), F.lit(0))
               .cast("long").alias("__t_old"))
        .crossJoin(
            cn.agg(F.coalesce(F.sum("n_new"), F.lit(0))
                   .cast("long").alias("__t_new"))
        )
    )
    j = (
        co.join(cn, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce(F.col("n_old"), F.lit(0)).cast("long")
            .alias("n_old"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long")
            .alias("n_new"),
        )
        .crossJoin(F.broadcast(totals))
    )
    p_old = F.col("n_old").cast("double") / F.col("__t_old")
    p_new = F.col("n_new").cast("double") / F.col("__t_new")
    return j.select(
        "bucket",
        "n_old",
        "n_new",
        F.expr("CAST((1000000 * n_old) DIV greatest(__t_old, 1) AS BIGINT)")
        .alias("p_ppm_old"),
        F.expr("CAST((1000000 * n_new) DIV greatest(__t_new, 1) AS BIGINT)")
        .alias("p_ppm_new"),
        F.when(
            (F.col("n_old") > 0) & (F.col("n_new") > 0),
            F.floor((p_old - p_new) * F.log(p_old / p_new)
                    * F.lit(1_000_000.0)),
        ).cast("long").alias("psi_q"),
    ).orderBy("bucket")


def chunk_documents(docs: DataFrame, win: int = 128, stride: int = 96,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Overlapping token-window chunking — the prep step between a
    curated corpus and context-window training or retrieval indexing
    (every RAG/embedding pipeline chunks long documents before encoding;
    :func:`pack_examples` is the non-overlapping training-packer sibling).

    Contract (deterministic, oracle-matchable):
      - whitespace tokens (Python ``str.split`` semantics, same as every
        other token count in the engine);
      - chunk ``c`` covers tokens ``[c·stride, c·stride + win)``;
      - a start > 0 is emitted only while it adds new tokens beyond its
        predecessor's end (``start < n - win + stride``), so the tail
        chunk may be short but is never fully contained in the previous
        one — and with ``stride >= win`` (no overlap) every start
        survives;
      - empty documents emit no rows.

    Output: (id_col, chunk_idx, n_tokens, chunk), one row per chunk.

    Scale: pure projection + explode — ZERO shuffle at any corpus size;
    output is ~n/stride rows per doc, bounded by the input token count.
    Engine extension (the reference stops at page storage).
    """
    if stride <= 0 or win <= 0:
        raise ValueError("win and stride must be positive")
    toks = tokens(F.col(text_col))
    base = (
        docs.select(id_col, toks.alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") > 0)
    )
    n = F.col("__n")
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    live = F.filter(
        starts,
        lambda s: (s == 0) | (s < n - F.lit(win) + F.lit(stride)),
    )
    s = F.col("__start")
    return (
        base.select(id_col, "__toks", "__n",
                    F.explode(live).alias("__start"))
        .select(
            id_col,
            F.expr(f"CAST(__start DIV {stride} AS BIGINT)").alias("chunk_idx"),
            F.least(F.lit(win), n - s).cast("long").alias("n_tokens"),
            F.array_join(F.slice(F.col("__toks"), s + 1, F.lit(win)), " ")
            .alias("chunk"),
        )
    )


def blocklist_mine(docs: DataFrame, keep: Column,
                   source_col: str = "source",
                   min_docs: int = 20,
                   min_fail_bp: int = 5000) -> DataFrame:
    """Blocklist candidate mining: per-source rollup of any per-document
    quality gate into a fail-rate census, flagging sources whose gate
    failure rate is high enough — on enough documents — that the whole
    source should be blocked upstream instead of filtered per-document.

    This is how static domain blocklists (UT1 and the FineWeb additions
    consumed by :func:`~.url.blocklist_gate`) are grown from corpus
    evidence: gate per doc, aggregate per origin, promote persistent
    offenders. ``keep`` is any boolean Column over the doc row — the
    Gopher conjunction, a C4 verdict, a classifier threshold — so one
    miner serves every gate family.

    Output: (source, n_docs, n_fail, fail_bp) for sources with
    ``n_docs >= min_docs`` and ``fail_bp >= min_fail_bp``, basis points
    floor-integer (``(10000·n_fail) DIV n_docs``), ordered by source.

    Scale: the gate is a zero-shuffle projection; the only exchange is
    the |sources|-bounded census groupBy (map-side combinable), so the
    plan carries census rows regardless of corpus size.
    """
    census = (
        docs.select(F.col(source_col).alias("source"),
                    keep.cast("int").alias("__k"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.lit(1) - F.col("__k")).cast("long").alias("n_fail"),
        )
    )
    return (
        census.select(
            "source", "n_docs", "n_fail",
            F.expr("CAST((10000 * n_fail) DIV n_docs AS BIGINT)")
            .alias("fail_bp"),
        )
        .filter((F.col("n_docs") >= min_docs)
                & (F.col("fail_bp") >= min_fail_bp))
        .orderBy("source")
    )


def gate_agreement(docs: DataFrame, gates: dict[str, Column]) -> DataFrame:
    """Confusion census between quality gates: one row per verdict
    combination with its count and basis-point share — the tuning
    diagnostic read BEFORE swapping or conjoining gates (does the
    classifier subsume Gopher? which mass does C4 alone reject? is a
    new gate redundant?). ``gates`` maps gate name → boolean Column
    over the doc row, so any mix of Gopher / C4 / classifier /
    language gates composes.

    Output: one boolean column per gate (in name-sorted order), n_docs,
    share_bp (``(10000·n_docs) DIV total``), ordered by the gate
    columns. NULL gate verdicts are kept as NULL (their own cells) —
    an undecidable doc is signal, not a third boolean.

    Scale: all gates evaluate in ONE zero-shuffle projection over the
    corpus scan; the census groupBy is bounded by ≤ 3^k cells (k =
    #gates), and the share divides by a 1-row broadcast total (the
    same bounded crossJoin pattern as mix_report) — no corpus-sized
    exchange anywhere.
    """
    if not gates:
        raise ValueError("gates must be non-empty")
    names = sorted(gates)
    census = (
        docs.select(*[gates[n].alias(n) for n in names])
        .groupBy(*names)
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    total = census.agg(F.sum("n_docs").cast("long").alias("__total"))
    return (
        census.join(F.broadcast(total))
        .select(
            *names,
            "n_docs",
            F.expr("CAST((10000 * n_docs) DIV __total AS BIGINT)")
            .alias("share_bp"),
        )
        .orderBy(*names)
    )


def importance_sample(docs: DataFrame, score: Column,
                      n_buckets: int = 10,
                      alpha_bp: int = 10000,
                      floor_bp: int = 0,
                      seed: str = "s42",
                      id_col: str = "doc_id") -> DataFrame:
    """Quality-weighted downsampling (the DCLM/DataComp recipe on the
    QUALITY axis, as :func:`mix_temperature` is on the source axis):
    bucket every document by score rank, then keep docs with a
    deterministic hash-threshold rate that RISES with the bucket —
    the top bucket keeps everything, bucket b of B keeps
    ``floor_bp + (10000 − floor_bp) · ((b+1)/B)^(alpha_bp/10000)``
    basis points. ``alpha_bp=10000`` is the linear ramp; higher is
    more top-heavy; ``floor_bp`` guarantees every bucket keeps a
    trickle (diversity insurance against hard quality cutoffs).

    Buckets are exact score-rank deciles over the DISTINCT score
    domain (same bounded-domain trick as the quantile gate — integer
    scores only, so ties land in one bucket deterministically).
    Membership depends only on (seed, id), so samples are reproducible
    and rate-monotone exactly like :func:`corpus_sample`.

    Returns (id_col, score_bucket, sample_key) for kept docs.

    Scale: one DISTINCT-score census (bounded by the integer score
    domain) + a broadcast bucket map + the zero-shuffle hash filter.
    The corpus itself is never shuffled.
    """
    scored = docs.select(id_col, score.cast("long").alias("__s"))
    dom = scored.select("__s").distinct()
    w = Window.orderBy("__s")
    buckets = dom.select(
        "__s",
        F.least(
            F.floor((F.row_number().over(w) - 1) * n_buckets
                    / F.count(F.lit(1)).over(Window.partitionBy())),
            F.lit(n_buckets - 1),
        ).cast("long").alias("score_bucket"),
    )
    rate = F.lit(floor_bp) + F.floor(
        (F.lit(10000 - floor_bp))
        * F.pow((F.col("score_bucket") + 1) / F.lit(n_buckets),
                F.lit(alpha_bp) / F.lit(10000.0))
    ).cast("long")
    key = md5_int48(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    ) % F.lit(SPLIT_BUCKETS)
    return (
        scored.join(F.broadcast(buckets), "__s")
        .select(
            id_col, "score_bucket",
            key.alias("sample_key"),
            rate.alias("__rate"),
        )
        .filter(F.col("sample_key") < F.col("__rate"))
        .drop("__rate")
    )


def cluster_split(docs: DataFrame, components: DataFrame,
                  weights: "dict[str, float] | None" = None,
                  id_col: str = "doc_id") -> DataFrame:
    """Leakage-aware train/val/test split: hash the near-dup CLUSTER,
    not the document, so an entire duplicate family lands on one side
    of the split. A plain :func:`corpus_split` leaks — two near-copies
    hash independently, one trains while its twin sits in test, and
    held-out perplexity silently measures memorization (the
    train/test-overlap failure Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better" quantifies).

    ``components`` is any (doc_id, component_id) table —
    ``near_dup_components`` over simhash/minhash/embedding pairs, or
    the canonical-URL groups. Docs absent from it are singletons and
    hash by their own id, which keeps this a strict superset of
    corpus_split: on a fully-deduplicated corpus the two agree row for
    row. Returns (id, split_key, split, bucket) — split_key is the
    effective hashed id, kept for audit (every member of a cluster
    shows the same key, bucket, and split).

    Scale shape: one |components|-row join (components is pair-output
    bound, far smaller than the corpus; Spark broadcasts it when it
    fits) + the zero-shuffle hash projection. Same split-bucket
    contract as corpus_split (md5_int48 % 10000 on the STRING key), so
    existing downstream samplers read it unchanged.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    comp = components.select(
        F.col("doc_id").alias("__cs_id"),
        F.col("component_id").alias("__cs_comp"),
    )
    joined = docs.select(F.col(id_col)).join(
        comp, F.col(id_col) == F.col("__cs_id"), "left"
    )
    key = F.coalesce(F.col("__cs_comp"), F.col(id_col))
    b = split_bucket(key)
    return joined.select(
        F.col(id_col),
        key.cast("string").alias("split_key"),
        _split_expr(b, weights).alias("split"),
        b.alias("bucket"),
    )
