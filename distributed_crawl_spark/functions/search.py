"""Full-text relevance search over the crawled corpus (inverted index + BM25).

A crawl pipeline's output is only useful if it can be queried; the
standard primitive is an inverted index (term -> postings with term
frequency) scored with Okapi BM25. The reference crawler
(thebenjy/distributed_crawl) has no search surface at all — its closest
analog is the content-stats report — so this module is an engine
extension in the same spirit as the dedup/curation stack: the operator
a real 100-TB webtext corpus needs next.

Determinism contract (why integers): BM25 is a sum of per-term float
scores, and float summation is order-dependent, so a naive port can
never hash-match a DuckDB oracle. Here the per-term IDF is quantized
ONCE per distinct term — ``idf_q = floor(ln((N - df + 0.5)/(df + 0.5)
+ 1) * 1e6)`` (the BM25+ idf variant, always positive) — and the TF
normalization is carried out entirely in integer arithmetic. With
k1 = 6/5 and b = 3/4 the per-(term, doc) contribution

    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

is EXACTLY ``(idf_q * 22 * tf * A) div (10*A*tf + 3*A + 9000*dl)``
where ``A = floor(1000 * sum(dl) / N)`` is the average document length
in milli-tokens — derivation: the denominator times ``10*A`` is
``10*A*tf + (6*A + 18000*dl)/2 = 10*A*tf + 3*A + 9000*dl`` and the
numerator times ``10*A`` is ``22*tf*A``. Integer div is bit-identical
across Spark and DuckDB; the per-doc sum of bigint contributions is
order-free.

Overflow bound: ``idf_q <= ln(N+2)*1e6`` (~2.4e7 at N = 1e10 docs) and
``tf`` saturates at :data:`TF_CAP` (BM25's tf term is asymptotic in tf
anyway — capping at 1000 changes scores by < 0.2%), so the product is
``<= 2.4e7 * 22 * 1e3 * A``; with avgdl up to ~40k milli-tokens that is
~2e16, comfortably inside signed-64.

Scale story: every posting fact — tf, positions, dl — is local to its
document, so :func:`build_postings` is one per-row Arrow kernel with
no exchange; the corpus-wide reductions are the df census behind
:func:`term_idf` (``groupBy(term)``, vocabulary-sized) and the per-doc
length fold behind :func:`corpus_stats`, both map-side combinable. The
ad-hoc searches (:func:`bm25_topk`,
:func:`phrase_topk`) build no postings and read no index: one per-doc
kernel emits (doc_id, dl, tf per query term), corpus stats and dfs fold
to one 1-row aggregate, and the score is a per-row integer expression
against that broadcast row. The persisted index pays one term-bucket
repartition at build time; its queries scan only the query terms'
bucket directories. Every search ends in ``orderBy().limit(k)`` —
Spark's TakeOrdered, a map-side partial top-k with no full sort.
"""

from __future__ import annotations

from functools import reduce
from operator import add
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

IDF_SCALE = 1_000_000
TF_CAP = 1_000  # BM25 tf saturation guard; keeps products inside int64


def build_postings(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   positions: bool = False) -> DataFrame:
    """Inverted-index postings: one row per (term, doc) with the term
    frequency ``tf`` (capped at :data:`TF_CAP`) and the document length
    ``dl`` in tokens. One explode + one map-combinable groupBy.

    With ``positions=True`` each posting also carries the sorted
    0-based token positions of the term in the doc (the classic
    positional-postings layout phrase queries need).

    Physical form (round 6): every output fact — tf, positions, dl —
    is LOCAL to its document, so the postings are emitted by a
    per-row Arrow kernel with ZERO exchanges; the previous form paid a
    corpus-wide (term, doc) shuffle plus a per-doc-length self-join for
    values each row already knew. The tokenizer is java_ws_tokens,
    tokens()'s bit-identical twin; positions are in document order
    (ascending — exactly the sorted collect_list)."""
    import pandas as pd

    from .dedup import java_ws_tokens

    id_t = docs.schema[id_col].dataType.simpleString()
    schema = (
        f"term string, doc_id {id_t}, tf long"
        + (", positions array<int>" if positions else "")
        + ", dl long"
    )

    def _post(it):
        import numpy as np

        for pdf in it:
            terms, dids, tfs, poss, dls = [], [], [], [], []
            for did, text in zip(pdf["__id"], pdf["__txt"]):
                toks = java_ws_tokens(text)
                if not toks:
                    continue
                dl = len(toks)
                occ: dict = {}
                for i, t in enumerate(toks):
                    occ.setdefault(t, []).append(i)
                for t, pl in occ.items():
                    terms.append(t)
                    dids.append(did)
                    tfs.append(min(len(pl), TF_CAP))
                    dls.append(dl)
                    if positions:
                        poss.append(np.array(pl, dtype=np.int32))
            if not terms:
                continue
            out = {"term": terms, "doc_id": dids,
                   "tf": np.array(tfs, dtype=np.int64)}
            if positions:
                out["positions"] = poss
            out["dl"] = np.array(dls, dtype=np.int64)
            yield pd.DataFrame(out)

    return docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__txt")
    ).mapInPandas(_post, schema)


def _idf_q(n_docs, df):
    """BM25+ idf ``ln((N - df + .5)/(df + .5) + 1)`` floor-quantized to
    micro-units — the one idf expression; every score reads it."""
    return F.floor(
        F.log((n_docs - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0))
        * IDF_SCALE
    ).cast("long")


def _term_score(idf: str, tf: str):
    """One (term, doc) contribution in integer arithmetic (module
    docstring): ``idf`` and ``tf`` name columns; ``dl`` and
    ``avgdl_x1000`` are read by name."""
    return F.expr(
        f"({idf} * 22 * {tf} * avgdl_x1000) div "
        f"(10 * avgdl_x1000 * {tf} + 3 * avgdl_x1000 + 9000 * dl)"
    ).cast("long")


def _doc_lengths(postings: DataFrame) -> DataFrame:
    """(doc_id, dl) once per document — postings repeat dl per term."""
    return postings.select("doc_id", "dl").groupBy("doc_id").agg(
        F.first("dl").alias("dl")
    )


def _length_stats(per_doc: DataFrame, *extra) -> DataFrame:
    """The one corpus-stats fold: a 1-row ``(n_docs, sum_dl, *extra,
    avgdl_x1000)`` over per-doc rows carrying ``dl``."""
    return _with_avgdl(per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *extra,
    ))


def _with_avgdl(stats: DataFrame) -> DataFrame:
    """Append ``avgdl_x1000 = floor(1000 * sum_dl / n_docs)``, the
    average document length in milli-tokens."""
    return stats.withColumn(
        "avgdl_x1000", F.expr("(sum_dl * 1000) div n_docs").cast("long")
    )


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    """Global top-``k`` by (score_q DESC, doc_id ASC) plus ``rank``.
    The limit is TakeOrdered; the rank window sees only the k survivors,
    not a global sort."""
    order = (F.col("score_q").desc(), F.col("doc_id"))
    return scored.orderBy(*order).limit(k).select(
        *scored.columns,
        F.row_number().over(Window.orderBy(*order)).cast("long")
        .alias("rank"),
    )


def _rank_docs(per_doc: DataFrame, tfs: Sequence[str], k: int,
               keep: Sequence[str] = (),
               stats: DataFrame | None = None) -> DataFrame:
    """Score per-doc rows ``(doc_id, dl, *tfs)`` — one tf column per
    query term — and rank them: docs with no term are dropped, and the
    score is the sum of the terms' contributions (a tf = 0 term adds
    exactly 0). ``stats`` is the 1-row ``(n_docs, avgdl_x1000, df_<tf>
    …)``; by default it is folded from ``per_doc`` itself. Each term's
    idf is computed once, on that row. Returns (doc_id, *keep,
    score_q, rank)."""
    if stats is None:
        stats = _length_stats(per_doc, *[
            F.sum((F.col(t) > 0).cast("long")).cast("long").alias(f"df_{t}")
            for t in tfs
        ])
    idf = stats.select("avgdl_x1000", *[
        _idf_q(F.col("n_docs"), F.col(f"df_{t}")).alias(f"idf_{t}")
        for t in tfs
    ])
    hit = (F.greatest(*map(F.col, tfs)) if len(tfs) > 1
           else F.col(tfs[0])) > 0
    score = reduce(add, [_term_score(f"idf_{t}", t) for t in tfs])
    return _ranked(
        per_doc.filter(hit).crossJoin(F.broadcast(idf)).select(
            "doc_id", *keep, score.alias("score_q")
        ),
        k,
    )


def corpus_stats(postings: DataFrame) -> DataFrame:
    """One-row (n_docs, avgdl_x1000) over the postings table."""
    return _length_stats(_doc_lengths(postings)).select(
        "n_docs", "avgdl_x1000"
    )


def term_idf(postings: DataFrame, stats: DataFrame) -> DataFrame:
    """(term, df, idf_q) — BM25+ idf ``ln((N - df + .5)/(df + .5) + 1)``
    floor-quantized to micro-units once per DISTINCT term, so every
    downstream use is integer-exact."""
    df_tbl = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    return df_tbl.crossJoin(F.broadcast(stats)).select(
        "term", "df", _idf_q(F.col("n_docs"), F.col("df")).alias("idf_q")
    )


def bm25_topk(docs: DataFrame, terms: Sequence[str], k: int = 20,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-``k`` documents for a bag-of-terms query under integer-exact
    BM25 (k1 = 1.2, b = 0.75). Returns (doc_id, score_q, rank) with the
    deterministic tie-break (score DESC, doc_id ASC).

    Physical form (round 6): the query terms are known up front, so the
    ad-hoc search never builds corpus-wide postings — ONE per-doc Arrow
    kernel emits (doc_id, dl, tf per query term), from which corpus
    stats AND per-term dfs reduce to a single 1-row aggregate, and the
    score is a per-row integer expression (:func:`_rank_docs`). Zero
    corpus-wide shuffles; the persisted-index path (write_text_index /
    text_index_topk) is the index-backed form."""
    import pandas as pd

    from .dedup import java_ws_tokens

    qterms = list(dict.fromkeys(terms))
    nq = len(qterms)
    id_t = docs.schema[id_col].dataType.simpleString()

    def _tfs(it):
        import numpy as np

        for pdf in it:
            ids, dls = [], []
            tfs: list[list[int]] = [[] for _ in range(nq)]
            for did, text in zip(pdf["__id"], pdf["__txt"]):
                toks = java_ws_tokens(text)
                if not toks:
                    continue
                ids.append(did)
                dls.append(len(toks))
                for qi in range(nq):
                    c = toks.count(qterms[qi])
                    tfs[qi].append(min(c, TF_CAP))
            out = {"doc_id": ids, "dl": np.array(dls, dtype=np.int64)}
            for qi in range(nq):
                out[f"tf{qi}"] = np.array(tfs[qi], dtype=np.int64)
            yield pd.DataFrame(out)

    tf_cols = [f"tf{i}" for i in range(nq)]
    per_doc = docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__txt")
    ).mapInPandas(
        _tfs,
        ", ".join([f"doc_id {id_t}", "dl long"]
                  + [f"{t} long" for t in tf_cols]),
    )
    return _rank_docs(per_doc, tf_cols, k)


def topk_terms(docs: DataFrame, k: int = 5, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-document top-``k`` TF-IDF keywords — the classic descriptor
    extraction (Salton & Buckley 1988) a corpus browser, mix planner,
    or focused-crawl topic model reads per page.

    ``score_q = tf * idf_q`` with the engine's saturated tf
    (:data:`TF_CAP`) and micro-unit BM25+ idf (:func:`term_idf`) — both
    integers, so the product (≤ 1000 · ~21e6) stays inside int64 and
    ranking is hash-matchable. Ties break (score DESC, term ASC).
    Returns (doc_id, term, tf, score_q, rank), rank 1..k per doc.

    Scale shape: the postings explode+groupBy, a vocabulary-sized df
    census joined back on the term key (census-to-census, never
    doc-sized rows × vocab), and a per-doc ``row_number() <= k`` window
    — the shape Spark 4 bounds map-side with WindowGroupLimit, so at
    most k rows per doc per map task reach the exchange.
    """
    post = build_postings(docs, id_col=id_col, text_col=text_col)
    idf = term_idf(post, corpus_stats(post))
    scored = post.join(idf.select("term", "idf_q"), "term").select(
        "doc_id", "term", "tf",
        (F.col("tf") * F.col("idf_q")).cast("long").alias("score_q"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_q").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _phrase_terms(phrase) -> list[str]:
    terms = phrase.split() if isinstance(phrase, str) else list(phrase)
    if not terms:
        raise ValueError("phrase must contain at least one token")
    return terms


def phrase_topk(docs: DataFrame, phrase, k: int = 20,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-``k`` documents containing an exact token PHRASE, BM25-scored
    with the phrase as a unit term: ``ptf`` = phrase occurrences
    (overlaps counted), ``df`` = documents containing it, and the same
    integer-exact k1=1.2/b=0.75 normalization as :func:`bm25_topk` — so
    the score is hash-stable and comparable to single-term scores.
    Bag-of-words BM25 cannot distinguish "hash join" from "join ...
    hash"; this is the standard positional-adjacency upgrade.

    Physical form (round 6): phrase occurrences are PER-DOC LOCAL, so
    one Arrow kernel emits (doc_id, dl, ptf) per non-empty doc — the
    exact-sequence scan is the anchor-coverage census's semantics (a
    start position counts iff every offset matches; overlaps counted,
    capped at TF_CAP) without the posexplode, the offset join, or the
    two census exchanges. n_docs / avgdl / df reduce to ONE 1-row
    aggregate over the kernel rows and scoring is :func:`bm25_topk`'s
    (:func:`_rank_docs`); :func:`text_index_phrase` is the index-backed
    form. Returns (doc_id, ptf, score_q, rank)."""
    import pandas as pd

    from .dedup import java_ws_tokens

    terms = _phrase_terms(phrase)
    p = len(terms)
    id_t = docs.schema[id_col].dataType.simpleString()

    def _ptf(it):
        import numpy as np

        for pdf in it:
            ids, dls, ptfs = [], [], []
            t0 = terms[0]
            for did, text in zip(pdf["__id"], pdf["__txt"]):
                toks = java_ws_tokens(text)
                if not toks:
                    continue
                dl = len(toks)
                c = 0
                for j in range(dl - p + 1):
                    if toks[j] == t0 and toks[j : j + p] == terms:
                        c += 1
                ids.append(did)
                dls.append(dl)
                ptfs.append(min(c, TF_CAP))
            yield pd.DataFrame({
                "doc_id": ids,
                "dl": np.array(dls, dtype=np.int64),
                "ptf": np.array(ptfs, dtype=np.int64),
            })

    per_doc = docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__txt")
    ).mapInPandas(_ptf, f"doc_id {id_t}, dl long, ptf long")
    return _rank_docs(per_doc, ["ptf"], k, keep=["ptf"])


# ---------------------------------------------------------------------------
# Persistent inverted index: build once, search forever, add increments.
# The text twin of functions/vecindex.py (same build/read/search/add API).
# ---------------------------------------------------------------------------

import json as _json
from dataclasses import dataclass as _dataclass

from pyspark.sql import SparkSession

TEXT_INDEX_FORMAT = "bm25/v1"


@_dataclass
class TextIndex:
    """Loaded index handle: three DataFrames + the build parameters."""

    postings: DataFrame
    idf: DataFrame
    stats: DataFrame
    params: dict


def _bucket(term, n_buckets: int = 64):
    return F.pmod(F.xxhash64(term), F.lit(int(n_buckets))).cast("int")


def _write_manifest_json(manifest_dir: str, manifest: dict) -> None:
    """One-row manifest written directly (spark.read.json-compatible
    line format) — a whole Spark job per 1-row manifest was measurable
    build overhead. The index layout is already local-FS shaped (the
    compactor uses os.rename); an object-store deployment would swap
    this for the Hadoop FS API alongside the compactor's swap."""
    import os
    import shutil

    shutil.rmtree(manifest_dir, ignore_errors=True)  # overwrite semantics
    os.makedirs(manifest_dir, exist_ok=True)
    with open(f"{manifest_dir}/part-00000.json", "w") as f:
        f.write(_json.dumps({"manifest": _json.dumps(manifest)}) + "\n")


def write_text_index(docs: DataFrame, path: str, id_col: str = "doc_id",
                     text_col: str = "text",
                     positions: bool = False,
                     n_buckets: int | None = None) -> dict:
    """Build and persist the inverted index; returns the manifest dict.

    Layout under ``path`` (plain parquet):

    - ``postings/`` (term, doc_id, tf, dl) PARTITIONED BY term_bucket
      (``pmod(xxhash64(term), 64)``) — the partition layout IS the
      inverted file: a query over q terms reads at most q of 64
      directories, so query cost stays ~|q|/64 of the index no matter
      how big the corpus grows.
    - ``idf/``     (term, df, idf_q) — vocabulary-sized.
    - ``stats/``   1 row (n_docs, sum_dl, avgdl_x1000) — sum_dl is kept
      so stats stay incrementally updatable (see add_to_text_index).
    - ``manifest/`` 1-row JSON: format tag + n_buckets + positional.

    ``positions=True`` stores positional postings (sorted 0-based token
    positions per (term, doc)) so :func:`text_index_phrase` can answer
    exact-phrase queries from the index alone; increments added later
    inherit the layout via the manifest flag.
    """
    spark = docs.sparkSession
    # ONE tokenization pass, and a SCALE-ADAPTIVE bucket count (guide
    # §2/§6: derive partitioning from data size, not a constant):
    # ``n_buckets=None`` sizes the partition layout from the corpus doc
    # count at ~10k docs per bucket (clamped [4, 64]) — a small index
    # stops paying 64 task/commit/file overheads (measured: build
    # 3.5→1.8 s first-run at sf0.1), a big one keeps the full fan-out.
    # Pass an explicit ``n_buckets`` at corpus scale to skip the count.
    posts = build_postings(docs, id_col=id_col, text_col=text_col,
                           positions=positions)
    if n_buckets is None:
        # sized from the (metadata-cheap) doc count at ~10k docs per
        # bucket — i.e. a few hundred k posting rows per bucket for
        # web-page vocabularies. Counting the posting stream itself was
        # A/B'd both ways (persist+count, recompute+count) and the
        # extra pass ate the win; pass n_buckets explicitly when the
        # corpus's postings-per-doc is far from that regime.
        n_buckets = min(64, max(4, docs.count() // 10_000 + 1))
    (
        posts
        .withColumn("term_bucket", _bucket(F.col("term"), n_buckets))
        .repartition(n_buckets, "term_bucket")
        .sortWithinPartitions("term_bucket", "term", "doc_id")
        .write.mode("overwrite")
        .partitionBy("term_bucket").parquet(f"{path}/postings")
    )
    written = spark.read.parquet(f"{path}/postings")
    stats = _length_stats(_doc_lengths(written))
    idf = term_idf(written, stats)
    # idf and stats are independent scans of the written postings —
    # overlap them so the second job back-fills the first one's tail
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fi = pool.submit(
            lambda: idf.write.mode("overwrite").parquet(f"{path}/idf"))
        fs = pool.submit(
            lambda: stats.write.mode("overwrite").parquet(f"{path}/stats"))
        fi.result(), fs.result()
    manifest = {"format": TEXT_INDEX_FORMAT, "n_buckets": int(n_buckets),
                "positional": positions}
    _write_manifest_json(f"{path}/manifest", manifest)
    return manifest


def _read_manifest_json(spark: SparkSession, manifest_dir: str) -> dict:
    """Read the 1-row manifest directly off the local FS — the read
    twin of :func:`_write_manifest_json` (a whole Spark job per 1-row
    manifest was measurable probe overhead); falls back to
    ``spark.read.json`` for non-local paths."""
    import glob
    import os

    files = sorted(glob.glob(os.path.join(manifest_dir, "part-*.json")))
    if files:
        with open(files[0]) as f:
            return _json.loads(_json.loads(f.readline())["manifest"])
    row = spark.read.json(manifest_dir).collect()[0]
    return _json.loads(row.manifest)


def read_text_index(spark: SparkSession, path: str) -> TextIndex:
    params = _read_manifest_json(spark, f"{path}/manifest")
    if params.get("format") != TEXT_INDEX_FORMAT:
        raise ValueError(
            f"unsupported text index format {params.get('format')!r}"
        )
    return TextIndex(
        postings=spark.read.parquet(f"{path}/postings"),
        idf=spark.read.parquet(f"{path}/idf"),
        stats=spark.read.parquet(f"{path}/stats"),
        params=params,
    )


def add_to_text_index(spark: SparkSession, path: str, docs: DataFrame,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> None:
    """Incremental add: append the increment's postings partitions and
    UPDATE the (vocabulary-sized) idf table and the 1-row stats — the
    corpus postings are never read, so the add is O(increment + |vocab|).
    IDF shifts for every term when N grows (unlike the frozen-quantizer
    vector index), which is why df/sum_dl are stored raw: the new idf_q
    is recomputed exactly from merged integer censuses, never from the
    old quantized values. Caller contract (same as the dedup index):
    doc_ids must be new; re-adding an id duplicates its rows."""
    idx = read_text_index(spark, path)
    inc = build_postings(docs, id_col=id_col, text_col=text_col,
                         positions=bool(idx.params.get("positional")))
    # stats and dfs are stored raw, so merging is summing
    new_stats = _with_avgdl(
        idx.stats.select("n_docs", "sum_dl")
        .unionByName(_length_stats(_doc_lengths(inc))
                     .select("n_docs", "sum_dl"))
        .agg(F.sum("n_docs").cast("long").alias("n_docs"),
             F.sum("sum_dl").cast("long").alias("sum_dl"))
    )
    merged_df = (
        idx.idf.select("term", "df")
        .unionByName(inc.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("df")))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    new_idf = merged_df.crossJoin(
        F.broadcast(new_stats.select("n_docs"))
    ).select(
        "term", "df", _idf_q(F.col("n_docs"), F.col("df")).alias("idf_q")
    )
    inc.withColumn(
        "term_bucket",
        _bucket(F.col("term"), int(idx.params.get("n_buckets", 64))),
    ).write.mode(
        "append"
    ).partitionBy("term_bucket").parquet(f"{path}/postings")
    # idf/stats are small (vocabulary-sized / 1 row) — stage then swap,
    # because Spark cannot overwrite a table it is reading in-plan.
    new_idf.write.mode("overwrite").parquet(f"{path}/idf_next")
    new_stats.write.mode("overwrite").parquet(f"{path}/stats_next")
    for t in ("idf", "stats"):
        spark.read.parquet(f"{path}/{t}_next").write.mode(
            "overwrite"
        ).parquet(f"{path}/{t}")


def _term_postings(index: TextIndex, terms: Sequence[str]):
    """(postings rows of ``terms``, the 1-column ``term`` table of the
    distinct terms). A big index's scan is pruned to the terms' hash
    buckets; a small (adaptively-bucketed) one is bounded by
    construction, and there the bucket-id collect job costs more than
    the pruning saves."""
    spark = index.postings.sparkSession
    qterms = spark.createDataFrame(
        [(t,) for t in dict.fromkeys(terms)], "term string"
    )
    nb = int(index.params.get("n_buckets", 64))
    pruned = index.postings
    if nb > 8:
        buckets = sorted(
            {r.b for r in
             qterms.select(_bucket(F.col("term"), nb).alias("b"))
             .collect()}
        )
        pruned = pruned.where(F.col("term_bucket").isin(buckets))
    return pruned.join(F.broadcast(qterms), "term"), qterms


def text_index_topk(index: TextIndex, terms: Sequence[str],
                    k: int = 20) -> DataFrame:
    """BM25 top-k against the persisted index — :func:`bm25_topk`
    semantics with nothing recomputed: the postings scan is pruned to
    the query terms' hash buckets (≤ |terms| of 64 directories), the
    queried terms' IDF rows broadcast, and the 1-row stats cross-join.
    At any corpus size the scan is bounded by the queried buckets.
    Returns (doc_id, score_q, rank)."""
    post, qterms = _term_postings(index, terms)
    return _ranked(
        post
        .join(F.broadcast(index.idf.join(F.broadcast(qterms), "term")),
              "term")
        .crossJoin(F.broadcast(index.stats.select("avgdl_x1000")))
        .select("doc_id", _term_score("idf_q", "tf").alias("contrib"))
        .groupBy("doc_id")
        .agg(F.sum("contrib").cast("long").alias("score_q")),
        k,
    )


def text_index_phrase(index: TextIndex, phrase, k: int = 20) -> DataFrame:
    """Exact-phrase top-k against a POSITIONAL persisted index —
    :func:`phrase_topk` semantics with the corpus never re-read: the
    postings scan is pruned to the phrase terms' hash buckets
    (≤ |phrase| of 64 directories), positions re-explode into the same
    anchor-coverage census, ``dl`` rides the postings rows, and
    n_docs/avgdl come from the 1-row stats table. The phrase's df is the
    one number no single-term index can precompute, so it is a 1-row
    aggregate over the (already pruned) coverage output.
    Returns (doc_id, ptf, score_q, rank)."""
    if not index.params.get("positional"):
        raise ValueError(
            "text index was built without positions=True; "
            "phrase queries need positional postings"
        )
    terms = _phrase_terms(phrase)
    post, _ = _term_postings(index, terms)
    # Round 6: coverage is PER-DOC LOCAL once the pruned postings are
    # grouped by doc — one doc_id exchange feeding an Arrow kernel that
    # intersects the offset-shifted position sets (the anchor-coverage
    # census's exact semantics: a start counts iff every phrase offset
    # matches; overlaps counted, TF_CAP'd), replacing the positions
    # explode + (doc, anchor) census + dl census + join + persist.
    import pandas as pd

    id_t = index.postings.schema["doc_id"].dataType.simpleString()
    rows = post.groupBy("doc_id").agg(
        F.first("dl").cast("long").alias("dl"),
        F.collect_list(F.struct("term", "positions")).alias("tp"),
    )

    def _pp(it):
        import numpy as np

        for pdf in it:
            ids, dls, ptfs = [], [], []
            for did, dl_, tp in zip(pdf["doc_id"], pdf["dl"], pdf["tp"]):
                sets: dict = {}
                for e in tp:
                    sets[e["term"]] = {int(x) for x in e["positions"]}
                if any(t not in sets for t in terms):
                    continue
                rest = [(i, sets[t]) for i, t in enumerate(terms) if i]
                c = 0
                for a in sets[terms[0]]:
                    if all((a + i) in s for i, s in rest):
                        c += 1
                if c:
                    ids.append(did)
                    dls.append(int(dl_))
                    ptfs.append(min(c, TF_CAP))
            yield pd.DataFrame({
                "doc_id": ids,
                "dl": np.array(dls, dtype=np.int64),
                "ptf": np.array(ptfs, dtype=np.int64),
            })

    pp = rows.mapInPandas(_pp, f"doc_id {id_t}, dl long, ptf long")
    stats = pp.agg(F.count(F.lit(1)).cast("long").alias("df_ptf")).crossJoin(
        F.broadcast(index.stats.select("n_docs", "avgdl_x1000"))
    )
    return _rank_docs(pp, ["ptf"], k, keep=["ptf"], stats=stats)


def compact_text_index(spark: SparkSession, path: str) -> dict:
    """Fold the postings small files into one sorted file per bucket.

    Every :func:`add_to_text_index` appends one parquet file per touched
    bucket directory, so a continuously-fed index accumulates
    O(adds × buckets) small files — the classic small-files problem:
    scan task count (and at cloud scale, object-store request count)
    grows with ADD COUNT instead of data size. Compaction rewrites the
    postings with one shuffle keyed on ``term_bucket`` (64 uniform
    reducers, each writing a single file sorted by term — term-major
    row groups dictionary/RLE-encode well and keep a query's rows
    contiguous), then swaps directories: old → ``postings_old``,
    staged → ``postings``, drop old. The swap is two local renames —
    the crash window is metadata-only and recoverable (both directories
    still exist); the cloud-durable variant is a manifest pointer like
    ``streaming/checkpoint.py``'s snapshot store. idf/stats are already
    single-digit-file tables and are left untouched; scores are
    layout-invariant, so search results are byte-identical after
    compaction (pytest asserts it).

    Returns ``{"files_before": n, "files_after": m}``.
    """
    import os
    import shutil

    def _n_files(d: str) -> int:
        return sum(
            1
            for _, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    posts_dir = f"{path}/postings"
    before = _n_files(posts_dir)
    staged = f"{path}/postings_next"
    nb = int(read_text_index(spark, path).params.get("n_buckets", 64))
    (
        spark.read.parquet(posts_dir)
        .repartition(nb, "term_bucket")
        .sortWithinPartitions("term_bucket", "term", "doc_id")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(staged)
    )
    old = f"{path}/postings_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(posts_dir, old)
    os.rename(staged, posts_dir)
    shutil.rmtree(old)
    return {"files_before": before, "files_after": _n_files(posts_dir)}
