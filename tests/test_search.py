"""Inverted-index BM25 (functions/search.py): exact agreement with a
pure-Python float BM25 reference on ranking, integer-arithmetic identity
with an in-process mirror of the quantized formula, and layout
invariance."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from distributed_crawl_spark.functions import search as S

DOCS = [
    (0, "spark joins tables fast and spark scans tables"),
    (1, "vector search over vector embeddings with vector index"),
    (2, "stream processing joins a stream with a static table"),
    (3, "the quick brown fox jumps over the lazy dog"),
    (4, "spark vector stream spark vector stream spark"),
    (5, ""),
    (6, "joins joins joins joins joins joins joins joins"),
]


def _py_bm25_q(docs, terms, k1_n=12, k1_d=10, scale=1_000_000):
    """Pure-python mirror of the quantized formula (k1=1.2, b=0.75)."""
    toks = {d: t.split() for d, t in docs if t.split()}
    n = len(toks)
    dls = {d: len(t) for d, t in toks.items()}
    a = (sum(dls.values()) * 1000) // n
    scores = {}
    for term in dict.fromkeys(terms):
        df = sum(1 for t in toks.values() if term in t)
        if df == 0:
            continue
        idf_q = math.floor(
            math.log((n - df + 0.5) / (df + 0.5) + 1.0) * scale
        )
        for d, t in toks.items():
            tf = min(t.count(term), S.TF_CAP)
            if tf == 0:
                continue
            contrib = (idf_q * 22 * tf * a) // (
                10 * a * tf + 3 * a + 9000 * dls[d]
            )
            scores[d] = scores.get(d, 0) + contrib
    return scores


def _py_bm25_float(docs, terms, k1=1.2, b=0.75):
    """Textbook float BM25 (the thing the integer form approximates)."""
    toks = {d: t.split() for d, t in docs if t.split()}
    n = len(toks)
    dls = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dls.values()) / n
    scores = {}
    for term in dict.fromkeys(terms):
        df = sum(1 for t in toks.values() if term in t)
        if df == 0:
            continue
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        for d, t in toks.items():
            tf = t.count(term)
            if tf == 0:
                continue
            denom = tf + k1 * (1 - b + b * dls[d] / avgdl)
            scores[d] = scores.get(d, 0.0) + idf * tf * (k1 + 1) / denom
    return scores


def test_bm25_matches_integer_reference(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        r.doc_id: r.score_q
        for r in S.bm25_topk(docs, ["spark", "vector", "stream"], k=10).collect()
    }
    want = _py_bm25_q(DOCS, ["spark", "vector", "stream"])
    assert got == want


def test_bm25_ranking_tracks_float_bm25(spark):
    """The integer quantization must not reorder clearly-separated
    docs: compare the rank order to textbook float BM25."""
    terms = ["joins", "stream"]
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = [r.doc_id for r in S.bm25_topk(docs, terms, k=10)
           .orderBy("rank").collect()]
    want = sorted(
        _py_bm25_float(DOCS, terms).items(),
        key=lambda kv: (-kv[1], kv[0]),
    )
    assert got == [d for d, _ in want]


def test_bm25_empty_and_missing_terms(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    out = S.bm25_topk(docs, ["zzz_absent"], k=10).collect()
    assert out == []


def test_bm25_layout_invariant(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    a = S.bm25_topk(docs, ["spark", "vector"], k=10).collect()
    b = S.bm25_topk(docs.repartition(7), ["spark", "vector"], k=10).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_postings_tf_cap(spark):
    text = " ".join(["w"] * (S.TF_CAP + 50))
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    row = S.build_postings(docs).collect()[0]
    assert row.tf == S.TF_CAP and row.dl == S.TF_CAP + 50


# The idf as a SQL string with DECIMAL 0.5 literals — the form bm25_topk
# computed before all searches shared ``_idf_q``'s DOUBLE Column form.
_IDF_DECIMAL_SQL = (
    "CAST(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
    f" * {S.IDF_SCALE}) AS BIGINT)"
)


def test_idf_q_matches_decimal_sql_form(spark):
    """``_idf_q`` gives the DECIMAL-literal SQL form's idf_q for df in
    {1, 2, N/2, N-1, N}: every N up to 2,000, N = c * 10^j and
    10^j +- 1 up to 10^10, and 2,000 seeded random N near 10^10."""
    import random

    rng = random.Random(0)
    ns = {*range(1, 2001)}
    ns |= {c * 10**j + d for j in range(1, 11) for c in (1, 2, 3, 5)
           for d in (-1, 0, 1)}
    ns |= {rng.randrange(10**10 - 10**8, 10**10 + 1) for _ in range(2000)}
    pairs = sorted(
        {(n, df) for n in ns if n <= 10**10
         for df in (1, 2, n // 2, n - 1, n) if 1 <= df <= n}
    )
    got = spark.createDataFrame(pairs, "n_docs long, df long").select(
        "n_docs", "df",
        S._idf_q(F.col("n_docs"), F.col("df")).alias("got"),
        F.expr(_IDF_DECIMAL_SQL).alias("want"),
    )
    bad = got.filter(F.col("got") != F.col("want")).limit(5).collect()
    assert bad == []
    assert got.count() == len(pairs)


def test_term_score_exact_at_overflow_bound(spark):
    """The integer term score at the docstring's overflow bound (N =
    10^10, df = 1, tf = TF_CAP, avgdl up to 40k milli-tokens) equals
    Python's unbounded ints, for short and very long documents."""
    idf_q = spark.range(1).select(
        S._idf_q(F.lit(10**10), F.lit(1)).alias("i")
    ).first().i
    assert idf_q * 22 * S.TF_CAP * 40_000 < 2**63
    rows = [(idf_q, tf, dl, a)
            for tf in (1, S.TF_CAP)
            for dl in (1, 40, 10**6, 10**9)
            for a in (1_000, 40_000)]
    got = spark.createDataFrame(
        rows, "idf_q long, tf long, dl long, avgdl_x1000 long"
    ).select(
        "idf_q", "tf", "dl", "avgdl_x1000",
        S._term_score("idf_q", "tf").alias("s"),
    ).collect()
    want = {
        (i, tf, dl, a): (i * 22 * tf * a) // (10 * a * tf + 3 * a + 9000 * dl)
        for i, tf, dl, a in rows
    }
    assert {tuple(r[:4]): r.s for r in got} == want


def test_text_index_round_trip(spark, tmp_path):
    """write -> read -> search equals the direct bm25_topk on the same
    corpus (the persisted layout is a pass-through)."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    path = str(tmp_path / "tix")
    S.write_text_index(docs, path)
    idx = S.read_text_index(spark, path)
    terms = ["spark", "vector", "stream"]
    direct = sorted(map(tuple, S.bm25_topk(docs, terms, k=10).collect()))
    loaded = sorted(map(tuple, S.text_index_topk(idx, terms, k=10).collect()))
    assert direct == loaded


def test_text_index_incremental_add_exact(spark, tmp_path):
    """add_to_text_index must equal a full rebuild over the union —
    idf is recomputed from merged integer censuses, so the equality is
    EXACT, not approximate (unlike frozen-quantizer vector indexes)."""
    a = [(d, t) for d, t in DOCS if d % 2 == 0]
    b = [(d, t) for d, t in DOCS if d % 2 == 1]
    path = str(tmp_path / "tix_inc")
    S.write_text_index(spark.createDataFrame(a, ["doc_id", "text"]), path)
    S.add_to_text_index(spark, path,
                        spark.createDataFrame(b, ["doc_id", "text"]))
    full_path = str(tmp_path / "tix_full")
    S.write_text_index(spark.createDataFrame(DOCS, ["doc_id", "text"]),
                       full_path)
    terms = ["spark", "joins", "stream"]
    inc = sorted(map(tuple, S.text_index_topk(
        S.read_text_index(spark, path), terms, k=10).collect()))
    full = sorted(map(tuple, S.text_index_topk(
        S.read_text_index(spark, full_path), terms, k=10).collect()))
    assert inc == full
    # merged stats: every doc with tokens counted exactly once
    n = S.read_text_index(spark, path).stats.collect()[0].n_docs
    assert n == len([1 for _, t in DOCS if t.split()])


def test_text_index_bucket_pruning(spark, tmp_path):
    """The query plan must carry the term_bucket partition filter —
    the scan is bounded by the queried buckets, not the index size."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    path = str(tmp_path / "tix_prune")
    S.write_text_index(docs, path)
    idx = S.read_text_index(spark, path)
    plan = S.text_index_topk(idx, ["spark"], k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "term_bucket" in plan


def test_text_index_compaction(spark, tmp_path):
    """Three incremental adds pile up one file per touched bucket per
    add; compaction folds to <=1 file per bucket and search results are
    byte-identical before/after."""
    thirds = [[(d, t) for d, t in DOCS if d % 3 == r] for r in range(3)]
    path = str(tmp_path / "tix_compact")
    S.write_text_index(spark.createDataFrame(thirds[0], ["doc_id", "text"]),
                       path)
    for part in thirds[1:]:
        S.add_to_text_index(spark, path,
                            spark.createDataFrame(part, ["doc_id", "text"]))
    terms = ["spark", "vector", "stream"]
    before = sorted(map(tuple, S.text_index_topk(
        S.read_text_index(spark, path), terms, k=10).collect()))
    stats = S.compact_text_index(spark, path)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 64
    after = sorted(map(tuple, S.text_index_topk(
        S.read_text_index(spark, path), terms, k=10).collect()))
    assert before == after


# ---- exact-phrase search -----------------------------------------------------


def _py_phrase_q(docs, phrase, scale=1_000_000):
    """Pure-python mirror of phrase_topk: overlapping occurrence counts
    + the same quantized unit-term BM25 formula."""
    words = phrase.split()
    q = len(words)
    toks = {d: t.split() for d, t in docs if t.split()}
    n = len(toks)
    dls = {d: len(t) for d, t in toks.items()}
    a = (sum(dls.values()) * 1000) // n
    ptfs = {}
    for d, t in toks.items():
        c = sum(1 for p in range(len(t) - q + 1) if t[p:p + q] == words)
        if c:
            ptfs[d] = min(c, S.TF_CAP)
    df = len(ptfs)
    if not df:
        return {}
    idf_q = math.floor(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * scale)
    return {
        d: (ptf, (idf_q * 22 * ptf * a)
            // (10 * a * ptf + 3 * a + 9000 * dls[d]))
        for d, ptf in ptfs.items()
    }


PHRASE_DOCS = DOCS + [
    (7, "hash join beats sort merge join when the hash join fits"),
    (8, "join hash is not hash join but join hash appears twice"),
    (9, "aa aa aa"),
]


def test_phrase_topk_matches_python_and_word_order(spark):
    docs = spark.createDataFrame(PHRASE_DOCS, ["doc_id", "text"])
    got = {r.doc_id: (r.ptf, r.score_q)
           for r in S.phrase_topk(docs, "hash join", k=20).collect()}
    assert got == _py_phrase_q(PHRASE_DOCS, "hash join")
    # word order matters: doc 8 has both words 4x but the phrase once
    assert got[7][0] == 2 and got[8][0] == 1
    # bag-of-words BM25 sees them as near-equals — the phrase query is
    # the only one that separates them
    assert got[7][1] > got[8][1]


def test_phrase_topk_counts_overlaps(spark):
    docs = spark.createDataFrame(PHRASE_DOCS, ["doc_id", "text"])
    got = {r.doc_id: r.ptf
           for r in S.phrase_topk(docs, "aa aa", k=5).collect()}
    assert got == {9: 2}  # overlapping starts both count


def test_phrase_index_round_trip_add_compact(spark, tmp_path):
    """Positional index answers phrase queries identically to the direct
    operator, stays exact through an incremental add (increment inherits
    positions via the manifest flag) and through compaction; an index
    built without positions refuses phrase queries."""
    path = str(tmp_path / "tix_pos")
    first = [r for r in PHRASE_DOCS if r[0] != 8]
    S.write_text_index(spark.createDataFrame(first, ["doc_id", "text"]),
                       path, positions=True)
    S.add_to_text_index(spark, path,
                        spark.createDataFrame([PHRASE_DOCS[8]],
                                              ["doc_id", "text"]))
    docs = spark.createDataFrame(PHRASE_DOCS, ["doc_id", "text"])
    direct = sorted(map(tuple,
                        S.phrase_topk(docs, "hash join", k=20).collect()))
    idx = S.read_text_index(spark, path)
    assert sorted(map(tuple,
                      S.text_index_phrase(idx, "hash join",
                                          k=20).collect())) == direct
    S.compact_text_index(spark, path)
    idx2 = S.read_text_index(spark, path)
    assert sorted(map(tuple,
                      S.text_index_phrase(idx2, "hash join",
                                          k=20).collect())) == direct

    flat = str(tmp_path / "tix_flat")
    S.write_text_index(docs, flat)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="positional"):
        S.text_index_phrase(S.read_text_index(spark, flat), "hash join")


def _py_topk_terms(docs, k, scale=1_000_000):
    """Pure-python mirror of topk_terms (saturated tf × micro-unit idf)."""
    toks = {d: t.split() for d, t in docs if t.split()}
    n = len(toks)
    df = {}
    for t in toks.values():
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    out = []
    for d, t in toks.items():
        rows = []
        for term in set(t):
            idf_q = math.floor(
                math.log((n - df[term] + 0.5) / (df[term] + 0.5) + 1.0)
                * scale
            )
            tf = min(t.count(term), S.TF_CAP)
            rows.append((term, tf, tf * idf_q))
        rows.sort(key=lambda r: (-r[2], r[0]))
        for rank, (term, tf, score) in enumerate(rows[:k], start=1):
            out.append((d, term, tf, score, rank))
    return sorted(out)


def test_topk_terms_matches_python(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["term"], r["tf"], r["score_q"], r["rank"])
        for r in S.topk_terms(df, k=3).collect()
    )
    assert got == _py_topk_terms(DOCS, 3)
    # doc 6 has ONE distinct term -> exactly one row, rank 1
    d6 = [r for r in got if r[0] == 6]
    assert len(d6) == 1 and d6[0][1] == "joins" and d6[0][4] == 1
    # empty doc 5 contributes nothing
    assert not [r for r in got if r[0] == 5]
    # rare terms outrank common ones: doc 0's keywords should prefer
    # doc-0-only terms over 'joins' (also in docs 2 and 6)
    top0 = {r[1] for r in got if r[0] == 0}
    assert "joins" not in top0


def test_text_index_bucket_count_layout_invariant(spark, tmp_path):
    """Round-6 scale-adaptive bucket count: search results (BM25 and
    positional phrase) must be byte-identical whatever n_buckets the
    index was written with — adaptive, a non-power-of-two, or the old
    64 — and increments must follow the manifest's bucket count."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    terms = ["spark", "vector", "stream"]
    results = []
    for tag, nb in (("auto", None), ("nb3", 3), ("nb64", 64)):
        path = str(tmp_path / f"tix_{tag}")
        m = S.write_text_index(docs, path, positions=True, n_buckets=nb)
        if nb is not None:
            assert m["n_buckets"] == nb
        idx = S.read_text_index(spark, path)
        assert idx.params["n_buckets"] == m["n_buckets"]
        results.append((
            sorted(map(tuple, S.text_index_topk(idx, terms, k=10).collect())),
            sorted(map(tuple, S.text_index_phrase(idx, "b c", k=10).collect())),
        ))
    assert results[0] == results[1] == results[2]
    # increment into the non-power-of-two layout follows its manifest
    path = str(tmp_path / "tix_nb3")
    extra = spark.createDataFrame([(900, "spark stream b c")],
                                  ["doc_id", "text"])
    S.add_to_text_index(spark, path, extra)
    full = str(tmp_path / "tix_union")
    S.write_text_index(
        docs.unionByName(extra), full, positions=True, n_buckets=3)
    got = sorted(map(tuple, S.text_index_topk(
        S.read_text_index(spark, path), terms, k=10).collect()))
    want = sorted(map(tuple, S.text_index_topk(
        S.read_text_index(spark, full), terms, k=10).collect()))
    assert got == want
