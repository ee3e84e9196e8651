"""Arbitrary-offset exact-substring dedup (Lee et al. 2022 repeated-span
pass): winnowed-anchor detection must equal a brute-force every-offset
duplicated-w-gram coverage oracle — including the misaligned case
span_scrub's fixed chunk grid provably misses."""

from __future__ import annotations

import random
from collections import defaultdict

from distributed_crawl_spark.functions import curation as CU


def _brute_spans(docs: dict[int, str], w: int, min_docs: int = 2):
    """Ground truth: merged coverage of every w-gram occurring in
    >= min_docs distinct docs (equivalent to maximal repeated spans
    of length >= w — see substring_spans docstring)."""
    toks = {d: t.split() for d, t in docs.items()}
    grams: dict[tuple, set] = defaultdict(set)
    for d, t in toks.items():
        for i in range(len(t) - w + 1):
            grams[tuple(t[i : i + w])].add(d)
    out = []
    for d, t in toks.items():
        iv = [
            (i, i + w)
            for i in range(len(t) - w + 1)
            if len(grams[tuple(t[i : i + w])]) >= min_docs
        ]
        if not iv:
            continue
        cb, ce = iv[0]
        for b, e in iv[1:]:
            if b <= ce:
                ce = max(ce, e)
            else:
                out.append((d, cb, ce - cb))
                cb, ce = b, e
        out.append((d, cb, ce - cb))
    return sorted(out)


def _run(spark, docs: dict[int, str], w: int, s: int, **kw):
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    return sorted(
        (r.doc_id, r.begin, r.length)
        for r in CU.substring_spans(df, w=w, s=s, **kw).collect()
    )


def test_misaligned_offsets_caught(spark):
    """The exact case the chunk grid misses: a 12-token run planted at
    DIFFERENT offsets in each doc, never aligned to any fixed grid."""
    run = " ".join(f"r{j}" for j in range(12))
    docs = {
        1: "a1 " + run + " z1",
        2: "b1 b2 b3 " + run,
        3: run + " c1 c2",
    }
    got = _run(spark, docs, w=8, s=4)
    assert got == [(1, 1, 12), (2, 3, 12), (3, 0, 12)]
    assert got == _brute_spans(docs, 8)
    # span_scrub (w=8 chunk grid) misses the shifted copies entirely:
    # chunks of docs 1 and 2 differ because the run straddles chunk
    # boundaries differently — nothing is scrubbed.
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    scrubbed = {r.doc_id: r.n_removed for r in CU.span_scrub(df, w=8).collect()}
    assert all(n == 0 for n in scrubbed.values())


def test_below_threshold_and_within_doc_repeats_not_flagged(spark):
    seven = " ".join(f"n{j}" for j in range(7))          # < w tokens
    intra = " ".join(f"i{j}" for j in range(10))
    docs = {
        1: "a1 " + seven + " a2",
        2: "b1 b2 " + seven,
        3: intra + " mid " + intra,                      # same-doc only
        4: "lone words only here",
        5: "",                                           # empty doc
        6: "tiny",                                       # shorter than k
    }
    assert _run(spark, docs, w=8, s=4) == []
    assert _brute_spans(docs, 8) == []


def test_touching_spans_merge_and_multi_group(spark):
    a = " ".join(f"pa{j}" for j in range(12))
    b = " ".join(f"pb{j}" for j in range(12))
    docs = {
        1: "x1 " + a + " " + b + " x2",   # A and B adjacent -> one merged span
        2: "y1 y2 " + a,                  # shares A only
        3: b + " z1",                     # shares B only
        4: "w1 " + a + " " + b,           # shares the full A+B run with doc 1
    }
    got = _run(spark, docs, w=8, s=4)
    assert got == _brute_spans(docs, 8)
    by_doc = {d: (b_, l) for d, b_, l in got}
    assert by_doc[1] == (1, 24) and by_doc[4] == (1, 24)  # merged A+B
    assert by_doc[2] == (2, 12) and by_doc[3] == (0, 12)


def test_min_docs_three(spark):
    run = " ".join(f"m{j}" for j in range(9))
    docs = {1: "a " + run, 2: "b1 b2 " + run, 3: run + " c"}
    pair_only = {1: "a " + run, 2: "b1 b2 " + run, 3: "c solo words"}
    assert _run(spark, docs, w=8, s=4, min_docs=3) == _brute_spans(docs, 8, 3)
    assert _run(spark, pair_only, w=8, s=4, min_docs=3) == []


def test_randomized_vs_brute_force(spark):
    """Adversarial fuzz: small vocab forces accidental repeats at
    arbitrary offsets; Spark must equal brute force exactly."""
    rng = random.Random(7)
    vocab = [f"t{j}" for j in range(9)]
    docs = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 60)))
        for d in range(40)
    }
    for w, s in ((6, 3), (8, 4), (10, 5)):
        assert _run(spark, docs, w=w, s=s) == _brute_spans(docs, w), (w, s)


def test_max_df_caps_pairing(spark):
    run = " ".join(f"h{j}" for j in range(10))
    docs = {d: f"u{d} " + run for d in range(6)}
    # any census survivor occurs >= min_docs >= 2 times, so max_df=1
    # provably drops every anchor -> no pairs (edge-window selection near
    # the unique prefixes means larger caps may still let doc-subset
    # anchors through; the cap bounds pairing, it is not a doc-count gate)
    assert _run(spark, docs, w=8, s=4, max_df=1) == []
    assert _run(spark, docs, w=8, s=4) == _brute_spans(docs, 8)


def test_substring_scrub_roundtrip(spark):
    run = " ".join(f"s{j}" for j in range(11))
    docs = {
        1: "a1 a2 " + run + " a3",
        2: run,                      # fully scrubbed doc stays present
        3: "keep these words intact",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_removed)
           for r in CU.substring_scrub(df, w=8, s=4).collect()}
    assert got[1] == ("a1 a2 a3", 11)
    assert got[2] == ("", 11)
    assert got[3] == ("keep these words intact", 0)


def test_fast_path_equals_distributed(spark):
    """Round-6 small-anchor-stream dispatch: the single-task
    census/extend/merge tail must equal the distributed plan
    (local_threshold=0 forces it) on the adversarial fuzz corpus,
    with and without max_df. Bounds n-1 and n (n = anchor rows, the
    probed stream) pin both outcomes of the size probe."""
    rng = random.Random(11)
    vocab = [f"t{j}" for j in range(9)]
    passage = " ".join(f"p{j}" for j in range(12))
    docs = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 60)))
        for d in range(40)
    }
    for d in (3, 11, 19):  # plant a shared passage at varying offsets
        docs[d] = " ".join(docs[d].split()[: d % 5] + [passage]
                           + docs[d].split()[d % 5:])
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    # k = w - s + 1 = 5
    n = CU._winnow_anchor_rows(df, 5, 4, "doc_id", "text").count()
    for max_df in (None, 6):
        slow = sorted(
            map(tuple, CU.substring_spans(
                df, w=8, s=4, max_df=max_df,
                local_threshold=0).collect())
        )
        if max_df is None:
            assert slow  # the uncapped corpus does produce spans
        for bound in (n - 1, n, CU.LOCAL_ROWS):
            fast = sorted(
                map(tuple, CU.substring_spans(
                    df, w=8, s=4, max_df=max_df,
                    local_threshold=bound).collect())
            )
            assert fast == slow, (max_df, bound)
