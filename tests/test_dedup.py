"""Training-data dedup operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash — correctness against pure-Python oracles on small inputs."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from distributed_crawl_spark.functions import dedup as DD

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "completely different text about spark engines here"),
    (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (4, "a b"),                                            # shorter than 3-gram
    (5, ""),                                               # empty
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id LONG, text STRING")


def py_md5_int48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def py_shingles(text: str, n: int = 3) -> list[str]:
    toks = text.split()
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def test_md5_int48_matches_python(spark):
    df = spark.createDataFrame([("hello",), ("wörld",)], "s STRING")
    got = {r.s: r.h for r in df.select("s", DD.md5_int48(F.col("s")).alias("h")).collect()}
    for s, h in got.items():
        assert h == py_md5_int48(s)


def test_shingles_and_guard(docs_df):
    rows = {r.doc_id: r.sh for r in docs_df.select(
        "doc_id", DD.shingles(F.col("text")).alias("sh")).collect()}
    assert rows[0] == py_shingles(DOCS[0][1])
    assert rows[4] == []  # 2 tokens < n — must NOT produce a descending sequence
    assert rows[5] == []


def test_exact_duplicates(docs_df):
    out = {r.digest: (r.canonical_id, r.n_copies)
           for r in DD.exact_duplicates(docs_df).collect()}
    dup_digest = hashlib.md5(DOCS[0][1].encode()).hexdigest()
    assert out[dup_digest] == (0, 2)
    assert sum(n for _, n in out.values()) == len(DOCS)


def test_ngram_jaccard_pairs(docs_df):
    pairs = {(r.id_a, r.id_b): r.jaccard_u
             for r in DD.ngram_jaccard_pairs(docs_df, threshold=0.2).collect()}
    # doc 0 vs 3 identical → jaccard 1.0
    assert pairs[(0, 3)] == 1_000_000
    # doc 0 vs 1 share 5 of 7+7-5 distinct trigrams (one differs at tail)
    a, b = set(py_shingles(DOCS[0][1])), set(py_shingles(DOCS[1][1]))
    expect = int(len(a & b) / len(a | b) * 1_000_000)
    assert pairs[(0, 1)] == expect
    assert (0, 2) not in pairs


def py_minhash_sig(text: str) -> list[int]:
    xs = {py_md5_int48(s) % DD.MERSENNE31 for s in py_shingles(text)}
    return [min((a * x + b) % DD.MERSENNE31 for x in xs)
            for a, b in DD.MINHASH_PARAMS]


def test_minhash_signatures_match_python(docs_df):
    sigs = {}
    for r in DD.minhash_signatures(docs_df.filter("doc_id < 3")).collect():
        sigs.setdefault(r.doc_id, {})[r.i] = r.minhash
    for doc_id in (0, 1, 2):
        expect = py_minhash_sig(DOCS[doc_id][1])
        got = [sigs[doc_id][i] for i in range(DD.MINHASH_K)]
        assert got == expect


def test_minhash_lsh_finds_exact_and_near_dups(docs_df):
    pairs = {(r.id_a, r.id_b): r.n_shared_bands
             for r in DD.minhash_lsh_pairs(docs_df).collect()}
    assert pairs[(0, 3)] == DD.LSH_BANDS  # identical docs share every band
    assert (0, 2) not in pairs            # unrelated docs share none


def py_simhash(text: str, bits: int = 32) -> int:
    from collections import Counter

    tf = Counter(text.split())
    w = [0] * bits
    for tok, n in tf.items():
        h = py_md5_int48(tok) % (2 ** bits)
        for j in range(bits):
            w[j] += n if (h >> j) & 1 else -n
    return sum(1 << j for j in range(bits) if w[j] > 0)


def test_simhash_matches_python(docs_df):
    got = {r.doc_id: r.simhash
           for r in DD.simhash(docs_df.filter("doc_id < 4")).collect()}
    for doc_id in range(4):
        assert got[doc_id] == py_simhash(DOCS[doc_id][1]), doc_id
    assert got[0] == got[3]


def test_simhash_near_dups_are_close(docs_df):
    got = {r.doc_id: r.simhash for r in DD.simhash(docs_df.filter("doc_id < 3")).collect()}
    ham_near = bin(got[0] ^ got[1]).count("1")
    ham_far = bin(got[0] ^ got[2]).count("1")
    assert ham_near < ham_far


def test_jaccard_max_df_bounds_zipf_posting_lists(spark):
    """A Zipf-head (boilerplate) shingle shared by every doc must not blow
    up the inverted-index join: max_df drops it, collapsing the candidate
    pair count from O(n_docs²) to the planted near-dups, which are still
    found with jaccard intact."""
    import pyspark.sql.functions as F

    n = 120
    boiler = "all rights reserved worldwide"
    rows = [(i, f"{boiler} unique document number {i} body text") for i in range(n)]
    rows.append((n, rows[0][1]))  # planted exact near-dup of doc 0
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def candidate_pairs(max_df):
        ds = DD.doc_shingles(docs)
        if max_df is not None:
            rare = (
                ds.groupBy("shingle").count()
                .filter(F.col("count") <= max_df).select("shingle")
            )
            ds = ds.join(rare, "shingle")
        a = ds.select(F.col("doc_id").alias("id_a"), "shingle")
        b = ds.select(F.col("doc_id").alias("id_b"), "shingle")
        return (
            a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct().count()
        )

    uncapped = candidate_pairs(None)
    capped = candidate_pairs(10)
    assert uncapped > n * (n - 1) / 2  # the head shingle pairs everyone
    assert capped <= 5                  # only the planted dup survives

    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5, max_df=10).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, n)}
    assert pairs[0].jaccard_u == 1_000_000  # identical on the rare universe


def test_simhash_pairs_pigeonhole_complete_and_verified(docs_df):
    """Blocked pair join finds EVERY pair within the hamming ball (the
    pigeonhole guarantee) and emits nothing outside it."""
    fp = {r.doc_id: r.simhash for r in DD.simhash(docs_df).collect()}
    want = {
        (a, b): bin(fp[a] ^ fp[b]).count("1")
        for a in fp for b in fp if a < b
        if bin(fp[a] ^ fp[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in DD.simhash_pairs(docs_df, max_hamming=3).collect()
    }
    assert got == want
    # exact dup (0, 3) must be there at hamming 0
    assert got.get((0, 3)) == 0


def py_simhash64(text: str) -> tuple[int, int]:
    """Two-half 64-bit simhash: half-hashes are md5 hex[0:8] / hex[8:16]."""
    w = [0] * 64
    tf: dict[str, int] = {}
    for tok in text.split():
        tf[tok] = tf.get(tok, 0) + 1
    for tok, n in tf.items():
        hx = hashlib.md5(tok.encode()).hexdigest()
        lo, hi = int(hx[:8], 16), int(hx[8:16], 16)
        for j in range(64):
            bit = (hi >> (j - 32)) & 1 if j >= 32 else (lo >> j) & 1
            w[j] += n if bit else -n
    sh_lo = sum(1 << j for j in range(32) if w[j] > 0)
    sh_hi = sum(1 << (j - 32) for j in range(32, 64) if w[j] > 0)
    return sh_hi, sh_lo


def test_simhash64_matches_python(docs_df):
    got = {r.doc_id: (r.sh_hi, r.sh_lo)
           for r in DD.simhash64(docs_df.filter("doc_id < 4")).collect()}
    for doc_id in range(4):
        assert got[doc_id] == py_simhash64(DOCS[doc_id][1]), doc_id
    assert got[0] == got[3]
    for hi, lo in got.values():  # halves stay inside 32 unsigned bits
        assert 0 <= hi < 2 ** 32 and 0 <= lo < 2 ** 32


def test_simhash_pairs64_pigeonhole_complete_and_verified(docs_df):
    """64-bit blocked pair join (16-bit blocks) finds EVERY pair within
    the hamming ball and nothing outside it — same guarantee as the
    32-bit form, 256x more block buckets."""
    fp = {r.doc_id: (r.sh_hi, r.sh_lo)
          for r in DD.simhash64(docs_df).collect()}

    def ham(a, b):
        (ha, la), (hb, lb) = fp[a], fp[b]
        return bin(ha ^ hb).count("1") + bin(la ^ lb).count("1")

    want = {(a, b): ham(a, b) for a in fp for b in fp
            if a < b and ham(a, b) <= 3}
    got = {(r.id_a, r.id_b): r.hamming
           for r in DD.simhash_pairs64(docs_df, max_hamming=3).collect()}
    assert got == want
    assert got.get((0, 3)) == 0  # exact dup at hamming 0


def test_simhash_pairs64_eight_bit_blocks(docs_df):
    """max_hamming=7 → 8 blocks of 8 bits — the other even split."""
    out = DD.simhash_pairs64(docs_df, max_hamming=7).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in out}
    assert got.get((0, 3)) == 0
    assert all(h <= 7 for h in got.values())


def test_near_dup_components_matches_union_find(spark):
    """Min-label propagation equals a Python union-find on a random-ish
    pair graph with chains, a star, singleton-free isolation, and a
    cycle (transitive closure beyond direct pairs)."""
    import random

    rng = random.Random(11)
    pairs = set()
    # chain 0-1-2-3-4, star 10-(11,12,13), cycle 20-21-22-20, plus noise
    for a, b in [(0,1),(1,2),(2,3),(3,4),(10,11),(10,12),(10,13),
                 (20,21),(21,22),(20,22)]:
        pairs.add((a, b))
    for _ in range(40):
        a, b = rng.randrange(30, 60), rng.randrange(30, 60)
        if a != b:
            pairs.add((min(a, b), max(a, b)))

    parent: dict[int, int] = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(sorted(pairs), "id_a LONG, id_b LONG")
    got = {r.doc_id: r.component_id
           for r in DD.near_dup_components(df).collect()}
    assert got == want
    # canonical = min id of each component
    for doc, comp in got.items():
        assert comp <= doc
    # r6: both physical paths — single-task union-find (the small-graph
    # default) and the iterative min-label loop — must agree exactly;
    # bounds n-1 and n (n = directed edge rows, the probed stream) pin
    # both outcomes of the size probe
    n = 2 * len(pairs)
    for bound in (0, n - 1, n):
        got_b = {r.doc_id: r.component_id
                 for r in DD.near_dup_components(
                     df, local_threshold=bound).collect()}
        assert got_b == want, bound


def test_components_nonconvergence_raises(spark):
    """ADVICE r3: hitting max_iters with labels still changing must fail
    loudly — partially-propagated component ids silently corrupt any
    canonical keep/drop gate built on them."""
    import pytest

    from distributed_crawl_spark.functions.dedup import near_dup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_components(chain, max_iters=3, local_threshold=0)
    out = near_dup_components(chain, max_iters=25, local_threshold=0)
    assert {r.component_id for r in out.collect()} == {0}


def test_components_deep_chain_log_convergence(spark):
    """Pointer jumping makes convergence O(log diameter): a 300-hop
    mutation chain (the shape plain min-propagation needs 300 rounds
    for) must converge well inside the default 25-iteration cap, with
    every node labelled by the chain minimum."""
    from distributed_crawl_spark.functions.dedup import near_dup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], ["id_a", "id_b"]
    )
    out = near_dup_components(chain, local_threshold=0)  # max_iters=25
    got = {r.doc_id: r.component_id for r in out.collect()}
    assert len(got) == 301
    assert set(got.values()) == {0}


def test_incremental_dedup_planted(spark):
    """Increment probed against a corpus dedup_index: exact copy flagged
    exact+near, a one-token mutation flagged near only, novel text kept,
    and a short/empty doc (no shingles, no bands) kept unless its digest
    matches."""
    long = ("the quick brown fox jumps over the lazy dog every single "
            "day without fail in the morning")
    base_rows = [
        (0, f"{long} sun"),
        (1, "completely different text about spark engines here now"),
        (2, "a b"),
    ]
    inc_rows = [
        (10, f"{long} sun"),   # exact copy
        (11, f"{long} moon"),  # last-token mutation: shares 2/4 LSH bands
        (12, "unrelated novel content nothing shares any shingle"),     # keep
        (13, "a b"),                                                    # exact, no bands
        (14, ""),                                                       # keep (no match)
    ]
    base = spark.createDataFrame(base_rows, "doc_id LONG, text STRING")
    inc = spark.createDataFrame(inc_rows, "doc_id LONG, text STRING")
    idx = DD.dedup_index(base)
    got = {r.doc_id: r for r in DD.incremental_dedup(inc, idx).collect()}
    assert len(got) == 5
    assert got[10].exact_dup and got[10].near_dup and not got[10].keep
    assert not got[11].exact_dup and got[11].near_dup and not got[11].keep
    assert not got[12].exact_dup and not got[12].near_dup and got[12].keep
    assert got[13].exact_dup and not got[13].near_dup and not got[13].keep
    assert not got[14].exact_dup and not got[14].near_dup and got[14].keep


def test_dedup_index_append_only(spark):
    """The index-maintenance contract: index(base ∪ inc) equals
    index(base) ∪ index(inc) as a key set — growing the corpus never
    requires rebuilding, only unioning the increment's keys in."""
    base_rows = [(0, "the quick brown fox jumps over the lazy dog")]
    inc_rows = [
        (1, "the quick brown fox jumps over the lazy dog"),  # no new keys
        (2, "fresh content introduces brand new band keys"),
    ]
    base = spark.createDataFrame(base_rows, "doc_id LONG, text STRING")
    inc = spark.createDataFrame(inc_rows, "doc_id LONG, text STRING")
    both = spark.createDataFrame(base_rows + inc_rows, "doc_id LONG, text STRING")
    as_set = lambda df: {(r.kind, r.band, r.key) for r in df.collect()}
    assert as_set(DD.dedup_index(both)) == (
        as_set(DD.dedup_index(base)) | as_set(DD.dedup_index(inc))
    )


def test_global_line_dedup_keep_first(spark):
    """Cross-doc keep-first semantics: a shared line survives only at
    the smallest (doc_id, pos); within-doc repeats of that line are
    removed too; short lines are exempt from the census."""
    rows = [
        (1, "unique one\nNAV BAR\nunique two"),   # NAV BAR at (1,1) wins
        (2, "NAV BAR\nother text\nNAV BAR"),      # both copies lose
        (3, "x\nonly here"),                      # 'x' short-exempt
        (4, "x\nonly there"),                     # 'x' kept again (exempt)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in DD.global_line_dedup(docs, min_chars=2).collect()
    }
    assert out[1]["clean_text"] == "unique one\nNAV BAR\nunique two"
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "other text"
    assert out[2]["n_removed"] == 2
    # short lines bypass dedup entirely — kept in both docs
    assert out[3]["clean_text"] == "x\nonly here"
    assert out[4]["clean_text"] == "x\nonly there"
    assert out[4]["n_removed"] == 0


def test_global_line_dedup_fully_scrubbed_doc_survives(spark):
    docs = spark.createDataFrame(
        [(1, "dup line"), (2, "dup line")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in DD.global_line_dedup(docs).collect()}
    assert out[1]["clean_text"] == "dup line"
    assert out[2]["clean_text"] == ""
    assert out[2]["n_kept"] == 0 and out[2]["n_removed"] == 1


def test_host_boilerplate_removal(spark):
    from distributed_crawl_spark.functions.dedup import host_boilerplate

    nav = "Home | About"
    rows = [
        # host A: nav on all 3 docs (removed everywhere), "promo" on 2/3
        # (>= 0.5 -> removed), unique bodies kept, a spacer line " "
        # is ineligible (min_chars) even though it's on every page
        (1, "a", f"{nav}\n \nbody one\npromo"),
        (2, "a", f"{nav}\n \nbody two\npromo"),
        (3, "a", f"{nav}\n \nbody three"),
        # host B: the SAME nav line on only 1 of 2 docs -> content there
        # (per-host scoping); min_docs=2 also protects the singleton
        (4, "b", f"{nav}\nquote of the day"),
        (5, "b", "different page"),
    ]
    out = {
        r["doc_id"]: r
        for r in host_boilerplate(
            spark.createDataFrame(
                rows, "doc_id long, source string, text string"
            )
        ).collect()
    }
    assert out[1]["clean_text"] == " \nbody one"
    assert out[2]["clean_text"] == " \nbody two"
    assert out[3]["clean_text"] == " \nbody three"
    assert (out[1]["n_kept"], out[1]["n_removed"]) == (2, 2)
    # host B keeps the nav line — it is not chrome THERE
    assert out[4]["clean_text"] == f"{nav}\nquote of the day"
    assert out[5]["clean_text"] == "different page"
    # every doc row survives even if all lines were removable
    assert set(out) == {1, 2, 3, 4, 5}


def test_exact_duplicates_normalized(spark):
    """CCNet hash normalization folds case/accents/digits/punctuation
    into one duplicate class; plain digest keeps them distinct."""
    from distributed_crawl_spark.functions.dedup import (
        exact_duplicates, normalize_for_dedup)

    docs = spark.createDataFrame(
        [
            (0, "the cafe menu lists 12 items"),
            (1, 'The CAFÉ menu lists 34 items!!!'),
            (2, '"the cafe menu  lists 56 items."'),
            (3, "a different document entirely"),
        ],
        "doc_id LONG, text STRING",
    )
    plain = exact_duplicates(docs).count()
    assert plain == 4
    out = {r.canonical_id: r.n_copies
           for r in exact_duplicates(docs, normalize=True).collect()}
    assert out == {0: 3, 3: 1}
    norm = docs.select(normalize_for_dedup(F.col("text")).alias("n")).collect()
    assert norm[1].n == "the cafe menu lists 00 items"


def test_mirror_detect_thresholds_and_boilerplate_cap(spark):
    """Full mirror scores 10000 bp; a partial mirror is normalized by
    the SMALLER host (tiny mirror of a big host still scores); a
    boilerplate digest shared by more than max_df hosts contributes to
    no pair; a pair sharing one doc fails min_shared."""
    docs = []
    # big host: 8 unique docs
    for i in range(8):
        docs.append(("big.org", f"doc {i} body"))
    # full mirror of 3 of big's docs, nothing else -> n_smaller=3, 10000bp
    for i in range(3):
        docs.append(("tinymirror.org", f"doc {i} body"))
    # partial: shares 2 of 8 with big, has 4 own -> n_smaller=6,
    # share = 2*10000//6 = 3333 >= 2500 -> kept
    for i in range(2):
        docs.append(("partial.org", f"doc {i} body"))
    for i in range(4):
        docs.append(("partial.org", f"own {i} partial"))
    # single-shared-doc host -> fails min_shared=2
    docs.append(("oneoff.org", "doc 0 body"))
    docs.append(("oneoff.org", "own oneoff"))
    # boilerplate footer on 5 hosts with max_df=4 -> no pair votes
    for h in ("big.org", "partial.org", "oneoff.org", "x.org", "y.org"):
        docs.append((h, "copyright footer"))
    df = spark.createDataFrame(docs, "host STRING, text STRING")
    got = {(r.host_a, r.host_b): (r.n_shared, r.n_smaller, r.share_bp)
           for r in DD.mirror_detect(df, min_shared=2, min_share_bp=2500,
                                     max_df=4).collect()}
    assert got == {
        ("big.org", "tinymirror.org"): (3, 3, 10000),
        ("big.org", "partial.org"): (2, 7, 2857),
        # partial shares docs 0,1 with the tiny mirror too: 2 of its
        # smaller side's 3 digests -> 6666 bp, legitimately a candidate
        ("partial.org", "tinymirror.org"): (2, 3, 6666),
    }


def test_mirror_detect_matches_bruteforce(spark):
    """Randomized-ish (seeded arithmetic) host/doc layout vs a Python
    set mirror of the whole pipeline incl. the max_df exclusion."""
    rows = [(f"h{(i * 7) % 5}", f"text {(i * 3) % 17}") for i in range(60)]
    df = spark.createDataFrame(rows, "host STRING, text STRING")
    got = {(r.host_a, r.host_b): (r.n_shared, r.n_smaller, r.share_bp)
           for r in DD.mirror_detect(df, min_shared=2, min_share_bp=1000,
                                     max_df=3).collect()}

    from collections import defaultdict
    by_host = defaultdict(set)
    for h, t in rows:
        by_host[h].add(t)
    by_dg = defaultdict(set)
    for h, ts in by_host.items():
        for t in ts:
            by_dg[t].add(h)
    pairs = defaultdict(int)
    for t, hs in by_dg.items():
        if 2 <= len(hs) <= 3:
            hs = sorted(hs)
            for i in range(len(hs)):
                for j in range(i + 1, len(hs)):
                    pairs[(hs[i], hs[j])] += 1
    expect = {}
    for (a, b), n in pairs.items():
        sm = min(len(by_host[a]), len(by_host[b]))
        bp = (10000 * n) // sm
        if n >= 2 and bp >= 1000:
            expect[(a, b)] = (n, sm, bp)
    assert got == expect and got


def test_cluster_stats_histogram_and_singletons(spark):
    """Hand-built components: histogram rows per size, corpus mass adds
    up, singleton row = docs in no component, keep-one savings readable
    as n_docs - n_clusters over sizes >= 2."""
    comp = spark.createDataFrame(
        # cluster 0: {0,1,2}; cluster 10: {10,11}; cluster 20: {20,21}
        [(0, 0), (1, 0), (2, 0), (10, 10), (11, 10), (20, 20), (21, 20)],
        "doc_id LONG, component_id LONG",
    )
    docs = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 10, 11, 20, 21, 30, 31, 32]],
        "doc_id LONG",
    )
    rows = {r.cluster_size: (r.n_clusters, r.n_docs)
            for r in DD.cluster_stats(comp, docs).collect()}
    assert rows == {1: (3, 3), 2: (2, 4), 3: (1, 3)}
    assert sum(n for _, n in rows.values()) == 10
    # without docs: no singleton row
    rows2 = {r.cluster_size for r in DD.cluster_stats(comp).collect()}
    assert rows2 == {2, 3}


# --- asymmetric n-gram containment ------------------------------------------

def _py_containment(docs, threshold=0.8, n=3, max_df=None):
    """Brute-force directed containment pairs over shingle SETS."""
    import math
    from collections import Counter

    sets = {i: set(py_shingles(t, n)) for i, t in docs}
    if max_df is not None:
        df = Counter(s for v in sets.values() for s in v)
        sets = {i: {s for s in v if df[s] <= max_df} for i, v in sets.items()}
    out = set()
    for a, sa in sets.items():
        if not sa:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if inter / len(sa) >= threshold:
                out.add((a, b, inter, len(sa), len(sb),
                         math.floor(inter / len(sa) * 1_000_000)))
    return out


def test_containment_catches_quote_jaccard_misses(spark):
    """A 12-token quote embedded in a 60-token page: containment = 1.0,
    Jaccard ≈ 0.17 — the asymmetric case the symmetric threshold can
    never separate from noise."""
    words = [f"w{i}" for i in range(60)]
    page = " ".join(words)
    quote = " ".join(words[:12])
    df = spark.createDataFrame(
        [(0, page), (1, quote)], "doc_id LONG, text STRING"
    )
    jac = DD.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # symmetric near-dup misses the quote
    got = {(r.contained_id, r.container_id): r
           for r in DD.ngram_containment_pairs(df, threshold=0.8).collect()}
    assert set(got) == {(1, 0)}  # quote ⊂ page, never page ⊂ quote
    r = got[(1, 0)]
    assert r.containment_u == 1_000_000
    assert r.n_contained == 10 and r.n_container == 58


def test_containment_matches_bruteforce(spark):
    docs = DOCS + [
        (6, "the quick brown fox jumps"),               # prefix quote of 0
        (7, "jumps over the lazy dog and then slept"),  # overlapping span
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {
        (r.contained_id, r.container_id, r.n_inter, r.n_contained,
         r.n_container, r.containment_u)
        for r in DD.ngram_containment_pairs(df, threshold=0.5).collect()
    }
    assert got == _py_containment(docs, threshold=0.5)


def test_containment_mutual_dups_both_directions(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e f")], "doc_id LONG, text STRING"
    )
    got = {(r.contained_id, r.container_id): r.containment_u
           for r in DD.ngram_containment_pairs(df, threshold=0.8).collect()}
    assert got == {(0, 1): 1_000_000, (1, 0): 1_000_000}


def test_containment_max_df_filters_universe(spark):
    """max_df drops head shingles BEFORE the ratio on both sides —
    the brute-force twin applies the same filtered universe."""
    docs = [(i, "common text here " + f"u{i} v{i} w{i}") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {
        (r.contained_id, r.container_id, r.n_inter, r.n_contained,
         r.n_container, r.containment_u)
        for r in DD.ngram_containment_pairs(
            df, threshold=0.2, max_df=3).collect()
    }
    assert got == _py_containment(docs, threshold=0.2, max_df=3)


def test_shingle_pair_counts_fast_path_equals_distributed(spark):
    """Round-6 small-corpus dispatch: ngram_jaccard_pairs /
    ngram_containment_pairs must produce IDENTICAL rows whether the
    posting/pair stage runs as the single-task numpy kernel or the
    distributed posting-list plan (local_threshold=0), with and without
    the max_df cap, including string ids (code order must equal UTF-8
    order for id_a < id_b). Bounds n-1 and n (n = (id, shingle) rows,
    the probed stream) pin both outcomes of the size probe."""
    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(40):
        words = base.split()
        words[i % len(words)] = f"w{i % 7}"
        rows.append((f"d{i:03d}", " ".join(words)))
        if i < 6:  # clones: their rare shingles get df=2 so pairs
            rows.append((f"d{i:03d}x", " ".join(words)))  # survive max_df
    rows.append(("d900", ""))            # empty doc
    rows.append(("d901", "one two"))     # too short for 3-grams
    df = spark.createDataFrame(rows, "doc_id string, text string")
    n = DD.doc_shingles(df, "doc_id", "text", 3).count()

    for max_df in (None, 5):
        slow = sorted(map(tuple, DD.ngram_jaccard_pairs(
            df, threshold=0.1, max_df=max_df,
            local_threshold=0).collect()))
        cs = sorted(map(tuple, DD.ngram_containment_pairs(
            df, threshold=0.3, max_df=max_df,
            local_threshold=0).collect()))
        assert slow and cs
        for bound in (n - 1, n, DD.LOCAL_POSTING_ROWS):
            fast = sorted(map(tuple, DD.ngram_jaccard_pairs(
                df, threshold=0.1, max_df=max_df,
                local_threshold=bound).collect()))
            assert fast == slow, (max_df, bound)
            cf = sorted(map(tuple, DD.ngram_containment_pairs(
                df, threshold=0.3, max_df=max_df,
                local_threshold=bound).collect()))
            assert cf == cs, (max_df, bound)


def test_rows_if_small_probe_outcomes(spark):
    """The shared size probe: ``None`` past the bound or at bound 0,
    otherwise every row of the input."""
    df = spark.range(10).toDF("x")
    assert DD.rows_if_small(df, 0) is None
    assert DD.rows_if_small(df, 9) is None
    for bound in (10, 11):
        small = DD.rows_if_small(df, bound)
        assert sorted(r.x for r in small.collect()) == list(range(10))


def test_distributed_branch_does_not_checkpoint_stream(spark, tmp_path):
    """Past the bound, the size probe materializes at most bound + 1
    rows and hands the distributed plan the stream unmaterialized: no
    localCheckpoint'ed (ExistingRDD) scan of the shingle or anchor
    stream may appear in the executed plans."""
    from distributed_crawl_spark.functions import curation as CU

    rows = [(i, f"shared words here and there doc{i} tail{i % 3}")
            for i in range(12)]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(str(tmp_path / "docs"))
    df = spark.read.parquet(str(tmp_path / "docs"))
    for out in (
        DD.ngram_jaccard_pairs(df, threshold=0.1, local_threshold=1),
        CU.substring_spans(df, w=6, s=3, local_threshold=1),
    ):
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan
