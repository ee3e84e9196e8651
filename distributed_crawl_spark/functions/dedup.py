"""Document deduplication for web-scale training-data pipelines.

Four families, all expressed as native DataFrame plans (no Python in the
hot path) so Catalyst/AQE handle distribution:

- **exact**        : hash-groupBy on a content digest (map-side partial agg;
                     one shuffle keyed by digest — uniform by construction).
- **n-gram Jaccard**: shingle → explode → distinct → self-join on shingle →
                     pair intersection counts. The shingle join is the
                     classic "inverted index" plan: at 100 TB the per-shingle
                     posting lists are bounded by dropping ultra-common
                     shingles (document-frequency cap), which also kills the
                     skew on the join key.
- **MinHash + LSH** : k portable hash functions (a*x+b mod p over a 48-bit
                     md5-prefix integer), min-aggregated per doc, banded into
                     b bands of r rows; candidate pairs only join within a
                     band bucket — pair cost is output-bound, never O(n^2).
- **SimHash**      : 32-bit sign-aggregated token-hash fingerprint; equal
                     fingerprints (or small hamming distance via bit_count)
                     are dup candidates.

The reference (thebenjy/distributed_crawl) only dedups exact content hashes
(hybrid_crawler.py:539-544 — same sha256[:16] ⇒ same filename) and URL
strings (run_crawl_local.py:165); near-dup is this engine's scale-path
extension for Common-Crawl-style corpora.

Portability contract: every hash here is reproducible in ANSI SQL
(md5-prefix → hex cast) so the DuckDB oracle can verify results
value-for-value. Spark's own xxhash64/hash are NOT used in checked outputs.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^31 - 1 (Mersenne prime) — all modular hash arithmetic happens below
# 2^62 so BIGINT never overflows under ANSI mode, in Spark or DuckDB.
MERSENNE31 = 2_147_483_647

# MinHash universal-hash parameters (a, b) — fixed constants so signatures
# are stable across runs/engines. Generated once from a seeded PRNG
# (random.Random(42): a = randrange(1, p), b = randrange(0, p)).
MINHASH_PARAMS: list[tuple[int, int]] = [
    (1371122509, 1466744115), (600719669, 1222629959),
    (2022357103, 1392867223), (351983150, 1110025181),
    (707827934, 1116840442), (1777395783, 558138720),
    (1789871276, 1072379372), (794550492, 1711554614),
    (1437012366, 1870163568), (216871947, 1536477801),
    (1974567224, 626655159), (1402647089, 275100566),
    (632173397, 1843442913), (82922247, 1027448960),
    (1864546432, 2128915999), (1902963049, 1567962386),
]
MINHASH_K = len(MINHASH_PARAMS)  # 16 hash functions
LSH_BANDS = 4                     # 4 bands × 4 rows
LSH_ROWS = MINHASH_K // LSH_BANDS


# Row count under which a size-dispatched query (the graph iterations,
# near_dup_components, the substring_spans tail) runs in ONE task — a
# data-size bound (tens of MB of rows in a single task), not a
# core-count constant. Pass local_threshold=0 to force the distributed
# plan.
LOCAL_ROWS = 2_000_000


def rows_if_small(df: DataFrame, bound: int) -> DataFrame | None:
    """The one size probe behind every single-task fast path: ``df``'s
    rows, checkpointed, when it holds at most ``bound`` rows; ``None``
    when it holds more or ``bound`` is 0. Only ``bound + 1`` rows are
    ever materialized, so a large stream is not written out just to
    learn that it is large — the caller's distributed branch gets ``df``
    unmaterialized — and on the small branch the checkpoint IS the
    kernel input, so the upstream plan runs once."""
    if not bound:
        return None
    small = df.limit(bound + 1).localCheckpoint()
    return small if small.count() <= bound else None


def md5_int48(col: Column) -> Column:
    """Portable 48-bit integer hash: first 12 hex chars of md5.

    Same value via DuckDB: ``CAST('0x' || substr(md5(x),1,12) AS BIGINT)``.
    48 bits keeps every downstream product inside signed-64 range.
    """
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


# (id, shingle) row count under which the whole posting/pair-count
# stage runs in ONE task (the rows_if_small dispatch): a few hundred MB
# of rows in a single pandas task, not a core-count constant. Pass
# local_threshold=0 to force the distributed posting-list plan.
LOCAL_POSTING_ROWS = 4_000_000


def tokens(text: Column) -> Column:
    """Whitespace tokenization (collapsing, like Python str.split())."""
    return F.when(F.trim(text) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), r"\s+")
    )


# Java's default \s class, NOT Python's unicode-aware \s — the exact
# class split() matches inside the JVM
_JAVA_WS = __import__("re").compile(r"[ \t\n\x0b\f\r]+")


def java_ws_tokens(text):
    """Python twin of :func:`tokens` with the JVM's exact semantics, for
    Arrow kernels that must produce bit-identical token streams:
    ``trim`` strips 0x20 only, the split class is Java's default ``\\s``,
    and — because Spark's ``split`` expression calls Java split with
    limit −1, NOT the default 0 — empty fields are KEPT, leading and
    trailing alike (Python ``re.split`` matches that exactly). A
    trailing-empty-drop here once diverged from ``tokens()`` on texts
    ending in non-space whitespace (caught by the simhash64 hypothesis
    oracle on ``'0\\r'``). Returns ``None`` for null text (callers
    drop), ``[]`` for empty/space-only text."""
    if text is None:
        return None
    t = text.strip(" ")
    if t == "":
        return []
    return _JAVA_WS.split(t)


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles in document order (may repeat).

    Guarded: Spark's ``sequence(1, 0)`` counts DOWN, so short docs must
    short-circuit to an empty array explicitly.
    """
    toks = tokens(text)
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def doc_shingles(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct — the inverted-index input.

    Physical form (round 6): an Arrow ``mapInPandas`` kernel
    (:func:`java_ws_tokens` + a per-doc seen-set) replaces the
    interpreted higher-order slice/array_join transform + explode +
    a ``distinct()`` exchange.  Per-doc dedup makes (id, shingle) pairs
    globally distinct by construction (callers feed unique-id doc
    tables), so the kernel's output goes straight into the census
    shuffle — one exchange fewer — and shingle assembly runs as batched
    Python string ops instead of per-element Catalyst lambdas.  Token
    and join semantics are the JVM's exactly (0x20-only trim, Java
    default ``\\s`` split, ``' '``-joined n-grams), so the shingle
    strings are byte-identical to the previous plan's.
    """
    import pandas as pd

    id_t = dict(docs.dtypes)[id_col]

    def _sh(it):
        for pdf in it:
            ids: list = []
            shs: list = []
            ap_i, ap_s = ids.append, shs.append
            for i, txt in zip(pdf["__id"], pdf["__t"]):
                toks = java_ws_tokens(txt)
                if not toks or len(toks) < n:
                    continue
                seen: set = set()
                add = seen.add
                for j in range(len(toks) - n + 1):
                    s = " ".join(toks[j : j + n])
                    if s not in seen:
                        add(s)
                        ap_i(i)
                        ap_s(s)
            yield pd.DataFrame({id_col: ids, "shingle": shs})

    return docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    ).mapInPandas(_sh, f"{id_col} {id_t}, shingle string")


# CCNet hash-normalization tables (cc_net text_normalizer semantics,
# re-expressed closed-form): a fixed latin accent fold plus explicit
# punctuation — no \w/\p classes, so Spark's Java regex and the DuckDB
# oracle's RE2 agree byte-for-byte.
_ACCENT_SRC = "àáâäãåèéêëìíîïòóôöõùúûüçñýÿ"
_ACCENT_DST = "aaaaaaeeeeiiiiooooouuuucnyy"
_PUNCT_CLASS = "[.,;:!?\"'()\\[\\]{}<>/\\\\|@#$%^&*_+=~-]"


def normalize_for_dedup(text: Column) -> Column:
    """CCNet-style normalization applied BEFORE hashing for dedup keys
    (Wenzek et al. 2020): lowercase, fold latin accents, collapse every
    digit to ``0``, strip punctuation, squeeze whitespace. Case, number
    and punctuation edits are the most common trivial-variant axes on
    the web (mirrors, timestamps, typography) — normalizing first folds
    them into one duplicate class. Pure codegen string pipeline; zero
    cost beyond the scan."""
    t = F.lower(text)
    t = F.translate(t, _ACCENT_SRC, _ACCENT_DST)
    t = F.regexp_replace(t, "[0-9]", "0")
    t = F.regexp_replace(t, _PUNCT_CLASS, "")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     normalize: bool = False) -> DataFrame:
    """Exact dedup: group by content digest, keep the minimum id as
    canonical. One shuffle keyed by the digest (uniform distribution —
    sha/md5 output is unskewable). ``normalize=True`` digests
    :func:`normalize_for_dedup` of the text instead (CCNet hash
    normalization — case/digit/accent/punct variants collapse to one
    class) at identical plan shape. Returns (digest, canonical_id,
    n_copies).
    """
    key = F.col(text_col)
    if normalize:
        key = normalize_for_dedup(key)
    return (
        docs.groupBy(F.md5(key).alias("digest"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = None,
                        local_threshold: int = LOCAL_POSTING_ROWS
                        ) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard similarity ≥ threshold.

    Plan: inverted index (doc, shingle) → self-join on shingle →
    count intersections → join per-doc shingle counts → filter.
    ``max_df`` drops shingles appearing in more than max_df docs before the
    pair join — at corpus scale this bounds posting-list length (join skew)
    and barely moves Jaccard for near-dup pairs.

    Physical shape (round 3 rewrite): POSTING LISTS, not a self-join.
    The index is grouped once by shingle into a sorted doc-id array;
    candidate pairs are enumerated from each posting list as a pure
    array projection (``flatten(transform(...))``) — so the (doc,
    shingle) rows shuffle by shingle ONCE (the census exchange is
    reused for the rare-filter join) instead of feeding four separate
    re-derived subtrees (census + counts + both self-join sides, the
    44-exchange plan this replaces). With ``max_df`` the posting
    arrays are bounded (≤ max_df ids ⇒ ≤ max_df² pairs per shingle)
    BEFORE collect_list runs, so the Zipf-head shingle never
    materializes an unbounded reducer-side array. Without ``max_df``
    the head list is unbounded — always set it at corpus scale.

    On the distributed branch the posting-list table feeds two
    consumers (per-doc counts and pair enumeration), so it is persisted
    (MEMORY_AND_DISK, which spills to local disk when the index exceeds
    executor memory): with the round-6 Arrow shingle kernel feeding the
    census, re-deriving the posting subtree means re-running the
    kernel, and the interleaved A/B that previously favoured the pure
    plan now favours persist (sf0.1: 1.65s plain vs 1.31s persisted
    steady-state, 5.5 vs 4.2 first-run).

    Returns (id_a, id_b, n_inter, n_a, n_b, jaccard) with id_a < id_b.
    """
    # jaccard is a small-int ratio — the double is bit-identical in any
    # engine; outputs are floor-scaled to integer micros (hash-stable),
    # never round()'ed (round impls differ at representability edges).
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        _shingle_pair_counts(docs, id_col, text_col, n, max_df,
                             local_threshold)
        .withColumn("jaccard_u", F.floor(jac * 1_000_000).cast("long"))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard_u")
    )


def _local_pair_counts(ds: DataFrame, id_col: str,
                       max_df: int | None) -> DataFrame:
    """Single-task replay of :func:`_shingle_pair_counts`' posting
    machinery for small corpora: census → max_df filter → post-filter
    per-doc counts → i<j pair enumeration → intersection counts, all
    integer numpy ops on factorized codes (sorted factorization makes
    code order equal id order, so ``id_a < id_b`` matches the
    array_sort'd posting lists). Output rows identical to the
    distributed plan; the float jaccard/containment math stays in
    Catalyst downstream either way."""
    import numpy as np
    import pandas as pd

    id_t = ds.schema[id_col].dataType.simpleString()

    def _kern(it):
        ids, shs = [], []
        for pdf in it:
            ids.append(pdf[id_col])
            shs.append(pdf["shingle"])
        if not ids:
            return
        id_vals = pd.concat(ids, ignore_index=True)
        if len(id_vals) == 0:
            return
        sh_codes, _ = pd.factorize(
            pd.concat(shs, ignore_index=True), sort=False)
        id_codes, uids = pd.factorize(id_vals, sort=True)
        sh_codes = sh_codes.astype(np.int64)
        id_codes = id_codes.astype(np.int64)
        if max_df is not None:
            df_cnt = np.bincount(sh_codes)
            keep = df_cnt[sh_codes] <= max_df
            sh_codes, id_codes = sh_codes[keep], id_codes[keep]
        nu = len(uids)
        n_sh = np.bincount(id_codes, minlength=nu).astype(np.int64)
        # group rows by shingle, ids ascending within each group
        order = np.lexsort((id_codes, sh_codes))
        g = sh_codes[order]
        iv = id_codes[order]
        starts = np.flatnonzero(
            np.r_[True, g[1:] != g[:-1]]) if len(g) else np.array([], int)
        lens = np.diff(np.r_[starts, len(g)])
        tri = {}  # i<j index templates per posting-list length
        a_parts, b_parts = [], []
        for o, ln in zip(starts, lens):
            if ln < 2:
                continue
            t = tri.get(ln)
            if t is None:
                t = tri[ln] = np.triu_indices(ln, 1)
            a_parts.append(iv[o + t[0]])
            b_parts.append(iv[o + t[1]])
        if not a_parts:
            return
        a = np.concatenate(a_parts)
        b = np.concatenate(b_parts)
        keys, n_inter = np.unique(a * nu + b, return_counts=True)
        ka, kb = keys // nu, keys % nu
        yield pd.DataFrame({
            "id_a": uids[ka], "id_b": uids[kb],
            "n_inter": n_inter.astype(np.int64),
            "n_a": n_sh[ka], "n_b": n_sh[kb],
        })

    return ds.coalesce(1).mapInPandas(
        _kern,
        f"id_a {id_t}, id_b {id_t}, n_inter bigint, "
        f"n_a bigint, n_b bigint",
    )


# Candidate-pair enumeration — the one home of every near-dup pair join
# (LCJoin's inverted-list candidate generation): posting lists pair their
# members as an array projection, block keys pair rows by a self
# equi-join, and the Hamming family builds its block keys by pigeonhole.


def _posting_pairs(posts: DataFrame, members: str, a: str, b: str,
                   count: str) -> DataFrame:
    """Pair census of a posting-list table: every ``i < j`` pair of each
    sorted ``members`` array, enumerated as a pure array projection
    (``flatten(transform(slice))`` — no self-join, no exchange before
    the census), then counted per pair. Ascending lists make ``a < b``
    hold by construction. Returns (a, b, count), ``count`` being the
    number of lists the pair shares."""
    pair_arr = F.expr(
        f"flatten(transform({members}, (x, i) -> transform("
        f"slice({members}, i + 2, size({members})), "
        f"y -> struct(x AS {a}, y AS {b}))))"
    )
    return (
        posts.select(F.explode(pair_arr).alias("p"))
        .select(f"p.{a}", f"p.{b}")
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias(count))
    )


def _blocked_self_join(rows: DataFrame, id_col: str, keys: list[str],
                       carry: list[str] | tuple = ()) -> DataFrame:
    """Candidate pairs of ``rows`` sharing every block key in ``keys`` —
    an LSH band bucket, a pigeonhole block, a hyperplane bucket, an IVF
    cell, a winnowed anchor — as one self equi-join per block, so pair
    cost is the sum of squared block sizes, never all-pairs (no keys is
    the all-pairs join). Each side renames ``id_col`` to ``id_a`` /
    ``id_b`` and every ``carry`` column ``c`` to ``c_a`` / ``c_b``; only
    ``id_a < id_b`` survives, so an unordered pair appears once per
    shared block. Returns (*keys, id_a, *carry_a, id_b, *carry_b)."""
    def side(s: str) -> DataFrame:
        return rows.select(*keys, F.col(id_col).alias(f"id_{s}"),
                           *[F.col(c).alias(f"{c}_{s}") for c in carry])

    return (side("a").join(side("b"), keys or None)
            .filter(F.col("id_a") < F.col("id_b")))


def _hamming_pairs(fp: DataFrame, id_col: str, words: list[str], bits: int,
                   max_hamming: int) -> DataFrame:
    """Pigeonhole Hamming join (the Manku/WWW'07 web-dedup strategy)
    over a fingerprint stored as ``words`` — columns of ``bits`` bits
    each, lowest word first. A pair within hamming ``max_hamming`` must
    agree EXACTLY on at least one of ``max_hamming + 1`` equal blocks,
    so candidates come from the blocked self-join per (block_idx,
    block_value) and only candidates pay the ``bit_count`` verify —
    never all-pairs. Blocks must not straddle a word (the block width
    divides ``bits``). A random corpus puts about N/2^width prints in a
    bucket: 32-bit prints at max_hamming=3 give 8-bit blocks (N/256),
    two 32-bit words give 16-bit blocks (N/65,536) — the 10^9+-item
    form.

    The fingerprint table (N × a few longs — tiny next to the corpus) is
    PERSISTED (MEMORY_AND_DISK) before the self-join: both join sides
    otherwise re-derive the fingerprint pass from the raw input,
    measured 14s lazy vs 2.7s materialized at sf0.1.
    Returns (id_a, id_b, hamming), id_a < id_b."""
    blocks = max_hamming + 1
    width = bits * len(words) // blocks
    if width * blocks != bits * len(words) or bits % width:
        raise ValueError(
            f"max_hamming={max_hamming}: {len(words)}×{bits} fingerprint "
            "bits must split into max_hamming+1 equal blocks that do not "
            "straddle a word")
    per_word = bits // width
    mask = F.lit((1 << width) - 1)
    # words keep the input's column order, so a projection that only
    # drops columns adds no reordering stage to the persisted plan
    fp = fp.select(id_col, *sorted(words, key=fp.columns.index)).persist(
        StorageLevel.MEMORY_AND_DISK)
    vals = F.array(*[
        F.shiftrightunsigned(F.col(words[b // per_word]),
                             (b % per_word) * width).bitwiseAND(mask)
        for b in range(blocks)
    ])
    tagged = fp.select(id_col, *words,
                       F.posexplode(vals).alias("blk", "blk_val"))
    carried = [f"{w}_{s}" for s in "ab" for w in words]
    xor_bits = [F.bit_count(F.col(f"{w}_a").bitwiseXOR(F.col(f"{w}_b")))
                for w in words]
    hamming = sum(xor_bits[1:], xor_bits[0])
    return (
        _blocked_self_join(tagged, id_col, ["blk", "blk_val"], words)
        # a pair can match on several blocks — count once
        .groupBy("id_a", "id_b", *carried)
        .agg(F.count(F.lit(1)).alias("n_blocks"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _shingle_pair_counts(docs: DataFrame, id_col: str, text_col: str,
                         n: int, max_df: int | None,
                         local_threshold: int = LOCAL_POSTING_ROWS
                         ) -> DataFrame:
    """Shared posting-list machinery for the set-overlap family
    (:func:`ngram_jaccard_pairs`, :func:`ngram_containment_pairs`):
    (id_a, id_b, n_inter, n_a, n_b) for every unordered pair id_a <
    id_b sharing ≥1 shingle. The scale properties documented on
    :func:`ngram_jaccard_pairs` (single shingle shuffle, bounded
    posting arrays under ``max_df``, array-projection pair
    enumeration) live here."""
    ds = doc_shingles(docs, id_col, text_col, n)
    # small-corpus fast path: the whole census/filter/pair stage in one
    # task over the probe's checkpointed shingle rows (no posting-list
    # persist there — a single pass reads them once)
    small = rows_if_small(ds, local_threshold)
    if small is not None:
        return _local_pair_counts(small, id_col, max_df)
    if max_df is not None:
        # census first (count-only partial agg — safe on the Zipf head),
        # then filter the index via the rare-shingle join; both sides
        # shuffle by shingle and AQE reuses the census exchange. (An
        # anti-join against the tiny HEAVY set — Zipf head only — was
        # tried for a map-side filter and measured consistently SLOWER
        # at sf0.1: the anti-join's own exchange isn't census-reusable.)
        rare = (
            ds.groupBy("shingle").count()
            .filter(F.col("count") <= max_df)
            .select("shingle")
        )
        ds = ds.join(rare, "shingle")
    posts = ds.groupBy("shingle").agg(
        F.array_sort(F.collect_list(id_col)).alias("docs")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    counts = (
        posts.select(F.explode("docs").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    inter = _posting_pairs(posts, "docs", "id_a", "id_b", "n_inter")
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter.join(ca, "id_a").join(cb, "id_b")


def ngram_containment_pairs(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            threshold: float = 0.8,
                            max_df: int | None = None,
                            local_threshold: int = LOCAL_POSTING_ROWS
                            ) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment C(A⊂B) = |S_A ∩ S_B| /
    |S_A| ≥ threshold — the quote/aggregator/boilerplate-wrapper case
    Jaccard structurally misses (a 100-shingle article embedded in a
    10,000-shingle aggregator page has C = 1.0 but Jaccard ≈ 0.01, so
    no symmetric threshold can separate it from noise; Broder 1997
    introduced containment alongside resemblance for exactly this).

    Plan: identical to :func:`ngram_jaccard_pairs` — the shared
    posting-list census (:func:`_shingle_pair_counts`) — plus one
    zero-shuffle direction explode: each unordered pair (a, b) emits
    (a⊂b) and (b⊂a) candidates as a 2-element array projection, then
    filters on the per-direction ratio. Same single shingle shuffle,
    same ``max_df`` skew bound; always set ``max_df`` at corpus scale.
    NOTE: under ``max_df`` the denominator |S_A| counts RARE shingles
    only (both sides of the ratio see the same filtered universe —
    the standard posting-list approximation).

    Returns (contained_id, container_id, n_inter, n_contained,
    n_container, containment_u) with containment_u = floor(1e6 ·
    n_inter / n_contained); a pair of mutual near-dups appears in both
    directions."""
    pairs = _shingle_pair_counts(docs, id_col, text_col, n, max_df,
                                 local_threshold)
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("contained_id"),
                    F.col("id_b").alias("container_id"),
                    F.col("n_inter").alias("n_inter"),
                    F.col("n_a").alias("n_contained"),
                    F.col("n_b").alias("n_container"),
                ),
                F.struct(
                    F.col("id_b").alias("contained_id"),
                    F.col("id_a").alias("container_id"),
                    F.col("n_inter").alias("n_inter"),
                    F.col("n_b").alias("n_contained"),
                    F.col("n_a").alias("n_container"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    cont = F.col("n_inter") / F.col("n_contained")
    return (
        directed
        .withColumn("containment_u", F.floor(cont * 1_000_000).cast("long"))
        .filter(cont >= threshold)
        .select("contained_id", "container_id", "n_inter", "n_contained",
                "n_container", "containment_u")
    )


def _minhash_cols(docs: DataFrame, id_col: str, text_col: str,
                  n: int) -> DataFrame:
    """(doc_id, mh0..mh{k-1}): all k signature minima computed as k
    aggregate COLUMNS of one ``groupBy(doc_id)`` — no k-way row expansion,
    no parameter-table join, ONE uniform shuffle keyed by doc_id with
    map-side partial minima for every column. This is the scale form; the
    row-shaped views below are projections of it."""
    # Round 6: the whole signature is per-doc-local (distinct shingles →
    # md5 → k affine minima), so it is ONE Arrow kernel with ZERO
    # exchanges — the previous form still paid the shingle explode plus
    # a doc_id-keyed aggregation shuffle. hashlib md5 / Python ints
    # reproduce md5_int48 and the Mersenne-mod arithmetic exactly (all
    # operands positive, % identical), so signatures are bit-identical.
    import hashlib

    import pandas as pd

    id_t = dict(docs.dtypes)[id_col]
    _md5 = hashlib.md5
    P = MERSENNE31
    params = MINHASH_PARAMS

    def _sig(it):
        for pdf in it:
            out_ids: list = []
            out_mh: list[list] = [[] for _ in params]
            for i, txt in zip(pdf["__id"], pdf["__t"]):
                toks = java_ws_tokens(txt)
                if not toks or len(toks) < n:
                    continue
                xs = {
                    int(
                        _md5(
                            " ".join(toks[j : j + n]).encode()
                        ).hexdigest()[:12],
                        16,
                    )
                    % P
                    for j in range(len(toks) - n + 1)
                }
                out_ids.append(i)
                for ki, (a, b) in enumerate(params):
                    out_mh[ki].append(min((a * x + b) % P for x in xs))
            cols = {id_col: out_ids}
            for ki in range(len(params)):
                cols[f"mh{ki}"] = out_mh[ki]
            yield pd.DataFrame(cols)

    schema = ", ".join(
        [f"{id_col} {id_t}"] + [f"mh{i} long" for i in range(len(params))]
    )
    return docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    ).mapInPandas(_sig, schema)


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, i, minhash): the k-row signature per document — a
    zero-shuffle unpivot of the columnar signature (``_minhash_cols``)."""
    cols = _minhash_cols(docs, id_col, text_col, n)
    rows = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.col(f"mh{i}").alias("minhash"))
            for i in range(MINHASH_K)
        ]
    )
    return cols.select(id_col, F.explode(rows).alias("s")).select(
        id_col, "s.i", "s.minhash"
    )


def _band_keys() -> Column:
    """The signature's LSH_BANDS band keys as one array (posexplode it
    into (band, key) rows): each key is md5 over the band's r minhash
    values joined in hash-function order — identical to hashing the
    (i, minhash)-sorted row form."""
    return F.array(*[
        F.md5(F.concat_ws(",", *[
            F.col(f"mh{b * LSH_ROWS + r}").cast("string")
            for r in range(LSH_ROWS)
        ]))
        for b in range(LSH_BANDS)
    ])


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band bucket.

    The pair join happens per (band, band_key) — output-bound, never
    all-pairs. At 10^10 docs this is the only dedup plan that survives.
    Band keys come straight off the columnar signature (one shuffle total
    before the pair join; the band unpivot is a projection). The
    signature table (N × k longs) is persisted before the self-join
    (same reason as :func:`simhash_pairs64`: both join
    sides otherwise re-run the shingle explode + signature shuffle).
    Returns (id_a, id_b, n_shared_bands), id_a < id_b.
    """
    cols = _minhash_cols(docs, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK)
    buckets = cols.select(
        id_col, F.posexplode(_band_keys()).alias("band", "band_key")
    )
    return (
        _blocked_self_join(buckets, id_col, ["band", "band_key"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def dedup_index(corpus: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", n: int = 3) -> DataFrame:
    """Reusable dedup index of an existing corpus snapshot — the piece
    that makes CONTINUAL crawling scale: once a 100-TB corpus is
    deduplicated, the next day's increment must not re-shuffle the whole
    corpus, only probe what the corpus already contains.

    One (kind, band, key) row per distinct membership key:
    ``kind='digest'`` rows carry md5(text) for exact membership,
    ``kind='band'`` rows carry each distinct MinHash LSH (band,
    band_key) bucket for near-dup membership (same signature family as
    :func:`minhash_lsh_pairs`, so index and pair dedup agree on what
    "near" means). DISTINCT keys only — doc ids are deliberately absent,
    so a dup-heavy corpus indexes far smaller than it stores, and the
    index is append-only under corpus growth (a new snapshot's index is
    the old index UNION the increment's keys — no rebuild).

    At scale this table is written once per snapshot (partition by
    ``kind``/``band``) and read by every subsequent
    :func:`incremental_dedup` probe.
    """
    digests = corpus.select(
        F.lit("digest").alias("kind"),
        F.lit(-1).alias("band"),
        F.md5(F.col(text_col)).alias("key"),
    ).distinct()
    cols = _minhash_cols(corpus, id_col, text_col, n)
    bands = (
        cols.select(F.posexplode(_band_keys()).alias("band", "key"))
        .distinct()
        .select(F.lit("band").alias("kind"), "band", "key")
    )
    return digests.unionByName(bands)


def incremental_dedup(new_docs: DataFrame, index: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3) -> DataFrame:
    """Deduplicate a crawl increment against an existing corpus's
    :func:`dedup_index` WITHOUT touching the corpus itself.

    Per new document: ``exact_dup`` (its md5 digest is already in the
    corpus), ``near_dup`` (any of its MinHash LSH band keys hits a
    corpus bucket — the same ≥1-shared-band candidate rule as
    :func:`minhash_lsh_pairs`), and ``keep = NOT (exact OR near)``.

    Plan shape for a daily increment against a 100-TB corpus: the
    increment computes its own signatures (one doc-keyed shuffle over
    increment rows only), then two LEFT SEMI probes into the index —
    uniform hash joins keyed by digest / (band, key), each moving only
    increment-side rows plus the index partitions they hash into. The
    corpus's documents are never read, never shuffled, never
    self-joined; cost is O(|increment| + |index touched|) regardless of
    corpus size. Within-increment duplicates are NOT flagged here (run
    the ordinary pair dedup on the increment first, or union the
    increment's own index in) — this operator answers "is it already in
    the corpus", nothing else.
    """
    digest_idx = index.filter(F.col("kind") == "digest").select("key")
    band_idx = index.filter(F.col("kind") == "band").select("band", "key")
    new_cols = _minhash_cols(new_docs, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK)
    exact_ids = (
        new_docs.select(id_col, F.md5(F.col(text_col)).alias("key"))
        .join(digest_idx, "key", "left_semi")
        .select(id_col)
        .withColumn("__e", F.lit(True))
    )
    near_ids = (
        new_cols.select(id_col,
                        F.posexplode(_band_keys()).alias("band", "key"))
        .join(band_idx, ["band", "key"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__n", F.lit(True))
    )
    return (
        new_docs.select(id_col)
        .join(exact_ids, id_col, "left")
        .join(near_ids, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__e"), F.lit(False)).alias("exact_dup"),
            F.coalesce(F.col("__n"), F.lit(False)).alias("near_dup"),
        )
        .withColumn("keep", ~(F.col("exact_dup") | F.col("near_dup")))
    )


def _local_components(edges: DataFrame) -> DataFrame:
    """Exact min-label connected components in ONE task — the small-graph
    fast path of :func:`near_dup_components` (the same hybrid GraphFrames
    ships): a pair list that fits comfortably in a single task is solved
    with a classic union-find instead of paying the iterative loop's
    per-round job latency.  Output is identical to the converged loop —
    every node labelled with the minimum id in its component (min over
    strings is codepoint order in BOTH paths: Spark's UTF8_BINARY
    collation is UTF-8 byte order, which equals Python's)."""
    import pandas as pd

    id_t = edges.schema["src"].dataType.simpleString()

    def _uf(it):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in it:
            for s, d in zip(pdf["src"], pdf["dst"]):
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    parent[rs] = rd
        best: dict = {}
        for n in parent:
            r = find(n)
            m = best.get(r)
            if m is None or n < m:
                best[r] = n
        if parent:
            yield pd.DataFrame({
                "doc_id": list(parent),
                "component_id": [best[find(n)] for n in parent],
            })

    return edges.coalesce(1).mapInPandas(
        _uf, f"doc_id {id_t}, component_id {id_t}"
    )


def near_dup_components(pairs: DataFrame, id_a: str = "id_a",
                        id_b: str = "id_b",
                        max_iters: int = 25,
                        local_threshold: int = LOCAL_ROWS) -> DataFrame:
    """Connected components over a near-dup pair list: every document in
    a transitively-connected duplicate cluster gets the cluster's MINIMUM
    doc id as its ``component_id`` — the canonical-pick step that turns
    pair output (simhash/minhash/Jaccard/embedding) into a keep/drop
    decision per document.

    Algorithm: min-label propagation (each node takes the min of its own
    and its neighbors' labels) interleaved with POINTER JUMPING (each
    node also takes its label's label — path compression, the
    two-phase trick of the Kiveris et al. large-star/small-star family).
    Plain propagation moves the minimum one hop per round, so a chain of
    gradually-mutated near-dups (exactly what dup-heavy crawls produce)
    costs O(diameter) rounds; the jump step doubles the reach of every
    label pointer per round, so convergence is O(log diameter) — a
    10^4-long mutation chain converges in ~15 rounds instead of 10^4.
    The invariant that makes the jump sound: a label is always the id of
    a node in the same component with value ≤ the node's own label, so
    label-of-label can only move further down the same component.
    Each iteration materializes the label table via ``localCheckpoint``
    — REQUIRED for iterative DataFrame algorithms: without it the plan
    doubles per iteration and Catalyst analysis goes exponential. The
    converged check is one count per iteration (an iterative algorithm
    is the sanctioned exception to the no-standalone-counts rule); a
    zero-change round is a fixed point of BOTH steps, which pins every
    component to its minimum id — identical output to plain propagation.

    At 10^10 docs: edges is output-bound (the pair list, not the
    corpus); each iteration is three shuffles keyed by doc id (pointer
    join + neighbor-min aggregate + label join) over |V(pairs)| rows —
    docs in no pair never enter the computation. Returns
    (doc_id, component_id) for every doc appearing in ``pairs``.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    # Size-adaptive dispatch: small graphs take the single-task
    # union-find (identical output, none of the per-round job latency);
    # graphs past ``local_threshold`` edges keep the iterative scale
    # path below. The edge list is checkpointed BEFORE the probe because
    # every iteration re-reads it and rebuilding it costs the distinct
    # shuffle; the bounded probe then scans that checkpoint.
    small = rows_if_small(edges, local_threshold)
    if small is not None:
        return _local_components(small)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint()
    )
    # (round 6 note: a two-steps-per-materialized-round variant with a
    # union+groupBy neighbor-min was measured SLOWER at sf0.1 — the
    # deeper per-round plan cost more than the saved job round-trips —
    # so the loop keeps the one-step-per-job shape.)
    for _ in range(max_iters):
        # pointer jump: component_id <- labels[component_id] (path
        # compression; left join only for safety — labels always point
        # at ids present in the label table)
        ptr = labels.select(
            F.col("doc_id").alias("__p"),
            F.col("component_id").alias("__p_label"),
        )
        jumped = (
            labels.join(ptr, labels["component_id"] == ptr["__p"], "left")
            .select(
                "doc_id",
                F.col("component_id").alias("__old"),
                F.coalesce(F.col("__p_label"), F.col("component_id"))
                .alias("component_id"),
            )
        )
        nbr_min = (
            edges.join(
                jumped.select(
                    F.col("doc_id").alias("src"),
                    F.col("component_id").alias("src_label"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("src_label").alias("nbr_label"))
        )
        stepped = (
            jumped.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("nbr_label"), F.col("component_id")),
                ).alias("component_id"),
                (
                    F.least(
                        F.col("component_id"),
                        F.coalesce(F.col("nbr_label"), F.col("component_id")),
                    ) < F.col("__old")
                ).alias("_chg"),
            )
        )
        # lazy checkpoint + full count fuse materialization and the
        # convergence check into ONE job per iteration (the filter is
        # per-partition, so the count computes — and checkpoints — every
        # partition of `stepped`)
        stepped = stepped.localCheckpoint(eager=False)
        changed = stepped.filter(F.col("_chg")).count()
        labels = stepped.drop("_chg")
        if changed == 0:
            break
    else:
        # Partially-propagated labels are WRONG component ids — canonical
        # keep/drop decisions made on them silently corrupt a corpus gate.
        # With pointer jumping convergence is O(log diameter), so the
        # default cap covers chains up to ~2^20 hops; hitting it means
        # something is deeply wrong with the pair graph — fail loudly.
        raise RuntimeError(
            f"near_dup_components did not converge in {max_iters} "
            f"iterations ({changed} labels still changing); raise "
            "max_iters — the pair graph has longer chains than expected"
        )
    return labels


def canonical_docs(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   max_iters: int = 25) -> DataFrame:
    """Near-dup canonicalization gate: given ANY pair list (simhash,
    MinHash-LSH, Jaccard, embedding — the gate is pair-source agnostic,
    which is what lets one corpus pipeline swap dedup engines), keep only
    each transitively-connected cluster's minimum-id document plus every
    document in no pair. Returns ``docs`` unchanged in schema, filtered.

    Plan: components over the (output-bound) pair list, one broadcast-
    eligible left join back to the corpus — docs outside any pair never
    shuffle through the components iteration.
    """
    comp = near_dup_components(pairs, max_iters=max_iters)
    drop = comp.filter(F.col("component_id") != F.col("doc_id")).select(
        F.col("doc_id").alias("__drop_id")
    )
    return docs.join(drop, docs[id_col] == drop["__drop_id"], "left_anti")


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = 32) -> DataFrame:
    """32-bit SimHash fingerprint per document, CLOSED FORM.

    Token hash = md5-prefix int; bit j of the fingerprint is 1 iff the
    signed occurrence count (+1 if bit j of the token hash is set, else -1,
    summed over ALL token occurrences — identical to the classic ±tf over
    distinct tokens) is positive.

    The whole computation is one ``aggregate`` over the row's token array
    with an array<long>[bits] accumulator (the doc_fingerprint pattern,
    textstats.py): no explode, no token shuffle, no ×bits row expansion —
    per-row projection work only, so the operator scales linearly with
    corpus bytes. Docs with zero tokens are dropped (parity with the
    explode-based formulation and the SQL oracle's unnest).
    Returns (doc_id, simhash).
    """
    pow2 = F.array(*[F.lit(1 << j) for j in range(bits)]).cast("array<long>")
    toks = tokens(F.col(text_col))
    hashes = F.transform(
        toks, lambda t: md5_int48(t) % F.lit(2**bits)
    )
    # bit-sums: acc[j] += (h has bit j ? 1 : -1), one pass over the tokens
    bit_sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            pow2,
            lambda a, p: a
            + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            bit_sums,
            pow2,
            lambda w, p: F.when(w > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    return docs.filter(F.size(toks) > 0).select(
        id_col, fingerprint.alias("simhash")
    )


def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash fingerprint as TWO 32-bit halves, CLOSED FORM.

    Signed-64 arithmetic cannot hold an unsigned 64-bit fingerprint
    (``1 << 63`` overflows — the reason :func:`simhash` caps at 32 bits),
    so the fingerprint is represented as ``(sh_hi, sh_lo)``: bits 32..63
    and 0..31, each a non-negative 32-bit value in a BIGINT. Both halves
    come out of the SAME single ``aggregate`` pass over the row's token
    array (a 64-slot bit-sum accumulator; the per-bit mask table also
    carries which half-hash the bit tests), so the cost profile is
    identical to the 32-bit form: per-row projection, no explode, no
    shuffle, linear in corpus bytes.

    Token half-hashes are the first and second 8 hex chars of md5 —
    portable (DuckDB: ``CAST('0x' || substr(md5(t), 1|9, 8) AS BIGINT)``).
    Docs with zero tokens are dropped (parity with :func:`simhash`).
    Returns (doc_id, sh_hi, sh_lo).

    Physical form (round 6): an Arrow ``mapInPandas`` kernel — md5 via
    hashlib, bit census via integer numpy — replacing an interpreted
    64-slot higher-order aggregate per token (~3× the wall at sf0.1).
    Everything is EXACT integer arithmetic, and the tokenizer replicates
    ``tokens()``'s Java semantics precisely: trim strips 0x20 only, the
    split class is Java's default ``\\s`` = [ \\t\\n\\x0B\\f\\r], Java
    split drops TRAILING empty fields but keeps a leading one, and md5
    hashes the UTF-8 bytes. Bit j is set iff 2·count_j > n_tokens —
    identical to the ±1 fold.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()
    _toks = java_ws_tokens
    shifts = np.arange(32, dtype=np.uint32)

    def _fp(it):
        for pdf in it:
            ids, his, los = [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                parts = _toks(text)
                if not parts:
                    continue
                n = len(parts)
                lo = np.empty(n, dtype=np.int64)
                hi = np.empty(n, dtype=np.int64)
                for j, tok in enumerate(parts):
                    h = hashlib.md5(tok.encode("utf-8")).hexdigest()
                    lo[j] = int(h[:8], 16)
                    hi[j] = int(h[8:16], 16)
                # count of set bits per position; fold value is 2*cnt - n
                cnt_lo = ((lo[:, None] >> shifts) & 1).sum(axis=0)
                cnt_hi = ((hi[:, None] >> shifts) & 1).sum(axis=0)
                ids.append(i)
                los.append(int(
                    ((2 * cnt_lo > n).astype(np.int64) << shifts).sum()))
                his.append(int(
                    ((2 * cnt_hi > n).astype(np.int64) << shifts).sum()))
            if ids:
                yield pd.DataFrame({id_col: ids, "sh_hi": his, "sh_lo": los})

    return docs.select(id_col, text_col).mapInPandas(
        _fp, f"{id_col} {id_type}, sh_hi long, sh_lo long"
    )


def simhash_pairs64(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    max_hamming: int = 3) -> DataFrame:
    """64-bit SimHash hamming-ball pair dedup — the 10^9+-doc scale form:
    :func:`simhash64` text fingerprints fed through the generic
    :func:`hamming_pairs64` pigeonhole machinery.
    Returns (id_a, id_b, hamming), id_a < id_b.
    """
    return hamming_pairs64(
        simhash64(docs, id_col, text_col), id_col=id_col,
        max_hamming=max_hamming)


def hamming_pairs64(fp: DataFrame, id_col: str = "doc_id",
                    hi_col: str = "sh_hi", lo_col: str = "sh_lo",
                    max_hamming: int = 3) -> DataFrame:
    """Hamming-ball pair join over ANY 64-bit two-half fingerprint table
    — :func:`simhash64` text prints, :func:`~distributed_crawl_spark.
    operators.multimodal.image_dhash` perceptual image prints, or any
    future (hi, lo) fingerprint family: the pigeonhole join
    (:func:`_hamming_pairs`) over the two 32-bit words ``[lo, hi]``.
    With max_hamming=3 the blocks are 16-bit → 65,536 buckets per block
    position: expected candidate-verify cost O(N²/65536) on a random
    corpus — the difference between quadratic blowup and output-bound
    at 10^9+ items. max_hamming=1 (32-bit blocks, one per word) and
    max_hamming=7 (8-bit blocks) also divide evenly; blocks must not
    straddle the half boundary (width must divide 32).
    Returns (id_a, id_b, hamming), id_a < id_b.
    """
    return _hamming_pairs(fp, id_col, [lo_col, hi_col], 32, max_hamming)


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", bits: int = 32,
                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) ≤ max_hamming:
    the pigeonhole join (:func:`_hamming_pairs`) over :func:`simhash`'s
    one ``bits``-bit word, split into ``max_hamming + 1`` equal blocks.

    Scale note: with 32-bit prints and 8-bit blocks a block bucket holds
    ~N/256 docs; at 10^9+ docs use :func:`simhash_pairs64` (16-bit blocks
    → N/65536, same plan shape over the two-half fingerprint). Returns
    (id_a, id_b, hamming), id_a < id_b.
    """
    return _hamming_pairs(simhash(docs, id_col, text_col, bits), id_col,
                          ["simhash"], bits, max_hamming)


def global_line_dedup(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", sep: str = "\n",
                      min_chars: int = 1) -> DataFrame:
    """Cross-document keep-first line dedup (the CCNet/RefinedWeb line
    filter): a line that occurs in several documents survives ONLY in
    its first occurrence — defined as the lexicographically smallest
    (doc_id, line_pos) — and is removed everywhere else. Unlike
    ``span_scrub`` (which deletes a duplicated window from ALL docs),
    keep-first preserves exactly one copy of shared boilerplate, the
    standard choice when the line may be legitimate content for one
    page (a quote, a headline) and navigation chrome on the rest.
    Within-doc repeats are handled too: the doc holding the winning
    copy keeps only the winning position.

    Lines shorter than ``min_chars`` (after trim) are exempt — they
    bypass the census entirely and are always kept, so empty spacer
    lines never collapse a corpus into one giant dedup group.

    Plan, three uniform shuffles at any corpus size:
      1. census — groupBy md5(line) → min(struct(doc_id, pos)); the
         min is map-side combinable, so a line duplicated 10^9 times
         (the classic "Home | About | Contact") contributes ONE row
         per map task to the exchange, not 10^9.
      2. winner join — lines ⋈ census on the digest. The build side is
         one row per distinct line; the probe side's heavy digests are
         exactly AQE's skew-join case (documented knob, on by
         default). Keep iff (doc_id, pos) equals the winner.
      3. reassembly — per-doc sort_array(collect_list(struct(pos,
         line))), bounded by the doc's own line count.

    Returns (doc_id, clean_text, n_kept, n_removed) for EVERY input
    doc; a doc whose every line lost its race stays present with
    clean_text = ''.
    """
    lines = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "ln"),
    ).withColumn(
        "eligible", F.length(F.trim(F.col("ln"))) >= min_chars
    )
    census = (
        lines.filter("eligible")
        .groupBy(F.md5(F.col("ln")).alias("digest"))
        .agg(F.min(F.struct(id_col, "pos")).alias("winner"))
    )
    kept = (
        lines.withColumn("digest", F.md5(F.col("ln")))
        .join(census, "digest", "left")
        .filter(
            (~F.col("eligible"))
            | (F.col("winner") == F.struct(id_col, "pos"))
        )
    )
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                lambda s: s.ln,
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = docs.select(
        id_col,
        F.size(F.split(F.col(text_col), sep)).cast("long").alias("__n"),
    )
    return totals.join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("__n") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long").alias("n_removed"),
    )


def host_boilerplate(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", host_col: str = "source",
                     sep: str = "\n", frac: float = 0.5,
                     min_docs: int = 2, min_chars: int = 1) -> DataFrame:
    """Host-scoped boilerplate-line removal (the CCNet/trafilatura
    chrome filter): a line that appears in at least ``frac`` of a host's
    documents (and in ≥ ``min_docs`` of them) is navigation / footer /
    cookie-banner chrome by construction, and is removed from EVERY
    document of that host. Complements :func:`global_line_dedup` —
    keep-first preserves one copy of a line that might be content;
    this operator deletes all copies of lines that the host's own page
    population proves are template chrome, the standard pre-step before
    quality scoring (boilerplate inflates stopword/length signals).

    Frequencies are per-host on purpose: "Subscribe to our newsletter"
    is chrome on the host that stamps it on every page and content in a
    blog post quoting it elsewhere.

    Plan — all shuffles keyed by (host, digest) or doc id, uniform at
    any corpus size:
      1. per-host doc totals — groupBy(host), map-combinable, one row
         per host: broadcast to the census join.
      2. line census — distinct (host, digest, doc) then count: the
         "every page of the host" line contributes one row per map
         task after the distinct, never a skewed reduce.
      3. boilerplate filter + left-anti join of the exploded lines on
         (host, digest); hot digests are AQE skew-join territory.
      4. per-doc reassembly — sort_array(collect_list) bounded by the
         doc's own line count.

    Lines whose trimmed length is < ``min_chars`` bypass the census and
    are always kept (spacer lines are structure, not chrome). Returns
    (doc_id, clean_text, n_kept, n_removed) for every input doc.
    """
    host_totals = docs.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("__n_docs")
    )
    lines = docs.select(
        id_col,
        host_col,
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "ln"),
    ).withColumn(
        "eligible", F.length(F.trim(F.col("ln"))) >= min_chars
    ).withColumn("digest", F.md5(F.col("ln")))
    census = (
        lines.filter("eligible")
        .select(host_col, "digest", id_col)
        .distinct()
        .groupBy(host_col, "digest")
        .agg(F.count(F.lit(1)).alias("__n_line"))
    )
    chrome = (
        census.join(F.broadcast(host_totals), host_col)
        .filter(
            (F.col("__n_line") >= F.lit(min_docs))
            & (F.col("__n_line") >= F.lit(frac) * F.col("__n_docs"))
        )
        .select(host_col, "digest")
    )
    kept = lines.join(chrome, [host_col, "digest"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                lambda s: s.ln,
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = docs.select(
        id_col,
        F.size(F.split(F.col(text_col), sep)).cast("long").alias("__n"),
    )
    return totals.join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("__n") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long").alias("n_removed"),
    )


def canonical_groups(pages_meta, url_col: str = "url",
                     canonical_col: str = "canonical_url"):
    """Canonical-URL dedup groups — the web's own duplication signal:
    a page declaring ``<link rel=canonical>`` claims another URL as the
    authoritative copy (print views, tracking variants, mirrors,
    pagination). Grouping fetched pages by their effective canonical
    (declared target, else self) yields the dedup clusters search
    engines honor BEFORE any content comparison — free precision on top
    of the hash/minhash families.

    One map-combinable shuffle on the canonical key. Returns
    (canonical_url, keeper_url = min member URL, n_pages); n_pages > 1
    marks a group whose non-keeper members a curator drops or redirects.
    Input = any table carrying (url, canonical_url), e.g. crawl_results
    from a run with CrawlConfig.honor_noindex (the with_meta extract).
    """
    eff = F.coalesce(F.col(canonical_col), F.col(url_col))
    return (
        pages_meta.select(eff.alias("canonical_url"), F.col(url_col).alias("u"))
        .groupBy("canonical_url")
        .agg(
            F.min("u").alias("keeper_url"),
            F.count(F.lit(1)).alias("n_pages"),
        )
    )


def mirror_detect(docs: DataFrame, host_col: str = "host",
                  text_col: str = "text", min_shared: int = 2,
                  min_share_bp: int = 2500,
                  max_df: int = 64) -> DataFrame:
    """Host-mirror detection: pairs of hosts whose content overlaps so
    heavily that one is (partly) a mirror of the other — the classic
    web-crawl dedup pass ABOVE document granularity (Bharat & Broder's
    mirror study): catching the mirror once removes every future fetch
    from it, which document-level dedup never does.

    Census: distinct (host, md5(text)) → digests shared by 2..max_df
    hosts become host-pair votes → per-pair shared-digest count,
    normalized by the SMALLER host's distinct-digest total (a tiny
    mirror of a huge host must still score high). Pairs with
    ``n_shared >= min_shared`` and ``share_bp >= min_share_bp`` are
    candidates, ordered by host pair.

    Scale: the posting-list pair census (:func:`_posting_pairs`) shared
    with ngram_jaccard — one digest shuffle, per-digest host lists bounded
    by ``max_df`` (template/boilerplate pages shared by more hosts than
    that are navigation noise, not mirror evidence — same documented
    knob as ngram_jaccard's), pair census bounded by |host pairs that
    actually share content|, host totals broadcast back. The distinct
    (host, digest) census feeds BOTH the totals rollup and the pair
    enumeration, so it is persisted (MEMORY_AND_DISK; same
    two-consumer rationale as the MinHash signature persist).
    """
    x = docs.select(
        F.col(host_col).alias("host"),
        F.md5(F.col(text_col)).alias("__dg"),
    ).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    totals = x.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_digests")
    )
    hosts = (
        x.groupBy("__dg")
        .agg(F.sort_array(F.collect_set("host")).alias("__hosts"))
        .filter((F.size("__hosts") >= 2) & (F.size("__hosts") <= max_df))
    )
    pairs = _posting_pairs(hosts, "__hosts", "host_a", "host_b", "n_shared")
    ta = totals.select(F.col("host").alias("host_a"),
                       F.col("n_digests").alias("n_a"))
    tb = totals.select(F.col("host").alias("host_b"),
                       F.col("n_digests").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "host_a").join(F.broadcast(tb), "host_b")
        .select(
            "host_a", "host_b", "n_shared",
            F.least("n_a", "n_b").cast("long").alias("n_smaller"),
            F.expr("CAST((10000 * n_shared) DIV least(n_a, n_b) AS BIGINT)")
            .alias("share_bp"),
        )
        .filter((F.col("n_shared") >= min_shared)
                & (F.col("share_bp") >= min_share_bp))
        .orderBy("host_a", "host_b")
    )


def cluster_stats(components: DataFrame, docs: DataFrame | None = None,
                  id_col: str = "doc_id") -> DataFrame:
    """Near-dup cluster-size census — the first table every dedup
    report shows: how many clusters of each size, and how much of the
    corpus sits in them (a handful of giant clusters means one template
    or mirror dominates; a long size-2 tail means ordinary near-dups).

    Input: (id, component_id) from :func:`near_dup_components`. When
    ``docs`` is given, documents absent from any component are counted
    as the ``cluster_size = 1`` row, so the n_docs column sums to the
    corpus and the keep-one savings is readable directly
    (``n_docs − n_clusters`` over sizes ≥ 2).

    Output: (cluster_size, n_clusters, n_docs) ordered by size.

    Scale: component census (one combinable groupBy keyed by
    component_id, output-bound like the pair set that built it) → size
    histogram (≤ |distinct sizes| rows) → optional 1-row singleton
    append from two 1-row count aggregates joined lazily (no driver
    action). Nothing exceeds the components input.
    """
    sizes = components.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
    ).select(
        "cluster_size", "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).cast("long")
        .alias("n_docs"),
    )
    if docs is not None:
        total = docs.select(id_col).distinct().agg(
            F.count(F.lit(1)).cast("long").alias("__t")
        )
        covered = components.select(id_col).distinct().agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        single = (
            total.join(F.broadcast(covered))
            .select(
                F.lit(1).cast("long").alias("cluster_size"),
                (F.col("__t") - F.col("__c")).alias("n_clusters"),
                (F.col("__t") - F.col("__c")).alias("n_docs"),
            )
        )
        hist = hist.unionByName(single)
    return hist.orderBy("cluster_size")
