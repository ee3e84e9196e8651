"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All closed-form Column expressions over built-in functions — zero Python
in the executor path, fully whole-stage-codegen'd, and each reproducible
in ANSI SQL so the DuckDB oracle verifies values.

The reference crawler's only text metrics are P9 (word/char/line counts,
utils.py:635-657); the rest is this engine's corpus-curation extension.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dedup import MERSENNE31, md5_int48, tokens

# n-gram/stopword heuristic language ID: tiny per-language marker lexicons
# (public high-frequency function words). Scores are whole-word hit counts;
# argmax with lexicographic tiebreak.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "and", "is", "of", "to", "in", "that", "it"],
    "es": ["el", "la", "los", "que", "es", "una", "para", "con"],
    "fr": ["le", "les", "des", "est", "une", "dans", "pour", "que"],
}

# Engine-wide "BPE-ish" pre-tokenizer: letter runs, digit runs, or single
# non-space symbols — the standard byte-pair pre-split shape.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_PUNCT_RE = r"[.,;:!?]"
_ALPHA_RE = r"[A-Za-z]"


def marker_hits(text: Column, words: list[str]) -> Column:
    """Whole-word occurrence count of any marker word (case-insensitive)."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat))


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: marker_hits(text, ws) for lang, ws in sorted(LANG_MARKERS.items())}


def lang_id(text: Column) -> Column:
    """Predicted language: argmax marker-hit count, ties → lexicographically
    first language, 'und' (undetermined) when no marker hits at all.

    Expressed as greatest-of + case chain so the same logic is one SQL
    expression for the oracle.
    """
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # reverse order so earlier languages win ties via later when() override
    for lang in sorted(scores, reverse=True):
        pred = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    return pred


def word_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_count(text: Column) -> Column:
    return F.length(text)


def whitespace_token_count(text: Column) -> Column:
    return word_count(text)


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (letter runs / digit runs / symbols)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def punct_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(_PUNCT_RE))


def alpha_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(_ALPHA_RE))


def stopword_count(text: Column) -> Column:
    """Hits of the union of all marker lexicons — a generic stopword rate."""
    all_words = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    return marker_hits(text, all_words)


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality features; ratios rounded to absorb fp noise.

    - mean_word_len: alpha-ish proxy for gibberish (very long/short words)
    - punct_ratio:   punctuation per character
    - stop_ratio:    stopwords per word — near-0 suggests non-linguistic text
    - alpha_ratio:   letters per character
    """
    wc = word_count(text)
    cc = char_count(text)
    safe_wc = F.when(wc > 0, wc).otherwise(F.lit(1))
    safe_cc = F.when(cc > 0, cc).otherwise(F.lit(1))
    return {
        "word_count": wc,
        "char_count": cc,
        "mean_word_len": F.round((cc - wc + 1) / safe_wc, 4),
        "punct_ratio": F.round(punct_count(text) / safe_cc, 4),
        "stop_ratio": F.round(stopword_count(text) / safe_wc, 4),
        "alpha_ratio": F.round(alpha_count(text) / safe_cc, 4),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,100] quality score, integer (hash-stable across engines).

    score = 100 * clamp(alpha_ratio, 0, 1) weighted with stopword presence
    and a length prior; floor'd to int. The exact formula matters less than
    determinism + monotonicity in the signals.
    """
    f = quality_features(text)
    wc = f["word_count"]
    length_prior = F.when(wc >= 100, F.lit(1.0)).otherwise(wc / F.lit(100.0))
    raw = (
        F.lit(50.0) * f["alpha_ratio"]
        + F.lit(30.0) * F.least(f["stop_ratio"] * 5, F.lit(1.0))
        + F.lit(20.0) * length_prior
    )
    return F.floor(raw).cast("long")


def doc_fingerprint(text: Column) -> Column:
    """Order-sensitive rolling document fingerprint in [0, 2^31-1).

    fp = Σ_i (h48(tok_i) mod p) * ((i * 2654435761) mod p) mod p, all mod
    p = 2^31-1 term-wise so every intermediate fits BIGINT (ANSI-safe in
    Spark, reproducible in DuckDB). Unlike a token-set hash, swapping two
    tokens changes the fingerprint (position factor), which is the rolling
    property needed; computed as a closed-form aggregate over the token
    array — no explode, no shuffle.
    """
    toks = tokens(text)
    p = F.lit(MERSENNE31)
    knuth = F.lit(2654435761)
    result = F.aggregate(
        toks,
        F.struct(F.lit(0).cast("long").alias("acc"), F.lit(1).cast("long").alias("i")),
        lambda st, t: F.struct(
            (
                (
                    st["acc"]
                    + ((md5_int48(t) % p) * ((st["i"] * knuth) % p)) % p
                ) % p
            ).alias("acc"),
            (st["i"] + 1).alias("i"),
        ),
        lambda st: st["acc"],
    )
    return result


CLASSIFIER_DIM = 1 << 16


def feature_bucket(tok: Column, dim: int = CLASSIFIER_DIM) -> Column:
    """Hashing-trick feature index: md5-derived 48-bit hash mod dim —
    the fastText/VW bucket every linear text classifier hashes into."""
    return md5_int48(tok) % F.lit(dim)


def stub_classifier_weight(bucket: Column) -> Column:
    """Deterministic stand-in weights in [-1000, 1000] milli-units —
    a Knuth-mix of the bucket index, NOT a trained model (the container
    has no model artifacts); the Spark plumbing is identical for real
    weights via :func:`quality_classifier`'s ``weights`` table path,
    and the closed form is what makes the stub oracle-checkable."""
    knuth = F.lit(2654435761)
    return (bucket * knuth) % F.lit(MERSENNE31) % F.lit(2001) - F.lit(1000)


def classifier_score_int(text: Column, dim: int = CLASSIFIER_DIM) -> Column:
    """Σ stub-weight(bucket(token)) as a closed-form aggregate over the
    token array — zero shuffle, zero Python; |score| ≤ 1000·n_tokens so
    every intermediate fits BIGINT."""
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, t: acc + stub_classifier_weight(feature_bucket(t, dim)),
    )


def quality_classifier(docs, weights=None, dim: int = CLASSIFIER_DIM,
                       threshold_milli: int = 0,
                       id_col: str = "doc_id", text_col: str = "text"):
    """Model-based quality gate (the DCLM / fineweb-edu classifier
    step): a hashed linear text classifier scores every document and
    ``keep`` marks those whose MEAN token score clears
    ``threshold_milli`` — compared in integers as
    ``score_int ≥ threshold_milli·n_tokens`` (score_int is already a
    milli-unit sum) so the gate is exact and hash-stable (no float
    mean).

    Two physical paths, same result:

    - ``weights=None`` — weights come from the closed-form stub: one
      codegen projection per doc, ZERO shuffle at any corpus size (the
      100-TB default: scoring is embarrassingly parallel).
    - ``weights`` = a (bucket, w_milli) DataFrame of TRAINED weights —
      explode tokens → bucket → broadcast-join the ≤dim-row weight
      table → per-doc sum (map-combinable). This is the path a real
      fastText/logreg export plugs into; unseen buckets score 0.

    Returns (id, n_tokens, score_int, keep) for every input doc.
    """
    text = F.col(text_col)
    if weights is None:
        return docs.select(
            id_col,
            F.size(tokens(text)).cast("long").alias("n_tokens"),
            classifier_score_int(text, dim).alias("score_int"),
        ).withColumn(
            "keep",
            F.col("score_int") >= F.lit(threshold_milli) * F.col("n_tokens"),
        )
    ex = docs.select(
        id_col, F.explode(tokens(text)).alias("tok")
    ).select(id_col, feature_bucket(F.col("tok"), dim).alias("bucket"))
    scored = (
        ex.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("w_milli"), F.lit(0)))
            .cast("long").alias("score_int"),
        )
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("score_int"), F.lit(0)).alias("score_int"),
        (
            F.coalesce(F.col("score_int"), F.lit(0))
            >= F.lit(threshold_milli) * F.coalesce(F.col("n_tokens"), F.lit(0))
        ).alias("keep"),
    )


def train_quality_classifier(pos, neg, dim: int = CLASSIFIER_DIM,
                             iters: int = 8, lr: float = 2.0,
                             id_col: str = "doc_id",
                             text_col: str = "text"):
    """Train the hashed linear quality classifier IN Spark — the
    DCLM / fastText recipe end-to-end: ``pos`` (e.g. curated or
    reference-quality docs) vs ``neg`` (raw crawl) become a logistic
    regression over hashing-trick token buckets, and the returned
    ``(bucket, w_milli)`` table plugs straight into
    :func:`quality_classifier`'s trained-weights path (milli-unit
    integers, unseen buckets 0).

    Features are fastText-style mean bucket counts (count/n_tokens per
    doc) so long docs don't dominate; full-batch gradient descent on
    logistic loss, ``iters`` rounds.

    Scale shape: the per-doc (bucket, cnt, n_tokens) design matrix is
    built ONCE (one explode + (doc, bucket) shuffle) and persisted;
    each iteration is two bounded shuffles — score docs via a
    BROADCAST join against the ≤dim-row weight table + per-doc sum,
    then a per-bucket gradient aggregate — with the weight table
    ``localCheckpoint``-ed so lineage stays flat. The training corpus
    streams through executors; only the model (≤dim rows) is ever
    materialized. No oracle (float training by nature) — verified by
    separation tests; the SCORING path it feeds stays oracle-checked.
    """
    labeled = (
        pos.select(F.col(id_col), F.col(text_col)).withColumn(
            "y", F.lit(1.0))
        .unionByName(
            neg.select(F.col(id_col), F.col(text_col)).withColumn(
                "y", F.lit(0.0))
        )
        .withColumn("__row", F.monotonically_increasing_id())
    )
    toks = labeled.select(
        "__row", "y", F.explode(tokens(F.col(text_col))).alias("tok")
    )
    design = (
        toks.groupBy("__row", "y", feature_bucket(F.col("tok"), dim)
                     .alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_tok = design.groupBy("__row").agg(F.sum("cnt").alias("n_tokens"))
    design = design.join(n_tok, "__row").withColumn(
        "x", F.col("cnt") / F.col("n_tokens")
    ).persist()
    n_docs = labeled.count()  # one job; also materializes the persist

    spark = design.sparkSession
    weights = spark.createDataFrame([], "bucket LONG, w DOUBLE")
    for _ in range(iters):
        scored = (
            design.join(F.broadcast(weights), "bucket", "left")
            .groupBy("__row", "y")
            .agg(F.sum(F.col("x") * F.coalesce(F.col("w"), F.lit(0.0)))
                 .alias("s"))
            .withColumn("err",
                        1.0 / (1.0 + F.exp(-F.col("s"))) - F.col("y"))
            .select("__row", "err")
        )
        grad = (
            design.join(scored, "__row")
            .groupBy("bucket")
            .agg((F.sum(F.col("err") * F.col("x")) / F.lit(float(n_docs)))
                 .alias("g"))
        )
        weights = (
            grad.join(F.broadcast(weights), "bucket", "left")
            .select(
                "bucket",
                (F.coalesce(F.col("w"), F.lit(0.0))
                 - F.lit(lr) * F.col("g")).alias("w"),
            )
            .localCheckpoint()
        )
    design.unpersist()
    return weights.select(
        "bucket",
        F.floor(F.col("w") * 1000).cast("long").alias("w_milli"),
    ).filter(F.col("w_milli") != 0)


def quality_score_int(text: Column) -> Column:
    """Hash-stable INTEGER composite quality in [0, 100000] (≈ score ×
    1000): built ONLY from floor-scaled integer ratios — unlike
    :func:`quality_score` (which uses round(), whose halfway behavior
    differs across engines), every step here is bit-identical in Spark
    and the SQL oracle, so it can key oracle-checked rankings.

    q = 5·alpha_x1e4 + 3·min(stop_x1e4·5, 10000) + 2·min(wc·100, 10000)
    """
    wc = word_count(text)
    cc = char_count(text)
    safe_wc = F.when(wc > 0, wc).otherwise(F.lit(1))
    safe_cc = F.when(cc > 0, cc).otherwise(F.lit(1))
    alpha_x = F.floor(alpha_count(text) / safe_cc * 10000)
    stop_x = F.floor(stopword_count(text) / safe_wc * 10000)
    prior_x = F.least(wc.cast("long") * 100, F.lit(10000).cast("long"))
    return (
        F.lit(5) * alpha_x
        + F.lit(3) * F.least(stop_x * 5, F.lit(10000).cast("long"))
        + F.lit(2) * prior_x
    ).cast("long")


# ---- PII redaction (training-data preprocessing) ---------------------------
# Patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition, \b — no lookarounds,
# no backreferences.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    # international-ish phone: +? then 9-14 digits with optional -/space
    # separators, digit-bounded so it won't eat years or small numbers
    "phone": r"\+?[0-9][0-9 -]{7,13}[0-9]",
}
PII_ORDER = ["email", "ipv4", "phone"]  # emails first (contain digits)


def redact_pii(text: Column) -> Column:
    """Redacted text: each PII family replaced by its <TAG> marker, applied
    in PII_ORDER (emails before phones so an address's digits can't be
    half-eaten as a phone number). Pure regexp_replace chain — closed
    form, codegen, linear in corpus bytes."""
    out = text
    for name in PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[name], f"<{name.upper()}>")
    return out


def pii_count(text: Column, kind: str) -> Column:
    """Occurrence count of one PII family (on the ORIGINAL text)."""
    return F.size(F.regexp_extract_all(text, F.lit(PII_PATTERNS[kind]), F.lit(0)))


# Credit-card candidates: two FIXED-SHAPE patterns (contiguous 13-19
# digits; 4-4-4-(1..7) groups with one separator class) — no nested
# quantifiers, so Java's backtracking-greedy and RE2's leftmost-longest
# semantics provably agree on every input.
CC_PATTERNS = [
    r"\b[0-9]{13,19}\b",
    r"\b[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{1,7}\b",
]


def _luhn_ok(digits: Column) -> Column:
    """Luhn checksum over a digit string — pure higher-order-function
    arithmetic (reverse → per-position double-and-fold → aggregate),
    zero Python, bit-identical in any integer engine."""
    ch = F.split(F.reverse(digits), "(?!$)")
    vals = F.transform(
        ch,
        lambda c, i: F.when(i % 2 == 0, c.cast("int")).otherwise(
            F.when(c.cast("int") * 2 > 9, c.cast("int") * 2 - 9)
            .otherwise(c.cast("int") * 2)
        ),
    )
    total = F.aggregate(vals, F.lit(0), lambda a, x: a + x)
    return (total % 10 == F.lit(0)) & (F.length(digits) >= 13)


def cc_luhn_stats(text: Column) -> tuple[Column, Column]:
    """(n_candidates, n_luhn_valid) credit-card-number stats for one
    document — the standard PII precision split: a bare digit-run regex
    overfires on ids/timestamps/serials, so training-data scrubbing
    counts BOTH the candidate hits and the Luhn-checksum-valid subset
    (the actionable number; Luhn catches 100% of single-digit typos, so
    random digit runs pass at only ~10%). Candidates are the union of
    the two fixed-shape ``CC_PATTERNS``; validation strips separators
    then runs :func:`_luhn_ok`. Everything is a closed-form
    regexp_extract_all + HOF pipeline — linear scan, zero shuffle, zero
    Python."""
    cands = F.concat(*[
        F.regexp_extract_all(text, F.lit(p), F.lit(0)) for p in CC_PATTERNS
    ])
    digs = F.transform(
        cands, lambda s: F.regexp_replace(s, "[^0-9]", "")
    )
    valid = F.filter(digs, _luhn_ok)
    return F.size(cands).cast("long"), F.size(valid).cast("long")


# ---- Gopher document-quality rules (Rae et al. 2021, public) ---------------
# The paper's per-document heuristics, in floor-scaled integer form so the
# SQL oracle reproduces every value bit-for-bit. All closed-form array/regex
# expressions — zero shuffle, zero Python.

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

_BULLET_LINE_RE = r"^\s*[-*•]"
_ELLIPSIS_LINE_RE = r"(\.\.\.|…)\s*$"
_SYMBOL_RE = r"#|\.\.\."


def gopher_features(text: Column,
                    stopwords: list[str] | None = None) -> dict[str, Column]:
    """The Gopher rule inputs, each a floor-scaled integer:

    - word_count, mean_word_len_x100 (token chars / tokens)
    - symbol_word_ratio_x1e4 ('#' and '...' per word)
    - bullet_line_frac_x1e4 / ellipsis_line_frac_x1e4 (line shares)
    - alpha_word_frac_x1e4 (words containing a letter)
    - n_gopher_stopwords (distinct hits of the paper's 8-word list by
      default; pass ``stopwords`` to adapt the lexicon to a corpus —
      the rule is "enough distinct function words", not those 8 exact
      strings)
    - dup_line_frac_x1e4 (repeated-lines share, from line_stats)
    """
    toks = tokens(text)
    wc = F.size(toks)
    safe_wc = F.when(wc > 0, wc).otherwise(F.lit(1))
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    safe_lines = F.when(n_lines > 0, n_lines).otherwise(F.lit(1))
    bullet = F.size(F.filter(lines, lambda l: l.rlike(_BULLET_LINE_RE)))
    ellipsis = F.size(F.filter(lines, lambda l: l.rlike(_ELLIPSIS_LINE_RE)))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike(_ALPHA_RE)))
    n_stop = None
    for w in (stopwords if stopwords is not None else GOPHER_STOPWORDS):
        hit = (F.regexp_count(F.lower(text), F.lit(rf"\b{w}\b")) > 0).cast("int")
        n_stop = hit if n_stop is None else n_stop + hit
    return {
        "word_count": wc.cast("long"),
        "mean_word_len_x100": F.floor(tok_chars * 100 / safe_wc).cast("long"),
        "symbol_word_ratio_x1e4": F.floor(
            F.regexp_count(text, F.lit(_SYMBOL_RE)) * 10000 / safe_wc
        ).cast("long"),
        "bullet_line_frac_x1e4": F.floor(bullet * 10000 / safe_lines).cast("long"),
        "ellipsis_line_frac_x1e4": F.floor(
            ellipsis * 10000 / safe_lines
        ).cast("long"),
        "alpha_word_frac_x1e4": F.floor(
            alpha_words * 10000 / safe_wc
        ).cast("long"),
        "n_gopher_stopwords": n_stop.cast("long"),
        "dup_line_frac_x1e4": line_stats(text)["dup_line_frac_x1e4"],
    }


# (threshold, direction) per rule — the paper's published bounds in the
# same floor-scaled integer units as gopher_features
GOPHER_BOUNDS: dict[str, tuple[int, int]] = {
    "word_count": (50, 100_000),
    "mean_word_len_x100": (300, 1_000),
    "symbol_word_ratio_x1e4": (0, 1_000),
    "bullet_line_frac_x1e4": (0, 9_000),
    "ellipsis_line_frac_x1e4": (0, 3_000),
    "alpha_word_frac_x1e4": (8_000, 10_000),
    "n_gopher_stopwords": (2, 8),
    "dup_line_frac_x1e4": (0, 3_000),
}


def gopher_keep(feats: dict[str, Column]) -> Column:
    """Conjunction of all Gopher bounds over :func:`gopher_features`."""
    cond = F.lit(True)
    for name, (lo, hi) in GOPHER_BOUNDS.items():
        cond = cond & feats[name].between(lo, hi)
    return cond


# ---- Repetition quality (Gopher-style filters) -----------------------------

def line_stats(text: Column) -> dict[str, Column]:
    """Closed-form duplicate-line statistics: (n_lines,
    dup_line_frac_x1e4) where the fraction counts lines whose content
    appears more than once — the Gopher "repeated lines" signal. Array
    ops only: no explode, no shuffle."""
    lines = F.split(text, "\n")
    n = F.size(lines)
    n_uniq = F.size(F.array_distinct(lines))
    frac = F.when(
        n > 0, F.floor((n - n_uniq) * 10000 / n).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return {"n_lines": n, "dup_line_frac_x1e4": frac}


def dedup_lines(text: Column) -> Column:
    """Within-document duplicate-line removal: keep each line's FIRST
    occurrence, preserve original order (the C4-style "discard repeated
    lines" cleaner — navboxes, cookie banners, and footers repeat
    verbatim inside a page). ``array_distinct`` is documented
    first-occurrence-order-preserving in Spark, so this is one
    whole-stage-codegen projection: zero shuffle, zero UDF, applies to
    10^10 docs at scan speed. Pair with :func:`line_stats` to count
    what was removed (n_lines - distinct)."""
    return F.array_join(F.array_distinct(F.split(text, "\n")), "\n")


def repetition_stats(docs, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 2):
    """Gopher-style repetition profile per document: duplicate-line
    fraction (closed form) + top word-n-gram share (the "most common
    2-gram > X% of text" filter).

    The n-gram mode needs a per-(doc, gram) count → one shuffle keyed by
    (doc, gram) with map-side partial counts, then a doc-keyed max/sum —
    both uniform keys (doc_id dominates the key), so the plan scales with
    corpus tokens. Docs with no n-grams report share 0.
    Returns (doc_id, n_lines, dup_line_frac_x1e4, n_grams,
    top_gram_share_x1e4).
    """
    from .dedup import shingles

    grams = docs.select(
        id_col, F.explode(shingles(F.col(text_col), n)).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"), F.max("c").alias("top_c")
    )
    ls = line_stats(F.col(text_col))
    base = docs.select(
        id_col,
        ls["n_lines"].alias("n_lines"),
        ls["dup_line_frac_x1e4"].alias("dup_line_frac_x1e4"),
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_lines",
            "dup_line_frac_x1e4",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(
                F.floor(F.col("top_c") * 10000 / F.col("n_grams")),
                F.lit(0),
            ).cast("long").alias("top_gram_share_x1e4"),
        )
    )


def unigram_logprob(docs, vocab_k: int = 50_000, scale: int = 1_000_000,
                    id_col: str = "doc_id", text_col: str = "text"):
    """CCNet-style self-trained language-model quality score: fit a
    unigram model ON the corpus itself (token → count / total), then
    score every document by its mean token log-probability. Low scores
    flag gibberish, boilerplate soup, and OCR noise; high scores flag
    fluent, typical text — the standard perplexity-bucket signal
    (CCNet uses a KenLM 5-gram; the unigram census is its
    distributable, dependency-free floor and ranks the same tails).

    Determinism contract (why integers): mean-of-float-logs is
    summation-order dependent, so the per-token log-prob is quantized
    FIRST — ``qlp(tok) = floor(ln(count/T) * scale)`` computed once per
    DISTINCT token — and the per-doc mean is an exact BIGINT sum of
    those quanta divided once at the end. ln() and one double divide on
    identical inputs are IEEE-identical across engines; the sum is
    order-free.

    Scale story (the whole point vs a naive join): the census is one
    map-combinable token shuffle; the model is capped at the top
    ``vocab_k`` tokens by (count DESC, token ASC) — a bounded table
    that BROADCASTS to the scoring pass, so the 100-TB token stream is
    scored partition-locally with zero additional shuffle. Tokens
    outside the vocab score at the rarest-possible floor ln(1/T)
    (count = 1), the usual OOV backstop. The only other exchange is
    the final per-doc aggregate.

    Returns (doc_id, n_tokens, n_oov, logprob_q) per input doc;
    token-less docs report (0, 0, 0).
    """
    toks = docs.select(id_col, F.explode(tokens(F.col(text_col))).alias("tok"))
    census = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # T = Σ census counts = Σ per-doc token counts: one cheap size()
    # projection instead of re-running the explode+census subtree
    # (same rewrite as bigram_logprob; value identical by construction)
    total = docs.agg(
        F.sum(F.size(tokens(F.col(text_col))).cast("long"))
        .cast("double").alias("t")
    )
    vocab = (
        census.orderBy(F.col("c").desc(), F.col("tok"))
        .limit(vocab_k)
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            F.floor(F.log(F.col("c") / F.col("t")) * scale)
            .cast("long").alias("qlp"),
        )
    )
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.coalesce(
                F.col("qlp"),
                F.floor(F.log(F.lit(1.0) / F.col("t")) * scale).cast("long"),
            ).alias("qlp"),
            F.col("qlp").isNull().cast("long").alias("oov"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("oov").alias("n_oov"),
            F.floor(F.sum("qlp") / F.count(F.lit(1)))
            .cast("long").alias("logprob_q"),
        )
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
        F.coalesce(F.col("logprob_q"), F.lit(0)).cast("long").alias("logprob_q"),
    )


def unigram_logprob_gate(docs, p: float = 0.1, vocab_k: int = 50_000,
                         id_col: str = "doc_id", text_col: str = "text"):
    """Corpus-relative fluency gate over :func:`unigram_logprob`: keep
    a document iff its mean token log-prob reaches the corpus-wide
    ``p``-th percentile — "drop the most-gibberish tail", the CCNet
    tail-bucket cut. The threshold is percentile_approx (fixed-memory
    sketch — logprob_q is NOT bounded-domain, so the exact
    value→count-map percentile of quality_quantile_gate would not be
    scale-safe here) computed as a ONE-ROW aggregate and cross-joined
    back broadcast, so the gate stays a single Catalyst plan with no
    driver-side action. Returns (doc_id, logprob_q, thr, keep)."""
    lp = unigram_logprob(docs, vocab_k=vocab_k, id_col=id_col,
                         text_col=text_col)
    thr = lp.agg(
        F.percentile_approx("logprob_q", p).cast("long").alias("thr")
    )
    return lp.crossJoin(F.broadcast(thr)).select(
        id_col, "logprob_q", "thr",
        (F.col("logprob_q") >= F.col("thr")).alias("keep"),
    )


def ccnet_buckets(docs, vocab_k: int = 50_000, id_col: str = "doc_id",
                  text_col: str = "text", lang_col: str | None = None):
    """CCNet head/middle/tail perplexity buckets (Wenzek et al. 2020):
    per LANGUAGE, split the corpus into the fluent top third ("head"),
    the middle third, and the gibberish bottom third ("tail") of the LM
    quality score — the bucket label downstream mixers use to oversample
    head and drop or downweight tail. Score = :func:`unigram_logprob`
    (the distributable floor of CCNet's KenLM perplexity; higher = more
    fluent). ``lang_col`` names an existing language column; ``None``
    predicts with :func:`lang_id`.

    Thresholds are EXACT per-language tertiles in pure integer
    arithmetic — ``q1`` = smallest score whose cumulative doc count
    satisfies ``3·cum ≥ total``, ``q2`` likewise for ``3·cum ≥
    2·total`` — so Spark and any ANSI oracle agree bit-for-bit (no
    percentile_approx sketch, no float comparison). Buckets:
    ``head`` (score > q2), ``middle`` (q1 < score ≤ q2), ``tail``.
    Ties collapse downward, so head never exceeds a third.

    Scale shape: the scoring is unigram_logprob's census + broadcast
    model; the threshold pass groups to DISTINCT (lang, score) pairs
    first — the per-language cumulative window then sorts only distinct
    quantized scores (slim 16-byte rows, ≤ millions per language at web
    scale, one task per language), never the corpus. The (lang, q1, q2)
    table is languages-sized and broadcasts back. Returns
    (id, lang, logprob_q, q1, q2, bucket) for every doc.
    """
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    lp = unigram_logprob(docs, vocab_k=vocab_k, id_col=id_col,
                         text_col=text_col)
    lang = (F.col(lang_col) if lang_col
            else lang_id(F.col(text_col))).alias("lang")
    # scored feeds three consumers (cumulative counts, per-lang totals,
    # the final bucket join) — persist so the census+scoring subtree
    # runs once, not once per consumer
    scored = docs.select(id_col, lang).join(lp, id_col).persist(
        StorageLevel.MEMORY_AND_DISK)

    counts = scored.groupBy("lang", "logprob_q").agg(
        F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy("logprob_q")
    cdf = counts.withColumn("cum", F.sum("c").over(w))
    totals = counts.groupBy("lang").agg(F.sum("c").alias("tot"))
    q = (
        cdf.join(F.broadcast(totals), "lang")
        .groupBy("lang")
        .agg(
            F.min(F.when(3 * F.col("cum") >= F.col("tot"),
                         F.col("logprob_q"))).alias("q1"),
            F.min(F.when(3 * F.col("cum") >= 2 * F.col("tot"),
                         F.col("logprob_q"))).alias("q2"),
        )
    )
    s = F.col("logprob_q")
    return scored.join(F.broadcast(q), "lang").select(
        id_col, "lang", "logprob_q", "q1", "q2",
        F.when(s > F.col("q2"), F.lit("head"))
        .when(s > F.col("q1"), F.lit("middle"))
        .otherwise(F.lit("tail")).alias("bucket"),
    )


# Unicode scripts profiled by script_profile — Java regex (Spark) uses
# \p{IsXxx}; the DuckDB oracle writes RE2's \p{Xxx} for the same sets.
SCRIPTS = ["arabic", "cyrillic", "han", "hangul", "latin"]


def script_profile(text: Column) -> dict[str, Column]:
    """Unicode script census per document — the mC4/CCNet pre-filter
    that routes docs to per-language pipelines and drops script-mixed
    spam (a "Latin" page that is 40% Han is usually SEO garbage).
    Closed-form regexp_count projections (zero shuffle, codegen'd):
    per-script char counts plus ``main_script`` = argmax count
    (lexicographic tiebreak, 'und' when no scripted chars at all —
    digits/punct-only docs).
    """
    counts = {
        s: F.regexp_count(text, F.lit(rf"\p{{Is{s.capitalize()}}}"))
        for s in SCRIPTS
    }
    best = F.greatest(*counts.values())
    main = F.lit("und")
    for s in sorted(SCRIPTS, reverse=True):
        main = F.when(
            (counts[s] > 0) & (counts[s] == best), F.lit(s)
        ).otherwise(main)
    out = {f"n_{s}": c for s, c in counts.items()}
    out["main_script"] = main
    return out


def doc_keywords(docs, k: int = 5, id_col: str = "doc_id",
                 text_col: str = "text"):
    """Per-document top-``k`` TF-IDF keywords — the classic retrieval /
    corpus-exploration census ("what is this page about"), used to label
    clusters, seed topic mixes, and audit what a training slice actually
    contains. No reference analog (the crawler stores raw text only);
    engine corpus-analysis extension alongside :func:`top_ngrams`.

    Determinism contract: idf is quantized ONCE per distinct token —
    ``idf_u = floor(ln(N / df) * 1e6)`` (one double divide + ln on
    identical inputs is IEEE-identical across engines, same contract as
    unigram_logprob) — and the score is the exact BIGINT product
    ``tf * idf_u``. Ties break (score DESC, token ASC).

    Plan at 100 TB: tf census = one map-combinable (doc, token) shuffle;
    df census rides the tf output with a second map-combinable token
    shuffle (input already one row per (doc, token)); N is a one-row
    broadcast cross join (constant); the tf⋈idf join shuffles on token —
    stopword keys are heavy on the probe side, but the build side is ONE
    row per token, so AQE's skew-join split handles the head (the build
    partition replicates; no salting needed); the final per-doc top-k is
    a row_number window that gets Spark 4's map-side
    WindowGroupLimit(Partial) — each map task forwards ≤ k rows per doc.

    Returns (doc_id, tok, tf, idf_u, score, rank), rank 1..k per doc;
    token-less docs are absent (nothing to rank).
    """
    from pyspark.sql.window import Window

    toks = docs.select(id_col, F.explode(tokens(F.col(text_col))).alias("tok"))
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            F.floor(F.log(F.col("n") / F.col("df")) * 1_000_000)
            .cast("long").alias("idf_u"),
        )
    )
    scored = tf.join(idf, "tok").withColumn(
        "score", (F.col("tf") * F.col("idf_u")).cast("long")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "tok", F.col("tf").cast("long").alias("tf"),
                "idf_u", "score", "rank")
    )


def bigram_logprob(docs, vocab_k: int = 50_000, bigram_k: int = 200_000,
                   scale: int = 1_000_000, id_col: str = "doc_id",
                   text_col: str = "text"):
    """Interpolated-bigram LM quality score — one rung up the CCNet
    ladder from :func:`unigram_logprob` (CCNet proper uses a KenLM
    5-gram; the bigram census captures local word order, which the
    unigram floor is blind to: 'the the the the' scores HIGH under a
    unigram model and low here).

    Model: Lidstone-interpolated bigram with unigram backoff,

        p(w2 | w1) = (c12 + 1 * c2/T) / (c1 + 1)

    where c12 = bigram count, c1/c2 = unigram counts, T = total
    tokens. Unseen bigrams fall back to c12 = 0 (pure unigram mass);
    tokens outside the top-``vocab_k`` unigram vocabulary take the
    rarest-possible c = 1, the same OOV backstop as unigram_logprob.

    Determinism contract: the per-pair log-prob is evaluated by ONE
    double expression written identically in Spark and the oracle —
    ``floor(ln((CAST(c12 AS DOUBLE) * T + c2) / ((c1 + 1.0) * T)) *
    scale)`` — on integer-derived inputs (the double cast happens
    FIRST in both engines, so c12*T never overflows int64 at web
    scale), then summed as exact BIGINTs and divided once at the end.

    Scale story: two map-combinable censuses (tokens, bigrams), both
    capped by (count DESC, key ASC) to bounded tables that BROADCAST
    to the scoring pass — the 100-TB bigram stream is scored
    partition-locally; the only other exchange is the per-doc
    aggregate. Same three-exchange shape as unigram_logprob.

    Returns (doc_id, n_bigrams, n_oov, logprob_q) per input doc;
    docs with < 2 tokens report (0, 0, 0).
    """
    from .dedup import shingles, tokens as _tokens

    toks = docs.select(id_col, F.explode(_tokens(F.col(text_col))).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # T = Σ census counts = Σ per-doc token counts: the size() form
    # costs one cheap projection pass instead of re-running the
    # explode+census subtree a second time (Catalyst does not reuse it)
    total = docs.agg(
        F.sum(F.size(_tokens(F.col(text_col))).cast("long"))
        .cast("long").alias("t")
    )
    uvocab = (
        uni.orderBy(F.col("c").desc(), F.col("tok"))
        .limit(vocab_k)
        .select("tok", "c")
    )
    # the bigram stream has two consumers (vocab census + scoring join)
    # and the interpreted higher-order shingle transform dominates its
    # cost — persist so it evaluates once, not once per consumer. The
    # CacheManager keeps the entry after the query finishes, so a later
    # bigram_logprob over the same docs reuses it (ROADMAP item 1).
    bgs = docs.select(
        id_col, F.explode(shingles(F.col(text_col), 2)).alias("bg")
    ).persist()
    bvocab = (
        bgs.groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .orderBy(F.col("c12").desc(), F.col("bg"))
        .limit(bigram_k)
    )
    parts = F.split(F.col("bg"), " ")
    scored = (
        bgs.join(F.broadcast(bvocab), "bg", "left")
        .withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .join(
            F.broadcast(uvocab.select(F.col("tok").alias("w1"),
                                      F.col("c").alias("c1"))),
            "w1", "left",
        )
        .join(
            F.broadcast(uvocab.select(F.col("tok").alias("w2"),
                                      F.col("c").alias("c2"))),
            "w2", "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.col("c12").isNull().cast("long").alias("oov"),
            F.floor(
                F.log(
                    (
                        F.coalesce(F.col("c12"), F.lit(0)).cast("double")
                        * F.col("t")
                        + F.coalesce(F.col("c2"), F.lit(1))
                    )
                    / (
                        (F.coalesce(F.col("c1"), F.lit(1)) + F.lit(1.0))
                        * F.col("t")
                    )
                )
                * scale
            ).cast("long").alias("qlp"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("oov").cast("long").alias("n_oov"),
            F.floor(F.sum("qlp") / F.count(F.lit(1)))
            .cast("long").alias("logprob_q"),
        )
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
        F.coalesce(F.col("logprob_q"), F.lit(0)).cast("long").alias("logprob_q"),
    )


def tokenizer_stats(docs, lang_col: str = "lang",
                    text_col: str = "text") -> "DataFrame":
    """Per-language tokenizer census: document/byte/token totals plus
    the two numbers a tokenizer evaluation reads first —

    - ``bytes_per_bpe_x100``: compression, UTF-8 bytes per BPE-ish
      pre-token ×100 (lower = the tokenizer packs more text per token);
    - ``fertility_x1e4``: BPE-ish pre-tokens per whitespace word ×1e4
      (how many subword pieces an average word fragments into — the
      standard cross-language tokenizer-fairness metric).

    Token definitions are the engine-wide ones (:data:`BPE_TOKEN_RE`
    pre-tokens, ``str.split`` words) so the numbers are comparable with
    every other census; byte counts are ``octet_length`` (UTF-8), which
    is what a storage/training-budget planner actually pays. Ratios are
    integral ``DIV`` on the per-language sums — order-free, exact,
    hash-matchable.

    Scale: one zero-shuffle projection + one |langs|-bounded groupBy
    (map-side combinable). Engine extension (no reference analog).
    """
    t = F.col(text_col)
    base = docs.select(
        F.col(lang_col).alias("lang"),
        F.octet_length(t).cast("long").alias("__b"),
        whitespace_token_count(t).cast("long").alias("__w"),
        bpe_token_count(t).cast("long").alias("__p"),
    )
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__b").cast("long").alias("n_bytes"),
            F.sum("__w").cast("long").alias("ws_tokens"),
            F.sum("__p").cast("long").alias("bpe_tokens"),
        )
        .select(
            "lang", "n_docs", "n_bytes", "ws_tokens", "bpe_tokens",
            F.expr("CAST((100 * n_bytes) DIV greatest(bpe_tokens, 1)"
                   " AS BIGINT)").alias("bytes_per_bpe_x100"),
            F.expr("CAST((10000 * bpe_tokens) DIV greatest(ws_tokens, 1)"
                   " AS BIGINT)").alias("fertility_x1e4"),
        )
        .orderBy("lang")
    )


def host_language_mix(docs, host_col: str = "source",
                      lang_col: str = "lang"):
    """Per-host language-mix census — the mixed-language-host signal a
    CCNet/FineWeb-style pipeline uses to catch machine-translated or
    scraped-aggregator sites (an organic host publishes overwhelmingly
    in one language; MT spam farms publish the same content in many):

    - ``top_share_bp``: share of the host's docs in its majority
      language, integer basis points (floor); majority ties break
      (count DESC, lang ASC) via a ``min(struct(-n, lang))`` carrier —
      no window, no second doc shuffle.
    - ``lang_entropy_micro``: Shannon entropy of the language
      distribution in micro-nats, quantized the BM25-IDF way:
      per-language weight ``w = floor(1e6 * ln(N / n))`` (ONE float ln,
      floored immediately), then the exact integer rollup
      ``sum(n * w) div N``. 0 = monolingual; ~ln(k)·1e6 = uniform over
      k languages. Engines agree because the only float op is the ln of
      a ratio of two BIGINTs — identical doubles in JVM and DuckDB.

    Plan: ONE (host, lang) census over the doc rows (map-side
    combinable; output bounded by |hosts| × |langs|), a host rollup,
    then the entropy terms join the host totals back — every post-census
    stage runs on the census table, never the corpus. Returns
    ``(host, n_docs, n_langs, top_lang, top_share_bp,
    lang_entropy_micro)``.
    """
    census = (
        docs.select(
            F.col(host_col).alias("host"), F.col(lang_col).alias("lang")
        )
        .groupBy("host", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rolled = census.groupBy("host").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("lang")))
        .alias("_top"),
    )
    ent = (
        census.join(rolled.select("host", "n_docs"), "host")
        .select(
            "host",
            (
                F.col("n")
                * F.floor(
                    F.log(F.col("n_docs") / F.col("n")) * F.lit(1_000_000)
                ).cast("long")
            ).alias("_term"),
            "n_docs",
        )
        .groupBy("host")
        .agg(
            F.expr("sum(_term) div any_value(n_docs)").cast("long")
            .alias("lang_entropy_micro")
        )
    )
    return (
        rolled.join(ent, "host")
        .select(
            "host", "n_docs", "n_langs",
            F.col("_top.lang").alias("top_lang"),
            F.expr("10000 * (-_top.neg_n) div n_docs").cast("long")
            .alias("top_share_bp"),
            "lang_entropy_micro",
        )
    )


def collocations(docs, k: int = 50, min_count: int = 5,
                 scale: int = 1_000_000, text_col: str = "text"):
    """Top-``k`` word-bigram collocations by pointwise mutual
    information — Church & Hanks (1990), the standard corpus-analysis
    pass for finding lexicalized phrases ("new york", "machine
    learning") that a whitespace tokenizer splits. A curation pipeline
    reads it to audit what a BPE merge list should capture, and a
    boilerplate hunt reads the top PMI pairs as template-phrase
    candidates.

        pmi = ln( c12 * T / (c1 * c2) )

    with c12 = bigram count (>= ``min_count``, the classic sparse-PMI
    guard), c1/c2 = unigram counts, T = total tokens. Determinism
    contract: one double expression written identically in Spark and
    DuckDB — ``floor(ln((CAST(c12 AS DOUBLE) * T) / (CAST(c1 AS
    DOUBLE) * c2)) * scale)`` — on integer-derived inputs (the double
    cast happens FIRST, so c12*T never overflows int64 at web scale);
    ranking and the final tie-break (pmi DESC, bigram ASC) are then
    integer-exact. Returns (w1, w2, c12, c1, c2, pmi_q, rank).

    Scale shape: one token census + one bigram census (both
    map-side-combinable), two vocabulary-keyed hash joins of the
    min_count-surviving bigram table against the unigram census, one
    1-row total broadcast, and a global top-k that Spark executes as
    TakeOrdered (per-partition heaps, never a full sort) — the same
    exchange budget as bigram_logprob minus the per-doc pass.
    """
    from pyspark.sql.window import Window

    from .dedup import tokens as _tokens

    toks = docs.select(F.explode(_tokens(F.col(text_col))).alias("tok"))
    uni = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    total = uni.agg(F.sum("c").cast("long").alias("t"))
    arr = _tokens(F.col(text_col))
    bg = docs.select(
        F.explode(
            F.when(
                F.size(arr) >= 2,
                F.zip_with(
                    F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(1))),
                    F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(1))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    scored = (
        big.join(uni.select(F.col("tok").alias("w1"),
                            F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"),
                         F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "c12", "c1", "c2",
            F.floor(
                F.log(
                    (F.col("c12").cast("double") * F.col("t"))
                    / (F.col("c1").cast("double") * F.col("c2"))
                )
                * scale
            ).cast("long").alias("pmi_q"),
        )
    )
    ranked = scored.orderBy(
        F.col("pmi_q").desc(), "w1", "w2"
    ).limit(k)
    return ranked.select(
        "*",
        F.row_number().over(
            Window.orderBy(F.col("pmi_q").desc(), "w1", "w2")
        ).cast("long").alias("rank"),
    )
