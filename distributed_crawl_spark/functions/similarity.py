"""Embedding similarity search over array<float> columns.

Three tiers, all pure DataFrame plans:

- **brute-force cosine top-k** — the correctness baseline. Query set joins
  the candidate set (broadcast when the query side is small, the usual
  case), cosine computed JVM-side with higher-order array functions
  (zip_with + aggregate → whole-stage codegen, no Python), ranked with a
  window. Cost O(|Q| × N) — fine for |Q| small even at huge N because the
  candidate side streams.

- **LSH-bucketed (random hyperplane)** — the scale path. A deterministic
  hyperplane matrix (md5-derived, engine-portable) maps each vector to a
  sign-bit bucket; candidates are compared only within the query's bucket.
  At 10^10 vectors the bucket join replaces the full scan; recall is tuned
  by the number of planes (fewer planes → bigger buckets → higher recall).

- **IVF-Flat (inverted file)** — the other classic scale path. Vectors are
  assigned to the nearest of K coarse centroids (one cell each); queries
  probe their nprobe nearest cells and rank exactly within them. The
  codebook is any small (cell_id, centroid) table — trained offline at
  scale, a deterministic md5-seeded sample here so the oracle reproduces.

All arithmetic is double-precision and reproducible in ANSI SQL so the
DuckDB oracle verifies values, not just shapes. Cosines are floor-scaled
to integer milli-units before output/compare (floor is hash-stable across
engines; round() impls disagree at representability edges).

The reference crawler has no embedding operators; this is the engine's
training-data-pipeline extension (near-dup filtering / retrieval over
Common-Crawl-scale corpora).
"""

from __future__ import annotations

from functools import lru_cache as _lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_PLANES = 8  # LSH hyperplanes → 256 buckets

# Named (planes, tables) operating points, chosen from the measured
# recall@5 study in BENCH.md (i.i.d. gaussian corpus — the WORST case for
# hyperplane LSH; clustered real corpora recall higher at every point).
# Probe cost per query ~ tables * N / 2^planes candidates.
LSH_PRESETS: dict[str, dict[str, int]] = {
    # cheapest probe (N/256 per query); right for tightly clustered
    # corpora — measured worst case 0.016 recall@5 on a diffuse one
    "fast": {"n_planes": 8, "n_tables": 1},
    # default: 4 independent 64-bucket tables — measured 0.220 recall@5
    # on the diffuse corpus at ~N/16 probe cost
    "balanced": {"n_planes": 6, "n_tables": 4},
    # measured 0.692 recall@5; ~N/2 probe cost on a diffuse corpus (its
    # value is on clustered corpora, where buckets stay selective)
    "accurate": {"n_planes": 4, "n_tables": 8},
}


def _lsh_params(preset: str | None, n_planes: int, n_tables: int) -> tuple[int, int]:
    if preset is None:
        return n_planes, n_tables
    p = LSH_PRESETS[preset]
    return p["n_planes"], p["n_tables"]


def as_double(vec: Column) -> Column:
    """Cast array<float> → array<double> so all math is f64 (matches the
    oracle; float32 partial sums would diverge)."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + aggregate — JVM codegen, sequential
    left-to-right summation (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@_lru_cache(maxsize=256)
def _dot_cols(a_name: str, b_name: str) -> Column:
    """`dot` over two NAMED columns, memoized: building the
    higher-order expression costs ~60 py4j round-trips, and the ivf
    family re-builds the same (qv, cv)-style trees on every plan
    construction. Column expression trees are immutable and resolve by
    name at analysis, so one cached instance serves every plan in the
    process."""
    return dot(F.col(a_name), F.col(b_name))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


@_lru_cache(maxsize=256)
def _norm_col(name: str) -> Column:
    """Memoized :func:`norm` over a NAMED column (see _dot_cols)."""
    return norm(F.col(name))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     scale: int = 1000) -> DataFrame:
    """Exact cosine top-k per query vector.

    `queries` has (query_id, embedding). Broadcast the query side — the
    candidate scan then pipelines with no shuffle; the only shuffle is the
    window over query_id (|Q|×N rows pre-top-k; AQE coalesces).
    Ties break on candidate id ascending (deterministic).
    Returns (query_id, vec_id, rank, cos).
    """
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm_col("qv"))
    c = vectors.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm_col("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        # norms hoisted to each side — one dot per scored pair, and
        # dot/(qn*cn) is bit-identical to cosine(qv, cv)
        .withColumn("cos", _dot_cols("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.floor(F.col("cos") * scale).cast("long").alias("cos_m"))
    )


def plane_component(j: int, d: int, table: int = 0) -> int:
    """Deterministic pseudo-random hyperplane component in [-1000, 1000]:
    md5-prefix int of 'j_d' (table 0, the legacy derivation) or 't{t}_j_d'
    for additional hash tables. Portable: the DuckDB oracle computes the
    identical value as ``CAST('0x'||substr(md5(j||'_'||d),1,8) AS BIGINT)
    % 2001 - 1000``."""
    import hashlib

    seed = f"{j}_{d}" if table == 0 else f"t{table}_{j}_{d}"
    h = int(hashlib.md5(seed.encode()).hexdigest()[:8], 16)
    return h % 2001 - 1000


def plane_matrix(n_planes: int, dim: int, table: int = 0) -> list[list[int]]:
    return [
        [plane_component(j, d, table) for d in range(dim)]
        for j in range(n_planes)
    ]


def lsh_bucket(vec: Column, dim: int, n_planes: int = N_PLANES,
               table: int = 0) -> Column:
    """Random-hyperplane bucket id: bit j = sign(v · plane_j).

    The plane matrix is baked in as literal arrays (it's tiny and
    deterministic), so the bucket is a closed-form zip_with/aggregate over
    the row — no join, no shuffle, embarrassingly parallel, codegen'd.
    """
    planes = plane_matrix(n_planes, dim, table)
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        plane = F.array(*[F.lit(float(v)) for v in planes[j]])
        proj = dot(vec, plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return bucket


def _bucket_tagged(df: DataFrame, id_alias: str, vec_alias: str,
                   id_col: str, vec_col: str, dim: int, n_planes: int,
                   n_tables: int) -> DataFrame:
    """(id, vec, norm, tbl, bucket): one row per (vector, hash table).
    With n_tables=1 this is the single-bucket tagging; more tables
    multiply the candidate rows (and recall) by T while keeping every
    join an equi-join on (tbl, bucket).

    The vector NORM rides along (one evaluation per tagged row): the
    candidate-pair cosine downstream then costs one dot product instead
    of dot + two norm re-computations per pair — at sum-of-squared-
    bucket-sizes pair counts that's ~3× less higher-order-function work,
    and ``dot/(norm_a*norm_b)`` is bit-identical to ``cosine(a, b)``.

    Physical form (round 6): an Arrow ``mapInPandas`` kernel — the
    T×P plane projections and the norm were interpreted higher-order
    dot products per row (24 of them at the 'balanced' preset) and
    dominated both LSH queries' walls.  The numpy kernel accumulates
    every projection dimension-by-dimension in the fold's IEEE order
    (see _np_cs_matrix), so each projection's sign — and therefore
    every bucket id — and the norms are bit-identical.
    """
    import numpy as np
    import pandas as pd

    W = np.array(
        [plane_matrix(n_planes, dim, t) for t in range(n_tables)],
        dtype=np.float64,
    )  # (T, P, dim) — integer-valued, exact in f64
    id_t = df.schema[id_col].dataType.simpleString()
    pow2 = np.array([1 << j for j in range(n_planes)], dtype=np.int64)

    def _tag(it):
        for pdf in it:
            if not len(pdf):
                continue
            A = np.array(pdf["__v"].tolist(), dtype=np.float64)
            n = A.shape[0]
            acc = np.zeros(n)
            proj = np.zeros((n_tables, n_planes, n))
            for d in range(dim):
                c = A[:, d]
                acc = acc + c * c                      # ordered, = norm()
                proj += W[:, :, None, d] * c[None, None, :]  # ordered dot
            norms = np.sqrt(acc)
            # bucket_t = Σ_j 2^j [proj_tj > 0] — order-free integer sum
            buckets = ((proj > 0).astype(np.int64)
                       * pow2[None, :, None]).sum(axis=1)  # (T, n)
            ids = pdf["__id"].to_numpy()
            out = {
                id_alias: np.tile(ids, n_tables),
                vec_alias: list(pdf["__v"]) * n_tables,
                f"{vec_alias}_n": np.tile(norms, n_tables),
                "tbl": np.repeat(np.arange(n_tables, dtype=np.int32), n),
                "bucket": buckets.reshape(-1),
            }
            yield pd.DataFrame(out)

    return df.select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    ).mapInPandas(
        _tag,
        f"{id_alias} {id_t}, {vec_alias} array<double>, "
        f"{vec_alias}_n double, tbl int, bucket long",
    )


def lsh_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_planes: int = N_PLANES, scale: int = 1000,
             dim: int = 64, n_tables: int = 1,
             preset: str | None = None) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to the query's
    hyperplane bucket(s). The bucket equi-join is the scale move —
    candidate work per query drops from N to ~T·N/2^planes on average.

    ``n_tables`` > 1 unions candidates from T independent hyperplane sets
    (classic multi-table LSH): recall rises toward exact at T× the probe
    cost. A candidate found by several tables is scored once (max over
    identical cosines). ``preset`` ("fast" | "balanced" | "accurate")
    picks a measured (planes, tables) point from :data:`LSH_PRESETS`.
    Returns (query_id, vec_id, rank, cos).
    """
    from pyspark.sql.window import Window

    n_planes, n_tables = _lsh_params(preset, n_planes, n_tables)
    q = _bucket_tagged(
        queries, "query_id", "qv", id_col, vec_col, dim, n_planes, n_tables
    )
    c = _bucket_tagged(
        vectors, "vec_id", "cv", id_col, vec_col, dim, n_planes, n_tables
    )
    scored = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        # dot/(n_q*n_c) == cosine(qv, cv) bit-for-bit; norms were hoisted
        # to the tagged rows so each pair pays ONE dot product
        .withColumn(
            "cos",
            _dot_cols("qv", "cv") / (F.col("qv_n") * F.col("cv_n")),
        )
    )
    if n_tables > 1:  # same pair from several tables → score once
        scored = scored.groupBy("query_id", "vec_id").agg(
            F.max("cos").alias("cos")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.floor(F.col("cos") * scale).cast("long").alias("cos_m"))
    )


def seed_centroids(vectors: DataFrame, n_cells: int,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Deterministic coarse-quantizer codebook for IVF: the ``n_cells``
    vectors with the smallest md5(id) — a portable, stride-free random
    sample (both engines order the same hex strings the same way).

    On a real corpus you'd train the codebook offline with k-means and
    hand it in as a table; every IVF plan below takes *any* (cell_id,
    centroid) table. The seeded sample is the deterministic stand-in that
    keeps the oracle reproducible. Returns (cell_id, centroid).
    """
    return (
        vectors.select(
            F.col(id_col).alias("cell_id"),
            as_double(F.col(vec_col)).alias("centroid"),
        )
        .orderBy(F.md5(F.col("cell_id").cast("string").cast("binary")),
                 F.col("cell_id"))
        .limit(n_cells)
    )


def kmeans_codebook(vectors: DataFrame, n_cells: int = 32, n_iters: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int = 64,
                    sample_fraction: float | None = None) -> DataFrame:
    """Train a real IVF coarse quantizer with DataFrame-native Lloyd's
    iterations (replaces the :func:`seed_centroids` sample stand-in when
    recall matters).

    Each iteration is two distributed steps:

    - **assign**: the closed-form literal-codebook argmax from
      :func:`ivf_assign` (nprobe=1) — a pure projection, no N×K shuffle;
    - **update**: per-cell centroid mean as ``dim`` AVG AGGREGATE COLUMNS
      of one ``groupBy(cell_id)`` (the columnar-minhash trick) — one
      K-row-output shuffle with map-side partial sums, never a
      per-component explode.

    The K-row codebook round-trips through the driver between iterations
    (the standard iterative-algorithm shape; K is tiny by construction).
    Cells that lose every member keep their previous centroid. At corpus
    scale pass ``sample_fraction`` — k-means needs only a representative
    sample (seeded, deterministic split), while assignment of the full
    corpus stays a projection in :func:`ivf_topk`.

    Float caveat: AVG over doubles is order-dependent at the ulp level,
    so trained centroids are not bit-reproducible across cluster layouts
    — this trainer feeds the recall path (tools/ann_recall.py), not the
    value-hashed oracle contract (which keeps the seeded codebook).
    Returns (cell_id, centroid) with cell_id = 0..n_cells-1.
    """
    v = vectors.select(as_double(F.col(vec_col)).alias("v"))
    if sample_fraction is not None:
        v = v.sample(fraction=sample_fraction, seed=42)
    spark = vectors.sparkSession
    seeds = seed_centroids(vectors, n_cells, id_col, vec_col).collect()
    cent = {i: list(r.centroid) for i, r in enumerate(seeds)}

    def to_df(c: dict[int, list[float]]) -> DataFrame:
        return spark.createDataFrame(
            [(cid, vec) for cid, vec in sorted(c.items())],
            "cell_id long, centroid array<double>",
        )

    for _ in range(n_iters):
        assigned = ivf_assign(
            v.selectExpr("monotonically_increasing_id() AS _id", "v"),
            to_df(cent), nprobe=1, id_col="_id", vec_col="v",
            out_id="_id", out_vec="v",
        )
        stats = assigned.groupBy("cell_id").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.avg(F.col("v")[d]).alias(f"c{d}") for d in range(dim)],
        ).collect()
        for r in stats:  # empty cells keep their previous centroid
            cent[r.cell_id] = [r[f"c{d}"] for d in range(dim)]
    return to_df(cent)


def ivf_assign(vectors: DataFrame, centroids: DataFrame, nprobe: int = 1,
               id_col: str = "vec_id", vec_col: str = "embedding",
               out_id: str = "vec_id", out_vec: str = "v") -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by cosine.

    Two physical strategies, same semantics (ties break on cell_id
    ascending, deterministic):

    - ``nprobe == 1`` (the big candidate side): broadcast crossJoin
      fan-out + ``max_by`` ARGMAX AGGREGATION. The K-per-vector rows are
      collapsed by partial (map-side) aggregation before any exchange,
      so the one shuffle carries N rows — never the N×K that the
      row_number window pushed through a vec_id-keyed exchange — and the
      per-pair cosine stays in codegen. Measured at sf0.1: 0.4-1.0s vs
      1.5-4.4s for the window form and 2.6-3.7s for a zero-shuffle
      literal-codebook projection (K nested higher-order lambdas per row
      drop to interpreted evaluation — "no shuffle" lost to a 10×
      per-row CPU constant; tried and rejected).
    - ``nprobe > 1`` (the tiny query side): the K-fan-out crossJoin with
      a row_number window — fine because |Q| is small.

    Returns (out_id, out_vec, cell_id).
    """
    v = vectors.select(
        F.col(id_col).alias(out_id), as_double(F.col(vec_col)).alias(out_vec)
    ).withColumn("_vn", _norm_col(out_vec))
    # hoisted norms: one norm per vector row and one per centroid row
    # instead of per (vector, centroid) pair; dot/(_vn*_cn) is
    # bit-identical to cosine(v, centroid)
    cent = centroids.select(
        "cell_id", "centroid", _norm_col("centroid").alias("_cn")
    )
    scored = v.crossJoin(F.broadcast(cent)).withColumn(
        "ccos",
        _dot_cols(out_vec, "centroid")
        / (F.col("_vn") * F.col("_cn")),
    )
    if nprobe == 1:
        # ordering key (ccos, -cell_id): max cosine, then MIN cell_id —
        # identical to row_number() ORDER BY ccos DESC, cell_id ASC
        best = scored.groupBy(out_id).agg(
            F.max_by(
                F.struct("cell_id", out_vec),
                F.struct(F.col("ccos").alias("c"),
                         (-F.col("cell_id")).alias("negid")),
            ).alias("b")
        )
        return best.select(
            out_id, F.col(f"b.{out_vec}").alias(out_vec),
            F.col("b.cell_id").alias("cell_id"),
        )

    from pyspark.sql.window import Window

    w = Window.partitionBy(out_id).orderBy(F.desc("ccos"), F.asc("cell_id"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .select(out_id, out_vec, "cell_id")
    )


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             n_cells: int = 32, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             scale: int = 1000,
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF-Flat approximate top-k: candidates live in exactly one inverted
    cell; each query probes its ``nprobe`` nearest cells and ranks exactly
    within them.

    The scale shape: candidate assignment is a one-time broadcast fan-out
    (at 10^10 vectors the cell column is materialized once, with the
    table partitioned BY cell so a probe is a partition-pruned scan);
    query-time cost is nprobe/n_cells of the corpus instead of all of it.
    Recall rises monotonically with nprobe and hits exact at
    nprobe = n_cells. A (query, candidate) pair is seen at most once —
    candidates have one cell — so no dedup stage is needed.
    Returns (query_id, vec_id, rank, cos_m).
    """
    from pyspark.sql.window import Window

    cent = centroids if centroids is not None else seed_centroids(
        vectors, n_cells, id_col, vec_col
    )
    c = ivf_assign(vectors, cent, nprobe=1, id_col=id_col, vec_col=vec_col,
                   out_id="vec_id", out_vec="cv").withColumn(
        "_cn", _norm_col("cv"))
    q = ivf_assign(queries, cent, nprobe=nprobe, id_col=id_col,
                   vec_col=vec_col, out_id="query_id", out_vec="qv"
                   ).withColumn("_qn", _norm_col("qv"))
    scored = (
        c.join(F.broadcast(q), ["cell_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        # norms hoisted to the assigned rows — one dot per scored pair;
        # dot/(_qn*_cn) is bit-identical to cosine(qv, cv)
        .withColumn(
            "cos",
            _dot_cols("qv", "cv") / (F.col("_qn") * F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank",
                F.floor(F.col("cos") * scale).cast("long").alias("cos_m"))
    )


def embedding_near_dup_pairs(vectors: DataFrame, threshold: float = 0.4,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             scale: int = 1000) -> DataFrame:
    """All pairs with cosine ≥ threshold (id_a < id_b).

    Correctness-tier all-pairs join (the recall baseline for the bucketed
    variant below); at scale use ``embedding_near_dup_pairs_lsh`` — this
    exact form is O(n²) and exists for oracle checks and recall
    measurement only. Returns (id_a, id_b, cos).
    """
    a = vectors.select(
        F.col(id_col).alias("id_a"), as_double(F.col(vec_col)).alias("va")
    ).withColumn("_na", _norm_col("va"))
    b = vectors.select(
        F.col(id_col).alias("id_b"), as_double(F.col(vec_col)).alias("vb")
    ).withColumn("_nb", _norm_col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        # hoisted norms — one dot per pair; bit-identical to cosine(va, vb)
        .withColumn("cos", _dot_cols("va", "vb")
                    / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.floor(F.col("cos") * scale).cast("long").alias("cos_m"))
    )


def embedding_near_dup_pairs_lsh(vectors: DataFrame, threshold: float = 0.4,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 n_planes: int = N_PLANES, dim: int = 64,
                                 n_tables: int = 1,
                                 scale: int = 1000,
                                 preset: str | None = None) -> DataFrame:
    """Near-dup pairs restricted to shared hyperplane buckets — the scale
    path for threshold-pair dedup.

    The self-join is an equi-join on (tbl, bucket): pair cost is
    sum-of-squared-bucket-sizes, never all-pairs — the same plan family as
    minhash_lsh_pairs. Recall vs the exact form is governed by planes (a
    pair at cosine θ collides in one table with prob (1 - acos(θ)/π)^planes)
    and multiplied back up by ``n_tables`` independent tables; a pair found
    by several tables is emitted once. ``preset`` picks a measured
    (planes, tables) point from :data:`LSH_PRESETS`. Returns
    (id_a, id_b, cos_m), id_a < id_b.
    """
    n_planes, n_tables = _lsh_params(preset, n_planes, n_tables)
    a = _bucket_tagged(vectors, "id_a", "va", id_col, vec_col, dim,
                       n_planes, n_tables)
    b = _bucket_tagged(vectors, "id_b", "vb", id_col, vec_col, dim,
                       n_planes, n_tables)
    pairs = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        # hoisted norms: one dot per candidate pair (see _bucket_tagged)
        .withColumn(
            "cos",
            _dot_cols("va", "vb") / (F.col("va_n") * F.col("vb_n")),
        )
        .filter(F.col("cos") >= threshold)
    )
    if n_tables > 1:
        pairs = pairs.groupBy("id_a", "id_b").agg(F.max("cos").alias("cos"))
    return pairs.select(
        "id_a", "id_b",
        F.floor(F.col("cos") * scale).cast("long").alias("cos_m"),
    )


def semdedup(vectors: DataFrame, n_cells: int = 32, threshold: float = 0.4,
             centroids: DataFrame | None = None,
             id_col: str = "vec_id", vec_col: str = "embedding"
             ) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding column — cluster the corpus with
    the IVF coarse quantizer, compare pairs ONLY within a cluster, and
    keep one representative (the min id) per connected group of
    near-identical items. The modern training-data dedup step that
    catches what lexical MinHash/SimHash cannot: paraphrases, translated
    mirrors, templated rewrites.

    Plan, by construction never N²:

    1. **assign** — :func:`ivf_assign` (nprobe=1): broadcast codebook,
       map-side argmax, ONE N-row shuffle. ``centroids`` defaults to the
       seeded deterministic codebook (oracle-reproducible); hand in a
       :func:`kmeans_codebook` table when cluster quality matters.
    2. **within-cell pairs** — equi-join on ``cell_id`` (assignment
       persisted once, both join sides read it): pair cost is
       Σ|cluster|², bounded by the quantizer's balance, the paper's own
       cost model. A giant cluster is AQE's skew case; raise
       ``n_cells`` to split it.
    3. **canonical pick** — :func:`~.dedup.near_dup_components` over
       pairs ≥ threshold (pointer-jumped min-label, O(log diameter)
       rounds), so transitive paraphrase chains collapse to ONE kept
       doc, not one per adjacent pair.

    Returns one row per input vector: (vec_id, cell_id, component_id,
    keep) with component_id = vec_id for singletons and keep =
    (component_id == vec_id).
    """
    from pyspark import StorageLevel

    from .dedup import near_dup_components

    cents = (
        centroids
        if centroids is not None
        else seed_centroids(vectors, n_cells, id_col, vec_col)
    )
    # the norm rides the persisted assignment — computed once per
    # vector at materialization, never per within-cell pair
    assigned = ivf_assign(
        vectors, cents, nprobe=1, id_col=id_col, vec_col=vec_col
    ).withColumn("_n", _norm_col("v")).persist(StorageLevel.MEMORY_AND_DISK)
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("_n").alias("_na"), "cell_id"
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("_n").alias("_nb"), "cell_id"
    )
    pairs = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        # hoisted norms — one dot per pair; bit-identical to cosine(va, vb)
        .withColumn("cos", _dot_cols("va", "vb")
                    / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
    )
    comp = near_dup_components(pairs).withColumnRenamed("doc_id", "__cid")
    return (
        assigned.select("vec_id", "cell_id")
        .join(comp, F.col("vec_id") == F.col("__cid"), "left")
        .select(
            "vec_id",
            "cell_id",
            F.coalesce(F.col("component_id"), F.col("vec_id"))
            .alias("component_id"),
            (
                F.coalesce(F.col("component_id"), F.col("vec_id"))
                == F.col("vec_id")
            ).alias("keep"),
        )
    )


def l2sq(a: Column, b: Column) -> Column:
    """Squared Euclidean distance as an ordered left fold — the same
    summation order as the DuckDB oracle's list_sum(list_transform),
    so cross-engine argmin comparisons see identical bits."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def seed_pq_codebooks(vectors: DataFrame, m: int = 8, k: int = 16,
                      dim: int = 64, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Deterministic per-subspace PQ codebooks: the ``k`` corpus vectors
    with the smallest md5(id) (the :func:`seed_centroids` portable
    sample), sliced into ``m`` subvectors each — codebook ``sub`` holds
    slice ``sub`` of every seed, coded 0..k-1 in md5 order. Production
    trains each subspace with k-means (same swap-in contract as the IVF
    codebook); the seeded sample keeps the oracle reproducible.
    Returns (sub, code_id, centroid) — m·k rows, always broadcastable.
    """
    d0 = dim // m
    from pyspark.sql.window import Window

    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    seeds = (
        vectors.select(id_col, as_double(F.col(vec_col)).alias("e"))
        .orderBy(*order)
        .limit(k)
        .withColumn(
            "code_id",
            F.row_number().over(Window.orderBy(*order)) - 1,
        )
    )
    subs = F.array(*[F.lit(j) for j in range(m)])
    return seeds.select(
        F.explode(subs).alias("sub"),
        "code_id",
        "e",
    ).select(
        "sub",
        "code_id",
        F.slice(F.col("e"), F.col("sub") * d0 + 1, d0).alias("centroid"),
    )



def _subvectors(v: DataFrame, m: int, d0: int,
                id_out: str = "vec_id", sv_out: str = "sv") -> DataFrame:
    """(id, sub, subvector) long format — a pure projection (explode of
    an m-literal array + slice), no shuffle."""
    return v.select(
        id_out,
        F.explode(F.array(*[F.lit(j) for j in range(m)])).alias("sub"),
        "e",
    ).select(
        id_out,
        "sub",
        F.slice(F.col("e"), F.col("sub") * d0 + 1, d0).alias(sv_out),
    )


def _pq_best(v: DataFrame, cb: DataFrame, m: int, d0: int) -> DataFrame:
    """Per-(vector, subspace) nearest codebook entry: broadcast the m·k
    codebook, equi-join on sub, map-combinable min_by argmin over
    ordered-fold L2². Returns (vec_id, sub, b=struct(code_id, centroid)).
    """
    subs = _subvectors(v, m, d0)
    scored = subs.join(F.broadcast(cb), "sub").withColumn(
        "d", l2sq(F.col("sv"), F.col("centroid"))
    )
    return scored.groupBy("vec_id", "sub").agg(
        F.min_by(
            F.struct("code_id", "centroid"), F.struct("d", "code_id")
        ).alias("b")
    )


def pq_encode(vectors: DataFrame, codebooks: DataFrame | None = None,
              m: int = 8, k: int = 16, dim: int = 64,
              id_col: str = "vec_id", vec_col: str = "embedding",
              scale: int = 1000) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011) — the storage
    answer for 100-TB embedding tables: each vector becomes ``m`` code
    ids into ``k``-entry per-subspace codebooks (m=8, k=16 → 4 bytes
    instead of 256), with the reconstruction cosine reported as the
    per-vector distortion metric.

    Physical form (round 6): everything here is per-vector-local
    against the broadcast m·k codebook, so the encode is ONE Arrow
    mapInPandas kernel with ZERO exchanges — replacing the subvector
    explode + interpreted L2² folds + min_by combine + vec-keyed
    assembly aggregate + join. The numpy kernel accumulates in the
    folds' exact IEEE order (L2² = Σ(x−y)² left fold; reconstruction
    cosine = dot/(na·nr) with ordered norms), and codebook rows are
    code_id-ascending so numpy's first-min equals the (d, code_id)
    min_by tie-break. Distances stay ordered-fold L2² so the argmin is
    bit-identical in the DuckDB oracle (sqrt-ing would let two distinct
    sums round to an equal distance and flip a tiebreak).
    Returns (vec_id, codes 'c0,...,cm-1', recon_cos_m).
    """
    import numpy as np
    import pandas as pd

    d0 = dim // m
    cb = (
        codebooks
        if codebooks is not None
        else seed_pq_codebooks(vectors, m, k, dim, id_col, vec_col)
    )
    spark = vectors.sparkSession
    cbp = cb.select(
        F.col("sub").cast("int").alias("sub"),
        F.col("code_id").cast("int").alias("code_id"),
        as_double(F.col("centroid")).alias("c"),
    ).toPandas().sort_values(["sub", "code_id"])
    CB = [
        np.array(cbp[cbp["sub"] == j]["c"].tolist(), dtype=np.float64)
        for j in range(m)
    ]
    bc = spark.sparkContext.broadcast(CB)
    id_t = vectors.schema[id_col].dataType.simpleString()

    def _enc(it):
        CB = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            A = np.array(pdf["__e"].tolist(), dtype=np.float64)
            n = A.shape[0]
            codes = np.empty((n, m), dtype=np.int64)
            recon = np.empty_like(A)
            for j in range(m):
                As = A[:, j * d0 : (j + 1) * d0]
                Bs = CB[j]
                D = np.zeros((n, Bs.shape[0]))
                for d in range(d0):
                    t = As[:, d : d + 1] - Bs[None, :, d]
                    D += t * t
                cj = np.argmin(D, axis=1)  # first min = min code_id
                codes[:, j] = cj
                recon[:, j * d0 : (j + 1) * d0] = Bs[cj]
            dotv = np.zeros(n)
            for d in range(A.shape[1]):
                dotv = dotv + A[:, d] * recon[:, d]
            na = _np_ordered_norms(A)
            nr = _np_ordered_norms(recon)
            cosm = np.floor(dotv / (na * nr) * float(scale)).astype(np.int64)
            yield pd.DataFrame({
                "vec_id": pdf["__id"],
                "codes": [",".join(map(str, row)) for row in codes],
                "recon_cos_m": cosm,
            })

    return vectors.select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__e")
    ).mapInPandas(
        _enc, f"vec_id {id_t}, codes string, recon_cos_m long"
    )


def pq_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
            m: int = 8, n_codes: int = 16, dim: int = 64,
            codebooks: DataFrame | None = None,
            id_col: str = "vec_id", vec_col: str = "embedding",
            scale: int = 1_000_000) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (the IVF-PQ search
    pattern FAISS runs at billion scale): the database side is the
    4-byte code stream, the query stays full-precision, and the
    distance is a table lookup — ``adist(q, x) = Σ_sub
    lut[q][sub][code_sub(x)]`` with ``lut`` the query's precomputed
    L2² against every codebook entry.

    Plan: the database codes come from :func:`_pq_best` (broadcast
    codebook, no corpus exchange beyond the one N·m argmin shuffle);
    the lookup table is |Q|·m·k rows and BROADCASTS; scoring is an
    equi-join on (sub, code_id) followed by ONE map-combinable
    (query, vec) sum and a WindowGroupLimit top-k. Per-subspace
    partials are floor-quantized to integers BEFORE the sum, so the
    ranking is summation-order-free and engine-exact (a float Σ over
    shuffled rows is not) — ties beyond 1e-6 resolution break by
    vec_id. Returns (query_id, vec_id, rank, adist_q); lower is closer.

    Use as a SHORTLIST generator, not a final ranker (measured,
    BENCH.md): 4-byte codes cannot resolve near-ties, so raw ADC
    recall@5 is ~0.15 on a near-dup-dense corpus — but a k=100
    shortlist contains the exact top-5 with recall 1.000 there. The
    production composition is ``pq_topk(k=100)`` → join the shortlist
    back to full vectors → exact cosine re-rank: 98% of the corpus is
    scanned as codes, 2% as floats.
    """
    d0 = dim // m
    cb = (
        codebooks
        if codebooks is not None
        else seed_pq_codebooks(vectors, m, n_codes, dim, id_col, vec_col)
    )
    v = vectors.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("e")
    )
    codes = _pq_best(v, cb, m, d0).select(
        "vec_id", "sub", F.col("b.code_id").alias("code_id")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("e")
    )
    qsubs = _subvectors(q, m, d0, id_out="query_id")
    lut = qsubs.join(F.broadcast(cb), "sub").select(
        "query_id",
        "sub",
        "code_id",
        F.floor(l2sq(F.col("sv"), F.col("centroid")) * scale)
        .cast("long")
        .alias("part_q"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("part_q").alias("adist_q"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adist_q").asc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "adist_q")
    )


def pq_topk_rerank(vectors: DataFrame, queries: DataFrame, k: int = 5,
                   shortlist: int = 100, m: int = 8, n_codes: int = 16,
                   dim: int = 64,
                   codebooks: DataFrame | None = None,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   scale: int = 1000) -> DataFrame:
    """Two-stage PQ search (the production composition, measured in
    BENCH.md): ADC over 4-byte codes produces a ``shortlist`` per
    query (:func:`pq_topk` — 98%+ of the corpus never leaves its
    compressed form), then ONLY the shortlist rows join back to their
    full vectors for an exact cosine re-rank. At shortlist=100 on the
    5k clustered corpus the exact top-5 is recovered completely
    (recall 1.000) while raw ADC top-5 alone sits at ~0.15.

    Plan: the shortlist is |Q|·shortlist rows — the re-rank join,
    cosine, and per-query top-k window all run on that bounded set,
    never the corpus. Returns (query_id, vec_id, rank, cos_m) in
    :func:`brute_force_topk`'s output shape, so callers can swap the
    exact scan for this at scale without touching consumers.
    """
    from pyspark.sql.window import Window

    short = pq_topk(
        vectors, queries, k=shortlist, m=m, n_codes=n_codes, dim=dim,
        codebooks=codebooks, id_col=id_col, vec_col=vec_col,
    ).select("query_id", "vec_id")
    v = vectors.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("e")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qe"),
    )
    scored = (
        short.join(v, "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cos", cosine(F.col("qe"), F.col("e")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "rank",
            F.floor(F.col("cos") * scale).cast("long").alias("cos_m"),
        )
    )


# ---- bitext mining (margin-based parallel-text pairs) ----------------------

def _np_ordered_norms(M):
    """Row norms with the fold's left-to-right summation order, so the
    doubles are bit-identical to ``norm()`` (sqrt of the sequential dot)."""
    import numpy as np

    acc = np.zeros(M.shape[0])
    for d in range(M.shape[1]):
        c = M[:, d]
        acc = acc + c * c
    return np.sqrt(acc)


def _np_cs_matrix(A, A_norms, B, B_norms, k_unused=None):
    """Quantized shifted milli-cosine matrix between row blocks A and B,
    IEEE-op-for-op identical to the Catalyst expression
    ``floor(dot(a,b) / (na * nb) * 1000) + 1000``:

    - the dot is accumulated dimension-by-dimension (one multiply + one
      add per term, left to right) — the exact order of the zip_with +
      aggregate fold, NOT numpy's pairwise/BLAS summation, so every
      partial sum rounds identically;
    - the quantization applies the same op sequence (divide by the norm
      product, scale, floor, shift).
    """
    import numpy as np

    P = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        # a[i,d]*b[j,d] is one IEEE multiply; += one IEEE add — matching
        # the fold's (acc, x) -> acc + x over zip_with products
        P += A[:, d : d + 1] * B[None, :, d]
    cs = np.floor(P / (A_norms[:, None] * B_norms[None, :]) * 1000.0) + 1000.0
    return cs.astype(np.int64)


def _np_sumk(cs, k: int):
    """Sum of each row's top-k quantized cosines (long, order-free)."""
    import numpy as np

    if cs.shape[1] <= k:
        return cs.sum(axis=1)
    return np.partition(cs, cs.shape[1] - k, axis=1)[:, -k:].sum(axis=1)


def _np_best(cs, my_sumk, other_sumk, other_ids, k: int):
    """Per-row argmax of margin_bp = (cs * 2k*10000) div (sumk_x+sumk_y),
    ties → larger cs, then smallest other id — the lexicographic struct
    max of the Catalyst plan, in exact int64 arithmetic (the double
    quotient's floor equals integer floor division at these operand
    bounds, see bitext_mine's docstring)."""
    import numpy as np

    margin = (cs * np.int64(2 * k * 10000)) // (
        my_sumk[:, None] + other_sumk[None, :]
    )
    m1 = margin.max(axis=1)
    csm = np.where(margin == m1[:, None], cs, np.int64(-1))
    c1 = csm.max(axis=1)
    tie = (margin == m1[:, None]) & (cs == c1[:, None])
    oid = np.where(tie, other_ids[None, :], np.iinfo(np.int64).max).min(axis=1)
    return oid, c1, m1


def bitext_mine(src_vecs: DataFrame, tgt_vecs: DataFrame, k: int = 4,
                threshold_bp: int = 10500, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk ACL'19 "ratio"
    margin, the CCMatrix/CCAligned/WikiMatrix pipeline): mine candidate
    parallel pairs between two embedding shards (e.g. the English and
    German halves of a multilingual-encoder corpus) as the MUTUAL
    nearest pairs under margin(x,y) = cos(x,y) / mean of the two sides'
    top-k neighbourhood cosines — raw cosine over-fires in dense hubs,
    the margin normalizes by local density.

    Integer-exact contract: cosines floor-quantize to SHIFTED
    milli-units (floor(cos*1000)+1000 >= 0, so top-k sums and the
    basis-point margin stay in non-negative long arithmetic and Spark's
    double floor == DuckDB's BIGINT floor division, see _best_by_margin),
    margin_bp = 10000 is the neutral ratio 1.0.  Ties: larger cosine,
    then smallest id, on both axes.

    Plan shape: the exact baseline is quadratic BY DEFINITION (every
    margin needs both rows' neighbourhood sums).  It runs as two
    mapInPandas passes over the union of the shards — (1) per-row top-k
    neighbourhood sums, (2) per-row margin argmax — each scoring its
    rows against the OTHER shard's vectors from a Spark broadcast
    variable with an ordered-summation numpy kernel that is
    IEEE-op-for-op identical to the previous Catalyst fold (see
    _np_cs_matrix), plus one |tgt|-bounded broadcast join for the
    mutual check.  The shards are materialized once through Arrow at
    plan-construction time — the same full-side driver residency the
    previous collect_list→BroadcastExchange form had, now explicit; the
    intermediate sum table is N rows of (id, long).  This stays the
    quarantined oracle baseline: the 100-TB path is bitext_mine_ivf
    (the standard CCMatrix shape — IVF shortlists, both shards
    streaming, no full-side materialization anywhere).  Both sides must
    have >= k rows (the denominator assumes k neighbours each side).

    Returns one row per src vector: (src_id, tgt_id, cos_m, margin_bp,
    mutual, mined) — its best target, the raw milli-cosine, the margin,
    whether the pair is mutual-best, and mutual AND margin >= threshold.
    """
    import numpy as np
    import pandas as pd

    spark = src_vecs.sparkSession
    sc = spark.sparkContext

    def _mat(df: DataFrame):
        pdf = df.select(
            F.col(id_col).cast("long").alias("id"),
            as_double(F.col(vec_col)).alias("v"),
        ).toPandas()
        ids = pdf["id"].to_numpy(np.int64)
        M = np.array(pdf["v"].tolist(), dtype=np.float64)
        return ids, M

    s_ids, S = _mat(src_vecs)
    t_ids, T = _mat(tgt_vecs)
    bc = sc.broadcast({
        "s_ids": s_ids, "S": S, "s_n": _np_ordered_norms(S),
        "t_ids": t_ids, "T": T, "t_n": _np_ordered_norms(T),
    })

    both = (
        src_vecs.select(
            F.lit(0).alias("side"),
            F.col(id_col).cast("long").alias("id"),
            as_double(F.col(vec_col)).alias("v"),
        ).unionByName(tgt_vecs.select(
            F.lit(1).alias("side"),
            F.col(id_col).cast("long").alias("id"),
            as_double(F.col(vec_col)).alias("v"),
        ))
    )

    def _batches(it):
        for pdf in it:
            for side in (0, 1):
                part = pdf[pdf["side"] == side]
                if len(part):
                    yield side, part

    def sumk_fn(it):
        b = bc.value
        for side, part in _batches(it):
            A = np.array(part["v"].tolist(), dtype=np.float64)
            An = _np_ordered_norms(A)
            o = ("T", "t_n") if side == 0 else ("S", "s_n")
            cs = _np_cs_matrix(A, An, b[o[0]], b[o[1]])
            yield pd.DataFrame({
                "side": np.int32(side), "id": part["id"].to_numpy(np.int64),
                "sumk": _np_sumk(cs, k),
            })

    sumk_pdf = both.mapInPandas(
        sumk_fn, "side int, id long, sumk long"
    ).toPandas()
    sx = dict(zip(sumk_pdf[sumk_pdf["side"] == 0]["id"],
                  sumk_pdf[sumk_pdf["side"] == 0]["sumk"]))
    sy = dict(zip(sumk_pdf[sumk_pdf["side"] == 1]["id"],
                  sumk_pdf[sumk_pdf["side"] == 1]["sumk"]))
    bc2 = sc.broadcast({
        "sumk_x": sx,
        "sumk_y": sy,
        # other-side sums aligned to the broadcast id order
        "sumk_x_arr": np.array([sx[i] for i in s_ids], dtype=np.int64),
        "sumk_y_arr": np.array([sy[i] for i in t_ids], dtype=np.int64),
    })

    def best_fn(it):
        b, b2 = bc.value, bc2.value
        for side, part in _batches(it):
            A = np.array(part["v"].tolist(), dtype=np.float64)
            An = _np_ordered_norms(A)
            ids = part["id"].to_numpy(np.int64)
            if side == 0:
                cs = _np_cs_matrix(A, An, b["T"], b["t_n"])
                mine = np.array([b2["sumk_x"][i] for i in ids], np.int64)
                oid, c1, m1 = _np_best(cs, mine, b2["sumk_y_arr"],
                                       b["t_ids"], k)
            else:
                cs = _np_cs_matrix(A, An, b["S"], b["s_n"])
                mine = np.array([b2["sumk_y"][i] for i in ids], np.int64)
                oid, c1, m1 = _np_best(cs, mine, b2["sumk_x_arr"],
                                       b["s_ids"], k)
            yield pd.DataFrame({
                "side": np.int32(side), "id": ids, "best_id": oid,
                "cs": c1, "margin_bp": m1,
            })

    best_schema = "side int, id long, best_id long, cs long, margin_bp long"
    fwd = (
        both.filter(F.col("side") == 0)
        .mapInPandas(best_fn, best_schema)
        .select(F.col("id").alias("sid"),
                F.col("best_id").alias("best_tgt_id"),
                F.col("cs"), F.col("margin_bp"))
    )
    bwd = (
        both.filter(F.col("side") == 1)
        .mapInPandas(best_fn, best_schema)
        .select(F.col("id").alias("tid"),
                F.col("best_id").alias("best_src_id"))
    )
    mutual = F.coalesce(
        F.col("best_src_id") == F.col("sid"), F.lit(False)
    )
    return (
        fwd.join(
            F.broadcast(bwd),
            fwd["best_tgt_id"] == F.col("tid"),
            "left",
        )
        .select(
            F.col("sid").alias("src_id"),
            F.col("best_tgt_id").alias("tgt_id"),
            (F.col("cs") - 1000).alias("cos_m"),
            F.col("margin_bp"),
            mutual.alias("mutual"),
            (mutual & (F.col("margin_bp")
                       >= F.lit(int(threshold_bp)))).alias("mined"),
        )
    )


def bitext_mine_ivf(src_vecs: DataFrame, tgt_vecs: DataFrame, k: int = 4,
                    threshold_bp: int = 10500, shortlist: int = 16,
                    n_cells: int = 32, nprobe: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    centroids: DataFrame | None = None) -> DataFrame:
    """The 100-TB path of :func:`bitext_mine`: identical margin contract,
    but every row scores only an IVF SHORTLIST instead of the whole other
    shard — the standard CCMatrix shape (FAISS kNN shards → margin on
    the k-NN lists).  Neighbourhood sums use the top-k of the shortlist,
    exact whenever the shortlist's recall covers the true top-k (pytest
    asserts the mined set matches the exact miner on clustered data).

    Plan: two ivf_topk passes (|side| × shortlist candidate rows, probed
    through the shared coarse quantizer — never |src|×|tgt|), per-side
    top-k sums as rank<=k aggregates, margins via a tid-keyed hash join
    of the |tgt|-bounded sum table (AQE picks broadcast vs shuffle),
    max_by argmaxes, and the same mutual join.  No full-side broadcast
    arrays anywhere, so both shards stream at corpus scale.  Margin
    division is exact long ``div`` arithmetic (no double floor needed —
    the operands are plain columns here).

    A src row with no probed candidates emits nothing; a forward pair
    whose target drew no backward candidates cannot be mutual and is
    dropped by the inner sumk_y join.  Returns the same schema as
    bitext_mine: (src_id, tgt_id, cos_m, margin_bp, mutual, mined).
    """
    cent = centroids if centroids is not None else seed_centroids(
        src_vecs.unionByName(tgt_vecs), n_cells, id_col, vec_col
    )
    cand_f = ivf_topk(tgt_vecs, src_vecs, k=shortlist, nprobe=nprobe,
                      id_col=id_col, vec_col=vec_col,
                      centroids=cent).persist()
    cand_b = ivf_topk(src_vecs, tgt_vecs, k=shortlist, nprobe=nprobe,
                      id_col=id_col, vec_col=vec_col,
                      centroids=cent).persist()

    def _sumk(cand: DataFrame, name: str) -> DataFrame:
        # rank is ordered by raw cosine; floor is monotone, so the rank<=k
        # prefix is also a maximal top-k multiset of the quantized values
        return (
            cand.filter(F.col("rank") <= k)
            .groupBy("query_id")
            .agg(F.sum(F.col("cos_m") + 1000).alias(name))
        )

    sumk_x = _sumk(cand_f, "sumk_x")          # one row per src with cands
    sumk_y = _sumk(cand_b, "sumk_y")          # one row per tgt with cands

    def _best(cand: DataFrame, my_sumk: DataFrame, my_key: str,
              other_sumk: DataFrame, other_key: str,
              prefix: str) -> DataFrame:
        scored = (
            cand.withColumnRenamed("query_id", my_key)
            .withColumnRenamed("vec_id", other_key)
            .join(my_sumk.withColumnRenamed("query_id", my_key), my_key)
            .join(other_sumk.withColumnRenamed("query_id", other_key),
                  other_key)
            .withColumn(
                "margin_bp",
                F.expr(
                    f"((cos_m + 1000) * {2 * k * 10000}) "
                    "div (sumk_x + sumk_y)"
                ),
            )
        )
        return scored.groupBy(my_key).agg(
            F.max_by(
                F.struct(
                    F.col(other_key).alias("oid"),
                    F.col("cos_m").alias("cos_m"),
                    F.col("margin_bp").alias("margin_bp"),
                ),
                F.struct(F.col("margin_bp").alias("m"),
                         F.col("cos_m").alias("c"),
                         (-F.col(other_key)).alias("negid")),
            ).alias("b")
        ).select(
            my_key,
            F.col("b.oid").alias(f"{prefix}_id"),
            F.col("b.cos_m").alias(f"{prefix}_cos_m"),
            F.col("b.margin_bp").alias(f"{prefix}_margin_bp"),
        )

    fwd = _best(cand_f, sumk_x, "sid", sumk_y, "tid", "best_tgt")
    bwd = _best(cand_b, sumk_y, "tid", sumk_x, "sid", "best_src")
    mutual = F.coalesce(F.col("best_src_id") == F.col("sid"), F.lit(False))
    return (
        fwd.join(bwd.select("tid", "best_src_id"),
                 fwd["best_tgt_id"] == F.col("tid"), "left")
        .select(
            F.col("sid").alias("src_id"),
            F.col("best_tgt_id").alias("tgt_id"),
            F.col("best_tgt_cos_m").alias("cos_m"),
            F.col("best_tgt_margin_bp").alias("margin_bp"),
            mutual.alias("mutual"),
            (mutual & (F.col("best_tgt_margin_bp")
                       >= F.lit(int(threshold_bp)))).alias("mined"),
        )
    )
