"""Persistent IVF+PQ vector index: build once, search forever, add
increments without touching the corpus.

Engine extension beyond the reference (thebenjy/distributed_crawl has
no vector search; this is the ANN counterpart of the persisted
``dedup_index`` — VERDICT r4 #7): the trained artifacts of the
similarity module (IVF coarse centroids, per-subspace PQ codebooks)
and the encoded corpus (cell assignment + 4-byte PQ codes per vector)
become three parquet tables under one directory, so query sessions
never re-derive them and continual ingestion appends only the
increment's codes.

Layout under ``path`` (all plain parquet — readable by any engine):

- ``centroids/``  (cell_id LONG, centroid ARRAY<DOUBLE>) — K rows
- ``codebooks/``  (sub INT, code_id INT, centroid ARRAY<DOUBLE>) — m·k rows
- ``codes/``      (vec_id, sub, code_id) PARTITIONED BY cell_id — N·m slim
  rows; the partition layout is the inverted file: a query probing
  ``nprobe`` cells reads only those directories (Spark's dynamic
  partition pruning fires on the broadcast cell join), so query cost is
  ``nprobe/K`` of the corpus no matter how big the index grows
- ``manifest/``   1-row JSON: format tag + (n_cells, m, n_codes, dim)

Scale shape: build = the one N-row argmin shuffle ``pq_encode`` already
pays (codebooks and centroids broadcast); search = broadcast LUT join +
one map-combinable (query, vec) sum + WindowGroupLimit top-k, over the
probed cells only; add = encode the increment against the FROZEN
centroids/codebooks and append its partitions — O(increment), the
corpus codes are never read or rewritten (measured flat:
tools/vecindex_scaling.py at commit 636ac4a, BENCH.md round 5).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import (
    _pq_best,
    _subvectors,
    as_double,
    cosine,
    ivf_assign,
    l2sq,
    seed_centroids,
    seed_pq_codebooks,
)

INDEX_FORMAT = "ivfpq/v1"


@dataclass
class VectorIndex:
    """Loaded index handle: three DataFrames + the build parameters."""

    centroids: DataFrame
    codebooks: DataFrame
    codes: DataFrame
    params: dict


def encode_codes(vectors: DataFrame, centroids: DataFrame,
                 codebooks: DataFrame, m: int, dim: int,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(vec_id, cell_id, sub, code_id) — one row per (vector, subspace):
    the vector's IVF cell plus its PQ code in every subspace, against a
    GIVEN (frozen) quantizer pair.

    Physical form (round 6): both argmins are per-vector-local against
    the broadcast quantizers, so the whole encode is ONE Arrow
    mapInPandas kernel with ZERO exchanges — the previous form paid the
    interpreted per-pair cosine/L2² higher-order folds plus an N-row
    min_by combine and a vec_id join. The numpy kernel accumulates
    dimension-by-dimension in the folds' exact IEEE order (cosine =
    dot/(vn·cn) with hoisted ordered norms; L2² = Σ(x−y)² left fold),
    centroid rows are laid out cell_id-ascending and codebook rows
    code_id-ascending so numpy's first-max/first-min tie-break equals
    the (ccos, −cell_id) max_by / (d, code_id) min_by exactly."""
    import numpy as np
    import pandas as pd

    from .similarity import _np_ordered_norms

    d0 = dim // m
    spark = vectors.sparkSession

    cp = centroids.select(
        F.col("cell_id").cast("long").alias("cid"),
        as_double(F.col("centroid")).alias("c"),
    ).toPandas().sort_values("cid")
    cent_ids = cp["cid"].to_numpy(np.int64)
    C = np.array(cp["c"].tolist(), dtype=np.float64)
    cn = _np_ordered_norms(C)

    cbp = codebooks.select(
        F.col("sub").cast("int").alias("sub"),
        F.col("code_id").cast("int").alias("code_id"),
        as_double(F.col("centroid")).alias("c"),
    ).toPandas().sort_values(["sub", "code_id"])
    CB = [
        np.array(
            cbp[cbp["sub"] == j]["c"].tolist(), dtype=np.float64
        )
        for j in range(m)
    ]
    bc = spark.sparkContext.broadcast((cent_ids, C, cn, CB))

    id_t = vectors.schema[id_col].dataType.simpleString()
    subs_arr = np.arange(m, dtype=np.int32)

    def _enc(it):
        cent_ids, C, cn, CB = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            A = np.array(pdf["__e"].tolist(), dtype=np.float64)
            n = A.shape[0]
            an = _np_ordered_norms(A)
            # cell argmax: ordered-accumulation dot, cosine op order
            P = np.zeros((n, C.shape[0]))
            for d in range(A.shape[1]):
                P += A[:, d : d + 1] * C[None, :, d]
            ccos = P / (an[:, None] * cn[None, :])
            cell = cent_ids[np.argmax(ccos, axis=1)]  # first max = min cid
            # PQ codes per subspace: ordered-fold L2² argmin
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                As = A[:, j * d0 : (j + 1) * d0]
                Bs = CB[j]
                D = np.zeros((n, Bs.shape[0]))
                for d in range(d0):
                    t = As[:, d : d + 1] - Bs[None, :, d]
                    D += t * t
                codes[:, j] = np.argmin(D, axis=1)  # first min = min code
            ids = pdf["__id"].to_numpy()
            yield pd.DataFrame({
                "vec_id": np.repeat(ids, m),
                "cell_id": np.repeat(cell, m),
                "sub": np.tile(subs_arr, n),
                "code_id": codes.reshape(-1),
            })

    return vectors.select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__e")
    ).mapInPandas(
        _enc, f"vec_id {id_t}, cell_id long, sub int, code_id int"
    )


def write_vector_index(vectors: DataFrame, path: str, n_cells: int = 32,
                       m: int = 8, n_codes: int = 16, dim: int = 64,
                       centroids: DataFrame | None = None,
                       codebooks: DataFrame | None = None,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> dict:
    """Build and persist the index; returns the manifest dict. Pass
    ``centroids``/``codebooks`` to reuse externally trained quantizers
    (e.g. :func:`~.similarity.kmeans_codebook` output); the seeded
    deterministic quantizers are the default, as everywhere in the
    similarity module."""
    spark = vectors.sparkSession
    cent = centroids if centroids is not None else seed_centroids(
        vectors, n_cells, id_col, vec_col
    )
    cb = codebooks if codebooks is not None else seed_pq_codebooks(
        vectors, m, n_codes, dim, id_col, vec_col
    )
    # persist quantizers FIRST, then encode against the PERSISTED copies:
    # the files are the index's source of truth, so adds and searches see
    # byte-identical centroids even if the in-memory plan would recompute.
    # The two K-row quantizer writes are independent jobs — overlap them
    # so the second back-fills the first one's tail.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fc = pool.submit(lambda: cent.write.mode("overwrite")
                         .parquet(f"{path}/centroids"))
        fb = pool.submit(lambda: cb.write.mode("overwrite")
                         .parquet(f"{path}/codebooks"))
        fc.result(), fb.result()
    cent_t = spark.read.parquet(f"{path}/centroids")
    cb_t = spark.read.parquet(f"{path}/codebooks")
    codes = encode_codes(vectors, cent_t, cb_t, m, dim, id_col, vec_col)
    # align write tasks with the partition directories (the text-index
    # build's lesson): without this every map partition fans out into
    # every cell_id directory — n_parts × n_cells small files + commit
    # overhead. One slim-row exchange buys one sorted file per cell.
    (
        codes.repartition(n_cells, "cell_id")
        .sortWithinPartitions("cell_id", "vec_id", "sub")
        .write.mode("overwrite").partitionBy("cell_id").parquet(
            f"{path}/codes"
        )
    )
    manifest = {"format": INDEX_FORMAT, "n_cells": n_cells, "m": m,
                "n_codes": n_codes, "dim": dim}
    from .search import _write_manifest_json

    _write_manifest_json(f"{path}/manifest", manifest)
    return manifest


def read_vector_index(spark: SparkSession, path: str) -> VectorIndex:
    from .search import _read_manifest_json

    params = _read_manifest_json(spark, f"{path}/manifest")
    if params.get("format") != INDEX_FORMAT:
        raise ValueError(
            f"unsupported vector index format {params.get('format')!r}"
        )
    return VectorIndex(
        centroids=spark.read.parquet(f"{path}/centroids"),
        codebooks=spark.read.parquet(f"{path}/codebooks"),
        codes=spark.read.parquet(f"{path}/codes"),
        params=params,
    )


def add_to_vector_index(spark: SparkSession, path: str, vectors: DataFrame,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> None:
    """Incremental add: encode ``vectors`` against the index's FROZEN
    quantizers and append their code partitions. O(increment) — the
    existing codes are never read. Caller contract (same as the dedup
    index): vec_ids must be new; re-adding an id duplicates its rows."""
    idx = read_vector_index(spark, path)
    codes = encode_codes(
        vectors, idx.centroids, idx.codebooks,
        idx.params["m"], idx.params["dim"], id_col, vec_col,
    )
    codes.write.mode("append").partitionBy("cell_id").parquet(
        f"{path}/codes"
    )


def vector_index_topk(index: VectorIndex, queries: DataFrame, k: int = 5,
                      nprobe: int = 1, scale: int = 1_000_000,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """ADC top-k against the persisted index — :func:`~.similarity.
    pq_topk` semantics (floor-quantized integer LUT partials, ties by
    vec_id, self-matches excluded) restricted to each query's ``nprobe``
    nearest cells. Nothing about the corpus is recomputed: cells and
    codes stream straight from the index tables; only the |Q|-sized
    query side is scored against the broadcast quantizers. At
    ``nprobe = n_cells`` this equals ``pq_topk`` exactly (every cell
    probed — pinned by tests/test_vecindex.py).
    Returns (query_id, vec_id, rank, adist_q)."""
    m, dim = index.params["m"], index.params["dim"]
    d0 = dim // m
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("e")
    )
    qcells = ivf_assign(
        q, index.centroids, nprobe=nprobe, id_col="query_id", vec_col="e",
        out_id="query_id", out_vec="qe",
    ).select("query_id", "cell_id")
    qsubs = _subvectors(q, m, d0, id_out="query_id")
    lut = qsubs.join(F.broadcast(index.codebooks), "sub").select(
        "query_id", "sub", "code_id",
        F.floor(l2sq(F.col("sv"), F.col("centroid")) * scale)
        .cast("long").alias("part_q"),
    )
    cand = index.codes.join(F.broadcast(qcells), "cell_id")
    scored = (
        cand.join(F.broadcast(lut), ["query_id", "sub", "code_id"])
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


def vector_index_topk_rerank(index: VectorIndex, queries: DataFrame,
                             vectors: DataFrame, k: int = 5,
                             shortlist: int = 100, nprobe: int = 4,
                             scale: int = 1000,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Two-stage search against the persisted index (the
    :func:`~.similarity.pq_topk_rerank` composition): the index produces
    a ``shortlist`` per query from codes alone; only those rows join
    back to ``vectors`` (the full-precision table, e.g. the embeddings
    parquet the index was built from) for an exact cosine re-rank.
    Returns (query_id, vec_id, rank, cos_m)."""
    short = vector_index_topk(
        index, queries, k=shortlist, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
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
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "rank",
            F.floor(F.col("cos") * scale).cast("long").alias("cos_m"),
        )
    )


def index_neardup(index: VectorIndex, increment: DataFrame,
                  vectors: DataFrame, threshold_m: int = 350,
                  nprobe: int = 4, shortlist: int = 20,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Incremental SEMANTIC near-dup against the persisted index — the
    vector twin of ``dedup.probe_dedup_index``: an increment batch is
    screened for embedding-cosine near-duplicates of the indexed corpus
    without ever re-reading or re-scoring the corpus. Two stages, both
    index-bounded: an ADC shortlist per increment vector (probed cells
    only, codes stream from the index partitions), then an exact-cosine
    re-rank of the shortlist against the full-precision ``vectors``
    table the index was built from. ``cos_m`` floor-quantizes to
    milli-units BEFORE the argmax (ties pick the smallest corpus id) so
    the verdict is hash-exact.

    Every increment vector gets a row even when its probed cells are
    empty (possible on sparse indexes): ``dup_of``/``cos_m`` NULL,
    ``is_dup`` false — so the output is a total keep/drop verdict the
    add path can anti-join. Returns (vec_id, dup_of, cos_m, is_dup).
    """
    short = vector_index_topk(
        index, increment, k=shortlist, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "vec_id")
    v = vectors.select(
        F.col(id_col).cast("long").alias("vec_id"),
        as_double(F.col(vec_col)).alias("ce"),
    )
    q = increment.select(
        F.col(id_col).cast("long").alias("query_id"),
        as_double(F.col(vec_col)).alias("qe"),
    )
    best = (
        short.join(v, "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cos_m",
            F.floor(cosine(F.col("qe"), F.col("ce")) * 1000).cast("long"),
        )
        .groupBy("query_id")
        .agg(
            F.max_by(
                F.struct(F.col("vec_id").alias("dup_of"),
                         F.col("cos_m").alias("cos_m")),
                F.struct(F.col("cos_m").alias("c"),
                         (-F.col("vec_id")).alias("negid")),
            ).alias("b")
        )
    )
    return (
        q.select("query_id")
        .join(best, "query_id", "left")
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("b.dup_of").alias("dup_of"),
            F.col("b.cos_m").alias("cos_m"),
            F.coalesce(F.col("b.cos_m") >= F.lit(int(threshold_m)),
                       F.lit(False)).alias("is_dup"),
        )
    )


def index_neardup_add(spark: SparkSession, path: str, increment: DataFrame,
                      vectors: DataFrame, threshold_m: int = 350,
                      nprobe: int = 4, shortlist: int = 20,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """The continual-ingestion composition: screen the increment with
    :func:`index_neardup`, then add ONLY the survivors to the index
    (O(survivors) — frozen quantizers, corpus codes never read), so the
    next batch is also screened against this batch's keepers. The same
    keep-one contract as ``dedup.add_to_dedup_index``; re-screening an
    already-indexed id is the caller's bug. Returns the verdict frame
    (materialized before the add so the index mutation cannot shift
    it)."""
    idx = read_vector_index(spark, path)
    flags = index_neardup(
        idx, increment, vectors, threshold_m=threshold_m, nprobe=nprobe,
        shortlist=shortlist, id_col=id_col, vec_col=vec_col,
    ).localCheckpoint()
    keep = flags.filter(~F.col("is_dup")).select(
        F.col("vec_id").alias("__keep_id")
    )
    survivors = increment.join(
        keep, increment[id_col] == F.col("__keep_id"), "left_semi"
    )
    add_to_vector_index(spark, path, survivors,
                        id_col=id_col, vec_col=vec_col)
    return flags
