"""Similarity search: brute-force cosine top-k vs a numpy oracle, LSH
bucket determinism and recall, near-dup pair join."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from distributed_crawl_spark.functions import similarity as SIM

DIM = 16
N = 40


def _vectors() -> np.ndarray:
    rng = np.random.RandomState(7)
    v = rng.randn(N, DIM).astype(np.float32)
    v[1] = v[0] + rng.randn(DIM).astype(np.float32) * 0.01  # planted near-dup
    return v


@pytest.fixture(scope="module")
def vec_df(spark):
    v = _vectors()
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    return spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(N)], schema
    )


def np_topk(v: np.ndarray, qid: int, k: int) -> list[int]:
    vd = v.astype(np.float64)
    cos = vd @ vd[qid] / (np.linalg.norm(vd, axis=1) * np.linalg.norm(vd[qid]))
    order = sorted((i for i in range(N) if i != qid), key=lambda i: (-cos[i], i))
    return order[:k]


def test_brute_force_topk_matches_numpy(vec_df):
    v = _vectors()
    out = SIM.brute_force_topk(vec_df, vec_df.filter(F.col("vec_id") < 3), k=4)
    got: dict[int, list[int]] = {}
    for r in out.orderBy("query_id", "rank").collect():
        got.setdefault(r.query_id, []).append(r.vec_id)
    for qid in range(3):
        assert got[qid] == np_topk(v, qid, 4), qid


def test_topk_finds_planted_near_dup(vec_df):
    out = SIM.brute_force_topk(vec_df, vec_df.filter(F.col("vec_id") == 0), k=1)
    row = out.collect()[0]
    assert row.vec_id == 1 and row.cos_m >= 990


def test_plane_matrix_deterministic():
    m1 = SIM.plane_matrix(4, DIM)
    m2 = SIM.plane_matrix(4, DIM)
    assert m1 == m2
    assert all(-1000 <= x <= 1000 for row in m1 for x in row)


def test_lsh_bucket_is_stable_and_groups_near_dups(vec_df, spark):
    b = SIM._bucket_tagged(vec_df, "vec_id", "v", "vec_id", "embedding",
                           DIM, n_planes=4, n_tables=1)
    got = {r.vec_id: r.bucket for r in b.collect()}
    assert got == {r.vec_id: r.bucket for r in b.collect()}  # deterministic
    assert 0 <= min(got.values()) and max(got.values()) < 16
    # planted near-dup lands in the same bucket (sign pattern is robust to
    # a 1% perturbation with overwhelming probability at this seed)
    assert got[0] == got[1]


def _bits(x) -> np.ndarray:
    return np.asarray(x, dtype=np.float64).view(np.int64)


def test_sql_folds_bit_equal_numpy_fold(spark):
    """The one summation order, checked across its two forms: the
    SQL-text folds (dot, norm, cosine, l2sq) and the numpy primitives
    every Arrow kernel accumulates through agree bit for bit, and the
    numpy PQ argmin picks _pq_best's code_id, exact ties included."""
    rng = np.random.RandomState(12)
    m, d0, k = 4, 4, 8
    CB = rng.randint(-3, 4, size=(m, k, d0)).astype(np.float64)
    CB[:, 1] = CB[:, 0]
    CB[:, 1, 0] += 2.0   # codes 0 and 1 are 2 apart along one axis
    CB[:, 6] = CB[:, 2]  # code 6 duplicates code 2

    def mags(d):  # ±10^U(-8,8): summation order changes the bits
        return rng.choice([-1.0, 1.0], d) * 10.0 ** rng.uniform(-8, 8, d)

    rows = []
    for i in range(240):
        d = 1 + i % 64
        if i % 3:
            e = mags(m * d0)
        else:  # every slice on an exact tie: 0/1 midpoint, or code 2 = 6
            e = np.concatenate([
                CB[j, 0] + np.eye(d0)[0] if (i + j) % 2 else CB[j, 2]
                for j in range(m)
            ])
        rows.append((i, mags(d).tolist(), mags(d).tolist(), e.tolist()))
    df = spark.createDataFrame(
        rows, "vec_id long, a array<double>, b array<double>, e array<double>")
    cb = spark.createDataFrame(
        [(j, c, CB[j, c].tolist()) for j in range(m) for c in range(k)],
        "sub int, code_id int, centroid array<double>")
    codes = SIM._pq_best(df.select("vec_id", "e"), cb, m, d0).groupBy(
        "vec_id").agg(F.sort_array(F.collect_list(F.struct(
            "sub", F.col("b.code_id").alias("code_id")))).alias("codes"))
    got = df.join(codes, "vec_id").select(
        "vec_id", "a", "b", "e", "codes",
        SIM.dot("a", "b").alias("dot"), SIM.norm("a").alias("norm"),
        SIM.cosine("a", "b").alias("cos"), SIM.l2sq("a", "b").alias("l2sq"),
    ).orderBy("vec_id").collect()
    assert len(got) == len(rows)

    row = [(np.array([r.a]), np.array([r.b])) for r in got]
    dots = [SIM._np_row_dots(a, b)[0] for a, b in row]
    norms = [SIM._np_ordered_norms(a)[0] for a, _ in row]
    assert (_bits([r.dot for r in got]) == _bits(dots)).all()
    assert (_bits([r.dot for r in got])
            == _bits([SIM._np_dots(a, b)[0, 0] for a, b in row])).all()
    assert (_bits([r.norm for r in got]) == _bits(norms)).all()
    assert (_bits([r.l2sq for r in got])
            == _bits([SIM._np_dots(a, b, l2=True)[0, 0] for a, b in row])).all()
    cos = [dt / (na * SIM._np_ordered_norms(b)[0])
           for dt, na, (_, b) in zip(dots, norms, row)]
    assert (_bits([r.cos for r in got]) == _bits(cos)).all()
    # the data is order-sensitive: a right-to-left sum differs somewhere
    rev = [sum(x * y for x, y in zip(r.a[::-1], r.b[::-1])) for r in got]
    assert (_bits(rev) != _bits(dots)).any()

    E = np.array([r.e for r in got])
    np_codes = SIM._np_pq_codes(E, list(CB), d0)
    assert np_codes.tolist() == [[c.code_id for c in r.codes] for r in got]
    ties = sum(
        int(((D == D.min(axis=1, keepdims=True)).sum(axis=1) > 1).sum())
        for D in (SIM._np_dots(E[:, j * d0:(j + 1) * d0], CB[j], l2=True)
                  for j in range(m))
    )
    assert ties >= 80 * m  # every planted slice sits on an exact tie


def test_lsh_topk_recalls_near_dup(vec_df):
    out = SIM.lsh_topk(
        vec_df, vec_df.filter(F.col("vec_id") == 0), k=3, n_planes=4, dim=DIM
    )
    ids = [r.vec_id for r in out.orderBy("rank").collect()]
    assert ids and ids[0] == 1


def test_near_dup_pairs(vec_df):
    pairs = SIM.embedding_near_dup_pairs(vec_df, threshold=0.95, id_col="vec_id")
    got = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert got == [(0, 1)]


def test_lsh_near_dup_pairs_subset_of_exact(spark, vec_df):
    """Bucketed near-dup pairs ⊆ exact all-pairs; the planted near-dup
    (nearly-identical vectors land in the same bucket w.h.p.) is found."""
    exact = {
        (r.id_a, r.id_b, r.cos_m)
        for r in SIM.embedding_near_dup_pairs(
            vec_df, threshold=0.3
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cos_m)
        for r in SIM.embedding_near_dup_pairs_lsh(
            vec_df, threshold=0.3, dim=DIM
        ).collect()
    }
    assert lsh <= exact
    assert (0, 1) in {(a, b) for a, b, _ in lsh}  # planted pair recalled


def test_lsh_near_dup_multi_table_recall_monotone(spark, vec_df):
    """More hash tables can only add pairs (recall is monotone in T) and
    never duplicates a pair."""
    sets = []
    for t in (1, 4):
        rows = SIM.embedding_near_dup_pairs_lsh(
            vec_df, threshold=0.3, dim=DIM, n_tables=t
        ).collect()
        pairs = [(r.id_a, r.id_b) for r in rows]
        assert len(pairs) == len(set(pairs))  # emitted once
        sets.append(set(pairs))
    assert sets[0] <= sets[1]


def test_lsh_topk_multi_table_recall_monotone(spark, vec_df):
    """recall@5 vs brute force is monotone in the number of hash tables."""
    v = _vectors()
    truth = {q: set(np_topk(v, q, 5)) for q in range(5)}
    queries = vec_df.filter(F.col("vec_id") < 5)

    def recall(n_tables: int) -> float:
        got: dict[int, set[int]] = {q: set() for q in range(5)}
        rows = SIM.lsh_topk(
            vec_df, queries, k=5, dim=DIM, n_planes=2, n_tables=n_tables
        ).collect()
        for r in rows:
            got[r.query_id].add(r.vec_id)
        hit = sum(len(got[q] & truth[q]) for q in truth)
        return hit / sum(len(t) for t in truth.values())

    r1, r8 = recall(1), recall(8)
    assert r1 <= r8
    assert r8 >= 0.6  # 8 tables x 2 planes: most neighbours recovered


def test_seed_centroids_deterministic_and_sized(vec_df):
    c1 = [(r.cell_id,) for r in SIM.seed_centroids(vec_df, 8).collect()]
    c2 = [(r.cell_id,) for r in SIM.seed_centroids(vec_df, 8).collect()]
    assert c1 == c2 and len(c1) == 8
    assert len({c for (c,) in c1}) == 8


def test_ivf_assign_one_cell_per_vector(vec_df):
    cent = SIM.seed_centroids(vec_df, 8)
    a = SIM.ivf_assign(vec_df, cent, nprobe=1)
    rows = a.collect()
    assert len(rows) == N  # exactly one cell per vector
    cells = {r.cell_id for r in rows}
    assert cells <= {r.cell_id for r in cent.collect()}


def test_ivf_topk_recall_monotone_in_nprobe_and_exact_at_full_probe(vec_df):
    """recall@5 rises with nprobe; probing every cell IS the exact search."""
    v = _vectors()
    truth = {q: set(np_topk(v, q, 5)) for q in range(5)}
    queries = vec_df.filter(F.col("vec_id") < 5)

    def recall(nprobe: int) -> float:
        got: dict[int, set[int]] = {q: set() for q in range(5)}
        rows = SIM.ivf_topk(
            vec_df, queries, k=5, n_cells=8, nprobe=nprobe
        ).collect()
        for r in rows:
            got[r.query_id].add(r.vec_id)
        hit = sum(len(got[q] & truth[q]) for q in truth)
        return hit / sum(len(t) for t in truth.values())

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r1 <= r4 <= r8
    assert r8 == 1.0  # nprobe = n_cells → every candidate scanned → exact


def test_kmeans_codebook_recovers_planted_clusters(spark):
    """Lloyd's trainer: on 3 planted clusters the trained codebook (k=3)
    assigns each cluster to one cell and beats the seeded-sample codebook
    on mean cosine-to-centroid (the k-means objective)."""
    import random

    from distributed_crawl_spark.functions import similarity as SIM

    rng = random.Random(7)
    base = [[10, 0, 0, 0], [0, 10, 0, 0], [0, 0, 10, 0]]
    rows = []
    for i in range(60):
        c = base[i % 3]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in c]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    trained = SIM.kmeans_codebook(vecs, n_cells=3, n_iters=4, dim=4)
    seeded = SIM.seed_centroids(vecs, 3)

    def mean_best_cos(cb):
        a = SIM.ivf_assign(vecs, cb, nprobe=1)
        joined = a.join(cb, "cell_id").select(
            SIM.cosine("v", "centroid").alias("c"))
        return joined.agg(F.avg("c")).first()[0]

    assert trained.count() == 3
    # every cluster lands in exactly one trained cell
    assigned = SIM.ivf_assign(vecs, trained, nprobe=1).collect()
    cells_by_cluster = {}
    for r in assigned:
        cells_by_cluster.setdefault(r.vec_id % 3, set()).add(r.cell_id)
    assert all(len(s) == 1 for s in cells_by_cluster.values()), cells_by_cluster
    assert len(set.union(*cells_by_cluster.values())) == 3
    assert mean_best_cos(trained) >= mean_best_cos(seeded)


def test_semdedup_planted_clusters(spark):
    """Planted paraphrase groups collapse to one kept representative
    via transitive components; distant vectors all survive."""
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 62

    rows = (
        # tight chain around theta=0: a-b close, b-c close (a-c less so)
        [(0, unit(0.0)), (1, unit(0.05)), (2, unit(0.10))]
        # a second tight pair far away
        + [(10, unit(2.0)), (11, unit(2.02))]
        # isolated singleton
        + [(20, unit(4.0))]
    )
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = spark.createDataFrame(
        [(0, unit(0.0)), (1, unit(2.0))],
        "cell_id LONG, centroid ARRAY<DOUBLE>",
    )
    out = {r.vec_id: r for r in SIM.semdedup(
        df, threshold=0.99, centroids=cents).collect()}
    assert out[0].keep and out[0].component_id == 0
    # transitive: 2 joins the 0-component through 1 even if cos(0,2)<thr
    assert out[1].component_id == 0 and not out[1].keep
    assert out[2].component_id == 0 and not out[2].keep
    assert out[10].keep and not out[11].keep and out[11].component_id == 10
    assert out[20].keep and out[20].component_id == 20


def test_pq_encode_identity_and_distortion(spark):
    """A vector that IS a codebook seed reconstructs itself exactly
    (codes point at its own slices, recon cosine = 1.0); every code is
    a valid id and distortion is bounded to [-1, 1]."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = {r.vec_id: r for r in SIM.pq_encode(df, m=8, k=16).collect()}
    assert len(out) == 40
    for r in out.values():
        codes = [int(c) for c in r.codes.split(",")]
        assert len(codes) == 8 and all(0 <= c < 16 for c in codes)
        assert -1000 <= r.recon_cos_m <= 1000
    # seed vectors reconstruct exactly: their own slice is distance 0
    sdf = SIM.seed_pq_codebooks(df, m=8, k=16)
    seed_codes = {
        r.code_id
        for r in sdf.select("code_id").distinct().collect()
    }
    assert seed_codes == set(range(16))
    # find one seed's vec_id by matching slice 0 against the codebook
    cb0 = {tuple(r.centroid): r.code_id
           for r in sdf.filter("sub = 0").collect()}
    for vid, emb in rows:
        key = tuple(emb[:8])
        if key in cb0:
            expect = cb0[key]
            assert out[vid].codes.startswith(str(expect) + ",")
            assert out[vid].recon_cos_m == 1000  # floor(1.0*1000)
            break
    else:
        raise AssertionError("no seed vector found in corpus")


def test_pq_topk_adc_recalls_planted_near_dup(vec_df):
    """ADC search over codes: the planted near-identical pair (0, 1)
    quantizes to nearby (often identical) codes, so vec 1 ranks at the
    top for query 0; output is deterministic across runs."""
    out1 = SIM.pq_topk(
        vec_df, vec_df.filter(F.col("vec_id") == 0),
        k=5, m=4, n_codes=8, dim=DIM,
    ).orderBy("rank").collect()
    ids = [r.vec_id for r in out1]
    assert len(ids) == 5 and 1 in ids[:3]
    assert [r.adist_q for r in out1] == sorted(r.adist_q for r in out1)
    out2 = SIM.pq_topk(
        vec_df, vec_df.filter(F.col("vec_id") == 0),
        k=5, m=4, n_codes=8, dim=DIM,
    ).orderBy("rank").collect()
    assert [(r.vec_id, r.adist_q) for r in out1] == [
        (r.vec_id, r.adist_q) for r in out2
    ]


def test_pq_rerank_full_shortlist_equals_exact(vec_df):
    """With shortlist = corpus size the re-rank IS the exact search —
    output matches brute_force_topk row for row."""
    queries = vec_df.filter(F.col("vec_id") < 3)
    exact = [
        (r.query_id, r.vec_id, r.rank, r.cos_m)
        for r in SIM.brute_force_topk(vec_df, queries, k=4)
        .orderBy("query_id", "rank").collect()
    ]
    two_stage = [
        (r.query_id, r.vec_id, r.rank, r.cos_m)
        for r in SIM.pq_topk_rerank(
            vec_df, queries, k=4, shortlist=N, m=4, n_codes=8, dim=DIM
        ).orderBy("query_id", "rank").collect()
    ]
    assert two_stage == exact


# ---- bitext mining ----------------------------------------------------------


def _bitext_mirror(S, T, k):
    """Pure-Python/numpy mirror of bitext_mine's integer contract."""
    import math

    Sd, Td = S.astype(np.float64), T.astype(np.float64)

    def cs(a, b):
        c = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        return int(math.floor(c * 1000)) + 1000

    ns, nt = len(S), len(T)
    C = np.array([[cs(Sd[i], Td[j]) for j in range(nt)] for i in range(ns)],
                 dtype=np.int64)
    kx = np.sort(C, axis=1)[:, -k:].sum(axis=1)
    ky = np.sort(C, axis=0)[-k:, :].sum(axis=0)
    M = (C * (2 * k * 10000)) // (kx[:, None] + ky[None, :])
    return C, M


def test_bitext_mine_matches_numpy(spark):
    rng = np.random.RandomState(11)
    ns, nt, d, k, tau = 18, 21, 12, 4, 10500
    S = rng.randn(ns, d).astype(np.float32)
    T = rng.randn(nt, d).astype(np.float32)
    T[7] = S[3] + rng.randn(d).astype(np.float32) * 0.01  # planted pair
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    sdf = spark.createDataFrame(
        [(i, [float(x) for x in S[i]]) for i in range(ns)], schema)
    tdf = spark.createDataFrame(
        [(100 + j, [float(x) for x in T[j]]) for j in range(nt)], schema)

    got = {r.src_id: (r.tgt_id, r.cos_m, r.margin_bp, r.mutual, r.mined)
           for r in SIM.bitext_mine(sdf, tdf, k=k,
                                    threshold_bp=tau).collect()}
    assert len(got) == ns  # one row per src vector

    C, M = _bitext_mirror(S, T, k)
    for i in range(ns):
        order = sorted(range(nt), key=lambda j: (-M[i, j], -C[i, j], j))
        j = order[0]
        back = sorted(range(ns), key=lambda i2: (-M[i2, j], -C[i2, j], i2))
        mut = back[0] == i
        assert got[i] == (100 + j, int(C[i, j]) - 1000, int(M[i, j]), mut,
                          bool(mut and M[i, j] >= tau)), f"src {i}"

    # the planted parallel pair is mutual-best and mined
    assert got[3][0] == 107 and got[3][3] and got[3][4]


def test_bitext_mine_mined_pairs_are_injective(spark):
    """Mutual-best mining is one-to-one: no target is claimed by two
    mined sources (the property that makes the output a candidate
    BITEXT, not a nearest-neighbour list)."""
    rng = np.random.RandomState(23)
    n, d = 30, 10
    S = rng.randn(n, d).astype(np.float32)
    T = rng.randn(n, d).astype(np.float32)
    T[:10] = S[:10] + rng.randn(10, d).astype(np.float32) * 0.02
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    sdf = spark.createDataFrame(
        [(i, [float(x) for x in S[i]]) for i in range(n)], schema)
    tdf = spark.createDataFrame(
        [(100 + j, [float(x) for x in T[j]]) for j in range(n)], schema)
    mined = [r for r in SIM.bitext_mine(sdf, tdf, k=4).collect() if r.mined]
    assert len(mined) >= 10  # every planted translation is found
    tgts = [r.tgt_id for r in mined]
    assert len(tgts) == len(set(tgts))
    assert all(r.mutual for r in mined)


def test_bitext_mine_ivf_full_probe_equals_exact(spark):
    """At nprobe = n_cells and shortlist = |other side| the IVF miner's
    shortlists are total, so margins, argmaxes, mutual flags — the whole
    output — must equal the exact broadcast miner row-for-row."""
    rng = np.random.RandomState(31)
    n, d = 24, 12
    S = rng.randn(n, d).astype(np.float32)
    T = rng.randn(n, d).astype(np.float32)
    T[:6] = S[:6] + rng.randn(6, d).astype(np.float32) * 0.02
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    sdf = spark.createDataFrame(
        [(2 * i, [float(x) for x in S[i]]) for i in range(n)], schema)
    tdf = spark.createDataFrame(
        [(2 * j + 1, [float(x) for x in T[j]]) for j in range(n)], schema)
    key = lambda rows: sorted(map(tuple, rows))
    exact = key(SIM.bitext_mine(sdf, tdf, k=4, threshold_bp=10200).collect())
    ivf = key(SIM.bitext_mine_ivf(sdf, tdf, k=4, threshold_bp=10200,
                                  shortlist=n, n_cells=8,
                                  nprobe=8).collect())
    assert ivf == exact


def test_bitext_mine_ivf_partial_probe_mines_planted(spark):
    """Clustered shards at partial probe: every planted translation is
    still mined (the pairs IVF exists to find live in shared cells) and
    the mined set stays a subset of the mutual pairs."""
    rng = np.random.RandomState(7)
    n, d = 48, 16
    centers = rng.randn(6, d)
    S = np.vstack([centers[i % 6] + rng.randn(d) * 0.15
                   for i in range(n)]).astype(np.float32)
    T = np.vstack([centers[i % 6] + rng.randn(d) * 0.15
                   for i in range(n)]).astype(np.float32)
    T[:16] = S[:16] + rng.randn(16, d).astype(np.float32) * 0.02
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    sdf = spark.createDataFrame(
        [(2 * i, [float(x) for x in S[i]]) for i in range(n)], schema)
    tdf = spark.createDataFrame(
        [(2 * j + 1, [float(x) for x in T[j]]) for j in range(n)], schema)
    rows = SIM.bitext_mine_ivf(sdf, tdf, k=4, threshold_bp=10010,
                               shortlist=12, n_cells=12,
                               nprobe=3).collect()
    mined = {(r.src_id, r.tgt_id) for r in rows if r.mined}
    planted = {(2 * i, 2 * i + 1) for i in range(16)}
    assert planted <= mined
    assert all(r.mutual for r in rows if r.mined)
