"""Each persisting query keeps its storage level.

Each query below persists an intermediate that two or more consumers
read (posting lists, signatures, fingerprints, scored rows, IVF
assignments and shortlists). Dropping one silently re-derives the
subtree per consumer — r06 measured ``hamming_pairs64`` at 14 s lazy
against 2.7 s materialized at sf0.1 — so the optimized plan of each
query must still read an ``InMemoryRelation`` at the level it was
written with. Only the plans are inspected; the queries never run
(the jobs some of them launch while being built still do).
"""

from __future__ import annotations

import re

import pytest

from distributed_crawl_spark.functions import dedup as DD
from distributed_crawl_spark.functions import similarity as SIM
from distributed_crawl_spark.functions import textstats as TS

# InMemoryRelation's rendering of PySpark's StorageLevel.MEMORY_AND_DISK
# (serialized) and of DataFrame.persist()'s default, MEMORY_AND_DISK_DESER
SERIALIZED = "StorageLevel(disk, memory, 1 replicas)"
DESERIALIZED = "StorageLevel(disk, memory, deserialized, 1 replicas)"

_TEXTS = [
    "the quick brown fox jumps over the lazy dog again",
    "the quick brown fox jumps over the lazy dog today",
    "an entirely different sentence about spark engines",
    "an entirely different sentence about spark planners",
]


def _docs(spark):
    return spark.createDataFrame(
        [(i, t, f"h{i % 2}.test") for i, t in enumerate(_TEXTS)],
        "doc_id LONG, text STRING, host STRING",
    )


def _vecs(spark, offset=0):
    return spark.createDataFrame(
        [(offset + i, [float(i == j) + 0.1 for j in range(4)])
         for i in range(4)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )


QUERIES = {
    "ngram_jaccard_pairs": (
        lambda s: DD.ngram_jaccard_pairs(_docs(s), local_threshold=0),
        SERIALIZED),
    "ngram_containment_pairs": (
        lambda s: DD.ngram_containment_pairs(_docs(s), local_threshold=0),
        SERIALIZED),
    "minhash_lsh_pairs": (
        lambda s: DD.minhash_lsh_pairs(_docs(s)), SERIALIZED),
    "incremental_dedup": (
        lambda s: DD.incremental_dedup(_docs(s), DD.dedup_index(_docs(s))),
        SERIALIZED),
    "simhash_pairs64": (
        lambda s: DD.simhash_pairs64(_docs(s)), SERIALIZED),
    "hamming_pairs64": (
        lambda s: DD.hamming_pairs64(DD.simhash64(_docs(s))), SERIALIZED),
    "simhash_pairs": (lambda s: DD.simhash_pairs(_docs(s)), SERIALIZED),
    "mirror_detect": (lambda s: DD.mirror_detect(_docs(s)), SERIALIZED),
    "ccnet_buckets": (
        lambda s: TS.ccnet_buckets(_docs(s), lang_col="host"), SERIALIZED),
    "semdedup": (
        lambda s: SIM.semdedup(_vecs(s), n_cells=2), SERIALIZED),
    "bigram_logprob": (
        lambda s: TS.bigram_logprob(_docs(s)), DESERIALIZED),
    "bitext_mine_ivf": (
        lambda s: SIM.bitext_mine_ivf(_vecs(s), _vecs(s, offset=10),
                                      shortlist=2, n_cells=2, nprobe=2),
        DESERIALIZED),
}


@pytest.fixture
def clean_cache(spark):
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_plan_reads_its_persist(spark, clean_cache, name):
    build, level = QUERIES[name]
    plan = build(spark)._jdf.queryExecution().optimizedPlan().toString()
    levels = set(re.findall(
        r"InMemoryRelation \[[^\]]*\], (StorageLevel\([^)]*\))", plan))
    assert levels == {level}, (name, levels)
