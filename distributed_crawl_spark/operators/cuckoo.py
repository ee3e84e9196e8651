"""Partitioned cuckoo filter — the deletable alternative to the Bloom
URL-seen pre-filter (operators/seen.py; BASELINE.json names "bloom/cuckoo").

Why cuckoo at all: a Bloom filter cannot delete, so URLs that must be
re-crawlable (expired TTL, recrawl policy) would poison the filter forever.
A cuckoo filter stores displaceable 16-bit fingerprints in 4-slot buckets,
supporting delete with the same one-sided error guarantee (no false
negatives while membership is intact).

Layout mirrors the Bloom layer: the url space is range-partitioned by
``pmod(xxhash64(url), n_partitions)``; each partition owns an independent
table of ``m`` buckets × 4 slots of uint16 fingerprints, stored as one
binary row in the checkpoint. Build/probe/delete are numpy over Arrow
batches via cogrouped ``applyInPandas``; the per-URL hashes (fingerprint
and primary bucket) are computed JVM-side with ``xxhash64`` so no URL
string is ever hashed in Python.

Cuckoo specifics (Fan et al., CoNLL'14 partial-key hashing):
    fp(x)   = 1 + (xxhash64(x, 3) mod 65535)        # 16-bit, never 0
    i1(x)   = xxhash64(x, 4) mod m
    i2(x,i) = (i XOR h(fp)) mod m,  h(fp) = splitmix-style spread of fp
Insertion kicks a random-ish victim (deterministic: seeded by the running
insert counter) for up to MAX_KICKS displacements; a full table raises —
sized so the engine treats that as a config error, not data loss.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

CUCKOO_STATE_SCHEMA = StructType(
    [
        StructField("partition", IntegerType(), False),
        StructField("table", BinaryType(), False),  # uint16[m_buckets*4]
        StructField("n_inserted", LongType(), False),
    ]
)

SLOTS = 4
MAX_KICKS = 500


def _spread(fp: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit spread of the 16-bit fingerprint (splitmix step)
    — the alt-bucket offset hash h(fp)."""
    x = fp.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(31)
    return x


class CuckooSeenFilter:
    """Partitioned, updatable, DELETABLE membership filter over seen URLs."""

    def __init__(self, n_partitions: int = 64, m_buckets: int = 1 << 16):
        assert m_buckets & (m_buckets - 1) == 0, "m_buckets must be 2^k"
        self.n_partitions = n_partitions
        self.m_buckets = m_buckets

    # -- hashing (JVM side) -----------------------------------------------------

    def partition_col(self, url_col):
        return F.pmod(F.xxhash64(url_col), F.lit(self.n_partitions)).cast("int")

    def _tag(self, df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__part", self.partition_col(F.col("url")))
            .withColumn("__fp", F.pmod(F.xxhash64(F.col("url"), F.lit(3)), F.lit(65535)) + 1)
            .withColumn("__i1", F.pmod(F.xxhash64(F.col("url"), F.lit(4)), F.lit(self.m_buckets)))
        )

    # -- numpy core ---------------------------------------------------------------

    def _alt(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        m = np.uint64(self.m_buckets)
        return ((i.astype(np.uint64) ^ _spread(fp)) % m).astype(np.int64)

    def _insert_np(self, table: np.ndarray, fp: np.ndarray, i1: np.ndarray,
                   n_prev: int) -> None:
        """Batch insert, vectorized.

        Round-based scatter for the no-collision fast path: each round
        (a) drops keys already present in either bucket (idempotence, and
        how batch duplicates resolve), (b) picks each key's first bucket
        with a free slot, (c) places ONE key per distinct target bucket
        (first occurrence wins; numpy scatter would otherwise lose
        conflicting writes) and requeues the rest. Placements only fill
        slots, so a key whose both buckets are full can never become
        placeable — those route straight to the per-key kick-chain loop,
        the only remaining Python loop, sized by residue (rare below ~85%
        load), not batch."""
        m = self.m_buckets
        tbl = table.reshape(m, SLOTS)
        fp = fp.astype(np.uint64)
        i1 = i1.astype(np.int64)
        pending = np.arange(len(fp))
        kickers: list[int] = []
        while len(pending):
            pf = fp[pending]
            p1 = i1[pending]
            p2 = self._alt(p1, pf)
            f16 = pf.astype(np.uint16)[:, None]
            present = (tbl[p1] == f16).any(axis=1) | (tbl[p2] == f16).any(axis=1)
            keep = ~present
            pending, pf, p1, p2 = pending[keep], pf[keep], p1[keep], p2[keep]
            if not len(pending):
                break
            free1 = (tbl[p1] == 0).any(axis=1)
            free2 = (tbl[p2] == 0).any(axis=1)
            can = free1 | free2
            kickers.extend(pending[~can].tolist())
            pending, pf = pending[can], pf[can]
            target = np.where(free1, p1, p2)[can]
            if not len(pending):
                break
            _, sel = np.unique(target, return_index=True)
            b = target[sel]
            first_empty = (tbl[b] == 0).argmax(axis=1)
            tbl[b, first_empty] = pf[sel].astype(np.uint16)
            placed = np.zeros(len(pending), dtype=bool)
            placed[sel] = True
            pending = pending[~placed]

        # kick-chain residue: per-key displacement (deterministic victim)
        kick_seed = n_prev
        for k in kickers:
            cur, b = np.uint16(fp[k]), int(i1[k])
            # the key may have become present via a batch duplicate
            j = int(self._alt(np.array([b]), np.array([cur], dtype=np.uint64))[0])
            if (tbl[b] == cur).any() or (tbl[j] == cur).any():
                continue
            for _kick in range(MAX_KICKS):
                kick_seed = (kick_seed * 6364136223846793005 + 1442695040888963407) % (1 << 64)
                slot = kick_seed % SLOTS
                victim = tbl[b, slot]
                tbl[b, slot] = cur
                cur = victim
                b = int(self._alt(np.array([b]), np.array([cur], dtype=np.uint64))[0])
                empty = np.nonzero(tbl[b] == 0)[0]
                if len(empty):
                    tbl[b, empty[0]] = cur
                    break
            else:
                raise RuntimeError(
                    "cuckoo filter full — raise m_buckets (config error, "
                    "not silent data loss)"
                )

    def _contains_np(self, table: np.ndarray, fp: np.ndarray, i1: np.ndarray) -> np.ndarray:
        tbl = table.reshape(self.m_buckets, SLOTS)
        i2 = self._alt(i1, fp.astype(np.uint64))
        f = fp.astype(np.uint16)[:, None]
        return ((tbl[i1] == f).any(axis=1)) | ((tbl[i2] == f).any(axis=1))

    def _delete_np(self, table: np.ndarray, fp: np.ndarray, i1: np.ndarray) -> int:
        """Batch delete, vectorized round-based like _insert_np: per round,
        locate each key's fingerprint (primary bucket preferred), clear one
        slot per distinct target bucket (conflicting same-bucket deletes
        requeue so each key removes exactly one instance), drop
        not-present keys."""
        tbl = table.reshape(self.m_buckets, SLOTS)
        fp = fp.astype(np.uint64)
        i1 = i1.astype(np.int64)
        removed = 0
        pending = np.arange(len(fp))
        while len(pending):
            pf = fp[pending]
            p1 = i1[pending]
            p2 = self._alt(p1, pf)
            f16 = pf.astype(np.uint16)[:, None]
            in1 = (tbl[p1] == f16).any(axis=1)
            in2 = (tbl[p2] == f16).any(axis=1)
            found = in1 | in2
            pending, pf = pending[found], pf[found]
            if not len(pending):
                break
            bucket = np.where(in1, p1, p2)[found]
            _, sel = np.unique(bucket, return_index=True)
            b = bucket[sel]
            f16s = pf[sel].astype(np.uint16)
            slot = (tbl[b] == f16s[:, None]).argmax(axis=1)
            tbl[b, slot] = 0
            removed += len(sel)
            done = np.zeros(len(pending), dtype=bool)
            done[sel] = True
            pending = pending[~done]
        return removed

    # -- dataframe API ------------------------------------------------------------

    @property
    def format(self) -> str:
        """Hash scheme + geometry stamp for persisted state (see
        BloomSeenFilter.format) — mismatched probes mean false negatives."""
        return f"cuckoo/xxhash64-fp16/parts={self.n_partitions}/buckets={self.m_buckets}"

    def empty_state(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame([], CUCKOO_STATE_SCHEMA)

    def _apply(self, state: DataFrame, urls: DataFrame, op: str) -> DataFrame:
        m = self.m_buckets

        def run(key, urls_pdf, state_pdf) -> pd.DataFrame:
            (part,) = key
            if len(state_pdf):
                table = np.frombuffer(state_pdf["table"].iloc[0], dtype=np.uint16).copy()
                n = int(state_pdf["n_inserted"].iloc[0])
            else:
                table = np.zeros(m * SLOTS, dtype=np.uint16)
                n = 0
            if len(urls_pdf):
                fp = urls_pdf["__fp"].to_numpy(dtype=np.uint64)
                i1 = urls_pdf["__i1"].to_numpy(dtype=np.int64)
                if op == "insert":
                    self._insert_np(table, fp, i1, n)
                    n += len(urls_pdf)
                else:
                    n -= self._delete_np(table, fp, i1)
            return pd.DataFrame(
                {"partition": [part], "table": [table.tobytes()], "n_inserted": [n]}
            )

        tagged = self._tag(urls.select("url"))
        return (
            tagged.groupBy(F.col("__part").alias("partition"))
            .cogroup(state.groupBy("partition"))
            .applyInPandas(run, schema=CUCKOO_STATE_SCHEMA)
        )

    def insert(self, state: DataFrame, new_urls: DataFrame) -> DataFrame:
        return self._apply(state, new_urls, "insert")

    def delete(self, state: DataFrame, urls: DataFrame) -> DataFrame:
        """Remove urls (e.g. recrawl-TTL expiry). Deleting a never-inserted
        url is a no-op per partial-key semantics ONLY if its fingerprint is
        absent; callers must delete only previously-inserted urls."""
        return self._apply(state, urls, "delete")

    def probe(self, state: DataFrame, candidates: DataFrame) -> DataFrame:
        """Adds ``maybe_seen`` — same contract as BloomSeenFilter.probe."""
        m = self.m_buckets
        out_schema = StructType(
            candidates.schema.fields + [StructField("maybe_seen", BooleanType(), False)]
        )

        def check(cand_pdf, state_pdf) -> pd.DataFrame:
            fp = cand_pdf["__fp"].to_numpy(dtype=np.uint64)
            i1 = cand_pdf["__i1"].to_numpy(dtype=np.int64)
            cand_pdf = cand_pdf.drop(columns=["__part", "__fp", "__i1"])
            if not len(cand_pdf):
                return cand_pdf.assign(maybe_seen=pd.Series([], dtype=bool))
            if not len(state_pdf):
                return cand_pdf.assign(maybe_seen=False)
            table = np.frombuffer(state_pdf["table"].iloc[0], dtype=np.uint16)
            return cand_pdf.assign(maybe_seen=self._contains_np(table, fp, i1))

        tagged = self._tag(candidates)
        return (
            tagged.groupBy(F.col("__part"))
            .cogroup(state.groupBy("partition"))
            .applyInPandas(check, schema=out_schema)
        )
