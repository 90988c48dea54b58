"""Partitioned Bloom URL-seen prefilter, built/probed in vectorized numpy
inside Arrow-batched UDFs — the north_rule's partitioned URL-seen filter,
and the only filter family the crawl engine uses.

Role at scale: the exact seen-set lives in the `url_seen` table (bucketed
by url_hash); correctness is ALWAYS settled by an exact left_anti join
(SURVEY §7 "Bloom is a prefilter only"). The Bloom filter's job is to
shrink that anti-join's probe side: candidates whose shard bitset says
"definitely unseen" skip the shuffle entirely, and at 10^10 URLs with a
~1% duplicate discovery rate that's a ~99% reduction in anti-join input.

Sharding: shard_id = pmod(url_hash, n_shards) (non-negative, matching Spark
`F.pmod` in every probe path, including negative hashes), so each shard covers a
hash-disjoint slice and shards can be built/merged per Spark partition.

State invariant: the `bloom_shards` snapshot table holds ONE row
(shard_id, round, bitset) per shard that has any member — never more than
n_shards rows and never more than n_shards * m_bits/8 bytes. Each crawl
round folds its new hashes into the committed blobs (OR-merge per shard,
CrawlEngine._fold_bloom) and overwrites the table; `round` is the last
round that changed the shard. So the driver-broadcast probe collects at
most the filter's own size, and the distributed probe reads one blob per
shard. Size for the target frontier (e.g. 4096 shards x 16 MiB = 64 GiB
total at 10^10 URLs ~ 9.6 bits/key; the defaults are test-sized, 16 x
128 KiB). Probing broadcasts only the shards, never the seen table.

The reference's dedup is a pass-through stub (internal/pipeline/
components.go:173-263 `RecordDeduplicator`) + an MD5 helper
(internal/utils/utils.go:436-440); this design supersedes it per the
north_rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_N_SHARDS = 16
DEFAULT_M_BITS = 1 << 20  # per-shard bits (sandbox scale)
DEFAULT_K = 7


def _positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing: pos_i = h1 + i*h2 mod m."""
    h = hashes.astype(np.uint64)
    h1 = h
    h2 = ((h >> np.uint64(31)) | np.uint64(1))  # odd stride
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits))


def build_bitset(hashes: np.ndarray, m_bits: int = DEFAULT_M_BITS,
                 k: int = DEFAULT_K) -> bytes:
    """Bitset bytes for one shard from its url_hash array (vectorized)."""
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    if len(hashes):
        pos = _positions(np.asarray(hashes, dtype=np.int64), m_bits, k).ravel()
        np.bitwise_or.at(words, (pos >> np.uint64(6)).astype(np.int64),
                         np.uint64(1) << (pos & np.uint64(63)))
    return words.tobytes()


def merge_bitsets(a: bytes, b: bytes) -> bytes:
    wa = np.frombuffer(a, dtype=np.uint64)
    wb = np.frombuffer(b, dtype=np.uint64)
    return np.bitwise_or(wa, wb).tobytes()


def probe_bitset(bitset: bytes, hashes: np.ndarray,
                 m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K) -> np.ndarray:
    """Vector of maybe-seen booleans for hashes against one shard bitset."""
    if not len(hashes):
        return np.zeros(0, dtype=bool)
    words = np.frombuffer(bitset, dtype=np.uint64)
    pos = _positions(np.asarray(hashes, dtype=np.int64), m_bits, k)
    bits = (words[(pos >> np.uint64(6)).astype(np.int64)]
            >> (pos & np.uint64(63))) & np.uint64(1)
    return bits.all(axis=1).astype(bool)


class BloomShards:
    """Driver-side handle over all shards; broadcastable for probe UDFs."""

    def __init__(self, n_shards: int = DEFAULT_N_SHARDS,
                 m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K,
                 shards: dict[int, bytes] | None = None):
        self.n_shards = n_shards
        self.m_bits = m_bits
        self.k = k
        self.shards = shards or {}

    def shard_of(self, hashes: np.ndarray) -> np.ndarray:
        """pmod semantics (non-negative result, sign of the divisor) so the
        driver-broadcast path agrees with the Spark `F.pmod` shard columns in
        the scheduler/cogroup paths for EVERY n_shards, not just powers of
        two — np.mod on int64 matches Spark pmod exactly."""
        return np.mod(np.asarray(hashes, dtype=np.int64),
                      np.int64(self.n_shards)).astype(np.int64)

    def add_hashes(self, hashes: np.ndarray) -> None:
        """Driver-side incremental build (executor-side build goes through
        build_bitset inside applyInPandas — see scheduler)."""
        hashes = np.asarray(hashes, dtype=np.int64)
        if not len(hashes):
            return
        sh = self.shard_of(hashes)
        for s in np.unique(sh):
            bs = build_bitset(hashes[sh == s], self.m_bits, self.k)
            cur = self.shards.get(int(s))
            self.shards[int(s)] = merge_bitsets(cur, bs) if cur else bs

    def maybe_seen(self, hashes: pd.Series | np.ndarray) -> np.ndarray:
        hashes = np.asarray(hashes, dtype=np.int64)
        out = np.zeros(len(hashes), dtype=bool)
        if not len(hashes):
            return out
        sh = self.shard_of(hashes)
        for s in np.unique(sh):
            bitset = self.shards.get(int(s))
            if bitset is None:
                continue
            mask = sh == s
            out[mask] = probe_bitset(bitset, hashes[mask], self.m_bits, self.k)
        return out

    # -- persistence ------------------------------------------------------

    def to_rows(self, round_no: int) -> list[tuple[int, int, bytes]]:
        return [(int(s), round_no, bs) for s, bs in sorted(self.shards.items())]

    @classmethod
    def from_rows(cls, rows, n_shards: int = DEFAULT_N_SHARDS,
                  m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K) -> "BloomShards":
        """Handle over persisted (shard_id, round, bitset) rows; rows that
        share a shard are OR-merged."""
        shards: dict[int, bytes] = {}
        for shard_id, _round, bitset in rows:
            cur = shards.get(shard_id)
            shards[shard_id] = merge_bitsets(cur, bitset) if cur else bytes(bitset)
        return cls(n_shards, m_bits, k, shards)


def probe_maybe_seen_df(candidates: DataFrame, shards_df: DataFrame,
                        n_shards: int, m_bits: int, k: int,
                        hash_col: str = "url_hash") -> DataFrame:
    """Distributed probe: candidates cogrouped with their shard's bitsets —
    no shard ever visits the driver.

    This is the 10^10-scale path: the full filter (n_shards * m_bits/8
    bytes, e.g. 64 GiB) cannot be collected+broadcast, but each hash needs
    exactly one shard, so candidates shuffle by shard_id = pmod(hash,
    n_shards) and each task reads only its shard's blob (a few MiB) for a
    vectorized numpy probe. Output = candidates +
    `maybe_seen` boolean. The small-filter fast path (driver broadcast, no
    shuffle) lives in the scheduler and is chosen by total filter size.
    """
    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
    )
    out_cols = [f.name for f in out_schema.fields]
    shard_col = F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int")
    cand = candidates.withColumn("_shard_id", shard_col)
    sh = shards_df.withColumnRenamed("shard_id", "_shard_id")

    def probe(cand_pdf: pd.DataFrame, shards_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=out_cols)
        bitset = None
        for bs in shards_pdf["bitset"]:
            b = bytes(bs)
            bitset = b if bitset is None else merge_bitsets(bitset, b)
        hashes = cand_pdf[hash_col].to_numpy()
        maybe = (np.zeros(len(hashes), dtype=bool) if bitset is None
                 else probe_bitset(bitset, hashes, m_bits, k))
        out = cand_pdf.drop(columns=["_shard_id"]).copy()
        out["maybe_seen"] = maybe
        return out

    return (
        cand.groupBy("_shard_id")
        .cogroup(sh.groupBy("_shard_id"))
        .applyInPandas(probe, out_schema)
    )
