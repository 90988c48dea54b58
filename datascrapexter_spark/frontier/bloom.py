"""Partitioned Bloom URL-seen prefilter, built/probed in vectorized numpy
inside one Arrow-batched cogroup per crawl round — the north_rule's
partitioned URL-seen filter, and the only filter family the crawl engine
uses.

Role at scale: the exact seen-set lives in the `url_seen` table (bucketed
by url_hash); correctness is ALWAYS settled by an exact left_anti join
(SURVEY §7 "Bloom is a prefilter only"). The Bloom filter's job is to
shrink that anti-join's probe side: candidates whose shard bitset says
"definitely unseen" skip the exact check, and at 10^10 URLs with a ~1%
duplicate discovery rate that's a ~99% reduction in anti-join input.

Sharding: shard_id = pmod(url_hash, n_shards) (non-negative, matching Spark
`F.pmod` for every n_shards, including negative hashes), so each shard covers
a hash-disjoint slice and is probed and folded where it lives.

State invariant: the `bloom_shards` snapshot table holds ONE row
(shard_id, bitset) per shard that has any member — never more than
n_shards rows and never more than n_shards * m_bits/8 bytes — and the
blobs hold exactly the hashes of `url_seen` (both are written from the
same hashes and pinned to the same journal record). Each round runs one
pass, `probe_and_fold`: candidates shuffle by shard, each task reads only
its shard's blob (a few MiB at scale, e.g. 4096 shards x 16 MiB = 64 GiB
total at 10^10 URLs ~ 9.6 bits/key; the defaults are test-sized, 16 x
128 KiB), flags its candidates and emits the shard's next blob. Folding
every candidate rather than only the new ones gives the same bytes: a
candidate that is not new is in `url_seen`, so its bits are already set.
No blob ever visits the driver.

The reference's dedup is a pass-through stub (internal/pipeline/
components.go:173-263 `RecordDeduplicator`) + an MD5 helper
(internal/utils/utils.go:436-440); this design supersedes it per the
north_rule.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pyarrow as pa
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
    """Driver-side filter over all shards — the reference that the engine's
    one-pass cogroup (probe_and_fold) is tested against."""

    def __init__(self, n_shards: int = DEFAULT_N_SHARDS,
                 m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K,
                 shards: dict[int, bytes] | None = None):
        self.n_shards = n_shards
        self.m_bits = m_bits
        self.k = k
        self.shards = shards or {}

    def shard_of(self, hashes: np.ndarray) -> np.ndarray:
        """pmod semantics (non-negative result, sign of the divisor): np.mod
        on int64 matches the Spark `F.pmod` shard column of probe_and_fold
        for EVERY n_shards, not just powers of two."""
        return np.mod(np.asarray(hashes, dtype=np.int64),
                      np.int64(self.n_shards)).astype(np.int64)

    def add_hashes(self, hashes: np.ndarray) -> None:
        hashes = np.asarray(hashes, dtype=np.int64)
        if not len(hashes):
            return
        sh = self.shard_of(hashes)
        for s in np.unique(sh):
            bs = build_bitset(hashes[sh == s], self.m_bits, self.k)
            cur = self.shards.get(int(s))
            self.shards[int(s)] = merge_bitsets(cur, bs) if cur else bs

    def maybe_seen(self, hashes: np.ndarray) -> np.ndarray:
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


BLOB_SCHEMA = T.StructType([
    T.StructField("shard_id", T.IntegerType()),
    T.StructField("bitset", T.BinaryType()),
])


def probe_and_fold(candidates: DataFrame, shards: DataFrame | None,
                   n_shards: int, m_bits: int, k: int) -> DataFrame:
    """One Bloom pass: `candidates` (with a `url_hash` column) cogrouped by
    shard_id = pmod(url_hash, n_shards) with the committed `shards` blobs
    (None = no prior state). Emits, in one frame (split it with
    split_pass):

    * every candidate, flagged `maybe_seen` against its shard's blob, with
      null shard_id and bitset;
    * one row per shard (every other column null) holding its next blob,
      OR(blob, build_bitset(candidate hashes)); a shard with no candidate
      passes its blob through unchanged.
    """
    if shards is None:
        shards = candidates.sparkSession.createDataFrame([], BLOB_SCHEMA)
    # nullable throughout: each row kind is null in the other's columns
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in candidates.schema.fields]
        + [T.StructField("maybe_seen", T.BooleanType())]
        + list(BLOB_SCHEMA.fields))

    def step(key, cand: pa.Table, prior: pa.Table) -> pa.Table:
        old = prior.column("bitset").to_pylist()
        blob = reduce(merge_bitsets, old) if old else None
        hashes = cand.column("url_hash").to_numpy()
        maybe = (np.zeros(len(hashes), dtype=bool) if blob is None
                 else probe_bitset(blob, hashes, m_bits, k))
        if len(hashes):
            new = build_bitset(hashes, m_bits, k)
            blob = new if blob is None else merge_bitsets(blob, new)
        flagged = (cand.drop_columns("shard_id")
                   .append_column("maybe_seen", pa.array(maybe)))
        blob_row = pa.table({
            "shard_id": pa.array([key[0].as_py()], pa.int32()),
            "bitset": pa.array([blob], pa.binary())})
        return pa.concat_tables([flagged, blob_row], promote_options="default")

    shard_col = F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")
    return (candidates.withColumn("shard_id", shard_col).groupBy("shard_id")
            .cogroup(shards.groupBy("shard_id"))
            .applyInArrow(step, out_schema))


def split_pass(both: DataFrame) -> tuple[DataFrame, DataFrame]:
    """probe_and_fold's frame -> (flagged candidates, next blob rows)."""
    is_blob = F.col("bitset").isNotNull()
    return (both.filter(~is_blob).drop("shard_id", "bitset"),
            both.filter(is_blob).select("shard_id", "bitset"))
