"""The crawl round's one Bloom pass (probe_and_fold) must agree exactly with
the driver-side BloomShards reference: the same maybe-seen flags, and next
blobs equal to the reference after adding every candidate."""

from __future__ import annotations

import numpy as np

from datascrapexter_spark.frontier.bloom import (
    BLOB_SCHEMA,
    BloomShards,
    probe_and_fold,
    split_pass,
)


def _one_pass(spark, bs: BloomShards | None, cand_hashes, n_shards, m_bits,
              k):
    shards = None if bs is None else spark.createDataFrame(
        sorted(bs.shards.items()), BLOB_SCHEMA)
    cand = spark.createDataFrame(
        [(int(h), f"u{i}") for i, h in enumerate(cand_hashes)],
        "url_hash long, url_canon string")
    flagged, blobs = split_pass(
        probe_and_fold(cand, shards, n_shards, m_bits, k))
    rows = flagged.collect()
    assert flagged.columns == ["url_hash", "url_canon", "maybe_seen"]
    assert sorted(r["url_canon"] for r in rows) == sorted(
        f"u{i}" for i in range(len(cand_hashes)))
    got_flags = {r["url_hash"]: r["maybe_seen"] for r in rows}
    blob_rows = blobs.collect()
    got_blobs = {r["shard_id"]: bytes(r["bitset"]) for r in blob_rows}
    assert len(got_blobs) == len(blob_rows)  # one row per shard
    return got_flags, got_blobs


def test_probe_and_fold_matches_reference(spark):
    """Flags and next blobs equal BloomShards' for mixed members and
    non-members, negative hashes included; 5 shards is not a power of
    two, so a wrong shard rule would put hashes in the wrong blob."""
    m_bits, k = 1 << 12, 5
    rng = np.random.RandomState(7)
    seen = rng.randint(-(1 << 62), 1 << 62, size=500, dtype=np.int64)
    cand = np.concatenate([
        seen[:200],
        rng.randint(-(1 << 62), 1 << 62, size=300, dtype=np.int64),
    ])
    assert (cand < 0).any()
    for n_shards in (4, 5):
        ref = BloomShards(n_shards, m_bits, k)
        ref.add_hashes(seen)
        flags, blobs = _one_pass(spark, ref, cand, n_shards, m_bits, k)
        expect = ref.maybe_seen(cand)
        assert len(flags) == len(cand)
        for h, e in zip(cand, expect):
            assert flags[int(h)] == bool(e)
        assert all(flags[int(h)] for h in seen[:200])  # no false negatives
        ref.add_hashes(cand)
        assert blobs == ref.shards


def test_probe_and_fold_empty_prior_builds_filter(spark):
    """No prior state (the engine's init): nothing is flagged, and the
    blobs are a one-pass build of the candidates."""
    n_shards, m_bits, k = 4, 1 << 12, 5
    cand = np.arange(-50, 50, dtype=np.int64) * 1_000_003
    flags, blobs = _one_pass(spark, None, cand, n_shards, m_bits, k)
    assert flags == {int(h): False for h in cand}
    ref = BloomShards(n_shards, m_bits, k)
    ref.add_hashes(cand)
    assert blobs == ref.shards


def test_probe_and_fold_untouched_and_member_shards_unchanged(spark):
    """A shard with no candidate passes its blob through byte-identical;
    a shard whose candidates are all members keeps its blob unchanged."""
    n_shards, m_bits, k = 4, 1 << 12, 5
    seen = np.arange(0, 400, dtype=np.int64)
    ref = BloomShards(n_shards, m_bits, k)
    ref.add_hashes(seen)
    before = dict(ref.shards)
    # shard 1: members only; shards 0, 2, 3: no candidate at all
    cand = seen[ref.shard_of(seen) == 1][:40]
    flags, blobs = _one_pass(spark, ref, cand, n_shards, m_bits, k)
    assert all(flags[int(h)] for h in cand)
    assert blobs == before
