"""Distributed (cogroup) Bloom probe must agree exactly with the
driver-broadcast probe, and the crawl engine must produce the identical
crawl when forced onto the distributed path."""

from __future__ import annotations

import numpy as np

from datascrapexter_spark.frontier.bloom import (
    BloomShards,
    build_bitset,
    probe_maybe_seen_df,
)


def test_cogroup_probe_matches_broadcast(spark):
    n_shards, m_bits, k = 4, 1 << 12, 5
    rng = np.random.RandomState(7)
    seen_hashes = rng.randint(-(1 << 62), 1 << 62, size=500, dtype=np.int64)
    cand_hashes = np.concatenate([
        seen_hashes[:200],  # definitely flagged
        rng.randint(-(1 << 62), 1 << 62, size=300, dtype=np.int64),
    ])

    # build per-shard bitsets like the engine does
    bs = BloomShards(n_shards, m_bits, k)
    bs.add_hashes(seen_hashes)
    shard_rows = [(s, 0, bts) for s, _r, bts in bs.to_rows(0)]
    shards_df = spark.createDataFrame(
        shard_rows, "shard_id int, round int, bitset binary")

    cand_df = spark.createDataFrame(
        [(int(h),) for h in cand_hashes], "url_hash long")
    got = {r["url_hash"]: r["maybe_seen"]
           for r in probe_maybe_seen_df(cand_df, shards_df,
                                        n_shards, m_bits, k).collect()}
    expect = bs.maybe_seen(cand_hashes)
    assert len(got) == len(cand_hashes)
    for h, e in zip(cand_hashes, expect):
        assert got[int(h)] == bool(e)
    # every truly-seen hash must be flagged (no false negatives, ever)
    assert all(got[int(h)] for h in seen_hashes[:200])


def test_crawl_engine_identical_on_distributed_probe(spark, tmp_path,
                                                     monkeypatch):
    from datascrapexter_spark.frontier import scheduler
    from datascrapexter_spark.frontier.scheduler import CrawlConfig, CrawlEngine
    from datascrapexter_spark.frontier.state import StateStore
    from tests.webgen import make_web

    pages_rows, seeds_rows, robots = make_web(n_hosts=3, pages_per_host=6)
    pages = spark.createDataFrame(
        pages_rows, "url string, warc_ts timestamp, html binary, "
                    "text string, lang string")
    seeds = spark.createDataFrame(seeds_rows, "url string, priority int")

    logs = {}
    for name, max_bytes in (("bcast", 32 << 20), ("dist", 0)):
        monkeypatch.setattr(scheduler, "BLOOM_BROADCAST_MAX_BYTES", max_bytes)
        cfg = CrawlConfig(max_rounds=3, bloom_n_shards=4,
                          bloom_m_bits=1 << 12)
        eng = CrawlEngine(spark, StateStore(str(tmp_path / name)), pages,
                          robots, cfg)
        eng.run(seeds, max_rounds=3)
        logs[name] = [tuple(r) for r in eng.crawl_log().collect()]
    assert logs["bcast"] == logs["dist"]
    assert len(logs["bcast"]) > 0
