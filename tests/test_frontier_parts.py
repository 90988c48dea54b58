"""Unit tests: snapshot state store, Bloom shards, robots parser."""

import numpy as np
import pytest

from datascrapexter_spark.frontier.bloom import BloomShards, build_bitset, probe_bitset
from datascrapexter_spark.frontier.robots import parse_robots_txt
from datascrapexter_spark.frontier.state import SnapshotTable, StateStore

# compliance_test.go:13-25, verbatim
ROBOTS_FIXTURE = """
User-agent: *
Disallow: /private/
Disallow: /admin/
Allow: /public/
Crawl-delay: 1

User-agent: DataScrapexter
Disallow: /api/
Allow: /data/

Sitemap: https://example.com/sitemap.xml
"""


def test_robots_reference_fixture():
    r = parse_robots_txt(ROBOTS_FIXTURE)
    # compliance_test.go:33-64 expectations
    assert r.is_disallowed("*", "/private/page")
    assert not r.is_disallowed("*", "/public/page")
    assert r.is_disallowed("DataScrapexter", "/api/endpoint")
    assert not r.is_disallowed("DataScrapexter", "/data/file")
    assert r.get_crawl_delay("*") == 1.0
    assert r.sitemaps == ["https://example.com/sitemap.xml"]


def test_robots_ua_fallback_and_first_match():
    r = parse_robots_txt(ROBOTS_FIXTURE)
    # UA with its own rules does NOT inherit '*' rules (Go: replace, not merge)
    assert not r.is_disallowed("DataScrapexter", "/private/x")
    # unknown UA falls back to '*'
    assert r.is_disallowed("OtherBot", "/admin/x")
    # first matching prefix wins
    r2 = parse_robots_txt("User-agent: *\nAllow: /a/b\nDisallow: /a\n")
    assert not r2.is_disallowed("*", "/a/b/c")
    assert r2.is_disallowed("*", "/a/x")
    # crawl-delay fallback
    assert r.get_crawl_delay("DataScrapexter") == 1.0


def test_bloom_no_false_negatives_and_low_fp():
    rng = np.random.default_rng(42)
    inserted = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = np.setdiff1d(other, inserted)

    bloom = BloomShards(n_shards=8, m_bits=1 << 18, k=7)
    bloom.add_hashes(inserted)
    assert bloom.maybe_seen(inserted).all(), "Bloom false negative!"
    fp_rate = bloom.maybe_seen(other).mean()
    assert fp_rate < 0.05, fp_rate


def test_bloom_shard_build_probe_roundtrip():
    hashes = np.arange(-500, 500, dtype=np.int64)
    bs = build_bitset(hashes, m_bits=1 << 16, k=5)
    assert probe_bitset(bs, hashes, m_bits=1 << 16, k=5).all()


def test_bloom_from_rows_merges_rounds():
    b1 = BloomShards(n_shards=4, m_bits=1 << 12, k=3)
    b1.add_hashes(np.array([1, 2, 3], dtype=np.int64))
    b2 = BloomShards(n_shards=4, m_bits=1 << 12, k=3)
    b2.add_hashes(np.array([100, 200], dtype=np.int64))
    rows = b1.to_rows(1) + b2.to_rows(2)
    merged = BloomShards.from_rows(rows, 4, 1 << 12, 3)
    assert merged.maybe_seen(np.array([1, 2, 3, 100, 200], dtype=np.int64)).all()


def test_snapshot_table_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    assert t.read(spark) is None
    s1 = t.overwrite(spark.range(3).selectExpr("id as v"))
    s2 = t.append(spark.range(10, 12).selectExpr("id as v"))
    assert sorted(r["v"] for r in t.read(spark).collect()) == [0, 1, 2, 10, 11]
    # time travel to snapshot 1
    assert sorted(r["v"] for r in t.read(spark, s1).collect()) == [0, 1, 2]
    # overwrite drops history for current but keeps old snapshots readable
    t.overwrite(spark.range(99, 100).selectExpr("id as v"))
    assert [r["v"] for r in t.read(spark).collect()] == [99]
    assert sorted(r["v"] for r in t.read(spark, s2).collect()) == [0, 1, 2, 10, 11]


def test_state_store_round_journal(tmp_path):
    store = StateStore(str(tmp_path / "s"))
    assert store.last_committed_round() is None
    store.commit_round(0, {"frontier": 1}, {"pending": 3})
    store.commit_round(1, {"frontier": 2}, {"pending": 5})
    last = store.last_committed_round()
    assert last["round"] == 1 and last["snapshots"]["frontier"] == 2
    assert last["stats"] == {"pending": 5}
    assert [r["round"] for r in store.committed_rounds()] == [0, 1]
    # round 0 (init) starts a new crawl's journal
    store.commit_round(0, {"frontier": 3}, {"pending": 1})
    assert [r["round"] for r in store.committed_rounds()] == [0]


def test_manifest_commit_is_atomic(spark, tmp_path):
    """A torn write never corrupts the manifest: publishing goes through
    os.replace of a complete temp file."""
    t = SnapshotTable(str(tmp_path), "t")
    t.overwrite(spark.range(5).selectExpr("id as v"))
    # leave a stray tmp file like an interrupted publish would
    import os
    stray = t.manifest_path + ".tmp-dead"
    with open(stray, "w") as fh:
        fh.write("{corrupt")
    assert t.read(spark).count() == 5


# ---------------------------------------------------------------------------
# DataFrame-native robots gate (broadcast rules array + codegen prefix match)
# ---------------------------------------------------------------------------


def test_rules_array_gate_matches_python_twin(spark):
    """allowed_rules_col over the broadcast rules table must agree with
    RobotsIndex.allowed for every (ua, host, path) — including UA-override
    replacement, first-match-wins ordering, hosts without robots, and empty
    Allow patterns — and its plan must contain NO Python UDF."""
    from pyspark.sql import functions as F

    from datascrapexter_spark.frontier.robots import (
        RobotsIndex,
        allowed_rules_col,
        rules_array_df,
    )

    texts = {
        "a.com": ROBOTS_FIXTURE,
        "b.com": "User-agent: *\nAllow: /private/open\nDisallow: /private/\n",
        "c.com": "User-agent: *\nAllow:\nDisallow: /x/\n",  # empty Allow kept
    }
    idx = RobotsIndex.from_texts(texts)
    paths = ["/private/page", "/private/open", "/public/page", "/api/e",
             "/data/f", "/x/secret", "/", ""]
    hosts = ["a.com", "b.com", "c.com", "norobots.com"]

    for ua in ("*", "DataScrapexter"):
        rules = rules_array_df(idx.rules_df(spark), ua)
        rows = [(h, p) for h in hosts for p in paths]
        df = (
            spark.createDataFrame(rows, "host string, path string")
            .join(F.broadcast(rules), "host", "left")
            .withColumn("allowed",
                        allowed_rules_col(F.col("path"), F.col("rules")))
        )
        got = {(r["host"], r["path"]): r["allowed"] for r in df.collect()}
        for h in hosts:
            for p in paths:
                assert got[(h, p)] == idx.allowed(ua, h, p), (ua, h, p)

        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan or "Broadcast" in plan
        assert "Python" not in plan and "ArrowEval" not in plan
