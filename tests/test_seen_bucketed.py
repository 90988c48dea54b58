"""Plan + semantics assertions for the bucketed url_seen layout
(state.BucketedSeenTable) — round-3 verdict item #1's "done" evidence.

The seen set must be SCANNED, never EXCHANGED, on any round: the heavy
(link-heavy) probe path must plan a join where the url_seen side is a
bare bucketed FileScan (`Bucketed: true`, `SelectedBucketsCount`) with no
Exchange between the scan and the join, and only the round-sized probe
side shuffles. Reference anchor: the Go engine keeps visitedURLs resident
and does O(1) membership per URL (engine.go:720-792); the cluster
rendering keeps the seen set at rest, co-located by url_hash."""

import re

import pytest
from pyspark.sql import functions as F

from datascrapexter_spark.frontier.state import BucketedSeenTable


@pytest.fixture()
def seen(spark, tmp_path):
    t = BucketedSeenTable(str(tmp_path), n_buckets=8)
    base = spark.range(0, 20000).select(F.xxhash64("id").alias("url_hash"))
    t.overwrite_all(spark, base, 8)
    t.append_round(
        spark,
        spark.range(20000, 30000).select(F.xxhash64("id").alias("url_hash")),
        round_no=1)
    return t


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _seen_scan_has_no_exchange_above(plan: str, table: str) -> bool:
    """True iff the url_seen FileScan line exists, is bucketed, and no
    Exchange or Sort sits between it and the join (i.e. the scan subtree
    side of the join neither moves nor sorts the seen set)."""
    lines = plan.splitlines()
    scan_idx = [i for i, ln in enumerate(lines) if table in ln]
    assert scan_idx, f"no scan of {table} in plan:\n{plan}"
    i = scan_idx[0]
    assert "Bucketed: true" in lines[i], lines[i]
    # walk up from the scan to the join: no Exchange on the way
    indent = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    for j in range(i - 1, -1, -1):
        ln = lines[j]
        cur = len(ln) - len(ln.lstrip(" :+-"))
        if cur < indent:
            if "Join" in ln:
                return True
            if "Exchange" in ln or ln.lstrip(" :+-").startswith("Sort "):
                return False
            indent = cur
    return True


def test_heavy_probe_plan_no_exchange_over_seen(spark, seen):
    """The round's exact check (scheduler.confirm_new): shuffle-hash
    semi with the probe as build side — seen scanned in place."""
    from datascrapexter_spark.frontier.scheduler import confirm_new

    url_seen = seen.read(spark, max_round=1)
    probe = spark.range(0, 4000).select(
        F.xxhash64(F.col("id") + 15000).alias("url_hash"))
    plan = _plan(confirm_new(probe, url_seen))
    assert _seen_scan_has_no_exchange_above(plan, seen.table), plan
    # probe side IS exchanged into the bucket layout (round-sized)
    assert re.search(r"Exchange hashpartitioning\(url_hash#\d+L, 8\)", plan), plan
    # build side is the probe, not the seen set
    assert "BuildRight" in plan, plan


def test_partition_pruning_time_travel(spark, seen):
    """read(max_round=0) must prune partition round=1 at the scan."""
    df = seen.read(spark, max_round=0)
    plan = _plan(df)
    assert re.search(r"PartitionFilters: \[.*round.* <= 0", plan), plan
    assert df.count() == 20000
    assert seen.read(spark, max_round=1).count() == 30000


def test_idempotent_round_rewrite(spark, seen):
    """Re-running a crashed round must not double its partition."""
    delta = spark.range(30000, 31000).select(
        F.xxhash64("id").alias("url_hash"))
    seen.append_round(spark, delta, round_no=2)
    seen.append_round(spark, delta, round_no=2)  # crash-replay
    assert seen.read(spark, max_round=2).count() == 31000


def test_reregistration_after_catalog_loss(spark, seen):
    """A fresh catalog (new session after a crash) re-registers from
    LOCATION with the persisted bucket count and sees all partitions."""
    spark.sql(f"DROP TABLE IF EXISTS {seen.table}")
    t2 = BucketedSeenTable(seen.dir.rsplit("/", 1)[0], n_buckets=999)
    df = t2.read(spark, max_round=1)
    assert t2.n_buckets == 8  # from _bucketing.json, not the constructor
    assert df.count() == 30000
    assert "Bucketed: true" in _plan(
        df.join(spark.range(1).select(
            F.xxhash64("id").alias("url_hash")).hint("shuffle_hash"),
            "url_hash", "left_semi"))
