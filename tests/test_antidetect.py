"""Seeded UA/header rotation columns (frontier/antidetect.py) — the
determinism + distribution contract the reference's rotators provide via
process-global state (antidetect.go:25-55, 131-158, 159-184), here keyed
on (url_hash, round, seed) so 1000 executors agree without coordination."""

import pytest
from pyspark.sql import functions as F

from datascrapexter_spark.frontier.antidetect import (
    ACCEPT_LANGUAGE_VALUES,
    ACCEPT_VALUES,
    DEFAULT_USER_AGENTS,
    STATIC_HEADERS,
    delay_ms_col,
    header_profile_col,
    user_agent_col,
)
from datascrapexter_spark.frontier.politeness import PolitenessConfig
from datascrapexter_spark.frontier.scheduler import CrawlConfig

from .test_crawl_engine import run_spark_crawl
from .webgen import make_web


@pytest.fixture(scope="module")
def reqs(spark):
    return (spark.range(0, 5000)
            .select(F.xxhash64("id").alias("url_hash"),
                    (F.col("id") % 7).cast("int").alias("round")))


def test_user_agent_deterministic_and_stable(reqs):
    """Same (url_hash, round, seed) -> same agent, across evaluations
    (retry/resume reproducibility); different seed -> different stream."""
    a1 = reqs.select("url_hash", "round",
                     user_agent_col("url_hash", "round").alias("ua"))
    a2 = reqs.select("url_hash", "round",
                     user_agent_col("url_hash", "round").alias("ua"))
    assert a1.exceptAll(a2).count() == 0
    b = reqs.select(user_agent_col("url_hash", "round", seed=7).alias("ua"),
                    user_agent_col("url_hash", "round").alias("ua0"))
    assert b.filter(F.col("ua") != F.col("ua0")).count() > 0


def test_user_agent_distribution_uniform(reqs):
    """Long-run uniformity over the default pool (the rotator's cycling
    distribution): every agent used, none dominating."""
    counts = (reqs.select(user_agent_col("url_hash", "round").alias("ua"))
              .groupBy("ua").count().collect())
    assert {r["ua"] for r in counts} == set(DEFAULT_USER_AGENTS)
    n = 5000 / len(DEFAULT_USER_AGENTS)
    for r in counts:
        assert 0.8 * n < r["count"] < 1.2 * n, (r["ua"], r["count"])


def test_custom_pool_and_pool_membership(reqs):
    pool = ["bot-a", "bot-b", "bot-c"]
    vals = {r["ua"] for r in
            reqs.select(user_agent_col("url_hash", "round", pool)
                        .alias("ua")).distinct().collect()}
    assert vals == set(pool)


def test_header_profile_struct(reqs):
    row = reqs.limit(1).select(
        header_profile_col("url_hash", "round").alias("h")).collect()[0]["h"]
    assert row["user_agent"] in DEFAULT_USER_AGENTS
    assert row["accept"] in ACCEPT_VALUES
    assert row["accept_language"] in ACCEPT_LANGUAGE_VALUES
    for k, v in STATIC_HEADERS.items():
        assert row[k] == v


def test_delay_bounds_and_determinism(reqs):
    d = reqs.select(delay_ms_col("url_hash", "round", 500, 2000).alias("ms"))
    stats = d.agg(F.min("ms").alias("lo"), F.max("ms").alias("hi")).collect()[0]
    assert 500 <= stats["lo"] and stats["hi"] < 2000
    with pytest.raises(ValueError):
        delay_ms_col("url_hash", "round", 10, 10)


def test_engine_wires_agent_label_into_request_metrics(spark, tmp_path):
    """rotate_user_agents=True: request_metrics carries the agent label,
    totals are unchanged, and relabeling the crawl log through the same
    column expression reproduces the recorded metrics exactly
    (determinism checked through the engine, not a Python twin)."""
    web = make_web(n_hosts=3, pages_per_host=4, seed=7)
    pol = PolitenessConfig(requests_per_second=2.0, round_seconds=2.0,
                           max_pages_per_round_per_domain=6)
    cfg = CrawlConfig(politeness=pol, max_rounds=6,
                      rotate_user_agents=True, ua_rotation_seed=3)
    engine, _ = run_spark_crawl(spark, tmp_path, web, cfg)

    metrics = engine.request_metrics()
    assert "agent" in metrics.columns
    recorded = {(r["round"], r["host"], r["status"], r["agent"]): r["n"]
                for r in metrics.collect()}
    assert all(a in DEFAULT_USER_AGENTS for (_, _, _, a) in recorded)

    log = engine.crawl_log().withColumn(
        "agent", user_agent_col(F.col("url_hash"), F.col("round"), seed=3))
    # host isn't in the crawl log; compare per (round, status, agent)
    expected = {
        (r["round"], r["status"], r["agent"]): r["n"]
        for r in log.groupBy("round", "status", "agent")
        .agg(F.count("*").alias("n")).collect()}
    rolled = {}
    for (rnd, _host, status, agent), n in recorded.items():
        key = (rnd, status, agent)
        rolled[key] = rolled.get(key, 0) + n
    assert rolled == expected
