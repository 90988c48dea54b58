"""The headline frontier-scheduling workload as a package module, so the
same job runs three ways with identical semantics:

  1. ``python bench.py`` (driver bench contract — imports from here),
  2. ``spark-submit --py-files dist/datascrapexter_spark.zip
     tools/submit_job.py`` (north_rule: "runs via spark-submit --py-files
     ... at N and 4N executors") — the package resolves from the shipped
     zip, no repo checkout needed on the cluster,
  3. pytest smoke tests.

Workload (BASELINE.json headline metric — URLs scheduled+deduped/sec):
one crawl-scheduling round over a synthetic raw-URL stream derived from
`lineitem`, composed of the crawl engine's own steps (frontier/
scheduler.py) so it times the engine's plan: candidates (one fused Arrow
canonicalizing crossing -> dedup -> xxhash64) -> robots_gate (broadcast
rules-array join + codegen prefix match) -> one Bloom pass
(probe_and_fold) -> new_urls (the exact check of the maybe-seen rows
against a bucketed url_seen holding half the canonical space) ->
per-domain top-k under round_budgets (schedule_topk: one window,
map-side group limit at the page cap).

Reference anchor: this is the scheduling core of the crawl loop
(engine.go:678-804 generalized per-host; dedup superseding the
pass-through stubs at internal/pipeline/components.go:173-263).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

URL_MULT = int(os.environ.get("SPARK_GRAFT_URL_MULT", "10"))

N_SITES = 97
N_SHARDS = 7
N_HOSTS = 679  # lcm structure of (suppkey % 7, suppkey % 97)


def raw_urls(spark: SparkSession, sf_dir: str, mult: int) -> DataFrame:
    """Raw (pre-canonicalization) URL stream from lineitem: per row, `mult`
    variants — even variants differ only by tracking params (dedup inside
    the batch), odd variants are distinct paths. Host carries skew: domain
    id is suppkey mod 97, and supplier popularity in lineitem is nonuniform.
    """
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_suppkey", "l_linenumber"
    )
    # the parquet scan yields only a few input splits; without an explicit
    # repartition the whole canonicalize stage would run at file-count
    # parallelism (the single biggest scale bug a frontier job can have)
    n_part = spark.sparkContext.defaultParallelism * 2
    v = F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("v")
    df = li.repartition(n_part).select("l_orderkey", "l_suppkey", "l_linenumber", v)
    path_leaf = F.when(
        F.col("v") % 2 == 1, F.concat(F.lit("/x"), F.col("v").cast("string"))
    ).otherwise(F.lit(""))
    return df.select(
        F.concat(
            F.lit("https://WWW.Shard"),
            (F.col("l_suppkey") % 7).cast("string"),
            F.lit(".Site"),
            (F.col("l_suppkey") % 97).cast("string"),
            F.lit(".COM:443/item/"),
            F.col("l_orderkey").cast("string"),
            F.lit("/"),
            F.col("l_linenumber").cast("string"),
            path_leaf,
            F.lit("/?utm_source=bench&ref=r"),
            F.col("v").cast("string"),
            F.lit("&b=2&a=1#frag"),
        ).alias("url")
    )


def bench_robots() -> dict[str, str]:
    """Per-host robots.txt: a third of the sites disallow a path prefix,
    every site sets a crawl delay (1..5s) -> per-domain budgets differ."""
    texts = {}
    for i in range(N_HOSTS):
        site = i % N_SITES
        host = f"www.shard{i % N_SHARDS}.site{site}.com"
        deny = "Disallow: /item/7\n" if site % 3 == 0 else ""
        texts[host] = (
            f"User-agent: *\n{deny}Crawl-delay: {1 + site % 5}\n"
        )
    return texts


def frontier_bench(spark: SparkSession, sf_dir: str, mult: int = URL_MULT) -> dict:
    """One scheduling round over the synthetic frontier, composed of the
    crawl engine's own steps (frontier/scheduler.py). Prior-round state,
    built untimed as CrawlEngine.init builds it: a bucketed url_seen
    holding half the canonical space, the Bloom blobs folded from the same
    hashes, the robots rules array and the fresh-domain budgets. The timed
    round: candidates -> robots_gate -> probe_and_fold -> new_urls ->
    schedule_topk. Frames it cached, its url_seen catalog table and its
    temp dir are released however it ends; the session's other cached
    frames are left as they are.
    Returns {n_urls, wall_s, urls_per_sec, n_scheduled}."""
    from datascrapexter_spark.frontier.bloom import probe_and_fold, split_pass
    from datascrapexter_spark.frontier.politeness import (
        PolitenessConfig,
        schedule_topk,
    )
    from datascrapexter_spark.frontier.robots import (
        RobotsIndex,
        domain_delays_df,
        robots_gate,
        rules_array_df,
    )
    from datascrapexter_spark.frontier.scheduler import (
        DOMAIN_STATE_SCHEMA,
        CrawlConfig,
        candidates,
        frontier_rows,
        new_urls,
        round_budgets,
    )
    from datascrapexter_spark.frontier.state import BucketedSeenTable

    cfg = CrawlConfig(politeness=PolitenessConfig(
        max_pages_per_round_per_domain=1000, round_seconds=500.0))
    bloom = (cfg.bloom_n_shards, cfg.bloom_m_bits, cfg.bloom_k)
    raw = raw_urls(spark, sf_dir, mult)
    n_urls = raw.count()
    tmp = tempfile.mkdtemp(prefix="bench_seen_")
    url_seen = BucketedSeenTable(tmp)
    cached: list[DataFrame] = []
    try:
        url_seen.overwrite_all(spark, candidates(
            raw.filter(F.xxhash64("url") % 2 == 0), cfg, None
        ).select("url_hash"), cfg.seen_n_buckets)
        seen = url_seen.read(spark)
        robots = RobotsIndex.from_texts(bench_robots())
        delays = domain_delays_df(spark, robots, cfg.user_agent)
        prior = (
            split_pass(probe_and_fold(seen, None, *bloom))[1],
            rules_array_df(robots.rules_df(spark), cfg.user_agent),
            round_budgets(delays.select("domain"), delays,
                          spark.createDataFrame([], DOMAIN_STATE_SCHEMA),
                          cfg, 0))
        for df in prior:
            cached.append(df.cache())
            df.count()
        blobs, rules, budgets = prior

        t0 = time.monotonic()
        gated = robots_gate(candidates(raw, cfg, None), rules)
        # cached as the engine caches it: new_urls reads it twice
        bloom_pass = probe_and_fold(
            gated.filter(F.col("allowed")).drop("allowed"), blobs, *bloom)
        cached.append(bloom_pass.cache())
        flagged, _ = split_pass(bloom_pass)
        new = frontier_rows(new_urls(flagged, seen),
                            F.lit(cfg.default_priority), 0)
        n_scheduled = schedule_topk(new, budgets, cfg.politeness).count()
        wall = time.monotonic() - t0
    finally:
        for df in reversed(cached):
            df.unpersist()
        spark.sql(f"DROP TABLE IF EXISTS {url_seen.table}")
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "n_urls": n_urls,
        "wall_s": round(wall, 3),
        "urls_per_sec": round(n_urls / wall, 1),
        "n_scheduled": n_scheduled,
    }
