"""The headline frontier-scheduling workload as a package module, so the
same job runs three ways with identical semantics:

  1. ``python bench.py`` (driver bench contract — imports from here),
  2. ``spark-submit --py-files dist/datascrapexter_spark.zip
     tools/submit_job.py`` (north_rule: "runs via spark-submit --py-files
     ... at N and 4N executors") — the package resolves from the shipped
     zip, no repo checkout needed on the cluster,
  3. pytest smoke tests.

Workload (BASELINE.json headline metric — URLs scheduled+deduped/sec):
one full crawl-scheduling round over a synthetic raw-URL stream derived
from `lineitem`: canonicalize (one fused Arrow crossing) -> xxhash64 ->
intra-batch dedup -> robots gate (broadcast rules-array join + codegen
prefix match) -> anti-join vs a pre-materialized url_seen half-space ->
per-registered-domain politeness budgets -> per-domain top-k (one
window, map-side group limit at the page cap).

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
    """One full crawl-scheduling round over the synthetic frontier:
    canonicalize -> hash -> intra-batch dedup -> robots gate (broadcast
    rules-array join + codegen prefix match — zero Python) -> anti-join vs
    url_seen -> per-domain politeness budgets (broadcast crawl-delay
    table, no big-table pass) -> per-domain top-k (one window, map-side
    group limit at the page cap).
    Returns {n_urls, wall_s, urls_per_sec, ...}."""
    from datascrapexter_spark.frontier.politeness import (
        PolitenessConfig,
        schedule_topk,
        tokens_per_round,
    )
    from datascrapexter_spark.frontier.robots import (
        RobotsIndex,
        allowed_rules_col,
        rules_array_df,
    )
    from datascrapexter_spark.functions.urlnorm import (
        canonicalize_arrow_df,
        normalize_url_udf,
        registered_domain,
    )

    # same cache hygiene as the query catalog (queries._fresh): drop any
    # InMemoryRelation a previous invocation left behind so every round
    # computes from its inputs (the rules cache below is rebuilt per call,
    # pre-t0 by design)
    spark.catalog.clearCache()

    raw = raw_urls(spark, sf_dir, mult)
    n_urls = raw.count()

    # prior-round state (not timed): url_seen covers half the canonical
    # space; robots rules parsed and broadcast
    tmp = tempfile.mkdtemp(prefix="bench_seen_")
    seen_path = os.path.join(tmp, "url_seen")
    (
        raw.filter(F.xxhash64("url") % 2 == 0)
        .withColumn("url_canon", normalize_url_udf("url"))
        .select(F.xxhash64("url_canon").alias("url_hash"))
        .dropDuplicates(["url_hash"])
        .write.mode("overwrite").parquet(seen_path)
    )
    seen = spark.read.parquet(seen_path)

    robots = RobotsIndex.from_texts(bench_robots())
    ua = "DataScrapexter"
    cfg = PolitenessConfig(max_pages_per_round_per_domain=1000,
                           round_seconds=500.0)
    # crawl-delay -> per-domain budget rows (tiny, computed driver-side
    # exactly like CrawlEngine._domain_delays_df: max delay per domain)
    delays: dict[str, float] = {}
    for host in bench_robots():
        d = robots.by_host[host].get_crawl_delay(ua)
        dom = registered_domain(host)
        delays[dom] = max(delays.get(dom, 0.0), d)
    delays_df = spark.createDataFrame(
        sorted(delays.items()), "domain string, crawl_delay_s double"
    )
    budgets = delays_df.select(
        "domain",
        tokens_per_round(F.col("crawl_delay_s"), F.lit(None).cast("double"),
                         F.lit(None).cast("int"), cfg).alias("tokens"),
    )

    # rules folded to one ordered-array row per host (prior-round state,
    # not timed) — the timed gate is a broadcast join + pure expressions
    rules = rules_array_df(robots.rules_df(spark), ua).cache()
    rules.count()

    t0 = time.monotonic()
    # ONE fused Arrow crossing emits (url_canon, host, domain) as CONCRETE
    # columns. Materializing host/domain in the batch matters beyond saving
    # a pass: as native expressions (parse_url + public-suffix regexps)
    # they would be re-inlined by CollapseProject into every downstream
    # consumer — the pushed-down join null-filters, the window partitioning,
    # the gate lambda — and re-evaluated per reference (measured 2.5x wall
    # on this round; Catalyst does no cross-operator CSE for them).
    # r06: Arrow-native crossing (no pandas layer) — same values as the
    # canonicalize_struct_udf path, measurably cheaper per URL. (A fully
    # JVM-codegen canonicalizer for gate-matching URLs was built and
    # measured 3x SLOWER than this path — interpreted HOF query
    # machinery; guide §4.2's point in reverse — and reverted.)
    cand = (
        canonicalize_arrow_df(raw, "url")
        .withColumn("url_hash", F.xxhash64("url_canon"))
        .dropDuplicates(["url_hash"])
    )
    path = F.coalesce(F.parse_url("url_canon", F.lit("PATH")), F.lit(""))
    gated = (
        cand.join(F.broadcast(rules), "host", "left")
        .withColumn("p", path)
        .filter(allowed_rules_col(F.col("p"), F.col("rules")))
        .drop("rules", "p")
    )
    # url_seen is half the frontier — never broadcastable at 10^10 scale;
    # force the shuffle hash join (broadcast would serialize through the
    # driver and caps scaling)
    new = (
        gated.join(seen.hint("shuffle_hash"), "url_hash", "left_anti")
        .withColumn("priority", F.lit(5))
        .withColumn("round_added", F.lit(0))
    )
    sched = schedule_topk(new, budgets, cfg)
    n_scheduled = sched.count()
    wall = time.monotonic() - t0
    shutil.rmtree(tmp, ignore_errors=True)
    return {
        "n_urls": n_urls,
        "wall_s": round(wall, 3),
        "urls_per_sec": round(n_urls / wall, 1),
        "n_scheduled": n_scheduled,
    }
