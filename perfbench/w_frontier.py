"""frontier_round: one scheduling round over a raw URL batch, the call
sequence of `benchjob.frontier_bench`:

  canonicalize_arrow_df -> xxhash64 -> dropDuplicates -> robots gate
  (broadcast rules-array join) -> url_seen anti-join -> schedule_topk.

The prior-round `url_seen` table, the robots rules and the per-domain
budgets are built in set-up; one timed operation is one round."""

from __future__ import annotations

import hashlib
import os
from urllib.parse import urlsplit

from . import gen
from .common import UA, force_timed, reset_dir

# benchjob.frontier_bench's politeness settings: large per-round budgets,
# so crawl delays and the cap both bind on the skewed domains
ROUND_SECONDS = 500.0
PAGE_CAP = 1000
WARMUP_ROUNDS = 3


class FrontierRound:
    name = "frontier_round"

    def __init__(self, spark, work: str, seed: int, n_raw: int = 240_000):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_raw = n_raw

    def _cfg(self):
        from datascrapexter_spark.frontier.politeness import PolitenessConfig

        return PolitenessConfig(max_pages_per_round_per_domain=PAGE_CAP,
                                round_seconds=ROUND_SECONDS)

    # -- set-up -----------------------------------------------------------

    def prepare(self) -> None:
        self.inp = gen.frontier_input(self.seed, self.n_raw)

    def build_state(self) -> None:
        """Inputs on disk, then prior-round state: url_seen hashes, robots
        rules folded and cached, per-domain budget rows."""
        import pyarrow as pa
        from datascrapexter_spark.frontier.politeness import tokens_per_round
        from datascrapexter_spark.frontier.robots import (RobotsIndex,
                                                          rules_array_df)
        from datascrapexter_spark.functions.urlnorm import registered_domain
        from pyspark.sql import functions as F

        self.raw_path = os.path.join(self.work, "raw_urls")
        gen.write_rows(self.raw_path, {"url": self.inp.raw_urls},
                       {"url": pa.string()}, n_files=8)
        self.seen_src = os.path.join(self.work, "seen_canon")
        gen.write_rows(self.seen_src, {"url_canon": self.inp.seen_canon},
                       {"url_canon": pa.string()}, n_files=4)
        spark = self.spark
        seen_path = os.path.join(reset_dir(os.path.join(self.work, "seen")),
                                 "url_seen")
        (spark.read.parquet(self.seen_src)
         .select(F.xxhash64("url_canon").alias("url_hash"))
         .dropDuplicates(["url_hash"])
         .write.mode("overwrite").parquet(seen_path))
        self.seen = spark.read.parquet(seen_path)
        self.robots = RobotsIndex.from_texts(self.inp.robots)
        delays: dict[str, float] = {}
        for host, rules in self.robots.by_host.items():
            dom = registered_domain(host)
            delays[dom] = max(delays.get(dom, 0.0), rules.get_crawl_delay(UA))
        self.delays = delays
        cfg = self._cfg()
        self.budgets = spark.createDataFrame(
            sorted(delays.items()), "domain string, crawl_delay_s double"
        ).select("domain", tokens_per_round(
            F.col("crawl_delay_s"), F.lit(None).cast("double"),
            F.lit(None).cast("int"), cfg).alias("tokens"))
        self.rules = rules_array_df(self.robots.rules_df(spark), UA).cache()
        self.rules.count()
        self.raw = spark.read.parquet(self.raw_path)

    # -- the round, as prefixes (the traced run forces each one) -----------

    def stages(self):
        """[(layer metric, DataFrame)]: each entry extends the previous one
        by one layer call; the last one is the full round."""
        from datascrapexter_spark.frontier.politeness import schedule_topk
        from datascrapexter_spark.frontier.robots import allowed_rules_col
        from datascrapexter_spark.functions.urlnorm import canonicalize_arrow_df
        from pyspark.sql import functions as F

        canon = (canonicalize_arrow_df(self.raw, "url")
                 .withColumn("url_hash", F.xxhash64("url_canon")))
        dedup = canon.dropDuplicates(["url_hash"])
        path = F.coalesce(F.parse_url("url_canon", F.lit("PATH")), F.lit(""))
        gated = (dedup.join(F.broadcast(self.rules), "host", "left")
                 .withColumn("p", path)
                 .filter(allowed_rules_col(F.col("p"), F.col("rules")))
                 .drop("rules", "p"))
        new = (gated.join(self.seen.hint("shuffle_hash"), "url_hash",
                          "left_anti")
               .withColumn("priority", F.lit(5))
               .withColumn("round_added", F.lit(0)))
        sched = schedule_topk(new, self.budgets, self._cfg())
        return [("functions.urlnorm.canonicalize_s", canon),
                ("frontier.dedup_s", dedup),
                ("frontier.robots.gate_s", gated),
                ("frontier.seen_antijoin_s", new),
                ("frontier.politeness.topk_s", sched)]

    def warmup(self) -> None:
        """WARMUP_ROUNDS untimed rounds as timed (a fresh JVM's first
        rounds run slow), then the same round collected: its schedule is
        the digest half of the correctness gate."""
        for _ in range(WARMUP_ROUNDS):
            self.op()
        self.warm_rows = [
            (r["domain"], r["seq"], r["url_hash"]) for r in
            self.stages()[-1][1].select("domain", "seq", "url_hash").collect()]

    def op(self) -> dict:
        n = self.stages()[-1][1].count()
        return {"scheduled": n, "urls": len(self.inp.raw_urls)}

    # -- correctness ------------------------------------------------------

    def expected(self) -> tuple[int, str]:
        """Row-wise recomputation of the round with the package's Python
        twins (normalize_url, spark_xxhash64_str, the robots parser and
        tokens_per_round_py): (scheduled count, digest)."""
        from datascrapexter_spark.frontier.politeness import tokens_per_round_py
        from datascrapexter_spark.functions.hashing import spark_xxhash64_str
        from datascrapexter_spark.functions.urlnorm import (extract_domain,
                                                            normalize_url,
                                                            registered_domain)

        canon = set(map(normalize_url, self.inp.raw_urls))
        seen = set(self.inp.seen_canon)
        by_dom: dict[str, list[int]] = {}
        for c in canon:
            if c in seen:
                continue
            host = extract_domain(c)
            if not self.robots.allowed(UA, host, urlsplit(c).path):
                continue
            by_dom.setdefault(registered_domain(host), []).append(
                spark_xxhash64_str(c))
        cfg = self._cfg()
        rows = []
        for dom, hs in by_dom.items():
            k = tokens_per_round_py(self.delays.get(dom, 0.0), None, None, cfg)
            rows += [(dom, seq, h)
                     for seq, h in enumerate(sorted(hs)[:k], start=1)]
        return len(rows), _digest(rows)

    def check(self, results: list[dict]) -> list[bool]:
        """Each timed round's scheduled count, and the digest of the
        warm-up round's schedule (same plan, same inputs), must equal the
        row-wise recomputation."""
        n, digest = self.expected()
        ok = (len(self.warm_rows), _digest(self.warm_rows)) == (n, digest)
        return [ok and r["scheduled"] == n for r in results]

    # -- traced run -------------------------------------------------------

    def trace(self, tracer) -> dict:
        """Stage self times by prefix forcing (noop sink) and exact
        useful/attempted ratios from prefix counts."""
        out = {}
        prev = force_timed(tracer, "input.scan", self.raw)
        counts = [len(self.inp.raw_urls)]
        for metric, df in self.stages():
            wall = force_timed(tracer, metric.rsplit("_s", 1)[0], df)
            out[metric] = wall - prev
            prev = wall
            counts.append(df.count())
        raw, canon, dedup, gated, new, sched = counts
        out.update({
            "frontier.dedup_ratio": dedup / raw,
            "frontier.robots_allow_ratio": gated / dedup,
            "frontier.seen_hit_ratio": (gated - new) / gated,
            "frontier.scheduled_ratio": sched / new,
        })
        out.update(self._bloom(tracer))
        return out

    def _bloom(self, tracer) -> dict:
        """Driver calls into the crawl engine's URL-seen prefilter, sized as
        CrawlConfig sizes it: build from the url_seen hashes, then probe
        this round's distinct candidates (false positives = candidates not
        in url_seen that the filter reports as maybe seen)."""
        import numpy as np
        from datascrapexter_spark.frontier.bloom import BloomShards
        from datascrapexter_spark.frontier.scheduler import CrawlConfig

        seen = self.seen.toPandas()["url_hash"].to_numpy(np.int64)
        cand = (self.stages()[1][1].select("url_hash").toPandas()["url_hash"]
                .to_numpy(np.int64))
        novel = cand[~np.isin(cand, seen)]
        cfg = CrawlConfig()
        bloom = BloomShards(cfg.bloom_n_shards, cfg.bloom_m_bits, cfg.bloom_k)
        with tracer.span("frontier.bloom.add_hashes", n=len(seen)) as b:
            bloom.add_hashes(seen)
        with tracer.span("frontier.bloom.maybe_seen", n=len(cand)) as p:
            bloom.maybe_seen(cand)
        return {"frontier.bloom.build_s": b.dur,
                "frontier.bloom.probe_s": p.dur,
                "frontier.bloom.fp_ratio":
                    float(bloom.maybe_seen(novel).mean())}


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()
