"""The crawl-round driver loop: schedule -> fetch -> extract -> dedup ->
checkpoint, generalized from the reference's strictly-sequential page loop
(/root/reference/internal/scraper/engine.go:678-804) to a batch-incremental
frontier at cluster scale (north_rule).

Round r is a composition of named steps, each a DataFrame function (the
only Python crossings are the Arrow-batched URL canonicalization and HTML
link extraction, and the round's one Bloom pass — the robots gate is a
codegen prefix match):

 1. robots gate: robots.robots_gate flags each pending row `allowed`
    (broadcast rules array; denied -> 'blocked', compliance_test.go:
    226-238 semantics), then eligible_rows applies the opt-in GDPR and
    circuit-breaker gates;
 2. budgets: round_budgets, the deterministic politeness recurrence
    (ratelimiter.go semantics evaluated round-wise);
 3. schedule: politeness.schedule_topk, one per-domain window with a
    deterministic total order (priority DESC, round_added, url_hash); a
    map-side group limit at the page cap bounds what a hot host ships
    to its window;
 4. fetch: a left equi-join against the canonical pages table (the
    offline stand-in for the HTTP fetch — BASELINE.json input_hint);
 5. discover: CrawlEngine._links (out-links, or a pagination strategy's
    next URLs) -> candidates (one canonicalizing crossing, dedup, the
    seed-host / blocklist / trap gates, xxhash64);
 6. new-URL check: bloom.probe_and_fold (one shard cogroup flags each
    candidate maybe-seen and emits each shard's next blob) -> new_urls
    (definitely-new rows as they are; maybe-seen rows through
    confirm_new: seen ⋉ probe shuffle-hash semi, then probe ▷ dupes
    anti — one plan for every round size; the seen set is scanned, never
    exchanged, sorted or hash-built) -> frontier_rows;
 7. transitions: transitions (frontier_updates deltas), next_domain_state,
    crawl_log_rows and lineage_rows;
 8. writes + commit: checkpoint to snapshot tables, then commit the
    round's one journal record (every table's snapshot + stats observed
    on the crawl_log, frontier and frontier_updates writes); a crash
    mid-round resumes from the last one, and the commit deletes the data
    no snapshot references. Nothing derivable is written: the request
    counters are served from the crawl log (request_metrics_from_log).

benchjob.frontier_bench composes steps 5, 1, 6 and 3 over a synthetic URL
stream, so the scheduling benchmark runs the engine's plan.

Identity for dedup is xxhash64(url_canon) per north_rule; the sequential
oracle simulator (tests/crawl_oracle.py) reproduces every step bit-for-bit,
which is how crawl order + seen set are verified.

Frontier state is INCREMENTAL — per-round I/O is O(this round's work),
never O(total frontier) (the reference's page loop touches only the active
page, engine.go:720-792; at 10^10 URLs a full-frontier rewrite per round
would dominate every other cost):

  * `frontier`         append-only base; every row is written with
                       state='pending' (seeds at init, new URLs per round);
  * `frontier_updates` append-only state-transition deltas
                       (url_hash, state, attempts, round); readers keep
                       the latest delta per url_hash (max round wins);
  * `frontier_archive` terminal rows (done/failed/blocked*), archived at
                       compaction (their one write); until then their
                       delta masks them in the base.

Reading the pending set = base ⟕ latest-deltas (the deltas span at most
`frontier_compact_every` rounds of scheduled work — a key-width join far
below frontier size; AQE broadcasts it when small), filtered to 'pending'.
Every `frontier_compact_every` rounds (0 = never) the committed base and
deltas plus the round's own are reconciled once: pending rows overwrite
the base, terminal rows go to the archive, the deltas truncate. The full
frontier (fixtures, resume) = reconciled base ∪ archive.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urlnorm import (
    canonicalize_arrow_df,
    canonicalize_struct_udf,
    host_col,
    normalize_url_udf,
)
from .bloom import probe_and_fold, split_pass
from .links import extract_links_df
from .pagination import PaginationSpec, extract_next_urls_df
from .politeness import (
    PolitenessConfig,
    interval_multiplier,
    next_consec_errors,
    schedule_topk,
    strategy_tokens_from_state,
    tokens_per_round,
)
from .robots import RobotsIndex, domain_delays_df, robots_gate, rules_array_df
from .state import SnapshotTable, StateStore

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url_canon", T.StringType()),
    T.StructField("url_hash", T.LongType()),
    T.StructField("host", T.StringType()),
    T.StructField("domain", T.StringType()),
    T.StructField("priority", T.IntegerType()),
    T.StructField("attempts", T.IntegerType()),
    T.StructField("round_added", T.IntegerType()),
    T.StructField("state", T.StringType()),
])

FRONTIER_UPDATES_SCHEMA = T.StructType([
    T.StructField("url_hash", T.LongType()),
    T.StructField("state", T.StringType()),
    T.StructField("attempts", T.IntegerType()),
    T.StructField("round", T.IntegerType()),
])

CRAWL_LOG_SCHEMA = T.StructType([
    T.StructField("round", T.IntegerType()),
    T.StructField("domain", T.StringType()),
    T.StructField("seq", T.IntegerType()),
    T.StructField("url_canon", T.StringType()),
    T.StructField("url_hash", T.LongType()),
    T.StructField("priority", T.IntegerType()),
    T.StructField("status", T.StringType()),
])

DOMAIN_STATE_SCHEMA = T.StructType([
    T.StructField("domain", T.StringType()),
    T.StructField("err_rate", T.DoubleType()),
    T.StructField("consec_err", T.IntegerType()),
    T.StructField("breaker_failures", T.IntegerType()),
    T.StructField("quarantined_until", T.IntegerType()),
    T.StructField("rate_mult", T.DoubleType()),
    T.StructField("n_fetch_total", T.LongType()),
    T.StructField("n_err_total", T.LongType()),
])

PAGINATION_STATE_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("chain_id", T.LongType()),
    T.StructField("last_cursor", T.StringType()),
])

PAGINATION_CHAINS_SCHEMA = T.StructType([
    T.StructField("url_hash", T.LongType()),
    T.StructField("chain_id", T.LongType()),
])

LINEAGE_METRICS_SCHEMA = T.StructType([
    T.StructField("round", T.IntegerType()),
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("scheduled", T.LongType()),
    T.StructField("fetched", T.LongType()),
    T.StructField("errors", T.LongType()),
])


def _observed(df: DataFrame, **counts: Column) -> tuple[DataFrame, Observation]:
    """`df` carrying an unnamed Observation of `counts`, filled by the
    write that consumes it (unnamed for the reason ops/pipeline.py gives)."""
    obs = Observation()
    return df.observe(obs, *[c.alias(k) for k, c in counts.items()]), obs


def confirm_new(needs_check: DataFrame, url_seen: DataFrame) -> DataFrame:
    """Rows of `needs_check` whose url_hash is not in `url_seen` — the
    round's exact "seen before?" check. url_seen (~80 GB at 10^10 URLs)
    is scanned in its bucket layout, never exchanged, sorted or
    hash-built: only the round-sized probe moves and is built. The hint
    keeps it so; without it AQE sorts the seen scan for a sort-merge join
    once the probe outgrows the broadcast threshold (PLANS.md)."""
    probe = needs_check.select("url_hash").hint("shuffle_hash")
    dupes = url_seen.join(probe, "url_hash", "left_semi")
    return needs_check.join(dupes, "url_hash", "left_anti")


def new_urls(flagged: DataFrame, url_seen: DataFrame) -> DataFrame:
    """The rows of a Bloom-flagged frame (split_pass) whose url_hash is not
    in `url_seen`: the definitely-new ones as they are (a Bloom filter has
    no false negatives), the maybe-seen ones after confirm_new."""
    maybe = F.col("maybe_seen")
    return (flagged.filter(~maybe).drop("maybe_seen").unionByName(
        confirm_new(flagged.filter(maybe).drop("maybe_seen"), url_seen)))


def request_metrics_from_log(crawl_log: DataFrame,
                             cfg: CrawlConfig) -> DataFrame:
    """Per-round per-host per-status request counters (the RecordRequest /
    RecordPageScraped families, internal/monitoring/metrics.go:601-661,
    rendered round-wise) from a crawl log: host comes from url_canon by
    the function that sets the frontier's host; with UA rotation on, the
    agent label is the seeded column of antidetect.py."""
    keys = ["round", "host", "status"]
    log = crawl_log.withColumn(
        "host", canonicalize_struct_udf("url_canon").getField("host"))
    if cfg.rotate_user_agents:
        from .antidetect import user_agent_col

        log = log.withColumn("agent", user_agent_col(
            F.col("url_hash"), F.col("round"),
            list(cfg.user_agent_pool) if cfg.user_agent_pool else None,
            seed=cfg.ua_rotation_seed))
        keys.append("agent")
    return log.groupBy(*keys).agg(F.count("*").alias("n"))


@dataclass
class CrawlConfig:
    politeness: PolitenessConfig = dc_field(default_factory=PolitenessConfig)
    max_attempts: int = 3
    max_rounds: int = 20
    user_agent: str = "DataScrapexter"
    link_selector: str = "a[href]"
    # DOM-dependent pagination (cursor / next_button): when set, the round
    # loop follows ONLY the strategy's next-URL per fetched page (the
    # reference's sequential page loop, engine.go:720-792, per host) instead
    # of full link extraction. Cursor-repeat state is checkpointed per
    # (host, chain) — one entry per strategy instance
    # in the pagination_state table (lastCursor, pagination_strategies.go:
    # 144-149).
    pagination_spec: PaginationSpec | None = None
    restrict_to_seed_hosts: bool = True
    default_priority: int = 5          # JobPriority normal (pkg/types/types.go:47)
    # partitioned Bloom URL-seen prefilter (bloom.py): bloom_n_shards
    # shards of bloom_m_bits bits, k probes each, probed and folded in
    # one shard cogroup per round. A prefilter only — the exact url_seen
    # check settles every maybe-seen candidate, so the sizing moves
    # cost, never the crawl
    bloom_n_shards: int = 16
    bloom_m_bits: int = 1 << 20
    bloom_k: int = 7
    # circuit breaker per domain (reference: internal/utils/performance.go:
    # 426-515, config-gated wiring engine.go:264-300, default maxFailures=5
    # errors/service.go:14). Round-wise rendering: breaker_failures
    # accumulates fetch failures across rounds and resets to 0 on ANY
    # success (recordSuccess resets the count); reaching
    # quarantine_max_failures opens the breaker -> the domain is skipped
    # while round <= quarantined_until (pending URLs stay pending), then
    # HALF-OPEN: the first round after expiry probes with budget 1 —
    # success closes the breaker, failure re-opens it. 0 = disabled
    # (the reference's ErrorRecovery block is opt-in).
    quarantine_max_failures: int = 0
    quarantine_reset_rounds: int = 2
    # seed robots.txt Sitemap URLs into the frontier (the reference only
    # EXPOSES GetSitemaps, compliance_test.go:250-252 — consuming them is
    # opt-in); fetched sitemap pages yield their <loc> URLs as out-links
    seed_sitemaps: bool = False
    # GDPR TLD gate (compliance.py): "off" (reference's checker is
    # unwired) or "block" — EU-TLD domains get state 'blocked_gdpr'
    gdpr_mode: str = "off"
    # fold frontier_updates deltas back into the frontier base every K
    # rounds (caps reconcile-join depth at K rounds of scheduled work;
    # compaction itself costs O(pending), amortized over K rounds)
    frontier_compact_every: int = 8
    # buckets for url_seen at rest (state.BucketedSeenTable). Size so one
    # bucket streams through one task: 10^10 hashes / 4096 buckets ≈ 20 MB
    # of longs each; sandbox default = local cores. Every round's exact
    # check runs one plan (confirm_new), whatever its probe size
    seen_n_buckets: int = 32
    # seeded per-request user-agent rotation (antidetect.py): each fetch
    # gets a deterministic UA keyed on (url_hash, round, seed) and
    # request_metrics() gains an `agent` label column. Off by default — the
    # reference's antidetect module is opt-in config too
    rotate_user_agents: bool = False
    ua_rotation_seed: int = 0
    user_agent_pool: tuple[str, ...] | None = None
    # spider-trap gate (traps.py): drop discovered candidates whose trap
    # score reaches trap_threshold BEFORE dedup, so calendar/session-id
    # URL mints never enter url_seen. Off by default — the reference
    # relies on max-depth/max-pages caps only (engine.go crawl limits);
    # at a 10^10-URL frontier the gate is the scale-safety upgrade.
    trap_filter: bool = False
    trap_threshold: int = 40
    trap_max_depth: int = 12
    trap_max_params: int = 8
    # registered-domain blocklist (e.g. textstats.domain_quality_rollup's
    # blocked hosts, or any curated list): discovered out-links on these
    # domains die before hashing/dedup, so a junk/mirror site costs zero
    # url_seen probes and no frontier rows. Off by default; seeds are NOT
    # gated (an explicit seed is an operator decision).
    blocked_domains: tuple[str, ...] | None = None
    # reputation-proportional budgets (reputation.py / q53 wired into the
    # round loop): each domain's politeness token budget is scaled by its
    # CUMULATIVE reputation score (integer micro-units, error signal from
    # the domain_state totals this flag also maintains; the dup signal
    # stays available to pipelines that track content dups, q58). A new
    # domain has no history -> full score. Floor of 1 token mirrors the
    # 1% score floor: a bad host keeps a probe-sized budget and can
    # recover. Opt-in; off = bit-identical crawls to round-4 fixtures.
    reputation_budgets: bool = False


def round_budgets(domains: DataFrame, domain_delays: DataFrame,
                  prev_state: DataFrame, cfg: CrawlConfig,
                  round_no: int) -> DataFrame:
    """(domain, tokens): each domain's page budget for round `round_no`, a
    pure Column recurrence over the previous round's `domain_state` and
    the robots crawl delays. 1 <= tokens <= max(1, page cap) on every
    branch, which schedule_topk's literal group limit rests on: the
    recurrences clamp to it, and the reputation scale and the half-open
    probe only lower a budget, floored at 1."""
    pol = cfg.politeness
    delay = F.coalesce(F.col("crawl_delay_s"), F.lit(0.0))
    if pol.use_strategy_budgets:
        tokens = strategy_tokens_from_state(
            delay, F.col("err_rate"), F.col("rate_mult"), pol)
    else:
        tokens = tokens_per_round(
            delay, F.col("err_rate"), F.col("consec_err"), pol)
    if cfg.reputation_budgets:
        # cumulative score (reputation.py formula, dup signal 0 on
        # the engine path): score = MICRO - err_ppm floored at 1%;
        # no history -> full score. tokens scale proportionally,
        # floor 1 (the half-open-probe analogue).
        from .reputation import MICRO, _idiv

        err_ppm = _idiv(F.lit(MICRO) * F.col("n_err_total"),
                        F.greatest(F.col("n_fetch_total"), F.lit(1)))
        score = F.when(
            F.coalesce("n_fetch_total", F.lit(0)) == 0, F.lit(MICRO)
        ).otherwise(
            F.greatest(F.lit(MICRO) - err_ppm, F.lit(MICRO // 100)))
        tokens = F.greatest(_idiv(tokens * score, F.lit(MICRO)), F.lit(1))
    if cfg.quarantine_max_failures > 0:
        # half-open: first round after expiry probes with budget 1
        tokens = F.when(F.col("quarantined_until") == round_no - 1,
                        F.lit(1)).otherwise(tokens)
    return (domains.join(F.broadcast(domain_delays), "domain", "left")
            .join(F.broadcast(prev_state), "domain", "left")
            .select("domain", tokens.alias("tokens")))


def candidates(urls: DataFrame, cfg: CrawlConfig,
               allowed_hosts: set[str] | None) -> DataFrame:
    """Raw URLs (a `url` column) -> distinct candidates (url_canon, host,
    domain, url_hash): one canonicalizing crossing, a dedup on url_canon,
    then the discovery gates — seed hosts (`allowed_hosts`; None = any),
    the registered-domain blocklist and the spider-trap score — so a gated
    URL never costs a hash, a Bloom probe or a url_seen row.

    The Arrow crossing emits host and domain as CONCRETE columns. As
    native expressions (parse_url + public-suffix regexps) CollapseProject
    would re-inline them into every consumer — the join null-filters, the
    window partitioning, the robots gate — and re-evaluate them per
    reference (measured 2.5x the wall of a scheduling round; Catalyst does
    no cross-operator CSE for them)."""
    spark = urls.sparkSession
    out = canonicalize_arrow_df(urls, "url").dropDuplicates(["url_canon"])
    if allowed_hosts is not None:
        hosts = spark.createDataFrame(
            [(h,) for h in sorted(allowed_hosts)], "host string")
        out = out.join(F.broadcast(hosts), "host", "semi")
    if cfg.blocked_domains:
        bl = spark.createDataFrame(
            [(d,) for d in sorted(set(cfg.blocked_domains))], "domain string")
        out = out.join(F.broadcast(bl), "domain", "left_anti")
    if cfg.trap_filter:
        from .traps import trap_cols

        score = trap_cols(F.col("url_canon"), max_depth=cfg.trap_max_depth,
                          max_params=cfg.trap_max_params)["trap_score"]
        out = out.filter(score < cfg.trap_threshold)
    return out.withColumn("url_hash", F.xxhash64("url_canon"))


def frontier_rows(urls: DataFrame, priority: Column,
                  round_no: int) -> DataFrame:
    """(url_canon, url_hash, host, domain, ...) -> frontier rows added in
    `round_no`: pending, no attempts, in FRONTIER_SCHEMA order."""
    return urls.select(
        "url_canon", "url_hash", "host", "domain",
        priority.cast("int").alias("priority"), F.lit(0).alias("attempts"),
        F.lit(round_no).alias("round_added"), F.lit("pending").alias("state"))


def eligible_rows(allowed: DataFrame, prev_state: DataFrame, cfg: CrawlConfig,
                  round_no: int) -> tuple[DataFrame, DataFrame | None]:
    """Robots-allowed pending rows -> (this round's eligible rows, the
    GDPR-blocked rows or None with the gate off). A domain whose breaker
    is open (quarantined_until >= round_no) is skipped; its rows stay
    pending."""
    gdpr_blocked = None
    if cfg.gdpr_mode == "block":
        from .compliance import gdpr_required_col

        gflag = gdpr_required_col(F.col("domain"))
        gdpr_blocked = allowed.filter(gflag)
        allowed = allowed.filter(~gflag)
    if cfg.quarantine_max_failures > 0:
        quarantined = prev_state.filter(
            F.coalesce("quarantined_until", F.lit(-1)) >= round_no
        ).select("domain")
        allowed = allowed.join(F.broadcast(quarantined), "domain", "left_anti")
    return allowed, gdpr_blocked


def transitions(fetched: DataFrame, blocked: DataFrame,
                gdpr_blocked: DataFrame | None, cfg: CrawlConfig,
                round_no: int) -> DataFrame:
    """The round's frontier_updates deltas — O(round work), never a
    full-frontier rewrite. A terminal delta (done/failed/blocked*) masks
    its row out of the pending view until the next compaction archives
    it; a miss below max_attempts stays pending with attempts+1."""
    found, missed = F.col("found"), F.col("attempts") + 1
    updates = fetched.select(
        "url_hash",
        F.when(found, "done").when(missed >= cfg.max_attempts, "failed")
        .otherwise("pending").alias("state"),
        F.when(found, F.col("attempts")).otherwise(missed).alias("attempts"))
    for df, st in ((blocked, "blocked"), (gdpr_blocked, "blocked_gdpr")):
        if df is not None:
            updates = updates.unionByName(
                df.select("url_hash", F.lit(st).alias("state"), "attempts"))
    return updates.withColumn("round", F.lit(round_no))


def crawl_log_rows(fetched: DataFrame, round_no: int) -> DataFrame:
    """The round's crawl log rows — the reproducible order fixture."""
    return fetched.select(
        F.lit(round_no).alias("round"), "domain", "seq", "url_canon",
        "url_hash", "priority",
        F.when(F.col("found"), "fetched").otherwise("miss").alias("status"))


def lineage_rows(fetched: DataFrame, round_no: int) -> DataFrame:
    """Per-partition lineage metrics of the fetch (north_rule)."""
    return (
        fetched.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("scheduled"),
             F.sum(F.col("found").cast("long")).alias("fetched"),
             F.sum((~F.col("found")).cast("long")).alias("errors"))
        .withColumn("round", F.lit(round_no))
        .select("round", "partition_id", "scheduled", "fetched", "errors"))


def next_domain_state(fetched: DataFrame, prev_state: DataFrame,
                      cfg: CrawlConfig, round_no: int) -> DataFrame:
    """Domain adaptation and breaker state for the next round. A full-outer
    merge, so UNSCHEDULED domains (e.g. quarantined) keep their state —
    matching the oracle simulator's persistent dict."""
    pol = cfg.politeness
    round_err = (
        fetched.groupBy("domain")
        .agg(F.count("*").alias("att"),
             F.sum((~F.col("found")).cast("long")).alias("errs"),
             F.sum(F.col("found").cast("long")).alias("succ"))
        .withColumn("r_err_rate", F.col("errs") / F.col("att"))
    )
    prev_s = prev_state.select(
        "domain",
        F.col("err_rate").alias("p_err_rate"),
        F.col("consec_err").alias("p_consec"),
        F.col("breaker_failures").alias("p_breaker"),
        F.col("quarantined_until").alias("p_quar"),
        F.col("rate_mult").alias("p_mult"),
        F.col("n_fetch_total").alias("p_fetch_total"),
        F.col("n_err_total").alias("p_err_total"),
    )
    merged = round_err.join(prev_s, "domain", "full")
    attempted = F.col("att").isNotNull()
    new_consec = F.when(
        attempted,
        next_consec_errors(F.col("r_err_rate"), F.col("p_consec"), pol),
    ).otherwise(F.coalesce("p_consec", F.lit(0)))
    # recordSuccess resets the failure count on ANY success
    # (performance.go:503-510), rendered round-wise
    new_breaker = (
        F.when(~attempted, F.coalesce("p_breaker", F.lit(0)))
        .when(F.col("succ") > 0, F.lit(0))
        .otherwise(F.coalesce("p_breaker", F.lit(0)) + F.col("errs"))
    ).cast("int")
    if cfg.quarantine_max_failures > 0:
        # (re-)open only on an attempted round's failures — an already
        # open, unattempted domain keeps its expiry so it can half-open
        new_quar = (
            F.when(attempted & (new_breaker >= cfg.quarantine_max_failures),
                   F.lit(round_no + cfg.quarantine_reset_rounds))
            .otherwise(F.col("p_quar"))
        ).cast("int")
    else:
        new_quar = F.lit(None).cast("int")
    # interval multiplier for the strategy family: min-change-gated
    # recurrence from this round's stats (updateAdaptiveRate,
    # ratelimiter.go:363-409 evaluated round-wise; consumed next round
    # by strategy_tokens_from_state)
    new_mult = F.when(
        attempted,
        interval_multiplier(F.col("r_err_rate"), new_consec,
                            F.col("p_mult"), pol),
    ).otherwise(F.coalesce("p_mult", F.lit(1.0)))
    return merged.select(
        "domain",
        F.when(attempted, F.col("r_err_rate"))
        .otherwise(F.col("p_err_rate")).alias("err_rate"),
        new_consec.cast("int").alias("consec_err"),
        new_breaker.alias("breaker_failures"),
        new_quar.alias("quarantined_until"),
        new_mult.cast("double").alias("rate_mult"),
        (F.coalesce("p_fetch_total", F.lit(0))
         + F.coalesce("att", F.lit(0))).cast("long").alias("n_fetch_total"),
        (F.coalesce("p_err_total", F.lit(0))
         + F.coalesce("errs", F.lit(0))).cast("long").alias("n_err_total"),
    )


class CrawlEngine:
    def __init__(self, spark: SparkSession, store: StateStore,
                 pages: DataFrame, robots_texts: dict[str, str],
                 config: CrawlConfig | None = None):
        self.spark = spark
        self.store = store
        self.cfg = config or CrawlConfig()
        self.robots = RobotsIndex.from_texts(robots_texts or {})
        # rules as a DataFrame folded to one ordered-array row per host,
        # cached for broadcast at every round's gate (SURVEY §2.8 rules
        # table) — rules never ride a pickled UDF closure, so 10^8-host
        # crawls stay off the driver (swap createDataFrame for a table
        # read at that scale; the gate is unchanged)
        self.robots_rules = rules_array_df(
            self.robots.rules_df(spark), self.cfg.user_agent).cache()
        self.domain_delays = domain_delays_df(spark, self.robots,
                                              self.cfg.user_agent)
        self.pages = self._prepare_pages(pages).cache()
        self.allowed_hosts: set[str] | None = None
        self._snapshots: dict = {}  # the last commit's, per table
        self._pending = 0  # pending-view size at the last committed round
        self._round_cache: list[DataFrame] = []

    # ------------------------------------------------------------------
    # preparation
    # ------------------------------------------------------------------

    # above this many duplicated url_canon keys the dup-key set stops
    # being broadcastable and pages prep falls back to the full window
    # (degenerate corpus: most URLs re-fetched; bucket the pages table by
    # url_canon at ingest instead)
    PAGES_DUP_BROADCAST_MAX = 4_000_000

    def _prepare_pages(self, pages: DataFrame) -> DataFrame:
        """Canonicalize the pages table once; keep first row per url_canon
        (earliest warc_ts — WARC convention for re-fetches) WITHOUT
        shuffling the fat html column.

        A window over the whole table would push every page body through
        one exchange at startup — at 100 TB that shuffle dominates the
        crawl. Re-fetches are the exception, so: find duplicated keys with
        a key-width groupBy (html pruned from that scan), broadcast them,
        and run the keep-first window ONLY over the duplicated rows; the
        unique majority passes through shuffle-free via a broadcast
        anti-join. Plan extract in PLANS.md: no `html` in any Exchange."""
        canon = pages.withColumn("url_canon", normalize_url_udf("url"))
        has_ts = "warc_ts" in pages.columns
        dup_keys = (
            canon.groupBy("url_canon").count()
            .filter(F.col("count") > 1).select("url_canon")
        )
        n_dup = dup_keys.count()  # keys only — html never read here
        if n_dup == 0:
            return canon.select("url_canon", "html")
        order_cols = [F.col("warc_ts").asc()] if has_ts else []
        order_cols.append(F.col("url").asc())
        w = Window.partitionBy("url_canon").orderBy(*order_cols)
        if n_dup > self.PAGES_DUP_BROADCAST_MAX:
            return (
                canon.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("url_canon", "html")
            )
        uniq = canon.join(F.broadcast(dup_keys), "url_canon", "left_anti")
        dups = canon.join(F.broadcast(dup_keys), "url_canon", "left_semi")
        dedup = (
            dups.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
        )
        return (uniq.select("url_canon", "html")
                .unionByName(dedup.select("url_canon", "html")))

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------

    def init(self, seeds: DataFrame) -> None:
        """Seed the frontier. seeds: (url[, priority])."""
        if "priority" not in seeds.columns:
            seeds = seeds.withColumn("priority", F.lit(self.cfg.default_priority))
        if self.cfg.seed_sitemaps:
            sitemaps = self.robots.all_sitemaps()
            if sitemaps:
                sm = self.spark.createDataFrame(
                    [(u, self.cfg.default_priority) for u in sitemaps],
                    "url string, priority int")
                seeds = seeds.select("url", "priority").unionByName(sm)
        canon = seeds.select(canonicalize_struct_udf("url").alias("c"),
                             "priority").select("c.*", "priority")
        # one row per canonical URL; highest priority wins, deterministic
        w = Window.partitionBy("url_canon").orderBy(F.col("priority").desc())
        canon = (canon.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1)
                 .withColumn("url_hash", F.xxhash64("url_canon")))
        frontier = frontier_rows(canon, F.col("priority"), 0)

        # every other table starts empty: a snapshot with no data dirs
        snaps = {name: SnapshotTable.empty(schema) for name, schema in (
            ("frontier_updates", FRONTIER_UPDATES_SCHEMA),
            ("frontier_archive", FRONTIER_SCHEMA),
            ("domain_state", DOMAIN_STATE_SCHEMA),
            ("pagination_state", PAGINATION_STATE_SCHEMA),
            ("pagination_chains", PAGINATION_CHAINS_SCHEMA),
            ("crawl_log", CRAWL_LOG_SCHEMA),
            ("lineage_metrics", LINEAGE_METRICS_SCHEMA))}
        seeded, seeded_obs = _observed(frontier, n=F.count(F.lit(1)))
        snaps["frontier"] = self.store["frontier"].overwrite(seeded)
        # the hosts, url_seen and the filter read the seeded rows back,
        # so the normalize -> window -> canonicalize chain runs once
        rows = self.store["frontier"].read(self.spark, snaps["frontier"])
        if self.cfg.restrict_to_seed_hosts:
            hosts = [r["host"] for r in rows.select("host").distinct().collect()]
            self.allowed_hosts = set(hosts)
        seen = rows.select("url_hash")
        snaps["url_seen"] = self.store.url_seen.overwrite_all(
            self.spark, seen, self.cfg.seen_n_buckets)
        _, blobs = split_pass(probe_and_fold(
            seen, None, self.cfg.bloom_n_shards, self.cfg.bloom_m_bits,
            self.cfg.bloom_k))
        snaps["bloom_shards"] = self.store["bloom_shards"].overwrite(blobs)
        n_seeds = seeded_obs.get["n"]
        self.store.commit_round(0, snaps, {"pending": n_seeds})
        self._snapshots, self._pending = snaps, n_seeds

    def resume(self) -> int:
        """Roll state back to the last committed round; returns that round.
        Data a crashed round wrote is simply not referenced (north_rule:
        resumable mid-crawl)."""
        last = self.store.last_committed_round()
        if last is None:
            raise RuntimeError("no committed rounds to resume from")
        self._snapshots = last["snapshots"]
        self._pending = last["stats"]["pending"]
        if self.cfg.restrict_to_seed_hosts and self.allowed_hosts is None:
            seed_hosts = (self.frontier_df()
                          .filter(F.col("round_added") == 0)
                          .select("host").distinct().collect())
            self.allowed_hosts = {r["host"] for r in seed_hosts}
        return last["round"]

    def _read(self, table: str) -> DataFrame:
        return self.store[table].read(self.spark, self._snapshots[table])

    def _append(self, table: str, df: DataFrame) -> dict:
        """`df` on top of the committed snapshot of `table`."""
        return self.store[table].append(df, self._snapshots[table])

    # ------------------------------------------------------------------
    # incremental frontier views
    # ------------------------------------------------------------------

    @staticmethod
    def _reconcile(base: DataFrame, updates: DataFrame) -> DataFrame:
        """Apply the latest state-transition delta per url_hash. The delta
        set spans at most frontier_compact_every rounds of scheduled work —
        key-width, typically broadcastable — so the base (which holds the
        fat url_canon strings) never shuffles."""
        latest = (
            updates.groupBy("url_hash")
            .agg(F.max_by(F.struct("state", "attempts"), "round").alias("_u"))
        )
        return (
            base.join(latest, "url_hash", "left")
            .withColumn("state", F.coalesce(F.col("_u.state"), F.col("state")))
            .withColumn(
                "attempts",
                F.coalesce(F.col("_u.attempts"), F.col("attempts")).cast("int"))
            .drop("_u")
        )

    def _pending_frontier(self) -> DataFrame:
        """The schedulable set: every base row is written pending, so rows
        leave this view purely via terminal deltas (no archive scan)."""
        return self._reconcile(
            self._read("frontier"), self._read("frontier_updates")
        ).filter(F.col("state") == "pending")

    def frontier_df(self) -> DataFrame:
        """Full frontier (every state) — fixtures, resume, q30."""
        full = self._reconcile(
            self._read("frontier"), self._read("frontier_updates"))
        return full.unionByName(self._read("frontier_archive"))

    # ------------------------------------------------------------------
    # one round
    # ------------------------------------------------------------------

    def run_round(self, round_no: int) -> dict:
        """Run and commit one round; returns its stats. Its cached frames
        are released however it ends (run.py retries a failed crawl in
        the same session), newest first so none is re-planned."""
        try:
            return self._round(round_no)
        finally:
            for df in reversed(self._round_cache):
                df.unpersist()
            self._round_cache.clear()

    def _cache(self, df: DataFrame) -> DataFrame:
        self._round_cache.append(df.cache())
        return df

    def _round(self, round_no: int) -> dict:
        t0 = time.monotonic()
        cfg = self.cfg
        prev_state = self._read("domain_state")

        # --- robots gate (denied -> 'blocked'), then the opt-in GDPR and
        # breaker gates. Cached: blocked and eligible both read it ---
        gated = self._cache(robots_gate(self._pending_frontier(),
                                        self.robots_rules))
        blocked = gated.filter(~F.col("allowed")).drop("allowed")
        eligible, gdpr_blocked = eligible_rows(
            gated.filter(F.col("allowed")).drop("allowed"), prev_state, cfg,
            round_no)

        # --- budgets -> schedule -> "fetch" (equi-join the pages table) ---
        budgets = round_budgets(eligible.select("domain").distinct(),
                                self.domain_delays, prev_state, cfg, round_no)
        scheduled = schedule_topk(eligible, budgets, cfg.politeness)
        fetched = self._cache(
            scheduled.join(self.pages, "url_canon", "left")
            .withColumn("found", F.col("html").isNotNull()))

        # --- discover -> one Bloom pass -> new-URL check. The pass is
        # cached: the frontier append and the bloom_shards write both read
        # it, so the links -> canonicalize -> Bloom Arrow chain runs once;
        # new_rows feeds three writes ---
        links, new_pag_state, new_chain_rows = self._links(fetched, round_no)
        bloom_pass = self._cache(probe_and_fold(
            candidates(links, cfg, self.allowed_hosts),
            self._read("bloom_shards"),
            cfg.bloom_n_shards, cfg.bloom_m_bits, cfg.bloom_k))
        flagged, next_blobs = split_pass(bloom_pass)
        new_rows = self._cache(frontier_rows(
            new_urls(flagged, self.seen_hashes()),
            F.lit(cfg.default_priority), round_no))

        # --- writes + round commit: appends extend the committed
        # snapshots, so crashed rounds can't leak uncommitted data. Counts
        # are observed on the writes: each delta is one pending-view row
        # and no new row was seen, so pending moves by exactly
        # new_urls - terminal transitions ---
        new_rows_w, new_obs = _observed(new_rows, new_urls=F.count(F.lit(1)))
        updates_w, upd_obs = _observed(
            transitions(fetched, blocked, gdpr_blocked, cfg, round_no),
            terminal=F.count_if(F.col("state") != "pending"))
        log_w, log_obs = _observed(
            crawl_log_rows(fetched, round_no), scheduled=F.count(F.lit(1)),
            fetched=F.count_if(F.col("status") == "fetched"))
        snaps = dict(self._snapshots)
        if (cfg.frontier_compact_every > 0
                and round_no % cfg.frontier_compact_every == 0):
            # compaction (module docstring): one reconcile, two writes
            full = self._cache(self._reconcile(
                self._read("frontier").unionByName(new_rows_w),
                self._read("frontier_updates").unionByName(updates_w),
            ).select([f.name for f in FRONTIER_SCHEMA.fields]))
            is_pending = F.col("state") == "pending"
            snaps["frontier"] = self.store["frontier"].overwrite(
                full.filter(is_pending))
            snaps["frontier_archive"] = self._append(
                "frontier_archive", full.filter(~is_pending))
            snaps["frontier_updates"] = SnapshotTable.empty(
                FRONTIER_UPDATES_SCHEMA)
        else:
            snaps["frontier"] = self._append("frontier", new_rows_w)
            snaps["frontier_updates"] = self._append("frontier_updates",
                                                     updates_w)
        # the frontier write above filled new_obs: size this write by it
        n_new = new_obs.get["new_urls"]
        snaps["url_seen"] = self.store.url_seen.append_round(
            self.spark, new_rows.select("url_hash"), round_no, n_rows=n_new)
        # one blob per shard (bloom.py invariant), from the cached pass
        snaps["bloom_shards"] = self.store["bloom_shards"].overwrite(next_blobs)
        snaps["domain_state"] = self.store["domain_state"].overwrite(
            next_domain_state(fetched, prev_state, cfg, round_no))
        if new_pag_state is not None:
            snaps["pagination_state"] = self.store["pagination_state"].overwrite(
                new_pag_state)
        if new_chain_rows is not None:
            # chain membership of next-round pages: O(advancing chains)
            # rows per round, append-only
            snaps["pagination_chains"] = self._append(
                "pagination_chains", new_chain_rows)
        snaps["crawl_log"] = self._append("crawl_log", log_w)
        snaps["lineage_metrics"] = self._append(
            "lineage_metrics", lineage_rows(fetched, round_no))

        logged = log_obs.get
        stats = {
            "round": round_no,
            "scheduled": logged["scheduled"],
            "fetched": logged["fetched"],
            "new_urls": n_new,
            "pending": self._pending - upd_obs.get["terminal"] + n_new,
            "wall_ms": int((time.monotonic() - t0) * 1000),
        }
        self.store.commit_round(round_no, snaps, stats)
        self._snapshots, self._pending = snaps, stats["pending"]
        return stats

    def _links(self, fetched: DataFrame, round_no: int
               ) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
        """The URLs the fetched pages lead to (a `url` column), plus the
        pagination state and chain rows a cursor strategy advances (None
        otherwise)."""
        pages = fetched.filter("found").select("url_canon", "html")
        spec = self.cfg.pagination_spec
        if spec is not None and spec.type in ("cursor", "next_button"):
            return self._pagination_links(pages, spec, round_no)
        links = extract_links_df(pages, selector=self.cfg.link_selector)
        return links.select(F.col("out_url_canon").alias("url")), None, None

    def _pagination_links(
            self, fetched_pages: DataFrame, spec: PaginationSpec,
            round_no: int
    ) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
        """DOM-dependent pagination step: one Arrow pass per fetched page
        emits (next_url, cursor) with the reference's exact semantics
        (pagination_strategies.go:95-311 — disabled-button heuristics,
        cursor from selector text/attr, stop on empty cursor / page cap).

        Cursor-repeat protection across rounds (the reference's PER-
        STRATEGY-INSTANCE lastCursor, pagination_strategies.go:144-149) is
        keyed by (host, chain_id) — chain_id is the chain's seed
        url_hash, carried forward to each next page through the
        append-only pagination_chains mapping — so two paginated listings
        on one host never interfere: each chain compares its cursor only
        against ITS previous cursor. Both joins are broadcast (state is
        O(live chains), key-width).

        Returns (the next URLs as a `url` column, new pagination_state,
        new pagination_chains rows — the latter two None for
        next_button)."""
        nxt = extract_next_urls_df(fetched_pages, spec, page_num=round_no)
        new_state = new_chains = None
        if spec.type == "cursor":
            prev = self._read("pagination_state")
            chains = self._read("pagination_chains")
            # chain membership: a seed page starts its own chain
            # (chain_id = its url_hash); next pages inherit via the mapping
            nxt = self._cache(
                nxt.withColumn("host", host_col(F.col("src_url")))
                .withColumn("src_hash", F.xxhash64("src_url"))
                .join(F.broadcast(chains.dropDuplicates(["url_hash"])),
                      F.col("src_hash") == F.col("url_hash"), "left")
                .drop("url_hash")
                .withColumn("chain_id",
                            F.coalesce("chain_id", F.col("src_hash")))
                .join(F.broadcast(prev), ["host", "chain_id"], "left")
                .withColumn(
                    "next_url",
                    F.when(F.col("cursor") == F.coalesce("last_cursor", F.lit("")),
                           F.lit(None).cast("string"))
                    .otherwise(F.col("next_url")),
                ))
            this_round = (
                nxt.filter(F.col("cursor") != "")
                .groupBy("host", "chain_id")
                .agg(F.max("cursor").alias("new_cursor"))
            )
            new_state = (
                prev.join(this_round, ["host", "chain_id"], "full")
                .select(
                    "host", "chain_id",
                    F.coalesce("new_cursor", "last_cursor").alias("last_cursor"),
                )
            )
            new_chains = (
                nxt.filter(F.col("next_url").isNotNull())
                .select(
                    F.xxhash64(normalize_url_udf("next_url")).alias("url_hash"),
                    "chain_id")
            )
        links = (nxt.filter(F.col("next_url").isNotNull())
                 .select(F.col("next_url").alias("url")))
        return links, new_state, new_chains

    # ------------------------------------------------------------------
    # full crawl
    # ------------------------------------------------------------------

    def run(self, seeds: DataFrame | None = None,
            max_rounds: int | None = None) -> list[dict]:
        """Run until the frontier drains or max_rounds; returns round stats.
        Pass seeds to start fresh; omit to resume from the journal."""
        if seeds is not None:
            self.init(seeds)
            start = 1
        else:
            start = self.resume() + 1
        stats = []
        limit = max_rounds or self.cfg.max_rounds
        for r in range(start, limit + 1):
            s = self.run_round(r)
            stats.append(s)
            if s["pending"] == 0:
                break
        return stats

    def round_metrics(self) -> DataFrame:
        """The committed crawl rounds' journal stats, one row per round
        (metrics.go RecordPageScraped totals rendered per round)."""
        return self.spark.createDataFrame(
            [r["stats"] for r in self.store.committed_rounds() if r["round"]],
            "round int, scheduled long, fetched long, new_urls long, "
            "pending long, wall_ms long")

    def crawl_log(self) -> DataFrame:
        return (self._read("crawl_log")
                .orderBy("round", "domain", "seq"))

    def request_metrics(self) -> DataFrame:
        """Committed per-round per-host per-status request counters, served
        from the crawl log (request_metrics_from_log)."""
        return request_metrics_from_log(self._read("crawl_log"), self.cfg)

    def seen_hashes(self) -> DataFrame:
        return self.store.url_seen.read(self.spark, self._snapshots["url_seen"])
