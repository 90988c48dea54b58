"""Per-domain politeness budgets + skew-resistant scheduling.

Semantics derive from the reference's AdaptiveRateLimiter
(/root/reference/internal/scraper/ratelimiter.go):
  - error-rate > 10% slows the domain, up to 4x        (:31, :380-400)
  - consecutive bad rounds add a penalty, capped 10x   (:38, :391-396)
  - robots crawl-delay respected, capped by max_crawl_delay
    (configs/ecommerce.yaml:400-402)
  - per-host page cap (engine.go:715-718 maxPages default 10)

The reference adapts on wall-clock inside a mutex (:185-252). That cannot
be reproduced deterministically on a cluster, so this engine evaluates the
SAME recurrence once per crawl round from the previous round's aggregates
(SURVEY §7 "adaptive politeness determinism"): budgets are a pure function
of (config, robots, previous-round error rates), hence reproducible and
identical in the sequential oracle simulator.

Everything here is native Column expressions (whole-stage codegen), no
UDFs. Host skew in the per-domain top-k is handled by Spark's map-side
group limit (north_rule: host skew handled explicitly): `schedule_topk`
ranks each domain once, and the literal page cap in its filter lets the
optimizer keep at most `cap` rows per domain in every map task before the
domain exchange, so one mega-host sends at most (map tasks x cap) rows to
its window, not its whole backlog.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class PolitenessConfig:
    requests_per_second: float = 2.0
    burst: int = 5
    round_seconds: float = 5.0
    max_crawl_delay_s: float = 10.0
    max_pages_per_round_per_domain: int = 10
    error_rate_threshold: float = 0.10   # ratelimiter.go:24
    error_rate_multiplier: float = 3.0   # ratelimiter.go:31
    max_slowdown: float = 4.0            # "up to 4x slower"
    max_penalty: float = 10.0            # consecutive-error cap
    # strategy surface (ratelimiter.go:91-99): fixed|adaptive|burst|hybrid.
    # The crawl engine's pinned recurrence (tokens_per_round below) is the
    # deterministic round-wise rendering of `adaptive`; the full 4-strategy
    # family lives in strategy_tokens_per_round.
    strategy: str = "adaptive"
    # False (default): budgets use the pinned tokens_per_round recurrence.
    # True: budgets come from the full 4-strategy family via
    # strategy_tokens_from_state over the checkpointed interval multiplier
    # (domain_state.rate_mult) — the end-to-end rendering of
    # ratelimiter.go's WaitN dispatch.
    use_strategy_budgets: bool = False
    consec_err_limit: int = 5            # consecutiveErrLimit default
    min_change_threshold: float = 0.10   # minChangeThreshold (:404-409)
    burst_increase_threshold: float = 0.05   # :32
    burst_decrease_threshold: float = 0.20   # :33
    burst_increase_multiplier: float = 1.5   # :34
    burst_decrease_multiplier: float = 0.5   # :35
    max_consecutive_multiplier: float = 10.0  # :38


def _eff_rps(delay_col, cfg: PolitenessConfig):
    """Base rate, lowered to 1/crawl-delay (delay capped at
    max_crawl_delay_s) when the domain sets one."""
    eff_delay = F.least(delay_col, F.lit(float(cfg.max_crawl_delay_s)))
    rps = F.lit(float(cfg.requests_per_second))
    return F.when(eff_delay > 0.0, F.least(rps, F.lit(1.0) / eff_delay)
                  ).otherwise(rps)


def _clamp_budget(raw, cfg: PolitenessConfig):
    """greatest(1, least(raw, cap)): every budget ends here, so
    1 <= tokens <= max(1, cap) — the bound schedule_topk's literal group
    limit relies on."""
    return F.greatest(
        F.lit(1),
        F.least(raw, F.lit(int(cfg.max_pages_per_round_per_domain))),
    ).cast("int")


def tokens_per_round(delay_col, err_rate_col, consec_col, cfg: PolitenessConfig):
    """Budget recurrence as a Column expression.

    tokens = clamp(floor(round_seconds * eff_rps / slowdown), 1, page_cap)
    eff_rps = min(base_rps, 1/min(crawl_delay, max_delay))
    slowdown = min(1 + err*mult, 4) * min(1 + 0.5*consec, 10), capped 10.
    """
    err = F.coalesce(err_rate_col, F.lit(0.0))
    consec = F.coalesce(consec_col, F.lit(0))
    slowdown = F.when(
        err > cfg.error_rate_threshold,
        F.least(F.lit(1.0) + err * cfg.error_rate_multiplier,
                F.lit(float(cfg.max_slowdown))),
    ).otherwise(F.lit(1.0))
    penalty = F.least(F.lit(1.0) + 0.5 * consec.cast("double"),
                      F.lit(float(cfg.max_penalty)))
    total_slow = F.least(slowdown * penalty, F.lit(float(cfg.max_penalty)))
    raw = F.floor(F.lit(float(cfg.round_seconds)) * _eff_rps(delay_col, cfg)
                  / total_slow)
    return _clamp_budget(raw, cfg)


def tokens_per_round_py(delay_s: float, err_rate: float | None,
                        consec: int | None, cfg: PolitenessConfig) -> int:
    """Exact Python twin of `tokens_per_round` — shared by the sequential
    oracle simulator and the streaming stateful operator so every surface
    computes the same budget."""
    eff_delay = min(delay_s, cfg.max_crawl_delay_s)
    if eff_delay > 0.0:
        eff_rps = min(cfg.requests_per_second, 1.0 / eff_delay)
    else:
        eff_rps = cfg.requests_per_second
    err = err_rate or 0.0
    consec = consec or 0
    if err > cfg.error_rate_threshold:
        slowdown = min(1.0 + err * cfg.error_rate_multiplier, cfg.max_slowdown)
    else:
        slowdown = 1.0
    penalty = min(1.0 + 0.5 * consec, cfg.max_penalty)
    total = min(slowdown * penalty, cfg.max_penalty)
    raw = math.floor(cfg.round_seconds * eff_rps / total)
    return max(1, min(raw, cfg.max_pages_per_round_per_domain))


def next_consec_errors_py(err_rate: float | None, consec: int | None,
                          cfg: PolitenessConfig) -> int:
    err = err_rate or 0.0
    return (consec or 0) + 1 if err > cfg.error_rate_threshold else 0


def interval_multiplier(err_rate_col, consec_col, prev_mult_col,
                        cfg: PolitenessConfig):
    """updateAdaptiveRate's interval multiplier (ratelimiter.go:363-409),
    evaluated round-wise:

      mult = 1 + err*3            when err > threshold (else 1)
      mult *= min(consec/limit, 10)  when consec > limit
      min-change gate: keep the previous multiplier unless the relative
      change is >= min_change_threshold (:404-409).
    """
    err = F.coalesce(err_rate_col, F.lit(0.0))
    consec = F.coalesce(consec_col, F.lit(0)).cast("double")
    prev = F.coalesce(prev_mult_col, F.lit(1.0))
    mult = F.when(
        err > cfg.error_rate_threshold,
        F.lit(1.0) + err * cfg.error_rate_multiplier,
    ).otherwise(F.lit(1.0))
    ratio = consec / F.lit(float(cfg.consec_err_limit))
    mult = F.when(
        consec > cfg.consec_err_limit,
        mult * F.least(ratio, F.lit(float(cfg.max_consecutive_multiplier))),
    ).otherwise(mult)
    change = F.abs(mult - prev) / prev
    return F.when(change >= cfg.min_change_threshold, mult).otherwise(prev)


def burst_size(err_rate_col, cfg: PolitenessConfig):
    """Burst adjustment (ratelimiter.go:411-425): grow 1.5x below 5%
    errors, shrink 0.5x (floor 1) above 20%, else the base burst."""
    err = F.coalesce(err_rate_col, F.lit(0.0))
    base = float(cfg.burst)
    return (
        F.when(err < cfg.burst_increase_threshold,
               F.floor(F.lit(base * cfg.burst_increase_multiplier)))
        .when(err > cfg.burst_decrease_threshold,
              F.greatest(F.floor(F.lit(base * cfg.burst_decrease_multiplier)),
                         F.lit(1)))
        .otherwise(F.lit(int(cfg.burst)))
    ).cast("int")


def strategy_tokens_per_round(delay_col, err_rate_col, consec_col,
                              prev_mult_col, cfg: PolitenessConfig):
    """Per-round token budget under the configured strategy
    (WaitN dispatch, ratelimiter.go:190-205):

      fixed     base rate only, no adaptation
      adaptive  rate / interval_multiplier (min-change gated)
      burst     base rate + adjusted burst headroom
      hybrid    adaptive rate + adjusted burst headroom

    The same budget as `strategy_tokens_from_state` over this round's
    freshly gated multiplier (never null, as the stored one may be).
    """
    mult = interval_multiplier(err_rate_col, consec_col, prev_mult_col, cfg)
    return strategy_tokens_from_state(delay_col, err_rate_col, mult, cfg)


def strategy_tokens_from_state(delay_col, err_rate_col, mult_col,
                               cfg: PolitenessConfig):
    """Per-round budget from CHECKPOINTED state: `mult_col` is the already
    min-change-gated interval multiplier stored at the end of the previous
    round (see CrawlEngine domain_state), so no re-gating happens here —
    the engine stores mult_r and spends it in round r+1.

      fixed     base rate only
      adaptive  base / mult
      burst     base + burst(err)
      hybrid    base / mult + burst(err)
    """
    base = F.lit(float(cfg.round_seconds)) * _eff_rps(
        F.coalesce(delay_col, F.lit(0.0)), cfg)
    mult = F.coalesce(mult_col, F.lit(1.0))
    burst = burst_size(err_rate_col, cfg)
    if cfg.strategy == "fixed":
        raw = F.floor(base)
    elif cfg.strategy == "adaptive":
        raw = F.floor(base / mult)
    elif cfg.strategy == "burst":
        raw = F.floor(base) + burst
    elif cfg.strategy == "hybrid":
        raw = F.floor(base / mult) + burst
    else:
        raise ValueError(f"unknown rate-limit strategy: {cfg.strategy}")
    return _clamp_budget(raw, cfg)


def interval_multiplier_py(err_rate: float | None, consec: int | None,
                           prev_mult: float | None,
                           cfg: PolitenessConfig) -> float:
    """Python twin of `interval_multiplier` (shared by the oracle sim)."""
    err = err_rate or 0.0
    consec = float(consec or 0)
    prev = prev_mult if prev_mult is not None else 1.0
    mult = 1.0 + err * cfg.error_rate_multiplier \
        if err > cfg.error_rate_threshold else 1.0
    if consec > cfg.consec_err_limit:
        mult *= min(consec / cfg.consec_err_limit,
                    cfg.max_consecutive_multiplier)
    change = abs(mult - prev) / prev
    return mult if change >= cfg.min_change_threshold else prev


def burst_size_py(err_rate: float | None, cfg: PolitenessConfig) -> int:
    err = err_rate or 0.0
    base = float(cfg.burst)
    if err < cfg.burst_increase_threshold:
        return int(math.floor(base * cfg.burst_increase_multiplier))
    if err > cfg.burst_decrease_threshold:
        return max(int(math.floor(base * cfg.burst_decrease_multiplier)), 1)
    return int(cfg.burst)


def strategy_tokens_from_state_py(delay_s: float, err_rate: float | None,
                                  mult: float | None,
                                  cfg: PolitenessConfig) -> int:
    eff_delay = min(delay_s, cfg.max_crawl_delay_s)
    eff_rps = min(cfg.requests_per_second, 1.0 / eff_delay) \
        if eff_delay > 0.0 else cfg.requests_per_second
    base = cfg.round_seconds * eff_rps
    m = mult if mult is not None else 1.0
    burst = burst_size_py(err_rate, cfg)
    if cfg.strategy == "fixed":
        raw = math.floor(base)
    elif cfg.strategy == "adaptive":
        raw = math.floor(base / m)
    elif cfg.strategy == "burst":
        raw = math.floor(base) + burst
    elif cfg.strategy == "hybrid":
        raw = math.floor(base / m) + burst
    else:
        raise ValueError(f"unknown rate-limit strategy: {cfg.strategy}")
    return max(1, min(raw, cfg.max_pages_per_round_per_domain))


def next_consec_errors(err_rate_col, consec_col, cfg: PolitenessConfig):
    err = F.coalesce(err_rate_col, F.lit(0.0))
    consec = F.coalesce(consec_col, F.lit(0))
    return (F.when(err > cfg.error_rate_threshold, consec + 1)
            .otherwise(F.lit(0))).cast("int")


def schedule_topk(pending: DataFrame, budgets: DataFrame,
                  cfg: PolitenessConfig) -> DataFrame:
    """Pick each domain's top-`tokens` pending URLs, skew-resistant.

    Ordering (deterministic total order per domain, SURVEY §7):
      priority DESC, round_added ASC, url_hash ASC.

    One window ranks each domain; `seq` = 1-based rank within the domain
    for this round. The filter's literal conjunct `seq <= max(1, cap)`
    drops no row, since every budget is at most max(1, cap)
    (`_clamp_budget`; the engine's adjustments only lower it). It lets
    Spark's InferWindowGroupLimit plan a WindowGroupLimit Partial below
    the domain exchange: each map task ships at most `cap` rows per
    domain, so a hot host's window input is bounded by map tasks x cap.
    Spark infers the limit only for literals up to
    `spark.sql.optimizer.windowGroupLimitThreshold` (1000 by default);
    above it the plan is a plain per-domain window with the same result.
    The session's conf is the caller's and is left as is.
    """
    order = [F.col("priority").desc(), F.col("round_added").asc(),
             F.col("url_hash").asc()]
    cap = max(1, int(cfg.max_pages_per_round_per_domain))
    w = Window.partitionBy("domain").orderBy(*order)
    seq = F.col("seq")
    return (
        pending.join(F.broadcast(budgets), "domain", "inner")
        .withColumn("seq", F.row_number().over(w))
        .filter((seq <= F.col("tokens")) & (seq <= F.lit(cap)))
        .drop("tokens")
    )
