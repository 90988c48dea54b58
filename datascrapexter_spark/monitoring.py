"""Health checks, alert evaluation, and dashboard summary over the
persisted crawl state.

The reference runs these as an HTTP sidecar (health endpoints
/root/reference/internal/monitoring/health.go:264-343 GetHealth /
GetReadiness / GetLiveness; alert rules dashboard.go:961-984; dashboard
summary dashboard.go:488-533). This sandbox has no server, and at
cluster scale the natural surface is the STATE STORE anyway: the round
journal's stats (`CrawlEngine.round_metrics()`), the request counters
served from the crawl log (`CrawlEngine.request_metrics()`) and the
`extraction_metrics` table (scheduler.py, run.py), so health and alerts
are a driver-side evaluation over that state — the aggregation and status-
transition semantics are ported exactly; only the transport is dropped.

Status lattice (health.go:283-321, GetHealth):
  - any UNHEALTHY check that is critical      -> overall UNHEALTHY
  - any UNHEALTHY check that is not critical  -> overall DEGRADED
  - any DEGRADED or UNKNOWN check             -> overall DEGRADED
  - otherwise                                 -> HEALTHY
Readiness (health.go:331-343): unhealthy -> unhealthy, else healthy
(degraded still serves traffic). Liveness (health.go:345-366): only
CRITICAL unhealthy checks fail liveness.

Alert cooldowns are rendered in ROUNDS (the engine's clock) instead of
wall minutes — the rule set and thresholds mirror setupAlertRules
(dashboard.go:961-984: error-rate >10% warning, job-failure error).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEALTHY = "healthy"
DEGRADED = "degraded"
UNHEALTHY = "unhealthy"
UNKNOWN = "unknown"


@dataclass
class CheckResult:
    status: str
    message: str = ""
    metadata: dict = field(default_factory=dict)


@dataclass
class HealthCheck:
    name: str
    check_fn: Callable[[], CheckResult]
    critical: bool = False
    enabled: bool = True
    # populated by run_checks (health.go:244-253 check metadata)
    status: str = UNKNOWN
    message: str = ""
    metadata: dict = field(default_factory=dict)


@dataclass
class SystemHealth:
    status: str
    summary: dict
    checks: dict


class HealthManager:
    """GetHealth/GetReadiness/GetLiveness with the reference's exact
    status-aggregation semantics, fed by data-plane checks."""

    def __init__(self) -> None:
        self.checks: dict[str, HealthCheck] = {}

    def register(self, check: HealthCheck) -> None:
        self.checks[check.name] = check

    def run_checks(self) -> None:
        for check in self.checks.values():
            if not check.enabled:
                continue
            try:
                result = check.check_fn()
            except Exception as e:  # noqa: BLE001 — a crashing check is unhealthy
                result = CheckResult(UNHEALTHY, f"check raised: {e}")
            check.status = result.status
            check.message = result.message
            check.metadata = result.metadata

    def get_health(self) -> SystemHealth:
        summary = {"total": 0, "healthy": 0, "unhealthy": 0,
                   "degraded": 0, "unknown": 0, "critical": 0}
        overall = HEALTHY
        for check in self.checks.values():
            if not check.enabled:
                continue
            summary["total"] += 1
            if check.status == HEALTHY:
                summary["healthy"] += 1
            elif check.status == UNHEALTHY:
                summary["unhealthy"] += 1
                if check.critical:
                    overall = UNHEALTHY
                elif overall == HEALTHY:
                    overall = DEGRADED
            elif check.status == DEGRADED:
                summary["degraded"] += 1
                if overall == HEALTHY:
                    overall = DEGRADED
            else:
                summary["unknown"] += 1
                if overall == HEALTHY:
                    overall = DEGRADED
            if check.critical:
                summary["critical"] += 1
        return SystemHealth(overall, summary, dict(self.checks))

    def get_readiness(self) -> SystemHealth:
        health = self.get_health()
        health.status = UNHEALTHY if health.status == UNHEALTHY else HEALTHY
        return health

    def get_liveness(self) -> SystemHealth:
        health = self.get_health()
        critical_failure = any(
            c.enabled and c.critical and c.status == UNHEALTHY
            for c in self.checks.values())
        health.status = UNHEALTHY if critical_failure else HEALTHY
        return health


# -- alert manager (dashboard.go:230-246 + 961-984) -----------------------


@dataclass
class AlertRule:
    name: str
    level: str                      # info | warning | error | critical
    message: str
    condition: Callable[[dict], bool]   # round snapshot -> fire?
    cooldown_rounds: int = 1


@dataclass
class Alert:
    rule: str
    level: str
    message: str
    round: int
    value: float | None = None


class AlertManager:
    def __init__(self, rules: list[AlertRule] | None = None) -> None:
        self.rules = rules if rules is not None else default_alert_rules()
        self.alerts: list[Alert] = []
        self._last_fired: dict[str, int] = {}

    def evaluate_round(self, snapshot: dict) -> list[Alert]:
        """Evaluate every rule against one round's snapshot dict
        (round/scheduled/fetched/error_rate/...). Cooldown: a rule that
        fired at round r stays silent through r + cooldown_rounds."""
        fired = []
        rnd = int(snapshot["round"])
        for rule in self.rules:
            last = self._last_fired.get(rule.name)
            if last is not None and rnd - last <= rule.cooldown_rounds:
                continue
            if rule.condition(snapshot):
                alert = Alert(rule.name, rule.level, rule.message, rnd,
                              snapshot.get("error_rate"))
                self.alerts.append(alert)
                self._last_fired[rule.name] = rnd
                fired.append(alert)
        return fired

    def get_active_alerts(self) -> list[Alert]:
        return list(self.alerts)


def default_alert_rules(error_rate_threshold: float = 0.10) -> list[AlertRule]:
    """setupAlertRules (dashboard.go:961-984) — the data-plane-modelable
    defaults: High Error Rate (>10%, warning) and Job Failure (error: a
    round that scheduled work and fetched nothing). High Memory Usage is
    process-level — register a memory check on the HealthManager instead."""
    return [
        AlertRule(
            "High Error Rate", "warning",
            f"Error rate has exceeded {error_rate_threshold:.0%}",
            lambda s: (s.get("error_rate") or 0.0) > error_rate_threshold,
            cooldown_rounds=5),
        AlertRule(
            "Job Failure", "error", "Scraping job has failed",
            lambda s: s.get("scheduled", 0) > 0 and s.get("fetched", 0) == 0,
            cooldown_rounds=1),
    ]


# -- data-plane checks over the metrics tables ----------------------------


def round_snapshots(round_metrics: DataFrame) -> list[dict]:
    """round_metrics rows -> ordered snapshot dicts with error_rate
    derived (misses / scheduled — the RecordPageScraped error family
    round-wise). Driver-sized: one row per round."""
    rows = (round_metrics
            .withColumn(
                "error_rate",
                F.when(F.col("scheduled") > 0,
                       (F.col("scheduled") - F.col("fetched"))
                       / F.col("scheduled"))
                .otherwise(F.lit(0.0)))
            .orderBy("round").collect())
    return [r.asDict() for r in rows]


def crawl_error_rate_check(snapshots: list[dict],
                           degraded_at: float = 0.10,
                           unhealthy_at: float = 0.50) -> HealthCheck:
    """Error-rate health over the LAST committed round (the engine's
    "current" state, like the reference's rolling counters)."""
    def check() -> CheckResult:
        if not snapshots:
            return CheckResult(UNKNOWN, "no rounds recorded")
        last = snapshots[-1]
        rate = float(last.get("error_rate") or 0.0)
        meta = {"round": last["round"], "error_rate": rate}
        if rate >= unhealthy_at:
            return CheckResult(UNHEALTHY,
                               f"error rate {rate:.1%} >= {unhealthy_at:.0%}",
                               meta)
        if rate >= degraded_at:
            return CheckResult(DEGRADED,
                               f"error rate {rate:.1%} >= {degraded_at:.0%}",
                               meta)
        return CheckResult(HEALTHY, f"error rate {rate:.1%}", meta)

    return HealthCheck("crawl_error_rate", check, critical=False)


def frontier_progress_check(snapshots: list[dict]) -> HealthCheck:
    """A crawl that schedules but fetches nothing is stuck — CRITICAL
    (the liveness analog of a wedged scraper loop)."""
    def check() -> CheckResult:
        if not snapshots:
            return CheckResult(UNKNOWN, "no rounds recorded")
        last = snapshots[-1]
        meta = {"round": last["round"], "scheduled": last["scheduled"],
                "fetched": last["fetched"], "pending": last["pending"]}
        if last["scheduled"] > 0 and last["fetched"] == 0:
            return CheckResult(UNHEALTHY, "round fetched nothing", meta)
        return CheckResult(HEALTHY, "crawl progressing", meta)

    return HealthCheck("frontier_progress", check, critical=True)


def extraction_quality_check(extraction_metrics: DataFrame | None,
                             degraded_at: float = 0.10) -> HealthCheck:
    """Per-field extraction error rates (RecordExtractionError family):
    any field above the threshold degrades health."""
    def check() -> CheckResult:
        if extraction_metrics is None:
            return CheckResult(UNKNOWN, "no extraction metrics")
        bad = (extraction_metrics
               .filter(F.col("error_rate") > degraded_at)
               .select("field", "error_rate").collect())
        if bad:
            worst = max(bad, key=lambda r: r["error_rate"])
            return CheckResult(
                DEGRADED,
                f"{len(bad)} field(s) over {degraded_at:.0%} extraction "
                f"errors (worst: {worst['field']} "
                f"{worst['error_rate']:.1%})",
                {"fields": {r["field"]: r["error_rate"] for r in bad}})
        return CheckResult(HEALTHY, "extraction error rates nominal")

    return HealthCheck("extraction_quality", check, critical=False)


def memory_check(max_usage_percent: float = 80.0,
                 reader: Callable[[], tuple[int, int]] | None = None
                 ) -> HealthCheck:
    """MemoryHealthCheck (health.go:473-506): usage over the threshold is
    DEGRADED, never unhealthy. `reader` returns (used, total) bytes —
    injectable for deterministic tests; defaults to driver RSS vs the
    cgroup/system limit where readable."""
    def default_reader() -> tuple[int, int]:
        import resource

        used = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
        try:
            with open("/proc/meminfo") as fh:
                total = next(
                    int(line.split()[1]) * 1024 for line in fh
                    if line.startswith("MemTotal:"))
        except (OSError, StopIteration):
            total = 0
        return used, total

    read = reader or default_reader

    def check() -> CheckResult:
        used, total = read()
        if total <= 0:
            return CheckResult(UNKNOWN, "memory limit unreadable")
        pct = used / total * 100
        meta = {"allocated_bytes": used, "system_bytes": total,
                "usage_percent": pct}
        if pct > max_usage_percent:
            return CheckResult(DEGRADED, f"High memory usage: {pct:.2f}%",
                               meta)
        return CheckResult(HEALTHY, f"Memory usage normal: {pct:.2f}%", meta)

    return HealthCheck("memory", check, critical=False)


# -- top-level report -----------------------------------------------------


def dashboard_summary(round_metrics: DataFrame | None,
                      request_metrics: DataFrame | None) -> dict:
    """GetDashboardSummary (dashboard.go:508-533) from the state tables:
    total requests / successful / failed pages as one driver-sized agg."""
    out = {"total_requests": 0, "successful_pages": 0, "failed_pages": 0,
           "rounds": 0}
    if round_metrics is not None:
        row = round_metrics.agg(
            F.coalesce(F.sum("scheduled"), F.lit(0)).alias("req"),
            F.coalesce(F.sum("fetched"), F.lit(0)).alias("ok"),
            F.coalesce(F.count("*"), F.lit(0)).alias("rounds")).collect()[0]
        out.update(total_requests=int(row["req"]),
                   successful_pages=int(row["ok"]),
                   failed_pages=int(row["req"] - row["ok"]),
                   rounds=int(row["rounds"]))
    if request_metrics is not None:
        by_status = {r["status"]: r["n"] for r in
                     request_metrics.groupBy("status")
                     .agg(F.sum("n").alias("n")).collect()}
        out["requests_by_status"] = by_status
    return out


def crawl_health_report(round_metrics: DataFrame | None,
                        request_metrics: DataFrame | None = None,
                        extraction_metrics: DataFrame | None = None,
                        alert_rules: list[AlertRule] | None = None,
                        extra_checks: list[HealthCheck] | None = None) -> dict:
    """One-call health + alert + summary report over a crawl's persisted
    metrics tables (the /health + /api/alerts + /api/data payloads,
    without the HTTP server). Replays every committed round through the
    alert rules so cooldowns behave as if evaluated live."""
    snapshots = ([] if round_metrics is None
                 else round_snapshots(round_metrics))
    manager = HealthManager()
    manager.register(crawl_error_rate_check(snapshots))
    manager.register(frontier_progress_check(snapshots))
    manager.register(extraction_quality_check(extraction_metrics))
    for check in extra_checks or []:
        manager.register(check)
    manager.run_checks()

    alerts = AlertManager(alert_rules)
    for snap in snapshots:
        alerts.evaluate_round(snap)

    health = manager.get_health()
    return {
        "health": {
            "status": health.status,
            "summary": health.summary,
            "checks": {
                name: {"status": c.status, "critical": c.critical,
                       "message": c.message, "metadata": c.metadata}
                for name, c in health.checks.items()},
        },
        "readiness": manager.get_readiness().status,
        "liveness": manager.get_liveness().status,
        "alerts": [vars(a) for a in alerts.get_active_alerts()],
        "summary": dashboard_summary(round_metrics, request_metrics),
    }


def engine_health_report(engine) -> dict:
    """Convenience wrapper over a CrawlEngine's committed state."""
    return crawl_health_report(
        engine.round_metrics(),
        engine.request_metrics(),
        engine.store.read(engine.spark, "extraction_metrics"),
    )


def schedule_fairness(scheduled: DataFrame, host_col: str = "host",
                      weight_col: str | None = None) -> DataFrame:
    """Integer-exact Gini coefficient of the per-host scheduled-URL
    distribution — the fairness KPI for a politeness scheduler: 0 =
    every host gets equal fetch share, ->1 = one host starves the rest.
    Complements the per-host budget caps (frontier/politeness.py):
    budgets bound the MAX per host, this measures the whole shape, so
    a drifting frontier (trap farm, one mega-sitemap) is visible as a
    single monitored number per round (the reference's dashboard
    aggregates per-domain request counts, dashboard.go:488-533; this is
    that table reduced to its inequality).

    gini_ppm = (1_000_000 * sum_i((2i - n - 1) * x_i)) div (n * sum(x))
    over per-host totals x sorted ascending, rank i = 1..n. Equal-value
    blocks contribute c * (2*m*s + m*(m-1) - m*(n+1)) for block start s
    and size m — rank-order within ties cancels, so the value is
    partitioning-independent and an independent SQL engine reproduces
    it bit-for-bit (no floats anywhere).

    Scale shape: corpus-width scan -> per-host groupBy (map-side
    combinable, host-width) -> groupBy(count-value) histogram
    (count-distinct-width, thousands of rows for 10^8 hosts) -> ONE
    running-sum window over that tiny histogram -> single-row answer.
    The naive rank-every-host window would be a host-width
    single-partition sort; the value-histogram trick is the same dodge
    surprisal_buckets / exact_group_quantiles use.

    Returns one row: (n_hosts, total, gini_ppm).
    """
    from pyspark.sql import Window

    x = F.col(weight_col) if weight_col else F.lit(1)
    per_host = (scheduled.select(F.col(host_col).alias("_h"),
                                 x.alias("_x"))
                .groupBy("_h").agg(F.sum("_x").alias("_c")))
    hist = per_host.groupBy("_c").agg(F.count(F.lit(1)).alias("_m"))
    w = (Window.orderBy("_c")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.withColumn("_cum_m", F.sum("_m").over(w))
    # block start s = cum_m - m + 1 (1-based ascending rank)
    contrib = (F.col("_c").cast("decimal(38,0)") *
               (F.lit(2) * F.col("_m") * (F.col("_cum_m") - F.col("_m")
                                          + F.lit(1))
                + F.col("_m") * (F.col("_m") - F.lit(1))))
    # decimal(38,0) intermediates: the numerator reaches ~1e6 * n * total,
    # which silently wraps a BIGINT (ANSI off) at the documented 10^8-host
    # scale with realistic fetch totals (round-5 advice fix). `div` on
    # decimals yields the identical integer for every in-range value, so
    # fixture results are bit-unchanged.
    contrib_dec = contrib.cast("decimal(38,0)")
    return (cum.agg(
        F.sum(F.col("_m")).cast("long").alias("n_hosts"),
        F.sum(F.col("_c") * F.col("_m")).cast("long").alias("total"),
        F.sum(contrib_dec).alias("_a"))
        .select("n_hosts", "total",
                F.expr("(1000000 * (_a - (cast(n_hosts as decimal(38,0))"
                       " + 1) * total))"
                       " div nullif(cast(n_hosts as decimal(38,0))"
                       " * total, 0)")
                .cast("long").alias("gini_ppm")))
