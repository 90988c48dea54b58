"""robots.txt parsing + allow/deny with reference-exact semantics.

Reference: /root/reference/internal/compliance/compliance_test.go
  Parse        :164-214  (directive grammar; current-UA state machine;
                          empty Disallow value skipped, empty Allow kept)
  IsDisallowed :226-238  (UA-specific rules replace '*' entirely when
                          present; first matching PREFIX rule wins;
                          no match -> allowed)
  GetCrawlDelay:240-248  (per-UA, fallback '*'; "Crawl-delay: N" seconds)
  GetSitemaps  :250-252

The parser is pure Python; the engine materializes parsed rules as a
DataFrame `(host, user_agent, rule_order, pattern, allow)`, folds it to
one ORDERED rules-array row per host (`rules_array_df`), and BROADCAST-
joins that against the frontier (robots tables are tiny relative to a
10^10 frontier — and they never transit the driver as a pickled closure).
The allow/deny decision is pure codegen (`allowed_rules_col`: filter the
sorted rules array by prefix match, take element 1) — no Python crossing
at all. `RobotsIndex.allowed*` remains as the exact-semantics Python twin
used by the sequential oracle simulator and parity tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urlnorm import registered_domain


@dataclass
class RobotsRules:
    # user_agent -> ordered list of (pattern, allow)
    rules: dict[str, list[tuple[str, bool]]] = field(default_factory=dict)
    crawl_delays: dict[str, float] = field(default_factory=dict)
    sitemaps: list[str] = field(default_factory=list)

    def is_disallowed(self, user_agent: str, path: str) -> bool:
        rules = self.rules.get(user_agent)
        if not rules:
            rules = self.rules.get("*", [])
        for pattern, allow in rules:
            if path.startswith(pattern):
                return not allow
        return False

    def get_crawl_delay(self, user_agent: str) -> float:
        if user_agent in self.crawl_delays:
            return self.crawl_delays[user_agent]
        return self.crawl_delays.get("*", 0.0)


def parse_robots_txt(text: str) -> RobotsRules:
    """Exact port of the reference parser (compliance_test.go:164-214)."""
    out = RobotsRules()
    current_ua = "*"
    for line in text.split("\n"):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        if ":" not in line:
            continue
        directive, _, value = line.partition(":")
        directive = directive.strip().lower()
        value = value.strip()
        if directive == "user-agent":
            current_ua = value
        elif directive == "disallow":
            if value != "":
                out.rules.setdefault(current_ua, []).append((value, False))
        elif directive == "allow":
            out.rules.setdefault(current_ua, []).append((value, True))
        elif directive == "crawl-delay":
            try:
                out.crawl_delays[current_ua] = float(value)
            except ValueError:
                pass
        elif directive == "sitemap":
            out.sitemaps.append(value)
    return out


def rules_rows(host: str, robots: RobotsRules) -> list[tuple]:
    """Flatten to (host, user_agent, rule_order, pattern, allow) rows."""
    rows = []
    for ua, lst in robots.rules.items():
        for order, (pattern, allow) in enumerate(lst):
            rows.append((host, ua, order, pattern, allow))
    return rows


class RobotsIndex:
    """host -> RobotsRules, parsed once per crawl on the driver: the engine
    gates on its rules table (rules_df), the oracle on `allowed`."""

    def __init__(self, by_host: dict[str, RobotsRules]):
        self.by_host = by_host

    @classmethod
    def from_texts(cls, host_texts: dict[str, str]) -> "RobotsIndex":
        return cls({h: parse_robots_txt(t) for h, t in host_texts.items()})

    def allowed(self, user_agent: str, host: str, path: str) -> bool:
        robots = self.by_host.get(host)
        if robots is None:
            return True  # no robots.txt -> allowed
        return not robots.is_disallowed(user_agent, path)

    def all_sitemaps(self) -> list[str]:
        """Every Sitemap URL across hosts (GetSitemaps,
        compliance_test.go:250-252), deterministic order."""
        out: list[str] = []
        for host in sorted(self.by_host):
            out.extend(self.by_host[host].sitemaps)
        return out

    def rules_df(self, spark: SparkSession) -> DataFrame:
        """Flatten to the SURVEY §2.8 rules table
        (host, user_agent, rule_order, pattern, allow)."""
        rows: list[tuple] = []
        for host in sorted(self.by_host):
            rows.extend(rules_rows(host, self.by_host[host]))
        schema = ("host string, user_agent string, rule_order int, "
                  "pattern string, allow boolean")
        return spark.createDataFrame(rows, schema) if rows else \
            spark.createDataFrame([], schema)


# ---------------------------------------------------------------------------
# DataFrame-native robots gate (the 10^8-host scale path): rules live in a
# broadcast-joined table, the allow/deny decision is pure codegen — no
# driver-side dict is ever pickled into a UDF closure.
# ---------------------------------------------------------------------------


def rules_array_df(rules: DataFrame, user_agent: str) -> DataFrame:
    """(host, rules array<struct<rule_order,pattern,allow>>) with the UA
    override resolved: UA-specific rules REPLACE '*' entirely when present
    for a host (IsDisallowed semantics, compliance_test.go:226-238), and
    the array is sorted by rule_order so element 1 of the prefix-filtered
    array is the first-matching rule."""
    spec = (rules.filter(F.col("user_agent") == user_agent)
            .select("host").distinct().withColumn("_spec", F.lit(True)))
    rel = (
        rules.filter(F.col("user_agent").isin([user_agent, "*"]))
        .join(spec, "host", "left")
        .filter((F.col("user_agent") == user_agent) | F.col("_spec").isNull())
    )
    return rel.groupBy("host").agg(
        F.sort_array(
            F.collect_list(F.struct("rule_order", "pattern", "allow"))
        ).alias("rules")
    )


def allowed_rules_col(path_col: Column, rules_col: Column) -> Column:
    """First matching PREFIX rule wins; no rules / no match -> allowed.
    Pure expressions (filter + try_element_at), whole-stage codegen."""
    matched = F.filter(rules_col,
                       lambda r: path_col.startswith(r["pattern"]))
    first = F.try_element_at(matched, F.lit(1))
    return F.coalesce(first["allow"], F.lit(True))


def robots_gate(df: DataFrame, rules: DataFrame) -> DataFrame:
    """`df` (url_canon, host, ...) with a boolean `allowed` column: the
    URL path against its host's rules array (rules_array_df), broadcast-
    joined on host and decided by allowed_rules_col — no Python crossing,
    no rule dict pickled into a closure."""
    path = F.coalesce(F.parse_url("url_canon", F.lit("PATH")), F.lit(""))
    return (df.withColumn("path", path)
            .join(F.broadcast(rules), "host", "left")
            .withColumn("allowed",
                        allowed_rules_col(F.col("path"), F.col("rules")))
            .drop("path", "rules"))


def domain_delays_df(spark: SparkSession, robots: RobotsIndex,
                     user_agent: str) -> DataFrame:
    """(domain, crawl_delay_s): the largest crawl delay any host of a
    registered domain sets for `user_agent`; domains without one have no
    row. Built once per crawl on the driver (one row per domain)."""
    delays: dict[str, float] = {}
    for host, rules in robots.by_host.items():
        d = rules.get_crawl_delay(user_agent)
        if d > 0:
            dom = registered_domain(host)
            delays[dom] = max(delays.get(dom, 0.0), d)
    return spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(delays.items())],
        "domain string, crawl_delay_s double")
