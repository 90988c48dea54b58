"""Sequential oracle simulator for the crawl engine.

Implements the reference's sequential-crawl semantics (engine.go:678-804
generalized round-wise per SURVEY §2.11/§7) in plain single-threaded
Python, sharing the exact same primitives as the Spark engine
(normalize_url, extract_links_py, robots parser, xxhash64 twin, budget
recurrence). The Spark engine's crawl_log and url_seen set must match this
simulator bit-for-bit — that is the "matching crawl order and URL-seen
set" gate from BASELINE.json.
"""

from __future__ import annotations


from dataclasses import dataclass, field

from datascrapexter_spark.frontier.links import extract_links_py
from datascrapexter_spark.frontier.pagination import (
    cursor_next_url,
    next_button_next_url,
)
from datascrapexter_spark.frontier.politeness import PolitenessConfig
from datascrapexter_spark.frontier.robots import RobotsIndex
from datascrapexter_spark.frontier.scheduler import CrawlConfig
from datascrapexter_spark.functions.hashing import spark_xxhash64_str
from datascrapexter_spark.functions.urlnorm import (
    extract_domain,
    normalize_url,
    registered_domain,
)
from urllib.parse import urlsplit


@dataclass
class SimURL:
    url_canon: str
    url_hash: int
    host: str
    domain: str
    priority: int
    attempts: int = 0
    round_added: int = 0
    state: str = "pending"


@dataclass
class CrawlSimulator:
    pages: dict[str, bytes]          # url_canon -> html (first warc_ts wins)
    robots: RobotsIndex
    cfg: CrawlConfig
    allowed_hosts: set[str] | None = None
    frontier: dict[str, SimURL] = field(default_factory=dict)
    seen: set[int] = field(default_factory=set)
    domain_state: dict[str, tuple[float, int]] = field(default_factory=dict)
    crawl_log: list[tuple] = field(default_factory=list)
    # (host, chain_id) -> last cursor; chain_id = the chain's seed
    # url_hash, inherited by each next page (per-strategy-instance
    # lastCursor, pagination_strategies.go:144-149)
    pag_state: dict[tuple, str] = field(default_factory=dict)
    chain_of: dict[str, int] = field(default_factory=dict)  # url -> chain
    breaker: dict[str, int] = field(default_factory=dict)    # domain -> fails
    quarantined_until: dict[str, int] = field(default_factory=dict)
    rate_mult: dict[str, float] = field(default_factory=dict)  # strategy mult

    @classmethod
    def from_raw(cls, pages_rows, robots_texts, cfg: CrawlConfig):
        """pages_rows: (url, warc_ts, html, ...) — canonical dedup keeps the
        earliest (warc_ts, url) like CrawlEngine._prepare_pages."""
        best: dict[str, tuple] = {}
        for row in pages_rows:
            url, ts, html = row[0], row[1], row[2]
            canon = normalize_url(url)
            key = (ts, url)
            if canon not in best or key < best[canon][0]:
                best[canon] = (key, html)
        pages = {c: v[1] for c, v in best.items()}
        return cls(pages=pages, robots=RobotsIndex.from_texts(robots_texts),
                   cfg=cfg)

    # ------------------------------------------------------------------

    def _mk(self, url_canon: str, priority: int, round_added: int) -> SimURL:
        host = extract_domain(url_canon)
        return SimURL(
            url_canon=url_canon,
            url_hash=spark_xxhash64_str(url_canon),
            host=host,
            domain=registered_domain(host),
            priority=priority,
            round_added=round_added,
        )

    def init(self, seeds: list[tuple[str, int]]) -> None:
        if self.cfg.seed_sitemaps:
            seeds = list(seeds) + [
                (u, self.cfg.default_priority)
                for u in self.robots.all_sitemaps()
            ]
        best: dict[str, int] = {}
        for url, priority in seeds:
            canon = normalize_url(url)
            best[canon] = max(best.get(canon, -(1 << 31)), priority)
        for canon, priority in best.items():
            u = self._mk(canon, priority, 0)
            self.frontier[canon] = u
            self.seen.add(u.url_hash)
        if self.cfg.restrict_to_seed_hosts:
            self.allowed_hosts = {u.host for u in self.frontier.values()}

    # -- budget recurrence, identical to politeness.tokens_per_round ------

    def _tokens(self, domain: str) -> int:
        from datascrapexter_spark.frontier.politeness import (
            strategy_tokens_from_state_py,
            tokens_per_round_py,
        )

        err_rate, consec = self.domain_state.get(domain, (0.0, 0))
        pol = self.cfg.politeness
        if pol.use_strategy_budgets:
            return strategy_tokens_from_state_py(
                self._domain_delay(domain),
                err_rate if domain in self.domain_state else None,
                self.rate_mult.get(domain), pol)
        return tokens_per_round_py(self._domain_delay(domain), err_rate,
                                   consec, pol)

    def _domain_delay(self, domain: str) -> float:
        delay = 0.0
        for host, rules in self.robots.by_host.items():
            if registered_domain(host) == domain:
                delay = max(delay, rules.get_crawl_delay(self.cfg.user_agent))
        return delay

    # ------------------------------------------------------------------

    def run_round(self, round_no: int) -> dict:
        cfg = self.cfg
        pending = [u for u in self.frontier.values() if u.state == "pending"]

        # robots gate (parse_url PATH parity: path of canonical URL)
        from datascrapexter_spark.frontier.compliance import (
            requires_gdpr_compliance,
        )

        eligible: list[SimURL] = []
        for u in pending:
            path = urlsplit(u.url_canon).path
            if not self.robots.allowed(cfg.user_agent, u.host, path):
                u.state = "blocked"
            elif cfg.gdpr_mode == "block" and \
                    requires_gdpr_compliance(u.domain):
                u.state = "blocked_gdpr"
            else:
                eligible.append(u)

        # circuit breaker gate: open domains are skipped entirely
        # (pending URLs stay pending; half-open probes with budget 1)
        max_fail = self.cfg.quarantine_max_failures
        if max_fail > 0:
            eligible = [u for u in eligible
                        if self.quarantined_until.get(u.domain, -1) < round_no]

        # per-domain top-k, ordered (priority desc, round_added, url_hash)
        by_domain: dict[str, list[SimURL]] = {}
        for u in eligible:
            by_domain.setdefault(u.domain, []).append(u)

        scheduled: list[tuple[SimURL, int]] = []
        for domain in by_domain:
            tokens = self._tokens(domain)
            if max_fail > 0 and \
                    self.quarantined_until.get(domain) == round_no - 1:
                tokens = 1  # half-open probe
            urls = sorted(by_domain[domain],
                          key=lambda u: (-u.priority, u.round_added, u.url_hash))
            for seq, u in enumerate(urls[:tokens], start=1):
                scheduled.append((u, seq))

        # fetch + links
        new_candidates: list[str] = []
        cand_set: set[str] = set()
        round_cursors: dict[str, str] = {}
        per_domain_att: dict[str, int] = {}
        per_domain_err: dict[str, int] = {}
        n_fetched = 0
        for u, seq in scheduled:
            per_domain_att[u.domain] = per_domain_att.get(u.domain, 0) + 1
            html = self.pages.get(u.url_canon)
            if html is None:
                per_domain_err[u.domain] = per_domain_err.get(u.domain, 0) + 1
                u.attempts += 1
                u.state = "failed" if u.attempts >= cfg.max_attempts else "pending"
                status = "miss"
            else:
                u.state = "done"
                n_fetched += 1
                status = "fetched"
                for link in self._page_links(u, html, round_no,
                                             round_cursors):
                    if link not in cand_set:
                        cand_set.add(link)
                        new_candidates.append(link)
            self.crawl_log.append(
                (round_no, u.domain, seq, u.url_canon, u.url_hash,
                 u.priority, status))

        # dedup + enqueue
        n_new = 0
        for canon in new_candidates:
            host = extract_domain(canon)
            if self.allowed_hosts is not None and host not in self.allowed_hosts:
                continue
            if cfg.blocked_domains and \
                    registered_domain(host) in set(cfg.blocked_domains):
                continue
            if cfg.trap_filter:
                from datascrapexter_spark.frontier.traps import trap_score_py

                if trap_score_py(canon, cfg.trap_max_depth,
                                 cfg.trap_max_params) >= cfg.trap_threshold:
                    continue
            h = spark_xxhash64_str(canon)
            if h in self.seen:
                continue
            self.seen.add(h)
            u = self._mk(canon, cfg.default_priority, round_no)
            self.frontier[canon] = u
            n_new += 1

        # pagination cursor state: per-(host, chain) max cursor this round
        # (matches CrawlEngine._pagination_links' groupBy-max rule)
        self.pag_state.update(round_cursors)

        # domain adaptation + breaker state
        for domain, att in per_domain_att.items():
            errs = per_domain_err.get(domain, 0)
            err_rate = errs / att
            _, prev_consec = self.domain_state.get(domain, (0.0, 0))
            consec = prev_consec + 1 \
                if err_rate > cfg.politeness.error_rate_threshold else 0
            self.domain_state[domain] = (err_rate, consec)
            from datascrapexter_spark.frontier.politeness import (
                interval_multiplier_py,
            )

            self.rate_mult[domain] = interval_multiplier_py(
                err_rate, consec, self.rate_mult.get(domain),
                cfg.politeness)
            # any success resets the failure count (recordSuccess)
            if errs < att:
                self.breaker[domain] = 0
            else:
                self.breaker[domain] = self.breaker.get(domain, 0) + errs
            if max_fail > 0 and self.breaker[domain] >= max_fail:
                self.quarantined_until[domain] = (
                    round_no + cfg.quarantine_reset_rounds)

        pending_left = sum(1 for u in self.frontier.values()
                           if u.state == "pending")
        return {"round": round_no, "scheduled": len(scheduled),
                "fetched": n_fetched, "new_urls": n_new,
                "pending": pending_left}

    def _page_links(self, u: SimURL, html, round_no: int,
                    round_cursors: dict[str, str]) -> list[str]:
        """Mirror of the engine's per-page link step: DOM-dependent
        pagination next-URL when a spec is set, else full link extraction."""
        spec = self.cfg.pagination_spec
        if spec is not None and spec.type in ("cursor", "next_button"):
            if spec.type == "cursor":
                chain = self.chain_of.get(u.url_canon, u.url_hash)
                nxt, cur = cursor_next_url(spec, u.url_canon, html, round_no)
                if cur != "":
                    key = (u.host, chain)
                    round_cursors[key] = max(round_cursors.get(key, ""), cur)
                if cur == self.pag_state.get((u.host, chain), ""):
                    nxt = None  # repeated cursor vs THIS chain's previous
                if nxt is not None:
                    self.chain_of[normalize_url(nxt)] = chain
            else:
                nxt = next_button_next_url(spec, u.url_canon, html, round_no)
            return [normalize_url(nxt)] if nxt is not None else []
        return extract_links_py(html, u.url_canon, self.cfg.link_selector)

    def run(self, seeds, max_rounds: int | None = None) -> list[dict]:
        self.init(seeds)
        stats = []
        for r in range(1, (max_rounds or self.cfg.max_rounds) + 1):
            s = self.run_round(r)
            stats.append(s)
            if s["pending"] == 0:
                break
        return stats

    def sorted_log(self) -> list[tuple]:
        return sorted(self.crawl_log, key=lambda t: (t[0], t[1], t[2]))
