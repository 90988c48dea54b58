"""Top-level job runner: the `datascrapexter run config.yaml` lifecycle
(SURVEY §3.1) as one composition of this engine's pieces.

Reference flow (cmd/datascrapexter/main.go:28-158 → scraper.Engine.Scrape):
load config → validate → build engine → fetch+extract per URL → output.
Here: config compiles to (seed frontier + politeness config + extraction
plan); the fetch is the pages-table join inside CrawlEngine rounds; the
extraction is one mapInArrow pass over everything fetched; output goes
through the sink dispatch. DOM-free pagination (offset/pages/url_pattern)
expands into the seed list up front; next_button pagination follows its
selector as the crawl's link selector (the round loop generalizes the
reference's sequential page loop per host).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract.config import ScraperConfig, load_config
from .extract.engine import extract_fields_df, extraction_metrics
from .frontier.pagination import PaginationSpec, page_urls
from .frontier.politeness import PolitenessConfig
from .frontier.scheduler import CrawlConfig, CrawlEngine
from .frontier.state import StateStore
from .sources.sinks import write_output


def _seed_urls(cfg: ScraperConfig) -> list[str]:
    seeds = list(cfg.urls) or ([cfg.base_url] if cfg.base_url else [])
    pag = cfg.pagination
    if pag and pag.type in ("offset", "pages", "numbered", "url_pattern"):
        spec = PaginationSpec(
            type="pages" if pag.type == "numbered" else pag.type,
            offset_param=pag.offset_param, limit_param=pag.limit_param,
            page_param=pag.page_param, limit=pag.limit,
            start_offset=pag.start_offset, start_page=pag.start_page,
            max_pages=pag.max_pages, max_offset=pag.max_offset,
            url_template=pag.url_pattern,
        )
        expanded: list[str] = []
        for s in seeds or [None]:
            expanded.extend(page_urls(spec, s))
        seeds = expanded or seeds
    return seeds


def run_scrape_job(
    spark: SparkSession,
    config: str | dict | ScraperConfig,
    pages: DataFrame,
    output_path: str | None = None,
    robots_texts: dict[str, str] | None = None,
    state_root: str | None = None,
    max_rounds: int | None = None,
    recovery=None,
) -> tuple[DataFrame, list[dict]]:
    """Run a full scrape job from a config against a pages table.

    Returns (results DataFrame, per-round crawl stats). Results carry one
    typed column per configured field plus _errors/_success; if
    `output_path` is set the configured sink is written as well.
    """
    cfg = config if isinstance(config, ScraperConfig) else load_config(config)
    cfg.validate()

    # pagination dispatch (CreatePaginationStrategy parity, pagination_
    # strategies.go:379-424): DOM-free types expand into the seed list in
    # _seed_urls; DOM-dependent types drive the round loop's next-URL step;
    # anything else is an ERROR, never a silent fallback to plain links.
    link_selector = "a[href]"
    pag_spec = None
    pag = cfg.pagination
    if pag and pag.type:
        if pag.type in ("offset", "pages", "numbered", "url_pattern"):
            pass  # handled by _seed_urls
        elif pag.type == "next_button":
            pag_spec = PaginationSpec(
                type="next_button", selector=pag.selector,
                max_pages=pag.max_pages)
        elif pag.type == "cursor":
            pag_spec = PaginationSpec(
                type="cursor", cursor_selector=pag.cursor_selector,
                cursor_attr=pag.cursor_attr, page_param=pag.cursor_param,
                limit=pag.limit, max_pages=pag.max_pages)
        else:
            raise ValueError(f"unknown pagination type: {pag.type!r}")
        if pag_spec is not None:
            pag_spec.validate()

    crawl_cfg = CrawlConfig(
        politeness=PolitenessConfig(
            requests_per_second=cfg.requests_per_second,
            burst=cfg.burst,
            max_crawl_delay_s=cfg.max_crawl_delay_s,
            max_pages_per_round_per_domain=cfg.max_pages_per_host,
        ),
        max_rounds=max_rounds or (cfg.pagination.max_pages if cfg.pagination
                                  else 10),
        user_agent=cfg.user_agent,
        link_selector=link_selector,
        pagination_spec=pag_spec,
    )
    store = StateStore(state_root or tempfile.mkdtemp(prefix="dsx_job_"))
    engine = CrawlEngine(spark, store, pages, robots_texts or {}, crawl_cfg)

    seeds = spark.createDataFrame([(u,) for u in _seed_urls(cfg)],
                                  "url string")
    # the whole crawl runs under the error-recovery service, exactly as the
    # reference wraps runScraper in errorService.ExecuteWithRetry
    # (cmd/datascrapexter/main.go:28-44); pass a configured
    # ErrorRecoveryService to add fallbacks/breakers per operation
    if recovery is None:
        from .errors import ErrorRecoveryService

        recovery = ErrorRecoveryService()
    stats = recovery.execute_with_retry(
        lambda: engine.run(seeds, max_rounds=crawl_cfg.max_rounds),
        "scrape")

    # everything fetched across rounds, joined back to its page body
    fetched = (
        engine.crawl_log().filter(F.col("status") == "fetched")
        .select("url_canon", "round", "domain", "seq")
        .join(engine.pages, "url_canon")
    )
    results = extract_fields_df(
        fetched, cfg.fields, continue_on_error=cfg.continue_on_error
    )
    # the metrics write, the output write, and the returned DataFrame all
    # consume `results` — persist so the mapInArrow HTML-extraction stage
    # (the job's most expensive) materializes exactly once
    results = results.persist()
    # per-field success/error counters persisted next to the crawl log
    # (RecordExtractionSuccess/Error parity — SURVEY §2.4)
    store.commit("extraction_metrics",
                 extraction_metrics(results, cfg.fields))
    if output_path is not None:
        write_output(results, cfg.output_format, output_path)
    return results, stats
