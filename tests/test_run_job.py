"""End-to-end config-driven job: YAML config -> crawl -> extract -> sink
(the `datascrapexter run config.yaml` lifecycle, SURVEY §3.1)."""

from __future__ import annotations

import json
import os

from datascrapexter_spark.run import run_scrape_job
from tests.webgen import make_web

CONFIG_YAML = """
name: webgen-job
urls:
  - https://site0.example.com/page/0
  - https://site1.example.com/page/0
fields:
  - name: title
    selector: h1
    type: text
  - name: price
    selector: .price
    type: number
  - name: status_raw
    selector: .status
    type: text
  - name: items
    selector: ul.items li
    type: list
  - name: upper_title
    selector: h1
    type: text
    transform:
      - type: trim
      - type: uppercase
output:
  format: json
rate_limit:
  requests_per_second: 5
  burst: 10
"""


def test_run_scrape_job_end_to_end(spark, tmp_path):
    pages_rows, _seeds, robots = make_web(n_hosts=3, pages_per_host=5)
    pages = spark.createDataFrame(
        pages_rows, "url string, warc_ts timestamp, html binary, "
                    "text string, lang string")

    out_dir = str(tmp_path / "out")
    results, stats = run_scrape_job(
        spark, CONFIG_YAML, pages, output_path=out_dir,
        robots_texts=robots, state_root=str(tmp_path / "state"),
        max_rounds=4,
    )
    rows = {r["url_canon"]: r for r in results.collect()}
    assert len(rows) > 0
    assert stats and stats[0]["scheduled"] > 0

    some = next(iter(rows.values()))
    assert some["_success"] in (True, False)
    # fields extracted with configured types
    page0 = rows.get("https://site0.example.com/page/0")
    assert page0 is not None
    assert page0["title"].startswith("Page 0 of site0")
    assert isinstance(page0["price"], float)
    assert page0["items"] == ["Item 1", "Item 2", "Item 3"]
    assert page0["upper_title"] == page0["title"].upper()

    # sink written as JSONL
    written = []
    for f in os.listdir(out_dir):
        if f.startswith("part-"):
            with open(os.path.join(out_dir, f)) as fh:
                written += [json.loads(line) for line in fh if line.strip()]
    assert len(written) == len(rows)

    # robots: /private/ pages never fetched
    assert not any("/private/" in u for u in rows)

    # metrics parity tables persisted by the job (monitoring/metrics.go
    # RecordRequest + RecordExtractionSuccess/Error families):
    # request_metrics totals equal the number of scheduled fetches...
    from datascrapexter_spark.frontier.scheduler import (
        CrawlConfig,
        request_metrics_from_log,
    )
    from datascrapexter_spark.frontier.state import StateStore

    store = StateStore(str(tmp_path / "state"))
    req = request_metrics_from_log(store.read(spark, "crawl_log"),
                                   CrawlConfig()).collect()
    assert sum(r["n"] for r in req) == sum(s["scheduled"] for s in stats)
    assert sum(r["n"] for r in req if r["status"] == "fetched") == len(rows)
    # ...and extraction_metrics counts errors per field over the results
    em = {r["field"]: r
          for r in store.read(spark, "extraction_metrics").collect()}
    assert set(em) == {"title", "price", "status_raw", "items",
                      "upper_title"}
    n_res = len(rows)
    for field, row in em.items():
        n_err = sum(
            1 for r in rows.values()
            if any(e["field"] == field
                   and e["severity"] in ("ERROR", "CRITICAL")
                   for e in (r["_errors"] or []))
        )
        assert (row["n_rows"], row["n_error"], row["n_success"]) == \
            (n_res, n_err, n_res - n_err), field


def test_run_job_with_offset_pagination_seeds(spark, tmp_path):
    # pages table with offset-paginated URLs
    htmls = [
        (f"https://shop.example.com/list?limit=2&offset={o}",
         f"<html><body><h1>Offset {o}</h1></body></html>".encode())
        for o in (0, 2, 4, 6)
    ]
    pages = spark.createDataFrame(htmls, "url string, html binary")
    config = {
        "name": "offset-job",
        "urls": ["https://shop.example.com/list?limit=2&offset=0"],
        "fields": [{"name": "title", "selector": "h1", "type": "text"}],
        "pagination": {"type": "offset", "limit": 2, "max_offset": 6,
                       "max_pages": 5},
    }
    results, _stats = run_scrape_job(
        spark, config, pages, state_root=str(tmp_path / "state"),
        max_rounds=2,
    )
    titles = sorted(r["title"] for r in results.collect())
    # offsets 0 (seed), 2, 4 expanded up-front; 6 excluded (>= max_offset)
    assert titles == ["Offset 0", "Offset 2", "Offset 4"]


def test_run_job_with_cursor_pagination(spark, tmp_path):
    """Cursor configs drive the round loop end-to-end (the reference's
    CursorStrategy, pagination_strategies.go:95-205): each round follows the
    page's extracted cursor; repeated cursor ends the chain."""
    def page(qs, cursor, label):
        url = "https://api.example.com/feed" + (f"?{qs}" if qs else "")
        cur = f'<span class="nc">{cursor}</span>' if cursor else ""
        html = f"<html><body><h1>{label}</h1>{cur}</body></html>"
        return (url, html.encode())

    pages = spark.createDataFrame(
        [page("", "c1", "P0"),
         page("cursor=c1&limit=10", "c2", "P1"),
         page("cursor=c2&limit=10", "c2", "P2")],   # repeat -> stop
        "url string, html binary")
    config = {
        "name": "cursor-job",
        "urls": ["https://api.example.com/feed"],
        "fields": [{"name": "title", "selector": "h1", "type": "text"}],
        "pagination": {"type": "cursor", "cursor_selector": ".nc",
                       "limit": 10, "max_pages": 6},
    }
    results, stats = run_scrape_job(
        spark, config, pages, state_root=str(tmp_path / "state"))
    titles = sorted(r["title"] for r in results.collect())
    assert titles == ["P0", "P1", "P2"]
    # one page per round along the chain
    assert [s["fetched"] for s in stats[:3]] == [1, 1, 1]


def test_run_job_unknown_pagination_type_raises(spark, tmp_path):
    import pytest

    pages = spark.createDataFrame(
        [("https://x.example.com/a", b"<html></html>")],
        "url string, html binary")
    config = {
        "name": "bad-pagination",
        "urls": ["https://x.example.com/a"],
        "fields": [{"name": "t", "selector": "h1", "type": "text"}],
        "pagination": {"type": "scroll"},
    }
    with pytest.raises(ValueError, match="unknown pagination type"):
        run_scrape_job(spark, config, pages,
                       state_root=str(tmp_path / "state"))


def test_cli_validate_template_version(tmp_path, capsys):
    """The non-run CLI subcommands (main.go:303-347): template output
    round-trips through validate; bad configs exit 1 with the
    user-friendly error surface; version prints."""
    from datascrapexter_spark.__main__ import main

    assert main(["version"]) == 0
    out = capsys.readouterr().out
    assert "datascrapexter_spark" in out

    assert main(["template", "--type", "news"]) == 0
    tpl = capsys.readouterr().out
    cfg_path = tmp_path / "t.yaml"
    cfg_path.write_text(tpl)
    assert main(["validate", str(cfg_path), "-v"]) == 0
    out = capsys.readouterr().out
    assert "is valid" in out and "news_scraper" in out

    bad = tmp_path / "bad.yaml"
    bad.write_text("name: x\nfields: []\n")
    assert main(["validate", str(bad)]) == 1


def test_scraper_client_public_api(spark, tmp_path):
    from datascrapexter_spark.client import ScraperClient, load_config

    pages_rows, _seeds, robots = make_web(n_hosts=2, pages_per_host=3)
    pages = spark.createDataFrame(
        pages_rows, "url string, warc_ts timestamp, html binary, "
                    "text string, lang string")

    client = ScraperClient(CONFIG_YAML)
    client.enable_metrics(True)
    recs = client.scrape(spark, pages, robots_texts=robots,
                         state_root=str(tmp_path / "s1"), max_rounds=2)
    assert recs and isinstance(recs[0], dict) and "title" in recs[0]
    assert client.last_stats and client.last_stats[0]["scheduled"] > 0

    # parallel variant is the same distributed job -> same record set
    recs_p = client.scrape_parallel(
        spark, pages, robots_texts=robots,
        state_root=str(tmp_path / "s2"), max_rounds=2)
    key = lambda rs: sorted(r["url_canon"] for r in rs)
    assert key(recs) == key(recs_p)

    # metrics gate off -> stats not retained (EnableMetrics parity)
    client.enable_metrics(False)
    client.scrape(spark, pages, robots_texts=robots,
                  state_root=str(tmp_path / "s3"), max_rounds=1)
    assert client.last_stats is None

    # urls win over base_url; neither -> the Go client's error
    cfg = load_config(CONFIG_YAML)
    assert ScraperClient(cfg)._urls_to_scrape() == cfg.urls
    cfg2 = load_config(CONFIG_YAML)
    cfg2.urls, cfg2.base_url = [], "https://site0.example.com/page/0"
    assert ScraperClient(cfg2)._urls_to_scrape() == [cfg2.base_url]
    cfg3 = load_config(CONFIG_YAML)
    cfg3.urls, cfg3.base_url = [], ""
    import pytest as _pt
    with _pt.raises(ValueError, match="no URLs"):
        ScraperClient(cfg3).scrape(spark, pages)
