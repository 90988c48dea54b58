"""End-to-end crawl-round composition bench (round-5 verdict item #7).

frontier_state_bench isolates the scheduling pipeline's state-size
dependence; THIS bench watches the composed engine: full run_round()s
with every opt-in data-plane feature enabled at once —

  - pagination: the seed-expansion family (url_pattern pages join the
    seed list; the DOM strategies cursor/next_button REPLACE link
    extraction by design, so they cannot compose with the gates below
    in one loop — they have their own fixtures),
  - spider-trap gate (every page links one trap URL),
  - registered-domain blocklist (every page links one blocked mirror),
  - reputation-proportional budgets (a slice of pages 404 every round),
  - seeded UA rotation (an agent per request, keyed on the crawl log),
  - circuit breaker + robots gates (dead host + disallow rules + delays),

over a chain web with CONSTANT per-round work (each round fetches ~the
same page count and discovers ~the same link mix). Two arms run R and 4R
rounds; if any feature leaks cost across rounds (growing joined state,
un-pruned metrics, re-derived gate tables), the 4R arm's LATE rounds get
slower than its EARLY rounds and the two arms' per-round medians diverge.

Flat = late/early per-round median ratio ~1 in the 4R arm and
arm-median ratio ~1 (box noise is ±10-20%; the regression this guards
against is the systematic upward drift, not a constant offset).

Prints ONE JSON line:
  {"arms": {R: {...}, 4R: {...}}, "late_vs_early_4x": r, "arm_ratio": r}

Usage: python tools/crawl_round_bench.py [rounds] [--cpus N]
       default rounds=10 (arms 10 vs 40).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from datetime import datetime, timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datascrapexter_spark.frontier.scheduler import (  # noqa: E402
    CrawlConfig,
    CrawlEngine,
)
from datascrapexter_spark.frontier.state import StateStore  # noqa: E402
from datascrapexter_spark.session import get_spark  # noqa: E402

N_HOSTS = 12
CHAIN = 170          # supports 4x40 rounds with headroom
LIST_PAGES = 4       # url_pattern seed expansion depth
BLOCKED = "junk-mirror.example"


def make_web():
    """Chain web where every page's link mix exercises every gate:
    next-chain link + one trap URL + one blocked-domain URL + one dead
    (404) link on its own host; every 3rd host 404s a slice of its chain
    so reputation/breaker state does real per-round work."""
    base_ts = datetime(2024, 3, 1)
    pages, seeds = [], []
    robots: dict[str, str] = {}
    for hi in range(N_HOSTS):
        host = f"www.bench{hi}.com"   # distinct registered domains —
        # budgets are per registered domain, not per host
        robots[host] = ("User-agent: *\nDisallow: /private/\n"
                        + ("Crawl-delay: 1\n" if hi % 3 == 1 else ""))
        for pi in range(CHAIN):
            url = f"https://{host}/page/{pi}"
            links = []
            # branching factor 2 keeps the frontier ahead of the 4-page
            # budget, so every round fetches exactly budget-many pages —
            # constant per-round work by construction
            for nxt in (pi + 1, pi + 2):
                if nxt < CHAIN:
                    links.append(f"/page/{nxt}")
            links.append(  # trap: deep repeated segments + param spray
                f"https://{host}/cal/" + "d/" * 16
                + f"x?s=1&t=2&u=3&v=4&w=5&y=6&z=7&q=8&r={pi}")
            links.append(f"https://{BLOCKED}/mirror/{hi}/{pi}")
            links.append(f"https://{host}/dead/{pi}")     # linked, no page
            links.append(f"https://{host}/private/{pi}")  # robots-blocked
            body = "".join(f'<a href="{u}">l</a>' for u in links)
            missing = (hi % 3 == 2) and (pi % 4 == 1)     # 404 slice
            if not missing:
                pages.append((url, base_ts + timedelta(seconds=pi),
                              f"<html><body>{body}</body></html>".encode(),
                              f"text {hi} {pi}", "en"))
        seeds.append((f"https://{host}/page/0", 5))
        # seed-expansion pagination: list?page=1..N, each present
        for n in range(1, LIST_PAGES + 1):
            u = f"https://{host}/list?page={n}"
            pages.append((u, base_ts, b"<html><body>list</body></html>",
                          "list", "en"))
            seeds.append((u, 5))
    return pages, seeds, robots


def run_arm(spark, rounds: int) -> dict:
    pages_rows, seeds_rows, robots = make_web()
    pages = spark.createDataFrame(
        pages_rows, "url string, warc_ts timestamp, html binary, "
                    "text string, lang string")
    seeds = spark.createDataFrame(seeds_rows, "url string, priority int")
    tmp = tempfile.mkdtemp(prefix="dsx-roundbench-")
    cfg = CrawlConfig(
        max_rounds=rounds, max_attempts=2,
        trap_filter=True, trap_threshold=40,
        blocked_domains=(BLOCKED,),
        rotate_user_agents=True,
        reputation_budgets=True,
        quarantine_max_failures=5,
    )
    cfg.politeness.max_pages_per_round_per_domain = 4
    eng = CrawlEngine(spark, StateStore(tmp), pages, robots, cfg)
    eng.init(seeds)
    walls = []
    for r in range(1, rounds + 1):
        t0 = time.monotonic()
        eng.run_round(r)
        walls.append(round(time.monotonic() - t0, 3))
    n_log = eng.crawl_log().count()
    shutil.rmtree(tmp, ignore_errors=True)
    steady = walls[1:]  # round 1 carries JIT/bootstrap costs
    third = max(len(steady) // 3, 1)
    return {
        "rounds": rounds,
        "n_crawled": n_log,
        "per_round_median": statistics.median(steady),
        "early_median": statistics.median(steady[:third]),
        "late_median": statistics.median(steady[-third:]),
        "walls_s": walls,
    }


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else 10
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(f"roundbench-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")
    arms = {}
    for r in (rounds, 4 * rounds):
        arms[r] = run_arm(spark, r)
    big = arms[4 * rounds]
    out = {
        "arms": arms,
        "late_vs_early_4x": round(
            big["late_median"] / max(big["early_median"], 1e-9), 3),
        "arm_ratio_4x_vs_1x": round(
            big["per_round_median"]
            / max(arms[rounds]["per_round_median"], 1e-9), 3),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
