"""Per-round wall vs ACCUMULATED frontier size (VERDICT r2 item #1's
"done" evidence): run an identical constant-work round loop over a state
store pre-loaded with N vs 4N dead (already-crawled) URLs and report the
per-round walls.

With the incremental frontier state (append-only transition deltas,
terminal rows archived at compaction, scan-only url_seen probe) the
per-round cost depends on the ROUND's work, not on history, so the two
arms' medians should match; the round-2 design (full frontier join+
overwrite and a url_seen shuffle per round) grew with the history.

Constant work per arm per round: H chain hosts, budget 1 page/host/round —
every round fetches H pages and discovers H new URLs, regardless of how
much history the store carries.

Usage: python tools/frontier_state_bench.py [n_dead] [mult] [rounds]
                                            [--heavy]
`--heavy` (round-3 verdict item #1 evidence): every page also links to
64 already-crawled URLs on its own host, so EVERY round's exact check
(scheduler.confirm_new, the shuffle-hash semi against the bucketed-at-rest
url_seen) probes a link-heavy, mostly-seen set. Per-round work is still
constant; only the dead-history (seen-set) size differs between arms,
isolating the seen-size dependence of the heavy path. Prints one JSON
line {"mode": ..., "arms": {...}, "wall_ratio_4x_vs_1x": r}.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from datascrapexter_spark.frontier.bloom import probe_and_fold, split_pass  # noqa: E402
from datascrapexter_spark.frontier.politeness import PolitenessConfig  # noqa: E402
from datascrapexter_spark.frontier.scheduler import (  # noqa: E402
    CrawlConfig,
    CrawlEngine,
)
from datascrapexter_spark.frontier.state import StateStore  # noqa: E402
from datascrapexter_spark.session import get_spark  # noqa: E402

N_HOSTS = 16
CHAIN = 40


DEAD_LINKS_PER_PAGE = 64  # --heavy: re-discovered already-seen links/page


def make_web(n_dead_per_host: int = 0):
    """Chain web; with n_dead_per_host > 0 (--heavy), every page ALSO
    links to DEAD_LINKS_PER_PAGE already-crawled /dead/ URLs on its own
    host — the steady-state crawl shape where most extracted links are
    re-discoveries, forcing the exact seen check every round."""
    pages, seeds = [], []
    for h in range(N_HOSTS):
        host = f"h{h}.ex{h}.com"
        seeds.append((f"https://{host}/p/0", 5))
        for i in range(CHAIN):
            nxt = f'<a href="/p/{i + 1}">n</a>' if i < CHAIN - 1 else ""
            dead = ""
            if n_dead_per_host:
                idxs = {(i * 7919 + k * 104729) % n_dead_per_host
                        for k in range(DEAD_LINKS_PER_PAGE)}
                dead = "".join(f'<a href="/dead/{j}">d</a>'
                               for j in sorted(idxs))
            html = (f"<html><body><h1>{h}:{i}</h1>{nxt}{dead}"
                    f"</body></html>")
            pages.append((f"https://{host}/p/{i}", None, html.encode(),
                          "", "en"))
    return pages, seeds


def inject_dead_history(spark, engine, n_dead: int,
                        on_seed_hosts: bool = False) -> None:
    """Pre-load the store with n_dead terminal URLs (archive rows +
    url_seen hashes, folded into the Bloom shards) — the footprint of a
    long-running crawl. Default: an untouched dead.ex host (candidates
    never probe them). --heavy: spread across the SEED hosts as /dead/<i>
    so the crawl's own links re-discover a constant sample of them per
    round."""
    if on_seed_hosts:
        from datascrapexter_spark.functions.urlnorm import normalize_url_udf

        assert n_dead // N_HOSTS > 0
        raw = spark.range(n_dead).select(
            F.concat(F.lit("https://h"), (F.col("id") % N_HOSTS).cast("string"),
                     F.lit(".ex"), (F.col("id") % N_HOSTS).cast("string"),
                     F.lit(".com/dead/"),
                     (F.col("id") / N_HOSTS).cast("long").cast("string")
                     ).alias("url"))
        # canonicalize exactly as the engine canonicalizes extracted links
        # — the injected hashes must equal the re-discovered ones
        dead = raw.select(normalize_url_udf("url").alias("url_canon"))
        host_col = F.regexp_extract("url_canon", r"https://([^/]+)/", 1)
    else:
        dead = spark.range(n_dead).select(
            F.concat(F.lit("https://dead.ex/x/"),
                     F.col("id").cast("string")).alias("url_canon"))
        host_col = F.lit("dead.ex")
    dead = dead.withColumn("url_hash", F.xxhash64("url_canon"))
    dead_rows = dead.select(
        "url_canon", "url_hash",
        host_col.alias("host"), host_col.alias("domain"),
        F.lit(5).alias("priority"), F.lit(0).alias("attempts"),
        F.lit(0).alias("round_added"), F.lit("done").alias("state"))
    snaps = dict(engine._snapshots)
    snaps["url_seen"] = engine.store.url_seen.append_round(
        spark, dead.select("url_hash"), round_no=0, idempotent=False)
    snaps["frontier_archive"] = engine._append("frontier_archive", dead_rows)
    cfg = engine.cfg
    _, blobs = split_pass(probe_and_fold(
        dead.select("url_hash"), engine._read("bloom_shards"),
        cfg.bloom_n_shards, cfg.bloom_m_bits, cfg.bloom_k))
    snaps["bloom_shards"] = engine.store["bloom_shards"].overwrite(blobs)
    # dead rows are terminal: init's round stats still hold
    engine.store.commit_round(0, snaps,
                              engine.store.last_committed_round()["stats"])
    engine._snapshots = snaps


def run_arm(spark, n_dead: int, rounds: int, heavy: bool = False) -> dict:
    pages_rows, seeds_rows = make_web(
        n_dead_per_host=(n_dead // N_HOSTS) if heavy else 0)
    pages = spark.createDataFrame(
        pages_rows, "url string, warc_ts timestamp, html binary, "
                    "text string, lang string")
    seeds = spark.createDataFrame(seeds_rows, "url string, priority int")
    root = tempfile.mkdtemp(prefix=f"fsb_{n_dead}_")
    try:
        pol = PolitenessConfig(max_pages_per_round_per_domain=1,
                               requests_per_second=10.0, round_seconds=10.0)
        cfg = CrawlConfig(politeness=pol, max_rounds=rounds + 1)
        engine = CrawlEngine(spark, StateStore(root), pages, {}, cfg)
        engine.init(seeds)
        inject_dead_history(spark, engine, n_dead, on_seed_hosts=heavy)
        walls, stats = [], []
        for r in range(1, rounds + 1):
            s = engine.run_round(r)
            walls.append(s["wall_ms"])
            stats.append((s["scheduled"], s["fetched"], s["new_urls"]))
        # every round does identical work — assert it so the comparison
        # is honest
        assert len(set(stats[1:-1])) == 1, stats
        return {
            "n_dead": n_dead,
            "per_round_wall_ms": walls,
            # round 1 pays JIT/session warm-up; median of the rest
            "median_wall_ms": statistics.median(walls[1:]),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    heavy = "--heavy" in sys.argv
    reps = next((int(a.split("=", 1)[1]) for a in sys.argv
                 if a.startswith("--reps=")), 1)
    n_dead = int(argv[0]) if len(argv) > 0 else 2_000_000
    mult = int(argv[1]) if len(argv) > 1 else 4
    rounds = int(argv[2]) if len(argv) > 2 else 8
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("frontier-state-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up arm (JIT, Python workers) — discarded
    run_arm(spark, N_HOSTS * 100, 3, heavy=heavy)
    # --reps=R: alternate (1x, 4x) pairs so hypervisor-steal drift over
    # the session taxes both arms equally instead of whichever ran last;
    # per-arm stat = median over ALL reps' steady rounds pooled
    pooled: dict[int, list[int]] = {n_dead: [], n_dead * mult: []}
    arms: dict[str, dict] = {}
    for _ in range(reps):
        for nd in (n_dead, n_dead * mult):
            r = run_arm(spark, nd, rounds, heavy=heavy)
            pooled[nd].extend(r["per_round_wall_ms"][1:])
            arms.setdefault(f"{nd}", {"n_dead": nd,
                                      "per_round_wall_ms": []})
            arms[f"{nd}"]["per_round_wall_ms"].extend(
                r["per_round_wall_ms"])
    for nd, walls in pooled.items():
        arms[f"{nd}"]["median_wall_ms"] = statistics.median(walls)
    small, big = arms[f"{n_dead}"], arms[f"{n_dead * mult}"]
    print(json.dumps({
        "mode": "link_heavy" if heavy else "quiet",
        "reps": reps,
        "arms": arms,
        "wall_ratio_4x_vs_1x": round(
            big["median_wall_ms"] / small["median_wall_ms"], 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
