"""The north_rule gate: the distributed Spark crawl must reproduce the
sequential oracle's crawl order and URL-seen set exactly, under the same
seed list and politeness budget; plus robots gating, retry, adaptation,
and crash-resume."""

import os

import pytest
from pyspark.sql import functions as F

from datascrapexter_spark.frontier.politeness import PolitenessConfig
from datascrapexter_spark.frontier.scheduler import CrawlConfig, CrawlEngine
from datascrapexter_spark.frontier.state import StateStore

from .crawl_oracle import CrawlSimulator
from .webgen import make_web


def make_cfg(**kw):
    pol = PolitenessConfig(
        requests_per_second=2.0,
        round_seconds=2.0,               # base tokens = 4/round
        max_pages_per_round_per_domain=6,
    )
    defaults = dict(politeness=pol, max_attempts=2, max_rounds=12)
    defaults.update(kw)
    return CrawlConfig(**defaults)


@pytest.fixture(scope="module")
def web():
    return make_web(n_hosts=5, pages_per_host=12, seed=42)


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory, web):
    """One full crawl shared by the read-only assertions below."""
    cfg = make_cfg()
    engine, stats = run_spark_crawl(
        spark, tmp_path_factory.mktemp("crawl"), web, cfg)
    return engine, stats, cfg


def run_spark_crawl(spark, tmp_path, web, cfg, max_rounds=None,
                    interrupt_after=None):
    pages_rows, seeds_rows, robots_texts = web
    pages_df = spark.createDataFrame(
        pages_rows, "url string, warc_ts timestamp, html binary, "
                    "text string, lang string")
    seeds_df = spark.createDataFrame(seeds_rows, "url string, priority int")
    store = StateStore(str(tmp_path / "state"))
    engine = CrawlEngine(spark, store, pages_df, robots_texts, cfg)
    if interrupt_after is None:
        stats = engine.run(seeds_df, max_rounds=max_rounds)
        return engine, stats
    engine.init(seeds_df)
    for r in range(1, interrupt_after + 1):
        engine.run_round(r)
    return engine, None


def unreferenced_dirs(store):
    """Snapshot-table data dirs on disk that the last commit does not
    reference."""
    snaps = store.last_committed_round()["snapshots"]
    return {(name, f"data/{d}") for name, table in store.tables.items()
            for d in os.listdir(os.path.join(table.dir, "data"))
            if name not in snaps or f"data/{d}" not in snaps[name]["dirs"]}


def spark_log(engine):
    return [
        (r["round"], r["domain"], r["seq"], r["url_canon"], r["url_hash"],
         r["priority"], r["status"])
        for r in engine.crawl_log().collect()
    ]


def test_crawl_matches_sequential_oracle(crawled, web):
    """Crawl order AND seen set match the oracle bit-for-bit."""
    engine, stats, cfg = crawled

    sim = CrawlSimulator.from_raw(web[0], web[2], cfg)
    sim_stats = sim.run(web[1])

    assert spark_log(engine) == sim.sorted_log()
    spark_seen = {r["url_hash"] for r in engine.seen_hashes().collect()}
    assert spark_seen == sim.seen
    # round-level stats agree too
    for s_spark, s_sim in zip(stats, sim_stats):
        for k in ("round", "scheduled", "fetched", "new_urls", "pending"):
            assert s_spark[k] == s_sim[k], (k, s_spark, s_sim)


def test_robots_blocking(crawled):
    """/private/ URLs are never fetched (compliance_test.go semantics)."""
    engine, _, _ = crawled
    log = spark_log(engine)
    assert log, "crawl produced no log"
    assert not any("/private/" in row[3] for row in log)
    frontier = engine.frontier_df()
    blocked = frontier.filter("state = 'blocked'").count()
    assert blocked > 0  # private URLs were discovered and blocked


def test_miss_retry_then_fail(crawled):
    """Missing pages retry with attempts+1 then fail at max_attempts."""
    engine, _, cfg = crawled
    log = spark_log(engine)
    misses = [row for row in log if row[6] == "miss"]
    assert misses, "fixture should contain fetch misses"
    # a missing URL appears exactly max_attempts times in the log
    from collections import Counter

    miss_counts = Counter(row[3] for row in misses)
    assert max(miss_counts.values()) == cfg.max_attempts
    failed = engine.frontier_df().filter("state = 'failed'").count()
    assert failed > 0


def test_adaptation_shrinks_budget(spark, tmp_path):
    """A domain whose fetches all miss gets slowed (ratelimiter semantics)."""
    pages, seeds, robots = make_web(n_hosts=2, pages_per_host=8, seed=7)
    # drop every page of host site0 -> 100% error rate there
    pages = [p for p in pages if "site0" not in p[0]]
    cfg = make_cfg(max_attempts=3, max_rounds=6)
    engine, _ = run_spark_crawl(spark, tmp_path, (pages, seeds, robots), cfg)

    sim = CrawlSimulator.from_raw(pages, robots, cfg)
    sim.run(seeds)
    assert spark_log(engine) == sim.sorted_log()
    # after a full-miss round, tokens drop: err=1.0 -> slowdown=4, so
    # round-2 budget for site0's domain must be < round-1 budget
    from collections import Counter

    per_round = Counter((row[0], row[1]) for row in sim.sorted_log()
                        if row[1] == "example.com" and row[6] == "miss")
    if len(per_round) >= 2:
        rounds = sorted(per_round)
        assert per_round[rounds[1]] <= per_round[rounds[0]]


def test_resume_after_interrupt(spark, tmp_path, web):
    """Kill after round 2, resume in a NEW engine on the same store: final
    log + seen set identical to the uninterrupted run, and the dead
    round's write is gone once the resumed round commits."""
    cfg = make_cfg()
    engine1, _ = run_spark_crawl(spark, tmp_path, web, cfg,
                                 interrupt_after=2)
    # simulate extra uncommitted garbage from a crash mid-round-3: write a
    # snapshot without committing the round
    frontier_now = engine1._read("frontier")
    stray = engine1.store["frontier"].overwrite(frontier_now.limit(1))
    assert ("frontier", stray["dirs"][0]) in unreferenced_dirs(engine1.store)

    pages_rows, seeds_rows, robots_texts = web
    pages_df = spark.createDataFrame(
        pages_rows, "url string, warc_ts timestamp, html binary, "
                    "text string, lang string")
    store2 = StateStore(str(tmp_path / "state"))
    engine2 = CrawlEngine(spark, store2, pages_df, robots_texts, cfg)
    engine2.run(seeds=None)  # resume from journal

    sim = CrawlSimulator.from_raw(web[0], web[2], cfg)
    sim.run(web[1])
    assert spark_log(engine2) == sim.sorted_log()
    seen2 = {r["url_hash"] for r in engine2.seen_hashes().collect()}
    assert seen2 == sim.seen
    assert unreferenced_dirs(store2) == set()


def test_bloom_shards_one_blob_per_shard(crawled):
    """The committed Bloom state is one blob per shard, however many
    rounds ran, bounded by the filter's size, and the folded blobs equal
    a filter built in one pass from the committed url_seen set."""
    import numpy as np

    from datascrapexter_spark.frontier.bloom import BloomShards

    engine, stats, cfg = crawled
    assert len(stats) > 1
    rows = engine._read("bloom_shards").collect()
    shard_ids = [r["shard_id"] for r in rows]
    assert len(rows) <= cfg.bloom_n_shards
    assert len(set(shard_ids)) == len(shard_ids)
    assert (sum(len(r["bitset"]) for r in rows)
            <= cfg.bloom_n_shards * cfg.bloom_m_bits // 8)

    seen = np.array([r["url_hash"] for r in engine.seen_hashes().collect()],
                    dtype=np.int64)
    fresh = BloomShards(cfg.bloom_n_shards, cfg.bloom_m_bits, cfg.bloom_k)
    fresh.add_hashes(seen)
    assert {r["shard_id"]: bytes(r["bitset"]) for r in rows} == fresh.shards


def test_request_metrics_match_log(crawled):
    """request_metrics (per-round per-host per-status counters — the
    RecordRequest/RecordPageScraped families rendered round-wise) agree
    with counts recomputed from the crawl log."""
    from collections import Counter

    from datascrapexter_spark.functions.urlnorm import extract_domain

    engine, _, _ = crawled
    expected = Counter(
        (row[0], extract_domain(row[3]), row[6]) for row in spark_log(engine)
    )
    got = Counter()
    for r in engine.request_metrics().collect():
        got[(r["round"], r["host"], r["status"])] += r["n"]
    assert got == expected


def test_request_metrics_host_rule_matches_frontier(spark):
    """The view's host is the frontier's: canonicalize_parts over
    url_canon, which unbrackets IPv6 literals (parse_url's HOST keeps
    the brackets) and keeps hosts java.net.URI rejects."""
    from datascrapexter_spark.frontier.scheduler import (
        CRAWL_LOG_SCHEMA,
        request_metrics_from_log,
    )
    from datascrapexter_spark.functions.urlnorm import (
        canonicalize_parts,
        normalize_url,
    )

    urls = ["https://[::1]:8443/p", "https://[2001:db8::7]/q?a=1",
            "https://user@Example.COM:8080/x", "https://my_host.example/y",
            "https://shop.example.co.uk/", "https://[::1]:8443/p2"]
    canon = [normalize_url(u) for u in urls]
    log = spark.createDataFrame(
        [(1, "d", i, c, i, 5, "fetched") for i, c in enumerate(canon)],
        CRAWL_LOG_SCHEMA)
    got = {(r["host"], r["n"]) for r in
           request_metrics_from_log(log, make_cfg()).collect()}
    hosts = [canonicalize_parts(c)[1] for c in canon]
    assert got == {(h, hosts.count(h)) for h in hosts}
    assert ("::1", 2) in got


def test_round_metrics_match_stats(crawled):
    """round_metrics(), read back from the round journal, equals the
    stats run_round returned (resumable observability — dashboard-counter
    parity)."""
    engine, stats, _ = crawled
    rows = {r["round"]: r for r in engine.round_metrics().collect()}
    assert len(rows) == len(stats)
    for s in stats:
        r = rows[s["round"]]
        for k in ("scheduled", "fetched", "new_urls", "pending"):
            assert r[k] == s[k], (k, s)
        assert r["wall_ms"] > 0


def test_compaction_interval_invariant(spark, tmp_path, web):
    """frontier_compact_every=1 (fold deltas every round) produces the
    exact same crawl log + seen set as the default interval — compaction
    is a pure storage transform."""
    cfg = make_cfg(frontier_compact_every=1)
    engine, _ = run_spark_crawl(spark, tmp_path, web, cfg)
    sim = CrawlSimulator.from_raw(web[0], web[2], cfg)
    sim.run(web[1])
    assert spark_log(engine) == sim.sorted_log()
    seen = {r["url_hash"] for r in engine.seen_hashes().collect()}
    assert seen == sim.seen


def test_seen_probe_plan_never_moves_seen(spark, tmp_path):
    """The round's exact seen check (confirm_new) scans the bucketed
    url_seen in place — no Exchange and no Sort above its FileScan — for
    a quiet round's probe and for a probe above the broadcast threshold,
    and answers needs_check minus seen either way."""
    from datascrapexter_spark.frontier.scheduler import confirm_new
    from datascrapexter_spark.frontier.state import BucketedSeenTable

    from .test_seen_bucketed import _plan, _seen_scan_has_no_exchange_above

    table = BucketedSeenTable(str(tmp_path), n_buckets=8)
    table.overwrite_all(
        spark, spark.range(0, 20000).select(F.xxhash64("id").alias("url_hash")))
    session = spark.newSession()  # the lowered threshold stays local
    session.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
    for s, lo, hi in ((spark, 19980, 20020), (session, 10000, 30000)):
        needs_check = s.range(lo, hi).select(
            F.xxhash64("id").alias("url_hash"), F.col("id"))
        new = confirm_new(needs_check, table.read(s, max_round=0))
        assert sorted(r["id"] for r in new.collect()) == list(
            range(max(lo, 20000), hi))
        plan = _plan(new)
        assert "isFinalPlan=true" in plan, plan
        assert _seen_scan_has_no_exchange_above(plan, table.table), plan


def test_resume_ignores_uncommitted_appends(spark, tmp_path, web):
    """A crash AFTER a round's snapshot appends but BEFORE the journal
    commit must not leak those appends into the resumed crawl: appends
    extend the journal-committed snapshot, so the dead round's writes are
    never referenced, and the resumed round's commit deletes them."""
    cfg = make_cfg()
    engine1, _ = run_spark_crawl(spark, tmp_path, web, cfg,
                                 interrupt_after=2)
    # simulate the dead round-3: uncommitted APPENDS on append-only tables
    garbage_seen = engine1.seen_hashes().limit(3).withColumn(
        "url_hash", F.col("url_hash") + 999)
    # bucketed url_seen: the dead round's hashes land in an uncommitted
    # round partition; resume must never read it, and the re-run round
    # must drop it before appending (idempotent write)
    engine1.store.url_seen.append_round(spark, garbage_seen, round_no=3)
    for table, n in (("frontier", 2), ("frontier_updates", 1)):
        engine1.store[table].append(engine1._read(table).limit(n),
                                    engine1._snapshots[table])
    assert {t for t, _ in unreferenced_dirs(engine1.store)} == {
        "frontier", "frontier_updates"}

    pages_rows, seeds_rows, robots_texts = web
    pages_df = spark.createDataFrame(
        pages_rows, "url string, warc_ts timestamp, html binary, "
                    "text string, lang string")
    store2 = StateStore(str(tmp_path / "state"))
    engine2 = CrawlEngine(spark, store2, pages_df, robots_texts, cfg)
    engine2.run(seeds=None)

    sim = CrawlSimulator.from_raw(web[0], web[2], cfg)
    sim.run(web[1])
    assert spark_log(engine2) == sim.sorted_log()
    seen2 = {r["url_hash"] for r in engine2.seen_hashes().collect()}
    assert seen2 == sim.seen
    assert unreferenced_dirs(store2) == set()


def test_state_holds_only_the_last_commit(spark, tmp_path):
    """After N and after 2N rounds every data dir on disk is referenced by
    the last commit: overwritten, compacted-away and never-committed
    snapshots are expired at commit, so state grows with live data only
    (an overwrite-only table holds one dir however many rounds ran)."""
    n = 2
    cfg = make_cfg(frontier_compact_every=2)
    engine, _ = run_spark_crawl(
        spark, tmp_path, make_web(n_hosts=3, pages_per_host=10, seed=11),
        cfg, interrupt_after=n)

    def check(round_no):
        # rounds n and 2n are compaction rounds: the frontier is rewritten
        assert engine.store.last_committed_round()["round"] == round_no
        assert unreferenced_dirs(engine.store) == set()
        for table in ("bloom_shards", "domain_state", "frontier"):
            assert len(os.listdir(os.path.join(
                engine.store[table].dir, "data"))) == 1, table

    check(n)
    for r in range(n + 1, 2 * n + 1):
        assert engine.run_round(r)["fetched"] > 0
    check(2 * n)


class _Crash(RuntimeError):
    """The driver died right after a state write."""


def _hook_writes(mp, crash_after=None) -> list[tuple[str, str]]:
    """Record every StateStore write — snapshot-table appends and
    overwrites, url_seen round appends — as (table, method), and raise
    _Crash right after the `crash_after`-th one returns."""
    from datascrapexter_spark.frontier.state import (
        BucketedSeenTable,
        SnapshotTable,
    )

    writes = []

    def hooked(fn):
        def write(table, *args, **kwargs):
            out = fn(table, *args, **kwargs)
            writes.append((os.path.basename(table.dir), fn.__name__))
            if len(writes) == crash_after:
                raise _Crash(writes[-1])
            return out
        return write

    for cls, name in ((SnapshotTable, "append"), (SnapshotTable, "overwrite"),
                      (BucketedSeenTable, "append_round")):
        mp.setattr(cls, name, hooked(getattr(cls, name)))
    return writes


def _crash_in_expiry(mp, crash_at: int) -> None:
    """Raise _Crash from SnapshotTable.expire at the `crash_at`-th table of
    a commit, before that table is expired: the journal is already
    published, the tables from there on keep their dead dirs."""
    from datascrapexter_spark.frontier.state import SnapshotTable

    expire, calls = SnapshotTable.expire, []

    def hooked(table, snap):
        calls.append(table.dir)
        if len(calls) == crash_at:
            raise _Crash(os.path.basename(table.dir))
        return expire(table, snap)

    mp.setattr(SnapshotTable, "expire", hooked)


def _round_outcome(engine, round_no):
    """Crawl log, url_seen set, full frontier and the journal's round
    record (its wall time aside) after `round_no` committed."""
    record = engine.store.last_committed_round()
    assert record["round"] == round_no
    return (
        spark_log(engine),
        sorted(r["url_hash"] for r in engine.seen_hashes().collect()),
        sorted(tuple(r) for r in engine.frontier_df().select(
            "url_hash", "url_canon", "state", "attempts",
            "round_added").collect()),
        {k: v for k, v in record["stats"].items() if k != "wall_ms"},
    )


def test_crash_at_every_write_resumes_to_same_round(spark, tmp_path,
                                                     monkeypatch):
    """A crash right after ANY state write of a round — here a compaction
    round, so the archive append is among them — resumes in a fresh
    engine to the same crawl log, url_seen set, frontier and round record
    as the uninterrupted round. A crash inside the commit's expiry, at
    any table, resumes to the committed round with the same outcome, and
    the next round's commit leaves no unreferenced dir. Every crash
    starts from a copy of the store as the previous round left it. The
    init, the first round and the uninterrupted round also pin the Spark
    jobs they may run."""
    import shutil
    import time

    swept = 2
    # a small filter and few seen buckets keep the ~40 rounds cheap; the
    # sizing never changes the crawl
    cfg = make_cfg(frontier_compact_every=swept, bloom_n_shards=4,
                   bloom_m_bits=1 << 12, seen_n_buckets=4)
    pages_rows, seeds_rows, robots_texts = make_web(
        n_hosts=3, pages_per_host=10, seed=11)
    pages = spark.createDataFrame(
        pages_rows, "url string, warc_ts timestamp, html binary, "
                    "text string, lang string")
    seeds = spark.createDataFrame(seeds_rows, "url string, priority int")

    def engine_at(root):
        return CrawlEngine(spark, StateStore(str(root)), pages, robots_texts,
                           cfg)

    sc = spark.sparkContext

    def counted(label, fn):
        group = f"crawl-jobs-{label}"
        sc.setJobGroup(group, f"crawl {label}")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    t0 = time.monotonic()
    engine = engine_at(tmp_path / "crawl")
    _, init_jobs = counted("init", lambda: engine.init(seeds))
    assert init_jobs <= 9, init_jobs
    _, first_jobs = counted(f"round-{swept - 1}",
                            lambda: engine.run_round(swept - 1))
    assert first_jobs <= 33, first_jobs
    template = tmp_path / "after_prev_round"
    shutil.copytree(tmp_path / "crawl", template)

    with monkeypatch.context() as mp:
        writes = _hook_writes(mp)
        stats, n_jobs = counted(f"round-{swept}",
                                lambda: engine.run_round(swept))
    assert stats["fetched"] > 0
    assert n_jobs <= 34, n_jobs
    expected = _round_outcome(engine, swept)
    assert ("frontier_archive", "append") in writes
    assert engine._read("frontier_archive").count() > 0

    def crash_and_resume(k, hook, resumes_to):
        root = tmp_path / f"crash_{k}"
        shutil.copytree(template, root)
        crashed = engine_at(root)
        assert crashed.resume() == swept - 1
        with monkeypatch.context() as mp:
            hook(mp)
            with pytest.raises(_Crash):
                crashed.run_round(swept)
        resumed = engine_at(root)
        assert resumed.resume() == resumes_to
        return root, resumed

    for k in range(1, len(writes) + 1):
        root, resumed = crash_and_resume(
            k, lambda mp: _hook_writes(mp, crash_after=k), swept - 1)
        resumed.run_round(swept)
        assert _round_outcome(resumed, swept) == expected, (k, writes[k - 1])
        shutil.rmtree(root)

    leftovers = []
    for k in range(1, len(StateStore.TABLES) + 1):
        root, resumed = crash_and_resume(
            f"expire_{k}", lambda mp: _crash_in_expiry(mp, k), swept)
        assert _round_outcome(resumed, swept) == expected, k
        leftovers.append(len(unreferenced_dirs(resumed.store)))
        resumed.run_round(swept + 1)
        assert unreferenced_dirs(resumed.store) == set(), k
        shutil.rmtree(root)
    # a crash at the first table leaves dead dirs for the next commit
    assert leftovers[0] > 0, leftovers
    print(f"crash sweep: {len(writes)} writes, {init_jobs} jobs in init, "
          f"{first_jobs} in the first round, {n_jobs} in the uninterrupted "
          f"round, dirs left by an expiry crash at each table {leftovers}, "
          f"{time.monotonic() - t0:.0f} s")


def test_canonicalization_collapses_dupes(crawled):
    """Raw link forms (HOST:443, utm params, fragments, trailing slash)
    collapse to one canonical URL — each canonical URL fetched at most
    once."""
    engine, _, _ = crawled
    log = spark_log(engine)
    fetched = [row[3] for row in log if row[6] == "fetched"]
    assert len(fetched) == len(set(fetched))
    assert not any("utm_" in u or "#" in u or ":443" in u for u in fetched)


# ---------------------------------------------------------------------------
# DOM-dependent pagination driving the round loop (cursor / next_button)
# ---------------------------------------------------------------------------


def _cursor_web():
    """Two hosts, each a cursor-paginated chain: the seed page carries
    cursor c1, page(c1) carries c2, page(c2) repeats c2 (chain end —
    the reference's repeated-cursor stop, pagination_strategies.go:144-149).
    Host b's chain is one page shorter (empty cursor ends it)."""
    def page(host, qs, cursor):
        url = f"https://{host}/feed" + (f"?{qs}" if qs else "")
        cur = f'<div class="next-cursor">{cursor}</div>' if cursor else ""
        html = (f"<html><body><h1>{host}:{qs or 'seed'}</h1>{cur}"
                f'<a href="/never/follow">x</a></body></html>')
        return (url, None, html.encode(), "", "en")

    rows = [
        page("a.ex.com", "", "c1"),
        page("a.ex.com", "cursor=c1&limit=10", "c2"),
        page("a.ex.com", "cursor=c2&limit=10", "c2"),   # repeated -> stop
        page("b.ex.com", "", "k1"),
        page("b.ex.com", "cursor=k1&limit=10", ""),     # no cursor -> stop
    ]
    seeds = [("https://a.ex.com/feed", 5), ("https://b.ex.com/feed", 5)]
    return rows, seeds, {}


def test_cursor_pagination_crawl_matches_oracle(spark, tmp_path):
    from datascrapexter_spark.frontier.pagination import PaginationSpec

    spec = PaginationSpec(type="cursor", cursor_selector=".next-cursor",
                          limit=10, max_pages=10)
    cfg = make_cfg(pagination_spec=spec, max_rounds=6)
    web = _cursor_web()
    engine, stats = run_spark_crawl(spark, tmp_path, web, cfg)

    sim = CrawlSimulator.from_raw(web[0], web[2], cfg)
    sim.run(web[1])
    assert spark_log(engine) == sim.sorted_log()
    spark_seen = {r["url_hash"] for r in engine.seen_hashes().collect()}
    assert spark_seen == sim.seen

    # the crawl followed ONLY cursor next-URLs (never the /never/follow
    # anchor), one page per host per round, and stopped on cursor
    # repeat/absence: host a fetches 3 pages, host b fetches 2
    fetched = [row[3] for row in spark_log(engine) if row[6] == "fetched"]
    assert sorted(fetched) == [
        "https://a.ex.com/feed",
        "https://a.ex.com/feed?cursor=c1&limit=10",
        "https://a.ex.com/feed?cursor=c2&limit=10",
        "https://b.ex.com/feed",
        "https://b.ex.com/feed?cursor=k1&limit=10",
    ]


def test_cursor_two_chains_one_host_do_not_interfere(spark, tmp_path):
    """Two cursor-paginated listings on ONE host (the reference keeps a
    lastCursor per strategy INSTANCE, pagination_strategies.go:144-149).
    Chain /l1 ends at cursor 'z' in round 2; chain /l2 legitimately
    reaches cursor 'z' in round 2 too — a per-host max-cursor rule would
    wrongly stop /l2 there (its 'z' equals the host's round-1 state from
    /l1); per-(host, chain) state lets /l2 continue one more page."""
    from datascrapexter_spark.frontier.pagination import PaginationSpec

    def page(path_qs, cursor):
        url = f"https://m.ex.com{path_qs}"
        cur = f'<div class="next-cursor">{cursor}</div>' if cursor else ""
        html = f"<html><body><h1>{path_qs}</h1>{cur}</body></html>"
        return (url, None, html.encode(), "", "en")

    rows = [
        page("/l1", "z"),
        page("/l1?cursor=z&limit=10", "z"),        # repeat -> chain 1 ends
        page("/l2", "b1"),
        page("/l2?cursor=b1&limit=10", "z"),       # z != b1 -> continue
        page("/l2?cursor=z&limit=10", "z"),        # repeat -> chain 2 ends
    ]
    seeds = [("https://m.ex.com/l1", 5), ("https://m.ex.com/l2", 5)]
    web = (rows, seeds, {})

    spec = PaginationSpec(type="cursor", cursor_selector=".next-cursor",
                          limit=10, max_pages=10)
    cfg = make_cfg(pagination_spec=spec, max_rounds=6)
    engine, _ = run_spark_crawl(spark, tmp_path, web, cfg)

    sim = CrawlSimulator.from_raw(web[0], web[2], cfg)
    sim.run(web[1])
    assert spark_log(engine) == sim.sorted_log()
    assert {r["url_hash"] for r in engine.seen_hashes().collect()} == sim.seen

    fetched = sorted(row[3] for row in spark_log(engine) if row[6] == "fetched")
    assert fetched == [
        "https://m.ex.com/l1",
        "https://m.ex.com/l1?cursor=z&limit=10",
        "https://m.ex.com/l2",
        "https://m.ex.com/l2?cursor=b1&limit=10",
        "https://m.ex.com/l2?cursor=z&limit=10",   # per-host rule loses this
    ]


def test_next_button_pagination_crawl(spark, tmp_path):
    from datascrapexter_spark.frontier.pagination import PaginationSpec

    def page(path, next_href, disabled=False):
        cls = "next disabled" if disabled else "next"
        nxt = (f'<a class="{cls}" href="{next_href}">next</a>'
               if next_href is not None else "")
        html = f"<html><body><h1>{path}</h1>{nxt}</body></html>"
        return (f"https://s.ex.com{path}", None, html.encode(), "", "en")

    rows = [
        page("/p/1", "/p/2"),
        page("/p/2", "/p/3"),
        page("/p/3", "/p/4", disabled=True),  # disabled class ends chain
        page("/p/4", None),
    ]
    web = (rows, [("https://s.ex.com/p/1", 5)], {})
    spec = PaginationSpec(type="next_button", selector="a.next",
                          max_pages=10)
    cfg = make_cfg(pagination_spec=spec, max_rounds=6)
    engine, _ = run_spark_crawl(spark, tmp_path, web, cfg)

    sim = CrawlSimulator.from_raw(web[0], web[2], cfg)
    sim.run(web[1])
    assert spark_log(engine) == sim.sorted_log()
    fetched = [row[3] for row in spark_log(engine) if row[6] == "fetched"]
    assert sorted(fetched) == [
        "https://s.ex.com/p/1", "https://s.ex.com/p/2", "https://s.ex.com/p/3",
    ]


# ---------------------------------------------------------------------------
# circuit breaker / host quarantine
# ---------------------------------------------------------------------------


def test_circuit_breaker_quarantine_reopen(spark, tmp_path):
    """Open after N consecutive failures, skip while quarantined, half-open
    probe on expiry, close on success — bit-exact vs the oracle simulator.

    q.ex.com: seeds = missing m1 (priority 9) + present r1 (priority 5),
    budget 1/round (crawl-delay 1s, 0.5s rounds). Timeline (max_failures=2,
    reset=2, max_attempts=3):
      R1 m1 miss (breaker 1) ; R2 m1 miss (breaker 2 -> open until R4)
      R3-R4 skipped          ; R5 half-open probe: m1 miss -> failed at
                               attempts cap, breaker 3 -> re-open until R7
      R6-R7 skipped          ; R8 half-open probe: r1 FETCHED -> closed
    """
    rows = [("https://q.ex.com/real", None,
             b"<html><body><h1>R</h1></body></html>", "", "en")]
    seeds = [("https://q.ex.com/missing", 9), ("https://q.ex.com/real", 5)]
    robots = {"q.ex.com": "User-agent: *\nCrawl-delay: 1\n"}
    web = (rows, seeds, robots)
    pol = PolitenessConfig(requests_per_second=2.0, round_seconds=0.5,
                           max_pages_per_round_per_domain=6)
    cfg = CrawlConfig(politeness=pol, max_attempts=3, max_rounds=10,
                      quarantine_max_failures=2, quarantine_reset_rounds=2)
    engine, stats = run_spark_crawl(spark, tmp_path, web, cfg)

    sim = CrawlSimulator.from_raw(web[0], web[2], cfg)
    sim_stats = sim.run(web[1])
    assert spark_log(engine) == sim.sorted_log()
    for s_spark, s_sim in zip(stats, sim_stats):
        for k in ("round", "scheduled", "fetched", "new_urls", "pending"):
            assert s_spark[k] == s_sim[k], (k, s_spark, s_sim)

    log = spark_log(engine)
    by_round = {}
    for row in log:
        by_round.setdefault(row[0], []).append(row)
    # quarantined rounds schedule nothing; probes are single-URL
    assert set(by_round) == {1, 2, 5, 8}
    assert [r for r in (3, 4, 6, 7) if r in by_round] == []
    assert len(by_round[5]) == 1 and by_round[5][0][6] == "miss"
    assert len(by_round[8]) == 1 and by_round[8][0][6] == "fetched"
    assert by_round[8][0][3] == "https://q.ex.com/real"


def test_sitemap_seeding(spark, tmp_path):
    """With seed_sitemaps=True, robots Sitemap URLs enter the frontier and
    fetched sitemaps yield their <loc> URLs — a page linked ONLY from the
    sitemap gets crawled; bit-exact vs the oracle simulator."""
    host = "sm.ex.com"
    sitemap_xml = (
        '<?xml version="1.0"?><urlset>'
        f"<url><loc>https://{host}/only-in-sitemap</loc></url>"
        f"<url><loc>https://{host}/home</loc></url></urlset>"
    )
    rows = [
        (f"https://{host}/home", None,
         b"<html><body><h1>home</h1></body></html>", "", "en"),
        (f"https://{host}/sitemap.xml", None, sitemap_xml.encode(), "", "en"),
        (f"https://{host}/only-in-sitemap", None,
         b"<html><body><h1>hidden</h1></body></html>", "", "en"),
    ]
    robots = {host: f"User-agent: *\nSitemap: https://{host}/sitemap.xml\n"}
    seeds = [(f"https://{host}/home", 5)]
    web = (rows, seeds, robots)
    cfg = make_cfg(seed_sitemaps=True, max_rounds=4)
    engine, _ = run_spark_crawl(spark, tmp_path, web, cfg)

    sim = CrawlSimulator.from_raw(web[0], web[2], cfg)
    sim.run(web[1])
    assert spark_log(engine) == sim.sorted_log()
    fetched = {row[3] for row in spark_log(engine) if row[6] == "fetched"}
    assert f"https://{host}/only-in-sitemap" in fetched
    assert f"https://{host}/sitemap.xml" in fetched


def test_gdpr_block_mode(spark, tmp_path):
    """gdpr_mode='block': EU-TLD domains are never scheduled (state
    blocked_gdpr), others crawl normally; bit-exact sim parity."""
    rows = [
        ("https://ok.example.com/a", None, b"<html><h1>a</h1></html>", "", "en"),
        ("https://shop.example.de/a", None, b"<html><h1>de</h1></html>", "", "en"),
        ("https://biz.example.co.uk/a", None, b"<html><h1>uk</h1></html>", "", "en"),
    ]
    seeds = [("https://ok.example.com/a", 5), ("https://shop.example.de/a", 5),
             ("https://biz.example.co.uk/a", 5)]
    web = (rows, seeds, {})
    cfg = make_cfg(gdpr_mode="block", max_rounds=3)
    engine, _ = run_spark_crawl(spark, tmp_path, web, cfg)

    sim = CrawlSimulator.from_raw(web[0], web[2], cfg)
    sim.run(web[1])
    assert spark_log(engine) == sim.sorted_log()

    fetched = {row[3] for row in spark_log(engine) if row[6] == "fetched"}
    assert fetched == {"https://ok.example.com/a"}
    states = {r["url_canon"]: r["state"]
              for r in engine.frontier_df().collect()}
    assert states["https://shop.example.de/a"] == "blocked_gdpr"
    assert states["https://biz.example.co.uk/a"] == "blocked_gdpr"


def test_compliance_report_and_gdpr_twin():
    from datascrapexter_spark.frontier.compliance import (
        generate_report,
        requires_gdpr_compliance,
    )
    from datascrapexter_spark.frontier.robots import parse_robots_txt

    # compliance_test.go:101-123 table, verbatim
    assert requires_gdpr_compliance("example.de")
    assert requires_gdpr_compliance("example.fr")
    assert requires_gdpr_compliance("example.co.uk")
    assert not requires_gdpr_compliance("example.com")
    assert not requires_gdpr_compliance("example.jp")

    robots = parse_robots_txt("User-agent: *\nDisallow: /private/\n"
                              "Crawl-delay: 2\n")
    rep = generate_report(robots, "example.de", "*", "/public/x")
    assert rep.robots_compliant and rep.recommended_delay_s == 2.0
    assert rep.gdpr_required and rep.risk_level == "low"
    rep2 = generate_report(robots, "example.com", "*", "/private/x")
    assert not rep2.robots_compliant and rep2.risk_level == "high"


def test_strategy_budgets_end_to_end(spark, tmp_path):
    """use_strategy_budgets=True drives round budgets through the full
    4-strategy family (strategy_tokens_from_state over the checkpointed
    interval multiplier) — bit-exact vs the oracle simulator, and the
    hybrid strategy visibly shrinks a failing domain's budget."""
    # bad.exa.com: many missing URLs -> err_rate 1.0 across rounds
    # good.exb.com: a link chain of real pages (distinct registered domains)
    rows = []
    for i in range(8):
        nxt = f'<a href="/p/{i + 1}">n</a>' if i < 7 else ""
        rows.append((f"https://good.exb.com/p/{i}", None,
                     f"<html><body><h1>{i}</h1>{nxt}</body></html>".encode(),
                     "", "en"))
    seeds = [(f"https://bad.exa.com/m/{i}", 5) for i in range(12)] + \
            [("https://good.exb.com/p/0", 5)]
    web = (rows, seeds, {})
    pol = PolitenessConfig(
        requests_per_second=2.0, round_seconds=2.0,
        max_pages_per_round_per_domain=6,
        strategy="hybrid", use_strategy_budgets=True, burst=2,
        consec_err_limit=1,
    )
    cfg = CrawlConfig(politeness=pol, max_attempts=10, max_rounds=5)
    engine, stats = run_spark_crawl(spark, tmp_path, web, cfg)

    sim = CrawlSimulator.from_raw(web[0], web[2], cfg)
    sim_stats = sim.run(web[1])
    assert spark_log(engine) == sim.sorted_log()
    for s_spark, s_sim in zip(stats, sim_stats):
        for k in ("round", "scheduled", "fetched", "new_urls", "pending"):
            assert s_spark[k] == s_sim[k], (k, s_spark, s_sim)

    # exa.com budget shrinks over rounds (multiplier grows, burst
    # collapses); exb.com keeps the grown-burst budget
    from collections import Counter

    per_round = Counter((r[0], r[1]) for r in spark_log(engine))
    bad = [per_round.get((r, "exa.com"), 0) for r in (1, 2, 3)]
    good = [per_round.get((r, "exb.com"), 0) for r in (1, 2, 3)]
    assert bad[0] > bad[2] >= 1, bad       # adaptive shrink kicked in
    assert all(g >= 1 for g in good[:2])
