"""Unit tests: snapshot state store, Bloom shards, robots parser."""

import os

import numpy as np
import pytest
from pyspark.sql import types as T

from datascrapexter_spark.frontier.bloom import BloomShards, build_bitset, probe_bitset
from datascrapexter_spark.frontier.robots import parse_robots_txt
from datascrapexter_spark.frontier.state import SnapshotTable, StateStore

# compliance_test.go:13-25, verbatim
ROBOTS_FIXTURE = """
User-agent: *
Disallow: /private/
Disallow: /admin/
Allow: /public/
Crawl-delay: 1

User-agent: DataScrapexter
Disallow: /api/
Allow: /data/

Sitemap: https://example.com/sitemap.xml
"""


def test_robots_reference_fixture():
    r = parse_robots_txt(ROBOTS_FIXTURE)
    # compliance_test.go:33-64 expectations
    assert r.is_disallowed("*", "/private/page")
    assert not r.is_disallowed("*", "/public/page")
    assert r.is_disallowed("DataScrapexter", "/api/endpoint")
    assert not r.is_disallowed("DataScrapexter", "/data/file")
    assert r.get_crawl_delay("*") == 1.0
    assert r.sitemaps == ["https://example.com/sitemap.xml"]


def test_robots_ua_fallback_and_first_match():
    r = parse_robots_txt(ROBOTS_FIXTURE)
    # UA with its own rules does NOT inherit '*' rules (Go: replace, not merge)
    assert not r.is_disallowed("DataScrapexter", "/private/x")
    # unknown UA falls back to '*'
    assert r.is_disallowed("OtherBot", "/admin/x")
    # first matching prefix wins
    r2 = parse_robots_txt("User-agent: *\nAllow: /a/b\nDisallow: /a\n")
    assert not r2.is_disallowed("*", "/a/b/c")
    assert r2.is_disallowed("*", "/a/x")
    # crawl-delay fallback
    assert r.get_crawl_delay("DataScrapexter") == 1.0


def test_bloom_no_false_negatives_and_low_fp():
    rng = np.random.default_rng(42)
    inserted = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = np.setdiff1d(other, inserted)

    bloom = BloomShards(n_shards=8, m_bits=1 << 18, k=7)
    bloom.add_hashes(inserted)
    assert bloom.maybe_seen(inserted).all(), "Bloom false negative!"
    fp_rate = bloom.maybe_seen(other).mean()
    assert fp_rate < 0.05, fp_rate


def test_bloom_shard_build_probe_roundtrip():
    hashes = np.arange(-500, 500, dtype=np.int64)
    bs = build_bitset(hashes, m_bits=1 << 16, k=5)
    assert probe_bitset(bs, hashes, m_bits=1 << 16, k=5).all()


def _data_dirs(table: SnapshotTable) -> set[str]:
    return {f"data/{d}" for d in os.listdir(os.path.join(table.dir, "data"))}


def test_snapshot_table_append_and_time_travel(spark, tmp_path):
    """Writes return snapshot values: each stays readable (time travel)
    until it is expired, the empty snapshot reads as an empty frame with
    its schema, and expire deletes exactly the data dirs a snapshot does
    not reference."""
    t = SnapshotTable(str(tmp_path), "t")

    def values(snap):
        return sorted(r["v"] for r in t.read(spark, snap).collect())

    empty = SnapshotTable.empty(T.StructType([T.StructField("v", T.LongType())]))
    assert t.read(spark, empty).columns == ["v"] and values(empty) == []
    s1 = t.overwrite(spark.range(3).selectExpr("id as v"))
    s2 = t.append(spark.range(10, 12).selectExpr("id as v"), s1)
    assert values(s2) == [0, 1, 2, 10, 11]
    assert values(s1) == [0, 1, 2]
    assert values(t.append(spark.range(7, 8).selectExpr("id as v"), empty)) == [7]
    s3 = t.overwrite(spark.range(99, 100).selectExpr("id as v"))
    assert values(s3) == [99]
    assert values(s2) == [0, 1, 2, 10, 11]
    assert len(_data_dirs(t)) == 4
    t.expire(s2)
    assert _data_dirs(t) == set(s2["dirs"])
    assert values(s2) == [0, 1, 2, 10, 11]
    t.expire(s2)  # idempotent
    assert _data_dirs(t) == set(s2["dirs"])
    t.expire(None)
    assert _data_dirs(t) == set()


def test_state_store_round_journal(spark, tmp_path):
    store = StateStore(str(tmp_path / "s"))
    assert store.last_committed_round() is None
    frontier = store["frontier"]
    s0 = frontier.overwrite(spark.range(3).selectExpr("id as v"))
    store.commit_round(0, {"frontier": s0}, {"pending": 3})
    never_committed = frontier.overwrite(spark.range(1).selectExpr("id as v"))
    s1 = frontier.append(spark.range(3, 5).selectExpr("id as v"), s0)
    store.commit_round(1, {"frontier": s1}, {"pending": 5})
    last = store.last_committed_round()
    assert last["round"] == 1 and last["snapshots"] == {"frontier": s1}
    assert last["stats"] == {"pending": 5}
    assert [r["round"] for r in store.committed_rounds()] == [0, 1]
    assert sorted(r["v"] for r in store.read(spark, "frontier").collect()) \
        == [0, 1, 2, 3, 4]
    # the commit deleted the write no commit references
    assert _data_dirs(frontier) == set(s1["dirs"])
    assert not set(never_committed["dirs"]) & _data_dirs(frontier)
    assert store.read(spark, "crawl_log") is None
    # round 0 (init) starts a new crawl's journal
    store.commit_round(0, {"frontier": SnapshotTable.empty(T.StructType())},
                       {"pending": 1})
    assert [r["round"] for r in store.committed_rounds()] == [0]
    assert _data_dirs(frontier) == set()


def test_manifest_commit_is_atomic(spark, tmp_path):
    """A torn publish never corrupts the journal: publishing goes through
    os.replace of a complete temp file, so an interrupted publish's stray
    temp file is never read."""
    store = StateStore(str(tmp_path))
    snap = store["frontier"].overwrite(spark.range(5).selectExpr("id as v"))
    store.commit_round(0, {"frontier": snap}, {"pending": 5})
    # leave a stray tmp file like an interrupted publish would
    with open(store.journal_path + ".tmp-dead", "w") as fh:
        fh.write("{corrupt")
    assert store.last_committed_round()["stats"] == {"pending": 5}
    assert store.read(spark, "frontier").count() == 5


# ---------------------------------------------------------------------------
# DataFrame-native robots gate (broadcast rules array + codegen prefix match)
# ---------------------------------------------------------------------------


def test_rules_array_gate_matches_python_twin(spark):
    """allowed_rules_col over the broadcast rules table must agree with
    RobotsIndex.allowed for every (ua, host, path) — including UA-override
    replacement, first-match-wins ordering, hosts without robots, and empty
    Allow patterns — and its plan must contain NO Python UDF."""
    from pyspark.sql import functions as F

    from datascrapexter_spark.frontier.robots import (
        RobotsIndex,
        allowed_rules_col,
        rules_array_df,
    )

    texts = {
        "a.com": ROBOTS_FIXTURE,
        "b.com": "User-agent: *\nAllow: /private/open\nDisallow: /private/\n",
        "c.com": "User-agent: *\nAllow:\nDisallow: /x/\n",  # empty Allow kept
    }
    idx = RobotsIndex.from_texts(texts)
    paths = ["/private/page", "/private/open", "/public/page", "/api/e",
             "/data/f", "/x/secret", "/", ""]
    hosts = ["a.com", "b.com", "c.com", "norobots.com"]

    for ua in ("*", "DataScrapexter"):
        rules = rules_array_df(idx.rules_df(spark), ua)
        rows = [(h, p) for h in hosts for p in paths]
        df = (
            spark.createDataFrame(rows, "host string, path string")
            .join(F.broadcast(rules), "host", "left")
            .withColumn("allowed",
                        allowed_rules_col(F.col("path"), F.col("rules")))
        )
        got = {(r["host"], r["path"]): r["allowed"] for r in df.collect()}
        for h in hosts:
            for p in paths:
                assert got[(h, p)] == idx.allowed(ua, h, p), (ua, h, p)

        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan or "Broadcast" in plan
        assert "Python" not in plan and "ArrowEval" not in plan


# ---------------------------------------------------------------------------
# Per-domain top-k (politeness.schedule_topk) and the budget ceiling it needs
# ---------------------------------------------------------------------------


def _skewed_pending(cap, seed=5):
    """Pending rows and per-domain budgets: one hot domain holds >= 90% of
    the rows and several times the cap, priorities and round_added are
    mixed, and the budgets span 1..max(1, cap) (the hot domain's is the
    top one)."""
    import random

    rnd = random.Random(seed)
    n_hot = max(3 * cap, 1000)
    sizes = {"hot.com": n_hot}
    sizes.update({f"cold{i}.com": 3 + 2 * i for i in range(8)})
    hashes = set()
    while len(hashes) < sum(sizes.values()):
        hashes.add(rnd.getrandbits(64) - (1 << 63))
    hashes = list(hashes)
    rows = []
    for dom, n in sizes.items():
        for _ in range(n):
            rows.append((dom, hashes.pop(), rnd.randrange(10),
                         rnd.randrange(4)))
    assert sizes["hot.com"] >= 0.9 * len(rows)
    cold = sorted(d for d in sizes if d != "hot.com")
    top = max(1, cap)
    tokens = {"hot.com": top}
    tokens.update({d: 1 + (i * (top - 1)) // (len(cold) - 1)
                   for i, d in enumerate(cold)})
    assert min(tokens.values()) == 1 and max(tokens.values()) == top
    return rows, tokens


def _topk_twin(rows, tokens):
    by_dom = {}
    for dom, h, prio, added in rows:
        by_dom.setdefault(dom, []).append((-prio, added, h))
    out = set()
    for dom, keys in by_dom.items():
        for seq, (_, _, h) in enumerate(sorted(keys)[:tokens[dom]], 1):
            out.add((dom, seq, h))
    return out


def _schedule(spark, rows, tokens, cap):
    from datascrapexter_spark.frontier.politeness import (PolitenessConfig,
                                                          schedule_topk)

    pending = spark.createDataFrame(
        rows, "domain string, url_hash long, priority int, round_added int"
    ).repartition(4)
    budgets = spark.createDataFrame(sorted(tokens.items()),
                                    "domain string, tokens int")
    cfg = PolitenessConfig(max_pages_per_round_per_domain=cap)
    return schedule_topk(pending, budgets, cfg)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("cap", [0, 6, 1000, 1001])
def test_schedule_topk_matches_row_wise_twin_on_skew(spark, cap):
    """Exact per-domain top-`tokens` in (priority DESC, round_added,
    url_hash) order, for caps with a map-side group limit (6, 1000; 0,
    whose budgets are still 1) and one above Spark's inference threshold
    (1001, plain window)."""
    rows, tokens = _skewed_pending(cap)
    sched = _schedule(spark, rows, tokens, cap)
    got = {(r["domain"], r["seq"], r["url_hash"])
           for r in sched.select("domain", "seq", "url_hash").collect()}
    assert got == _topk_twin(rows, tokens)
    assert "WindowGroupLimit" in _plan(sched) or cap > 1000


@pytest.mark.parametrize("cap", [6, 1000])
def test_schedule_topk_plan_limits_before_domain_exchange(spark, cap):
    """One domain exchange after the budget join, and a WindowGroupLimit
    Partial below it: each map task ships at most `cap` rows per domain."""
    rows, tokens = _skewed_pending(6)
    plan = _plan(_schedule(spark, rows, tokens, cap))
    assert plan.count("Exchange hashpartitioning(domain") == 1, plan
    exchange = plan.index("Exchange hashpartitioning(domain")
    partial = plan.index(f"row_number(), {cap}, Partial")
    join = plan.index("BroadcastHashJoin")
    assert exchange < partial < join, plan


def test_schedule_topk_above_limit_threshold_plans_plain_window(spark):
    """cap 1001 is above Spark's default windowGroupLimitThreshold: no
    group limit, one plain per-domain window (exactness is checked by the
    row-wise twin above)."""
    rows, tokens = _skewed_pending(6)
    plan = _plan(_schedule(spark, rows, tokens, 1001))
    assert "WindowGroupLimit" not in plan
    assert plan.count("Exchange hashpartitioning(domain") == 1, plan


def test_budgets_stay_within_one_and_cap(spark):
    """1 <= tokens <= max(1, cap) for every budget expression — the bound
    schedule_topk's literal group limit relies on: tokens_per_round, all
    four strategy_tokens_from_state strategies, and the engine's
    round_budgets with the reputation scale and the half-open probe."""
    from pyspark.sql import functions as F

    from datascrapexter_spark.frontier.politeness import (
        PolitenessConfig,
        strategy_tokens_from_state,
        tokens_per_round,
    )
    from datascrapexter_spark.frontier.scheduler import (CrawlConfig,
                                                         round_budgets)

    # raw budgets far above and below every cap: no delay and a long round,
    # a huge delay, heavy errors, long error streaks, tiny and huge
    # multipliers, missing history
    state = [
        ("a.com", 0.0, 0, 0, None, 1.0, 0, 0),
        ("b.com", 1.0, 100, 9, 4, 25.0, 50, 50),
        ("c.com", 0.5, 3, 1, None, 0.01, 10, 4),
        ("d.com", None, None, None, None, None, None, None),
        ("e.com", 0.0, 0, 0, 4, 0.5, 1000, 0),
    ]
    delays = [("a.com", 0.001), ("b.com", 1e6), ("c.com", 2.0)]
    spark_state = spark.createDataFrame(
        state, "domain string, err_rate double, consec_err int, "
               "breaker_failures int, quarantined_until int, "
               "rate_mult double, n_fetch_total long, n_err_total long")
    spark_delays = spark.createDataFrame(delays,
                                         "domain string, crawl_delay_s double")
    domains = spark_state.select("domain")
    inputs = domains.join(spark_delays, "domain", "left").join(
        spark_state, "domain")
    delay = F.coalesce(F.col("crawl_delay_s"), F.lit(0.0))

    for cap in (0, 1, 6, 1000):
        cols = []
        for round_s in (0.1, 500.0):
            base = dict(max_pages_per_round_per_domain=cap,
                        round_seconds=round_s, burst=7)
            cols.append(tokens_per_round(
                delay, F.col("err_rate"), F.col("consec_err"),
                PolitenessConfig(**base)))
            for strategy in ("fixed", "adaptive", "burst", "hybrid"):
                cols.append(strategy_tokens_from_state(
                    delay, F.col("err_rate"), F.col("rate_mult"),
                    PolitenessConfig(strategy=strategy, **base)))
        got = [v for r in inputs.select(*cols).collect() for v in r]
        assert len(got) == 10 * len(state)
        assert all(1 <= t <= max(1, cap) for t in got), (cap, got)
        assert max(got) == max(1, cap)

        for strategy_budgets in (False, True):
            for strategy in ("fixed", "hybrid"):
                pol = PolitenessConfig(
                    max_pages_per_round_per_domain=cap, round_seconds=500.0,
                    burst=7, strategy=strategy,
                    use_strategy_budgets=strategy_budgets)
                cfg = CrawlConfig(politeness=pol, reputation_budgets=True,
                                  quarantine_max_failures=2)
                budgets = dict(round_budgets(domains, spark_delays,
                                             spark_state, cfg, 5).collect())
                assert sorted(budgets) == sorted(s[0] for s in state)
                assert all(1 <= t <= max(1, cap) for t in budgets.values()), (
                    cap, strategy_budgets, strategy, budgets)
                # half-open probe: quarantine expired at round 4
                assert budgets["b.com"] == budgets["e.com"] == 1
