"""Host reputation scoring + proportional crawl-budget allocation.

The reference engine budgets each host identically (politeness caps per
round, internal/scraper/engine.go crawl limits); at web scale hosts are
not equal — a host that answers 50% errors or serves 90% duplicate
content should get a shrinking share of the per-round fetch budget, and
a clean host a growing one.  This module closes that loop from the
request/fetch history the engine already records (the crawl log, served
per host as CrawlEngine.request_metrics(), scheduler.py): per-host error and duplicate rates fold into an integer
reputation score, and a total round budget is divided proportionally.

Scale shape: one hash exchange on host builds the per-host aggregate
(map-side partials first), and the scalar score total is a whole-table
window over that aggregate — the window shares the aggregate subtree
inside one plan, so the corpus-sized input is scanned exactly ONCE (a
constant-key self-join would plan the shared subtree as two full scans,
the q43 pitfall in PLANS.md).  The price is one single-partition
exchange of per-host rows only (n_hosts small rows, never the corpus);
at 10^7 hosts that is a few hundred MB through one task, fine for a
once-per-round scalar.

All arithmetic is integer micro/ppm units (floor division), so the
allocation is bit-identical across engines — q53's DuckDB oracle
recomputes it independently.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def _idiv(a: Column, b: Column) -> Column:
    """Exact nonnegative integer floor division.  (a - a%b)/b is integral,
    and every intermediate stays < 2^53, so the double round-trip is
    bit-exact — matching DuckDB's `//` in the oracle."""
    return ((a - a % b) / b).cast("long")


def host_reputation(hist: DataFrame, host_col: str = "host",
                    err_col: str = "is_error",
                    dup_col: str = "is_dup") -> DataFrame:
    """Per-host fetch stats -> reputation score in micro-units.

    score = (1 - error_rate) * (1 - dup_rate), floored at 1% so a bad
    host keeps a probe-sized budget and can recover (mirrors the circuit
    breaker's half-open probe, scheduler.py).
    """
    agg = hist.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.coalesce(F.sum(F.col(err_col).cast("long")), F.lit(0))
        .alias("n_errors"),
        F.coalesce(F.sum(F.col(dup_col).cast("long")), F.lit(0))
        .alias("n_dups"))
    err_ppm = _idiv(F.lit(MICRO) * F.col("n_errors"), F.col("n_fetches"))
    dup_ppm = _idiv(F.lit(MICRO) * F.col("n_dups"), F.col("n_fetches"))
    score = _idiv((F.lit(MICRO) - err_ppm) * (F.lit(MICRO) - dup_ppm),
                  F.lit(MICRO))
    return agg.select(
        "host", "n_fetches",
        err_ppm.alias("err_ppm"), dup_ppm.alias("dup_ppm"),
        F.greatest(score, F.lit(MICRO // 100)).alias("score_micro"))


def allocate_budget(rep: DataFrame, total_budget: int) -> DataFrame:
    """Split ``total_budget`` fetch slots across hosts proportionally to
    score_micro (integer floor; the remainder slots stay unallocated for
    the round rather than introducing an order-dependent tiebreak).

    The score total is a whole-table window, not a self-join: the window
    reuses the per-host aggregate inside the same plan, keeping the
    upstream history scan single-pass."""
    from pyspark.sql import Window

    total = F.sum("score_micro").over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                         Window.unboundedFollowing))
    return rep.withColumn(
        "budget",
        _idiv(F.lit(int(total_budget)) * F.col("score_micro"), total))


def reputation_budgets(hist: DataFrame, total_budget: int,
                       host_col: str = "host", err_col: str = "is_error",
                       dup_col: str = "is_dup") -> DataFrame:
    """Fetch history -> per-host (stats, score, budget) in one pass."""
    return allocate_budget(
        host_reputation(hist, host_col, err_col, dup_col), total_budget)
