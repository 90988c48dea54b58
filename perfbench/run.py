"""Crawl-engine benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one seeded workload (frontier_round, extract_pipeline) in this one
driver process on a local[nproc] Spark session, checks its
outputs against row-wise Python twins, and prints one JSON object as the
last line of stdout: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the spans go to .perfbench-out/ in the checkout.
All scratch state lives under .perfbench-work/ in the checkout and is
removed on exit. See perfbench/README.md for every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench.common import (REFERENCE_S, REFERENCE_WARMUP,  # noqa: E402
                              median, reference_s, timed, timed_loop)

SETUP_REPS = 3   # input generation is repeated; setup_s takes its median


def workload_classes() -> dict:
    from perfbench.w_extract import ExtractPipeline
    from perfbench.w_frontier import FrontierRound

    return {c.name: c for c in (FrontierRound, ExtractPipeline)}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("frontier_round", "extract_pipeline"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def setup(w) -> dict[str, float]:
    """Generate the seeded inputs SETUP_REPS times (median), write them and
    build the workload's state once, then one untimed warm-up pass."""
    gen_s = median([timed(w.prepare)[0] for _ in range(SETUP_REPS)])
    state_s, _ = timed(w.build_state)
    warmup_s, _ = timed(w.warmup)
    return {"inputs_s": gen_s, "state_s": state_s, "warmup_s": warmup_s}


def end_to_end(w, walls, refs, results, setup_s, rss) -> dict:
    """Every end-to-end metric, from this run's timed operations. Times
    are taken at host-speed-gauge speed (common.py): scaled by
    REFERENCE_S / the run's mean gauge wall, set-up time included."""
    scale = REFERENCE_S * len(refs) / sum(refs)
    walls = [t * scale for t in walls]
    p50 = median(walls)
    if w.name == "frontier_round":
        urls = median([r["urls"] / t for r, t in zip(results, walls)])
        pages = median([r["scheduled"] / t for r, t in zip(results, walls)])
    else:
        pages = urls = median([r["pages"] / t for r, t in zip(results, walls)])
    return {
        "setup_s": (setup_s * scale, "s"),
        "urls_per_s": (urls, "URLs/s"),
        "round_p50_s": (p50, "s"),
        "pages_per_s": (pages, "pages/s"),
        "peak_rss_mb": (rss, "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import datascrapexter_spark  # noqa: F401
    except ImportError as e:
        print(f"package under test not found next to perfbench/: {e}",
              file=sys.stderr)
        return 2

    work = common.reset_dir(os.path.join(ROOT, ".perfbench-work",
                                         str(os.getpid())))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = common.start_spark(work, ROOT)
        session_s = time.perf_counter() - t0
        w = workload_classes()[args.workload](spark, work, args.seed)
        phases = {"session_s": session_s, **setup(w)}
        setup_s = sum(phases.values())

        # a traced run splits --seconds between the untraced and the traced
        # loop, so it takes no longer than an untraced run plus the tracing
        loop_s = args.seconds / 2 if args.trace else args.seconds
        for _ in range(REFERENCE_WARMUP):
            reference_s(spark)
        walls, refs, results, raised = timed_loop(w, loop_s)
        rss = common.peak_rss_mb()
        check_s, oks = timed(w.check, results)
        failed = raised + sum(1 for ok in oks if not ok)
        attempted = len(walls) + raised
        if not walls:
            raise RuntimeError("no operation completed")

        if args.trace:
            from perfbench.trace import traced_run

            metrics = traced_run(w, loop_s, walls, args.seed, work,
                                 ROOT, workload_classes())
        else:
            metrics = end_to_end(w, walls, refs, results, setup_s, rss)
        print(json.dumps({"setup": phases, "walls_s": walls,
                          "reference_s": refs,
                          "check_s": check_s,
                          "run_s": time.perf_counter() - t0}),
              file=sys.stderr)
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
