"""The traced run (--trace 1): per-layer numbers for the run's workload.

1. The timed operations run again, each in a span that carries the Spark
   work of its interval (status store), so per-operation jobs, tasks,
   shuffle, spill, GC and executor time come from outside the package, and
   traced minus untraced median wall is the tracing overhead.
2. The workload's own path is decomposed: each prefix of its call chain is
   forced through a noop sink; a stage's self time is its prefix's wall
   minus the previous prefix's wall. Driver-side calls into single layers
   (HTML parse, field extraction, bloom filter) are timed on fixed samples.
3. Every per-layer metric is reported on every workload: the paths of the
   other benchmark workloads are decomposed the same way on a small input
   generated from the same seed (SWEEP_SIZES).

Spans are kept in memory and written to .perfbench-out/trace-<run id>.json
in the checkout when the run ends.
"""

from __future__ import annotations

import json
import os

from .common import StatusCollector, Tracer, median, timed_loop

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "spark.jobs_per_round": "count",
    "spark.tasks_per_round": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.overhead_s": "s",
    "functions.urlnorm.canonicalize_s": "s",
    "frontier.dedup_s": "s",
    "frontier.robots.gate_s": "s",
    "frontier.seen_antijoin_s": "s",
    "frontier.politeness.topk_s": "s",
    "frontier.dedup_ratio": "ratio",
    "frontier.robots_allow_ratio": "ratio",
    "frontier.seen_hit_ratio": "ratio",
    "frontier.scheduled_ratio": "ratio",
    "frontier.bloom.build_s": "s",
    "frontier.bloom.probe_s": "s",
    "frontier.bloom.fp_ratio": "ratio",
    "html.parse_ms_per_page": "ms",
    "extract.fields_ms_per_page": "ms",
    "extract.stage_s": "s",
    "functions.transforms.stage_s": "s",
    "ops.dedup.stage_s": "s",
    "sources.write_s": "s",
    "sources.bytes_per_page": "bytes",
    "extract.success_ratio": "ratio",
    "ops.dedup.keep_ratio": "ratio",
    "frontier.links.extract_s": "s",
}

# small inputs for the other workloads' path decomposition
SWEEP_SIZES = {"frontier_round": {"n_raw": 40_000},
               "extract_pipeline": {"n_pages": 200}}


def traced_run(w, seconds: float, untraced_walls: list[float], seed: int,
               work: str, root: str,
               classes: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics as {name: (value, unit)}; `classes` maps workload
    names to their classes, for the sweep over the other paths."""
    run_id = f"{w.name}-{seed}-{os.getpid()}"
    tracer = Tracer(run_id, StatusCollector(w.spark))
    walls, _, _, _ = timed_loop(w, seconds, tracer)
    ops = [s.stats for s in tracer.spans if s.name == f"{w.name}.op"]
    out = {
        "spark.jobs_per_round": median([s.jobs for s in ops]),
        "spark.tasks_per_round": median([s.tasks for s in ops]),
        "spark.executor_run_s": median([s.executor_run_s for s in ops]),
        "spark.gc_s": median([s.gc_s for s in ops]),
        "spark.shuffle_write_mb": median([s.shuffle_write_mb for s in ops]),
        "spark.spill_mb": median([s.spill_mb for s in ops]),
        "trace.overhead_s": median(walls) - median(untraced_walls),
    }
    with tracer.span(f"{w.name}.path"):
        out.update(w.trace(tracer))
    for name, size in SWEEP_SIZES.items():
        if name == w.name:
            continue
        other = classes[name](
            w.spark, os.path.join(work, "sweep", name), seed, **size)
        with tracer.span(f"{name}.path", sweep=True):
            other.prepare()
            other.build_state()
            other.warmup()
            out.update({k: v for k, v in other.trace(tracer).items()
                        if k not in out})

    out_dir = os.path.join(root, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{run_id}.json"), "w") as fh:
        json.dump({"run_id": run_id, "spans": tracer.to_json()}, fh, indent=1)
    return {k: (float(out[k]), unit) for k, unit in PER_LAYER.items()}
