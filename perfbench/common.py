"""Shared harness pieces: the Spark session, timing helpers, peak RSS from
/proc, the Spark status-store collector and the span tracer.

Nothing here imports the package under test at module load, so the entry
point can fail cleanly (non-zero exit, no result line) when it is missing.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

UA = "DataScrapexter"
MIN_OPS = 3      # timed operations per run even when --seconds is short

# Host-speed gauge. On a shared host the same operation's wall moves by up
# to 30% from one minute to the next, with or without stolen CPU time, and
# a fixed job of Spark built-ins run just before it slows down by about the
# same factor (README "Measured steadiness"). End-to-end times are therefore
# reported at gauge speed: wall x REFERENCE_S / the run's mean gauge wall.
REFERENCE_ROWS = 15_000_000
REFERENCE_S = 0.55   # about the gauge's wall on an idle 4-core 2.1 GHz Xeon
REFERENCE_WARMUP = 4   # untimed gauge runs before the timed loop: the first
                       # ones run up to 2x slower (JIT)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def start_spark(work: str, repo: str):
    """local[nproc] session from the package's own factory and with its
    own defaults (the driver heap size included), with every scratch
    directory (shuffle, warehouse, JVM and Python temp files) inside
    `work`. Python workers import the package from `repo`.

    Only the young generation is fixed (-Xmn): under G1's adaptive sizing
    the JVM's peak RSS spreads by ~25% from run to run, 1-5% with it fixed."""
    from datascrapexter_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # pyspark's launcher and workers use it
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p)
    cores = nproc()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": "-Xmn512m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then shut down the JVM it launched and wait for
    it (its Python worker daemon exits with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def force(df) -> None:
    """Execute the full plan without collecting (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def force_timed(tracer, name: str, df, reps: int = 2) -> float:
    """Fastest of `reps` noop-sink executions of df, each in a span."""
    walls = []
    for _ in range(reps):
        with tracer.span(name) as sp:
            force(df)
        walls.append(sp.dur)
    return min(walls)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def reference_s(spark) -> float:
    """Wall of the host-speed gauge: a fixed job that runs no package code,
    xxhash64 over REFERENCE_ROWS generated rows on every core, folded to
    one value on the driver. A full GC first (untimed), so that the previous
    operation's garbage is not collected inside the gauge: without it the
    gauge's own run-to-run noise is as large as the host's."""
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    (spark.range(0, REFERENCE_ROWS, 1, 2 * nproc())
     .selectExpr("bit_xor(xxhash64(id, cast(id as string)))").collect())
    return time.perf_counter() - t0


def timed_loop(w, seconds: float, tracer=None):
    """Closed loop: one operation at a time until `seconds` have passed
    (at least MIN_OPS), each right after one untimed run of the host-speed
    gauge. Returns (walls, gauge walls, op results, ops that raised)."""
    walls, refs, results, raised = [], [], [], 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(walls) < MIN_OPS:
        ref = reference_s(w.spark)
        try:
            if tracer is None:
                wall, res = timed(w.op)
            else:
                with tracer.span(f"{w.name}.op") as sp:
                    res = w.op()
                wall = sp.dur
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            print(f"operation failed: {e!r}", file=sys.stderr)
            raised += 1
            break
        walls.append(wall)
        refs.append(ref)
        results.append(res)
    return walls, refs, results, raised


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> int:
    """Bytes of the files under path."""
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


# ---------------------------------------------------------------------------
# peak RSS of the Spark JVM and its Python workers
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the kernel's per-process peak RSS (VmHWM) over the Spark
    driver JVM and all its descendants: the Python worker daemon and
    workers (which Spark reuses, so they are still alive). The benchmark's
    own Python process, which holds the generated inputs, is left out."""
    from pyspark import SparkContext

    kids = _children()
    total, stack = 0, [SparkContext._gateway.proc.pid]
    while stack:
        pid = stack.pop()
        total += _hwm_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


# ---------------------------------------------------------------------------
# Spark status store: jobs, tasks, shuffle, spill, GC per span
# ---------------------------------------------------------------------------


@dataclass
class SparkStats:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


class StatusCollector:
    """Reads completed jobs and stages from the driver's AppStatusStore (the
    store behind the Spark UI, populated whether or not the UI runs)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(last job id, last stage id) seen so far."""
        self._drain()
        job = next(_iter(self._store.jobsList(None)), None)
        stage = next(_iter(self._stages()), None)
        return (-1 if job is None else job.jobId(),
                -1 if stage is None else stage.stageId())

    def _stages(self):
        gw = self._gw
        return self._store.stageList(None, False, False,
                                     gw.new_array(gw.jvm.double, 0),
                                     gw.jvm.java.util.ArrayList())

    def since(self, mark: tuple[int, int]) -> SparkStats:
        """Work of the jobs and stages that started after `mark` (the store
        lists both newest first)."""
        self._drain()
        out = SparkStats()
        for j in _iter(self._store.jobsList(None)):
            if j.jobId() <= mark[0]:
                break
            out.jobs += 1
        for s in _iter(self._stages()):
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out.tasks += s.numCompleteTasks()
            out.executor_run_s += s.executorRunTime() / 1000.0
            out.gc_s += s.jvmGcTime() / 1000.0
            out.shuffle_write_mb += s.shuffleWriteBytes() / 2 ** 20
            out.spill_mb += (s.memoryBytesSpilled()
                             + s.diskBytesSpilled()) / 2 ** 20
        return out


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    stats: SparkStats | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around the benchmark's calls into each layer; each
    span carries the Spark work its interval ran (jobs, tasks, shuffle,
    spill, GC, executor time)."""

    def __init__(self, run_id: str, collector: StatusCollector):
        self.run_id = run_id
        self.collector = collector
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        mark = self.collector.mark()
        sp = Span(name, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, self.run_id,
                  attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            sp.stats = self.collector.since(mark)

    def self_time(self, i: int) -> float:
        """Span duration minus the part its direct children cover."""
        sp = self.spans[i]
        kids = sum(c.dur for c in self.spans if c.parent == i)
        return sp.dur - kids

    def to_json(self) -> list[dict]:
        out = []
        for i, s in enumerate(self.spans):
            out.append({"id": i, "name": s.name, "start": s.start,
                        "end": s.end, "parent": s.parent, "run_id": s.run_id,
                        "self_s": self.self_time(i), **s.attrs,
                        "spark": s.stats.__dict__})
        return out
