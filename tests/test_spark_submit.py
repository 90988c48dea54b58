"""The spark-submit --py-files deployment path (north_rule: the job
"runs via spark-submit --py-files ... at N and 4N executors").

These tests drive the REAL submit binary end-to-end: build the zip
artifact, spark-submit the frontier job at a small local master, and
assert (a) it schedules the expected URLs and (b) the package genuinely
resolved from the --py-files zip, not from a repo checkout on sys.path —
the property that makes the same invocation work on a cluster edge node.
The job itself (benchjob.frontier_bench) is also run in-process, to check
that it leaves the session's cache and catalog as it found them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from build_pyfiles import build  # noqa: E402
from spark_submit_scaling import find_spark_submit, submit_run  # noqa: E402

# frontier_bench(sf0.001, mult=2) schedules this many URLs, at any master
SF0001_X2_SCHEDULED = 2282


def test_pyfiles_zip_is_complete_and_reproducible(tmp_path):
    z1 = build(str(tmp_path / "a.zip"))
    z2 = build(str(tmp_path / "b.zip"))
    assert open(z1, "rb").read() == open(z2, "rb").read()
    names = zipfile.ZipFile(z1).namelist()
    # every package module ships; nothing else does
    assert "datascrapexter_spark/__init__.py" in names
    assert "datascrapexter_spark/benchjob.py" in names
    assert "datascrapexter_spark/frontier/scheduler.py" in names
    assert all(n.startswith("datascrapexter_spark/") and n.endswith(".py")
               for n in names)
    on_disk = set()
    for dirpath, dirnames, filenames in os.walk(
            os.path.join(REPO, "datascrapexter_spark")):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        on_disk.update(
            os.path.relpath(os.path.join(dirpath, f), REPO)
            for f in filenames if f.endswith(".py"))
    assert set(names) == on_disk


def test_spark_submit_frontier_job_runs_from_zip(tmp_path):
    try:
        find_spark_submit()
    except FileNotFoundError:
        pytest.skip("no spark-submit in this environment")
    zip_path = build(str(tmp_path / "datascrapexter_spark.zip"))
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        pytest.skip("no test data")
    res = submit_run(2, zip_path, sf_dir, mult=2, pin=False)
    assert res["n_urls"] > 0
    # the engine's seen check (Bloom pass + confirm_new) schedules exactly
    # the set the earlier hand-written anti-join scheduled at sf0.001 x2
    if os.path.basename(sf_dir.rstrip("/")) == "sf0.001":
        assert res["n_scheduled"] == SF0001_X2_SCHEDULED
    else:
        assert res["n_scheduled"] > 0
    assert res["urls_per_sec"] > 0
    assert res["master"] == "local[2]"
    # the import really came from the shipped artifact
    assert res["package_from_pyfiles"] is True
    assert "datascrapexter_spark.zip" in res["package_source"]


def test_submit_job_rejects_missing_input(tmp_path):
    """A wrong --sf-dir must fail the submit (non-zero exit), not print a
    zero-row success line."""
    try:
        spark_submit = find_spark_submit()
    except FileNotFoundError:
        pytest.skip("no spark-submit in this environment")
    zip_path = build(str(tmp_path / "datascrapexter_spark.zip"))
    cmd = [spark_submit, "--master", "local[2]",
           "--py-files", zip_path,
           os.path.join(REPO, "tools", "submit_job.py"),
           "--sf-dir", str(tmp_path / "nope"), "--mult", "2",
           "--warmup-mult", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd="/tmp")
    assert out.returncode != 0
    assert not any(line.strip().startswith("{") and "urls_per_sec" in line
                   for line in out.stdout.splitlines())


def test_frontier_bench_keeps_the_session_cache(spark, tmp_path):
    """frontier_bench releases only what it made: a frame the caller
    cached stays cached, and its temp url_seen table leaves the catalog."""
    from pyspark.sql import functions as F

    from datascrapexter_spark.benchjob import frontier_bench

    spark.range(2000).select(
        F.col("id").alias("l_orderkey"), (F.col("id") % 100).alias("l_suppkey"),
        (F.col("id") % 7).alias("l_linenumber"),
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    def seen_tables():  # other tests' crawls may have left theirs
        return {t.name for t in spark.catalog.listTables()
                if t.name.startswith("url_seen_b_")}

    before = seen_tables()
    mine = spark.range(10).withColumn("x", F.col("id") * 2).cache()
    mine.count()
    assert frontier_bench(spark, str(tmp_path), mult=2)["n_scheduled"] > 0
    # storageLevel asks the session's cache manager (is_cached is only a
    # Python-side flag, which clearCache leaves set)
    assert mine.storageLevel.useMemory
    assert seen_tables() == before
    mine.unpersist()
