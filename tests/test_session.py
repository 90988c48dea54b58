"""Session factory: the local Python worker daemon."""

DAEMON = "spark.python.daemon.module"


def _zip_cache_kept(_):
    """In a Python task: does invalidating import caches keep every cached
    zip directory (same objects before and after)?"""
    import importlib
    import zipimport

    before = dict(zipimport._zip_directory_cache)
    importlib.invalidate_caches()
    after = zipimport._zip_directory_cache
    yield (len(before), all(after.get(k) is v for k, v in before.items()))


def test_local_workers_keep_zip_directories(spark):
    got = spark.sparkContext.parallelize(range(2), 2) \
        .mapPartitions(_zip_cache_kept).collect()
    # pyspark.zip at least is cached in every worker
    assert got and all(n > 0 and kept for n, kept in got), got
    assert spark.conf.get(DAEMON) == "datascrapexter_spark.pydaemon"


def test_daemon_only_on_local_masters():
    from datascrapexter_spark.session import session_conf

    assert session_conf("local[2]")[DAEMON] == "datascrapexter_spark.pydaemon"
    assert session_conf("local")[DAEMON] == "datascrapexter_spark.pydaemon"
    for master in ("spark://host:7077", "yarn", "k8s://https://h:443",
                   "local-cluster[2,1,1024]"):
        assert DAEMON not in session_conf(master)
    # an explicit setting wins on any master
    assert session_conf("local[2]", extra_conf={DAEMON: "pyspark.daemon"})[
        DAEMON] == "pyspark.daemon"
