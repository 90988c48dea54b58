"""Python worker daemon that does not re-read zip archives on every task.

pyspark's worker calls `importlib.invalidate_caches()` at the start of
every task (`worker_util.setup_spark_files`), so that files added with
`addFile`/`addPyFile` become importable. On CPython that call makes each
`zipimporter` on the worker's path re-read its archive's whole central
directory: pyspark.zip (~1,300 files, one importer per subpackage), the
py4j zip and the Spark jar (~5,400 files). That costs 0.16-0.32 s per task
on a 4-core VM, more than most tasks of this engine spend in their UDF.

This module makes `zipimporter.invalidate_caches` a no-op and then runs
pyspark's own daemon; the workers it forks inherit the no-op. Two facts
make that safe:

- the archives on a worker's path are never rewritten while the
  application runs: pyspark.zip, the py4j zip, the Spark jars and
  `--py-files` zips are fixed, and Spark refuses to add a path twice, so
  a re-read can only return the directory already cached;
- directory `FileFinder`s are still invalidated, and they are what makes
  newly added files and directories importable.

`session.get_spark` selects this module (`spark.python.daemon.module`)
for local masters only; see its docstring.
"""

import zipimport


def _keep_zip_directory(self) -> None:
    """zipimporter.invalidate_caches: keep the cached directory."""


zipimport.zipimporter.invalidate_caches = _keep_zip_directory

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
