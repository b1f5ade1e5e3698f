"""Python worker entry point for sessions built by ``get_spark``.

``pyspark.worker`` calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.10-3.12 that re-reads the central directory of
every zip archive on ``sys.path`` at once (pyspark.zip once per imported
pyspark subpackage, the py4j zip, the spark-core jar), 120-210 ms per
task; 3.13 drops the directory and re-reads it at the archive's next
import instead. The archives on a worker's path are Spark's install files and
files shipped with ``addPyFile``, which Spark never replaces under the
same name, so their cached directories stay valid; a newly added archive
is a new path and gets a fresh importer. Directory finders are still
invalidated, so ``.py`` files added later keep importing.

The daemon imports this module before it forks workers, so the patch is
inherited by every task. Its name must start with ``pyspark``:
``pyspark/daemon.py`` silently runs the stock worker for any other name.
"""

import zipimport


def _keep_zip_directory(self):
    """Keep the archive's cached directory (see the module docstring)."""


zipimport.zipimporter.invalidate_caches = _keep_zip_directory

if __name__ == "__main__":
    # started without the daemon (spark.python.use.daemon=false)
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    from pyspark.worker import main  # noqa: F401
