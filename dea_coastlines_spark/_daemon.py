"""Python worker daemon for local sessions: pyspark's daemon, minus the
per-task re-read of every zip on the workers' path.

pyspark 4.1.2 calls `importlib.invalidate_caches()` at the start of every
task (`worker_util.setup_spark_files`, worker_util.py:144). Before
CPython 3.13, `zipimporter.invalidate_caches` eagerly re-reads its zip's
directory, and a worker holds about 16 importers on
`$SPARK_HOME/python/lib/pyspark.zip`: 126-237 ms of CPU per task,
whatever the task runs. Spark never rewrites a zip in place, and a zip
added later (`addPyFile`) is a new `sys.path` entry with its own new
importer, so the re-read finds nothing new. Directory finders are still
invalidated. `get_spark` selects this module with
`spark.python.daemon.module`; the forked workers inherit the patch.
"""

import sys
import zipimport


def _keep_zip_directory(self):
    """No-op `zipimporter.invalidate_caches`."""


if __name__ == "__main__":
    if sys.version_info < (3, 13) and hasattr(zipimport.zipimporter, "invalidate_caches"):
        zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    import pyspark.daemon

    pyspark.daemon.manager()
