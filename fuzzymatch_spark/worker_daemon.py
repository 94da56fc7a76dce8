"""Python worker daemon that keeps the import index of Spark's own archives.

Every Python task runs ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``), and under Python 3.11
that makes every ``zipimporter`` re-read its archive's central directory:
``pyspark.zip``, the py4j zip and the spark-core jar, one re-read per
importer.  The archives on ``sys.path`` when the daemon starts (Spark's lib
path plus the launch-time ``PYTHONPATH``) do not change during a session,
so their importers keep their index.  Archives that arrive later through
``--py-files``/``addPyFile``, and directory finders, are invalidated as
before.  Run by Spark as ``spark.python.daemon.module`` (see ``session.py``).
"""

import os
import sys
import zipimport


def seal(paths) -> None:
    """Make ``invalidate_caches`` a no-op for importers of the archives in
    ``paths``; every other importer keeps the stock behaviour."""
    sealed = frozenset(p for p in paths if os.path.isfile(p))
    invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_unsealed(self):
        if self.archive not in sealed:
            invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_unsealed


if __name__ == "__main__":
    seal(sys.path)
    from pyspark.daemon import manager

    manager()
