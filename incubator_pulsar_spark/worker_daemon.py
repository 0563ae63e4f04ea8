"""Python worker daemon for engine sessions: ``pyspark.daemon`` with a
zip directory that is re-read only when its archive changed.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
each ``zipimporter`` re-read its archive's whole central directory —
for ``pyspark.zip`` 150-290 ms per task, paid again in every
micro-batch. Here an importer re-reads only when its archive's
``(st_mtime_ns, st_size)`` differs from what *that importer* last read;
the signature is per importer, so the sibling importers of a changed
archive (one per package directory in it) all refresh. Forked workers
inherit the patch; ``pyspark.daemon`` reads ``sys.argv[1]`` (the worker
module) as before. ``session.get_spark`` sets
``spark.python.daemon.module`` to this module.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Re-read this importer's archive if it changed since it last did."""
    try:
        st = os.stat(self.archive)
        sig = (st.st_mtime_ns, st.st_size)
    except OSError:
        sig = None
    if sig is None or sig != getattr(self, "_read_sig", None):
        _reread(self)
        self._read_sig = sig


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
