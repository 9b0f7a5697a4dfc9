"""Python worker daemon for ocr_spark sessions.

Spark starts one ``python -m ocr_spark.plans.pyworker`` daemon per
executor (``spark.python.daemon.module``, set by ``plans.session.get_spark``)
and forks every Python worker from it, so the method that ``__main__``
installs is inherited by every forked and reused worker.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On CPython 3.10-3.12 that makes
each cached ``zipimporter`` re-read its archive's central directory. A
worker holds one importer per imported package directory of
``pyspark.zip`` (1328 entries), the py4j zip and the spark-core jar, 16 in
all, so every task paid ~0.2 s of CPU before any user code ran.
:func:`invalidate_caches` re-reads an archive only when its stat stamp
(mtime_ns, size, inode) differs from the one seen at the importer's last
reload. A rewritten archive changes the stamp and a zip added through
``--py-files`` is a new path entry with a fresh importer, so imports still
see exactly what ``invalidate_caches`` exists to make visible.

Importing this package changes nothing; ``python -m`` runs ``__main__``,
which installs the method (so it reports this module's name) and then
serves workers as ``pyspark.daemon`` does.
"""

from __future__ import annotations

import os
import zipimport

_reload = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Reload the archive's directory only when the file changed since the
    importer's last reload (always when it cannot be stat'ed)."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_ocr_spark_stamp", None):
        _reload(self)
        self._ocr_spark_stamp = stamp
