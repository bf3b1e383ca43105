"""Per-task zip-archive re-reads in PySpark's Python workers.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python < 3.13 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory at once. A worker that imports PySpark from
``pyspark.zip`` holds one zipimporter per package directory it imported
from, ~16 of them, so every Python task re-parses the same ~1,700-entry
directory ~16 times. That CPU work was most of the fixed cost of a
small Python-UDF task: on a 4-CPU host an identity ``mapInArrow`` over
45 rows reached its function 230–385 ms after submit before this fix
and 94–111 ms after. Python 3.13 made the re-read lazy.

``install()`` backports the cheap case: a zipimporter re-reads its
directory only when the archive's inode, mtime or size changed since it
last read it, so an archive replaced on disk is still re-read. The
package calls it on import, so it holds in every worker that runs an
engine UDF, from that worker's second engine task on.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` stat-checked (idempotent;
    a no-op on Python >= 3.13)."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(reread, "stat_checked", False):
        return

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or getattr(self, "_stat_stamp", None) != stamp:
            reread(self)
            self._stat_stamp = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
