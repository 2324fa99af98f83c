"""PySpark workers: zip importers re-read an archive only on change.

Every task, pyspark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``).  On CPython 3.11 that makes each
``zipimporter`` re-read its archive's whole directory (gh-103200); a
worker holds about 16 of them over ``pyspark.zip`` (1,328 entries) and
the py4j zip, and the re-reads are most of a reused worker's time per
task.  :func:`invalidate_caches` re-reads only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp taken at the
importer's last re-read, or when the stat fails, so a changed archive
is still picked up.

The package calls :func:`install_in_worker` when it is imported.  A
worker imports the package to unpickle any of its UDFs, and workers are
reused, so the tasks after a worker's first skip the re-reads whatever
the deployment (package on ``PYTHONPATH``, in site-packages or shipped
as py-files).  The driver and other processes keep the stdlib method.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_olap_stamp", None):
        _reread(self)
        self._olap_stamp = stamp


def install_in_worker() -> None:
    """Wrap ``zipimporter.invalidate_caches`` if this is a PySpark worker."""
    if "pyspark.worker_util" in sys.modules:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
